"""Seeded input generators for the benchmark workloads.

Everything here is plain Python + pyarrow (no Spark), so inputs are written
during set-up without touching the measured session, and the same seed
always yields byte-identical parquet files.

Three kinds of input:
- a transcript corpus drawn from a given lexicon (conversation turns with
  gene / disease / variant surfaces, case variants, "unrecognized"
  negatives, empty turns, shuffled physical row order);
- lexicons: the built-in fixture lexicon, or a generated one of a given
  size (genes with HGNC / ENSEMBL chains, diseases with MONDO ids,
  variants);
- a document + embedding corpus for the dedup / similarity registry
  entries in the measured shape of the sf0.1 test tables, with fixed
  content whose physical row order the seed permutes.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

NOISE = (
    "please run the assay then report back results for review today "
    "we should check pipeline output and compare against expected values "
    "tool call returned ok continuing analysis next step pending confirm"
).split()
ROLES = ("user", "assistant", "tool")
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


@dataclass
class Lexicon:
    """Driver-side lexicon, in the row shapes of the pipeline's tables:
    genes (symbol, name, gene_id), diseases (name, disease_id,
    assoc_gene_id), variants (rsid, caid, hgvs, gene_id, consequence),
    equivalences (id_a, id_b), predicate map (raw, biolink)."""

    genes: list
    diseases: list
    variants: list
    equivalences: list
    predicate_map: list


def fixture_lexicon() -> Lexicon:
    """The built-in fixture lexicon the job uses without --lexicon-dir."""
    from adding_datasets_to_kg_spark.datagen import transcripts as dg

    equivalences = []
    for _, _, gid in dg.GENES[:10]:
        n = gid.split(":")[1]
        equivalences.append((gid, f"HGNC:{n}"))
        equivalences.append((f"HGNC:{n}", f"ENSEMBL:ENSG{n.zfill(11)}"))
    for _, did, _ in dg.DISEASES[:6]:
        n = did.split(":")[1]
        equivalences.append((did, f"MONDO:{n.zfill(7)}"))
    return Lexicon(
        genes=list(dg.GENES),
        diseases=list(dg.DISEASES),
        variants=list(dg.VARIANTS),
        equivalences=equivalences,
        predicate_map=_predicate_map(),
    )


def _predicate_map() -> list:
    return [
        ("mentions", "biolink:mentions"),
        ("observed_in", "biolink:observed_in"),
        ("biolink:genetically_associated_with", "biolink:genetically_associated_with"),
        ("associated_with", "biolink:gene_associated_with_condition"),
    ]


_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "be", "do", "fu", "gi")
_CONSEQUENCES = (
    "missense_variant", "synonymous_variant", "frameshift_variant",
    "splice_region_variant", "intron_variant", "protein_altering_variant",
    "weird_unknown_term",
)


def generated_lexicon(seed: int, n_genes: int, n_diseases: int, n_variants: int) -> Lexicon:
    """A generated lexicon; at 20k genes, 5k diseases and 5k variants it
    has the HGNC / MONDO order of size.

    Every gene joins a NCBIGene -> HGNC -> ENSEMBL chain and every disease a
    DOID -> MONDO pair, so the equivalence table has 2 * n_genes + n_diseases
    edges. Surface forms are unique across the whole lexicon and never
    collide with the corpus's noise words."""
    rng = random.Random(seed)
    genes, diseases, variants, eq = [], [], [], []
    for i in range(n_genes):
        n = 100_000 + i
        gid = f"NCBIGene:{n}"
        word = "".join(rng.choice(_SYLLABLES) for _ in range(3))
        genes.append((f"GX{i:05d}", f"{word} factor {i}", gid))
        eq.append((gid, f"HGNC:{n}"))
        eq.append((f"HGNC:{n}", f"ENSEMBL:ENSG{n:011d}"))
    for i in range(n_diseases):
        n = 200_000 + i
        did = f"DOID:{n}"
        assoc = genes[rng.randrange(n_genes)][2] if rng.random() < 0.7 else None
        diseases.append((f"syndrome {i} type {rng.choice(_SYLLABLES)}", did, assoc))
        eq.append((did, f"MONDO:{n:07d}"))
    for i in range(n_variants):
        caid = f"CAID:CA{700_000 + i}" if rng.random() < 0.6 else None
        hgvs = f"NC_0000{1 + i % 22:02d}.11:g.{1_000_000 + i}C>T"
        variants.append((f"rs{9_000_000 + i}", caid, hgvs,
                         genes[rng.randrange(n_genes)][2], rng.choice(_CONSEQUENCES)))
    return Lexicon(genes, diseases, variants, eq, _predicate_map())


def transcripts(seed: int, n_convs: int, lex: Lexicon, turns=(10, 30)) -> list[tuple]:
    """Turn rows (conv_id, turn_idx, role, text, tool, ts) in shuffled
    physical order. Per turn: 4-12 noise words, a gene in 40% of turns
    (symbol 60% / name 40%, lower-cased 30% of the time), a disease in 35%
    (upper-cased 20%), a variant in 25% (15% of those "unrecognized"-negated),
    and 2% empty turns."""
    rng = random.Random(seed)
    rows = []
    for c in range(n_convs):
        conv_id = f"conv{c:07d}"
        t0 = EPOCH + dt.timedelta(minutes=c)
        for i in range(rng.randint(*turns)):
            words = [rng.choice(NOISE) for _ in range(rng.randint(4, 12))]
            if rng.random() < 0.40:
                sym, name, _ = rng.choice(lex.genes)
                surface = sym if rng.random() < 0.6 else name
                if rng.random() < 0.3:
                    surface = surface.lower()
                pos = rng.randrange(len(words) + 1)
                words[pos:pos] = surface.split()
            if rng.random() < 0.35:
                dname = rng.choice(lex.diseases)[0]
                pos = rng.randrange(len(words) + 1)
                words[pos:pos] = (dname.upper() if rng.random() < 0.2 else dname).split()
            if rng.random() < 0.25:
                rsid, caid, _, _, _ = rng.choice(lex.variants)
                surface = caid if (caid and rng.random() < 0.4) else rsid
                if rng.random() < 0.15:
                    words.extend(["unrecognized", surface])
                else:
                    words.insert(rng.randrange(len(words) + 1), surface)
            text = "" if rng.random() < 0.02 else " ".join(words)
            role = ROLES[i % 3]
            tool = "search" if role == "tool" and rng.random() < 0.5 else None
            rows.append((conv_id, i, role, text, tool, t0 + dt.timedelta(seconds=30 * i)))
    rng.shuffle(rows)
    return rows


# The document / embedding corpus follows the shape of the sf0.1 test
# tables (5,000 documents, 2,000 embeddings), measured there:
# - texts: a uniform draw from the 30-word vocabulary below, 10-99 words
#   per text (uniform lengths, median 54);
# - 5% near-duplicates, each another row's text plus the token "dup" (the
#   source row may itself be rewritten later, so "dup dup" occurs);
# - 0.16% exact duplicates of another row's text;
# - lang 40% "en" and 15% each "zh", "de", "fr", "es"; source src<id % 20>;
#   n_chars = len(text);
# - embeddings: 64-d unit vectors in uniformly random directions (cosine to
#   their label's mean direction averages 0.07, i.e. labels carry no
#   cluster structure), labels uniform over 10.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.40), ("zh", 0.15), ("de", 0.15), ("fr", 0.15), ("es", 0.15))
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.0016
DEDUP_CONTENT_SEED = 20240101


def documents(n_docs: int) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars) in the shape measured on the
    sf0.1 documents table (see above). Fixed content (seeded by a
    constant): the benchmark seed only permutes the physical order."""
    rng = random.Random(DEDUP_CONTENT_SEED)
    texts = [" ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 99)))
             for _ in range(n_docs)]
    n_near, n_exact = round(n_docs * NEAR_DUP_SHARE), round(n_docs * EXACT_DUP_SHARE)
    rewritten = rng.sample(range(n_docs), n_near + n_exact)
    for k, i in enumerate(rewritten):
        src = rng.randrange(n_docs - 1)  # any other row
        src += src >= i
        texts[i] = texts[src] + " dup" if k < n_near else texts[src]
    langs, weights = zip(*LANGS)
    return [(i, t, rng.choices(langs, weights)[0], f"src{i % 20}", len(t))
            for i, t in enumerate(texts)]


def embeddings(n_vecs: int, dim: int = 64, n_labels: int = 10) -> list[tuple]:
    """(vec_id, embedding float[dim], label): unit vectors in uniformly
    random directions with a uniform label, as in the sf0.1 embeddings
    table. Fixed content, like documents()."""
    rng = random.Random(DEDUP_CONTENT_SEED + 1)
    rows = []
    for i in range(n_vecs):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v))
        rows.append((i, [x / norm for x in v], rng.randrange(n_labels)))
    return rows


def permuted(rows: list, seed: int) -> list:
    out = list(rows)
    random.Random(seed).shuffle(out)
    return out


def write_parquet(rows: list, schema: pa.Schema, path: str, n_files: int = 1) -> int:
    """Write ``rows`` as ``n_files`` parquet files under directory ``path``
    (one file per contiguous slice). Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                                 schema=schema)
    per = math.ceil(table.num_rows / n_files)
    total = 0
    for k in range(n_files):
        fn = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * per, per), fn, compression="snappy")
        total += os.path.getsize(fn)
    return total


LEXICON_SCHEMAS = {
    "gene_lexicon": pa.schema([("symbol", pa.string()), ("name", pa.string()),
                               ("gene_id", pa.string())]),
    "disease_lexicon": pa.schema([("name", pa.string()), ("disease_id", pa.string()),
                                  ("assoc_gene_id", pa.string())]),
    "variant_lexicon": pa.schema([("rsid", pa.string()), ("caid", pa.string()),
                                  ("hgvs", pa.string()), ("gene_id", pa.string()),
                                  ("consequence", pa.string())]),
    "id_equivalences": pa.schema([("id_a", pa.string()), ("id_b", pa.string())]),
    "predicate_map": pa.schema([("raw_predicate", pa.string()),
                                ("biolink_predicate", pa.string())]),
}
DOCUMENT_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                             ("lang", pa.string()), ("source", pa.string()),
                             ("n_chars", pa.int64())])
EMBEDDING_SCHEMA = pa.schema([("vec_id", pa.int64()),
                              ("embedding", pa.list_(pa.float32())),
                              ("label", pa.int32())])


def write_lexicon(lex: Lexicon, lexicon_dir: str) -> None:
    """The --lexicon-dir layout that plans.pipeline.load_lexicons reads."""
    tables = {
        "gene_lexicon": lex.genes,
        "disease_lexicon": lex.diseases,
        "variant_lexicon": lex.variants,
        "id_equivalences": lex.equivalences,
        "predicate_map": lex.predicate_map,
    }
    for name, rows in tables.items():
        write_parquet(rows, LEXICON_SCHEMAS[name], os.path.join(lexicon_dir, f"{name}.parquet"))
