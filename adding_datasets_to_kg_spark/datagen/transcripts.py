"""Seeded synthetic transcript corpus + lexicon tables (FIXTURES.md §1-2).

Two generators:
- ``generate_corpus`` — driver-side Python, small scale, used by pytest with
  the pure-Python triple oracle (tests/oracle.py);
- ``generate_transcripts_distributed`` — Spark-native (spark.range + hash
  expressions), used by bench.py at millions of turns; fully deterministic
  given (n_convs, turns_per_conv) with NO driver-side data, so it scales to
  any size without collect/parallelize bottlenecks.

Edge cases covered per FIXTURES.md §1: empty text, out-of-order physical row
layout (rows shuffled before parallelize → window ordering is load-bearing),
case-variant mentions, "unrecognized"-preceded negatives.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..session import local_frame

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("role", StringType(), True),
        StructField("text", StringType(), True),
        StructField("tool", StringType(), True),
        StructField("ts", TimestampType(), True),
    ]
)

GENES: list[tuple[str, str, str]] = [
    ("TP53", "tumor protein p53", "NCBIGene:7157"),
    ("BRCA1", "breast cancer 1", "NCBIGene:672"),
    ("BRCA2", "breast cancer 2", "NCBIGene:675"),
    ("EGFR", "epidermal growth factor receptor", "NCBIGene:1956"),
    ("KRAS", "kras proto oncogene", "NCBIGene:3845"),
    ("BRAF", "b raf proto oncogene", "NCBIGene:673"),
    ("PTEN", "phosphatase and tensin homolog", "NCBIGene:5728"),
    ("APC", "apc regulator of wnt", "NCBIGene:324"),
    ("MYC", "myc proto oncogene", "NCBIGene:4609"),
    ("ALK", "alk receptor tyrosine kinase", "NCBIGene:238"),
    ("RET", "ret proto oncogene", "NCBIGene:5979"),
    ("ENPP5", "ectonucleotide pyrophosphatase 5", "NCBIGene:59084"),
    ("CDKN2A", "cyclin dependent kinase inhibitor 2a", "NCBIGene:1029"),
    ("ERBB2", "erb b2 receptor tyrosine kinase 2", "NCBIGene:2064"),
    ("PIK3CA", "pik3 catalytic subunit alpha", "NCBIGene:5290"),
    ("SMAD4", "smad family member 4", "NCBIGene:4089"),
]

DISEASES: list[tuple[str, str, str | None]] = [
    ("colorectal cancer", "DOID:9256", "NCBIGene:324"),
    ("breast cancer", "DOID:1612", "NCBIGene:672"),
    ("lung cancer", "DOID:1324", "NCBIGene:1956"),
    ("melanoma", "DOID:1909", "NCBIGene:673"),
    ("pancreatic cancer", "DOID:1793", "NCBIGene:3845"),
    ("glioblastoma", "DOID:3068", "NCBIGene:7157"),
    ("prostate cancer", "DOID:10283", "NCBIGene:5728"),
    ("thyroid carcinoma", "DOID:3963", "NCBIGene:5979"),
    ("ovarian cancer", "DOID:2394", "NCBIGene:675"),
    ("gastric cancer", "DOID:10534", "NCBIGene:2064"),
    ("leukemia", "DOID:1240", None),
    ("lymphoma", "DOID:0060058", None),
]

# (rsid, caid|None, hgvs, gene_id, consequence)
VARIANTS: list[tuple[str, str | None, str, str, str]] = [
    ("rs535631562", None, "NC_000006.12:g.63999108C>T", "NCBIGene:59084", "synonymous_variant"),
    ("rs113488022", "CAID:CA123643", "NC_000007.14:g.140753336A>T", "NCBIGene:673", "missense_variant"),
    ("rs121913529", "CAID:CA126713", "NC_000012.12:g.25245350C>T", "NCBIGene:3845", "missense_variant"),
    ("rs28934578", "CAID:CA000178", "NC_000017.11:g.7675088C>T", "NCBIGene:7157", "missense_variant"),
    ("rs80357906", "CAID:CA026492", "NC_000017.11:g.43094464del", "NCBIGene:672", "frameshift_variant"),
    ("rs121434568", "CAID:CA126316", "NC_000007.14:g.55191822T>G", "NCBIGene:1956", "missense_variant"),
    ("rs1042522", None, "NC_000017.11:g.7676154G>C", "NCBIGene:7157", "protein_altering_variant"),
    ("rs1801018", None, "NC_000002.12:g.208248388T>C", "NCBIGene:4609", "synonymous_variant"),
    ("rs777", None, "NC_000001.11:g.1014143C>T", "NCBIGene:5290", "intron_variant"),
    ("rs888", "CAID:CA999001", "NC_000013.11:g.32338103G>A", "NCBIGene:675", "splice_region_variant"),
    ("rs999", None, "NC_000010.11:g.87894027A>G", "NCBIGene:5728", "weird_unknown_term"),
]

NOISE = (
    "please run the assay then report back results for review today "
    "we should check pipeline output and compare against expected values "
    "tool call returned ok continuing analysis next step pending confirm"
).split()

ROLES = ("user", "assistant", "tool")
EPOCH = dt.datetime(2024, 1, 1)


def gene_lexicon_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, GENES, "symbol string, name string, gene_id string")


def disease_lexicon_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, DISEASES, "name string, disease_id string, assoc_gene_id string"
    )


def variant_lexicon_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        VARIANTS,
        "rsid string, caid string, hgvs string, gene_id string, consequence string",
    )


def id_equivalences_df(spark: SparkSession) -> DataFrame:
    """Node-Normalizer-shaped cliques (FIXTURES.md §2.4): chains force ≥2 CC
    iterations; some ids have no clique (normalization-failure analogs)."""
    rows = []
    for _, _, gid in GENES[:10]:
        n = gid.split(":")[1]
        rows.append((gid, f"HGNC:{n}"))
        rows.append((f"HGNC:{n}", f"ENSEMBL:ENSG{n.zfill(11)}"))  # chain a-b-c
    for _, did, _ in DISEASES[:6]:
        n = did.split(":")[1]
        rows.append((did, f"MONDO:{n.zfill(7)}"))
    return local_frame(spark, rows, "id_a string, id_b string")


def predicate_map_df(spark: SparkSession) -> DataFrame:
    rows = [
        ("mentions", "biolink:mentions"),
        ("observed_in", "biolink:observed_in"),
        ("biolink:genetically_associated_with", "biolink:genetically_associated_with"),
        ("associated_with", "biolink:gene_associated_with_condition"),
    ]
    return local_frame(spark, rows, "raw_predicate string, biolink_predicate string")


def generate_corpus(
    n_convs: int = 50,
    seed: int = 7,
    hot_conv_turn_factor: int = 10,
) -> list[tuple[str, int, str, str, str | None, dt.datetime]]:
    """Driver-side corpus with every FIXTURES.md §1 edge case. Returns rows in
    SHUFFLED physical order (window ordering must restore logical order)."""
    rng = random.Random(seed)
    rows = []
    for c in range(n_convs):
        conv_id = f"conv{c:05d}"
        # a few hot conversations (skew: conv 0 and 1 are 10x longer)
        n_turns = rng.randint(3, 12) * (hot_conv_turn_factor if c < 2 else 1)
        t0 = EPOCH + dt.timedelta(hours=c)
        for i in range(n_turns):
            role = ROLES[i % 3]
            tool = "search" if role == "tool" and rng.random() < 0.5 else None
            words = [rng.choice(NOISE) for _ in range(rng.randint(4, 12))]
            r = rng.random()
            if r < 0.30:
                sym, name, _ = rng.choice(GENES)
                words.insert(rng.randrange(len(words) + 1),
                             sym if rng.random() < 0.7 else sym.lower())
            if 0.20 <= r < 0.55:
                dname, _, _ = rng.choice(DISEASES)
                pos = rng.randrange(len(words) + 1)
                words[pos:pos] = (dname.upper() if rng.random() < 0.2 else dname).split()
            if 0.50 <= r < 0.75:
                rsid, caid, _, _, _ = rng.choice(VARIANTS)
                surface = caid if (caid and rng.random() < 0.4) else rsid
                if rng.random() < 0.15:  # "unrecognized" negative
                    words.extend(["unrecognized", surface])
                else:
                    words.insert(rng.randrange(len(words) + 1), surface)
            text = " ".join(words)
            if rng.random() < 0.02:
                text = ""  # empty-text edge case
            rows.append((conv_id, i, role, text, tool,
                         t0 + dt.timedelta(seconds=30 * i)))
    rng.shuffle(rows)  # out-of-order physical layout
    return rows


def generate_transcripts_distributed(
    spark: SparkSession, n_convs: int, turns_per_conv: int = 20
) -> DataFrame:
    """Spark-native generator for throughput benches: no driver data, pure
    column expressions over spark.range — generation itself scales linearly
    with executors (the point of the two-parallelism bench)."""
    gene_syms = F.array(*[F.lit(g[0]) for g in GENES])
    disease_names = F.array(*[F.lit(d[0]) for d in DISEASES])
    rsids = F.array(*[F.lit(v[0]) for v in VARIANTS])
    noise = F.array(*[F.lit(w) for w in NOISE])
    n = F.lit(len(NOISE))

    df = spark.range(n_convs * turns_per_conv).select(
        F.format_string("conv%08d", (F.col("id") / turns_per_conv).cast("long")).alias("conv_id"),
        F.pmod(F.col("id"), F.lit(turns_per_conv)).cast("int").alias("turn_idx"),
        F.element_at(F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
                     (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int")).alias("role"),
        F.concat_ws(
            " ",
            F.element_at(noise, (F.pmod(F.xxhash64("id", F.lit(1)), n) + 1).cast("int")),
            F.element_at(noise, (F.pmod(F.xxhash64("id", F.lit(2)), n) + 1).cast("int")),
            F.element_at(gene_syms, (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(len(GENES))) + 1).cast("int")),
            F.element_at(noise, (F.pmod(F.xxhash64("id", F.lit(4)), n) + 1).cast("int")),
            F.when(
                F.pmod(F.xxhash64("id", F.lit(5)), F.lit(3)) == 0,
                F.element_at(disease_names, (F.pmod(F.xxhash64("id", F.lit(6)), F.lit(len(DISEASES))) + 1).cast("int")),
            ).otherwise(F.element_at(noise, (F.pmod(F.xxhash64("id", F.lit(7)), n) + 1).cast("int"))),
            F.when(
                F.pmod(F.xxhash64("id", F.lit(8)), F.lit(4)) == 0,
                F.element_at(rsids, (F.pmod(F.xxhash64("id", F.lit(9)), F.lit(len(VARIANTS))) + 1).cast("int")),
            ).otherwise(F.element_at(noise, (F.pmod(F.xxhash64("id", F.lit(10)), n) + 1).cast("int"))),
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.lit(EPOCH) + F.make_interval(secs=F.pmod(F.col("id"), F.lit(turns_per_conv)) * 30)).alias("ts"),
    )
    return df
