"""Source-converter parity tests (SURVEY.md §2.1 S1-S3, §3.1 convert stage).

Fixtures are freshly synthesized rows with the reference formats' column
structure (CIViC 10-col TSV, cBioPortal JSON array, VEP JSONL) — they cover
each converter's semantic quirks:
- CIViC: "unrecognized" variant suppression, CAID-gate on variant→disease
  edges, comma-packed NCIT therapy ids (convert_data.py:27-56).
- cBioPortal: doid-presence filter, NCBIGene CURIE construction
  (convert_data.py:58-82).
- 1000G VEP: transcript_consequences presence gate, first-matching-element
  variant id with the NC_-contig graft rule, frequency-blob parsing,
  consequence→predicate decode (convert_data.py:84-117).
"""

import json

import pytest
from pyspark.sql import functions as F

from adding_datasets_to_kg_spark.sources.cbioportal import (
    cbioportal_to_kgx,
    read_cbioportal_json,
)
from adding_datasets_to_kg_spark.sources.civic import civic_to_kgx, read_civic_tsv
from adding_datasets_to_kg_spark.sources.onekg import onekg_to_kgx, read_vep_jsonl

CIVIC_HEADER = (
    "variant\tallele_registry_id\tgene_symbol\tncbi_gene_id\tdisease\tdoid"
    "\ttherapies\tncit_ids\tmolecular_profile_id\tvariant_id"
)
CIVIC_ROWS = [
    # normal CAID row, two therapies
    "V600E\tCAID:CA123643\tBRAF\tNCBIGene:673\tmelanoma\tDOID:1909\tdabrafenib,trametinib\tC82386,C77908\tmp1\t12",
    # unrecognized variant name → NO variant node, but edges still emitted
    "unrecognized variant xyz\tCAID:CA999\tKRAS\tNCBIGene:3845\tlung cancer\tDOID:1324\t\t\tmp2\t13",
    # empty allele_registry_id → no variant node, no variant edges
    "T790M\t\tEGFR\tNCBIGene:1956\tlung cancer\tDOID:1324\t\t\tmp3\t14",
    # non-CAID variant id → variant node yes, variant→disease edge NO
    "R132H\tHGVS:NC_000002.12:g.208248388C>T\tIDH1\tNCBIGene:3417\tglioma\tDOID:0060108\t\t\tmp4\t15",
    # empty doid → no disease node, no therapy rows
    "G12D\tCAID:CA126713\tKRAS\tNCBIGene:3845\t\t\tcisplatin\tC376\tmp5\t16",
]


@pytest.fixture(scope="module")
def civic_result(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("civic") / "civic.tsv"
    p.write_text("\n".join([CIVIC_HEADER, *CIVIC_ROWS]) + "\n")
    nodes, edges = civic_to_kgx(read_civic_tsv(spark, str(p)))
    return nodes.collect(), edges.collect()


def test_civic_variant_node_filters(civic_result):
    nodes, _ = civic_result
    ids = {r["id"] for r in nodes}
    assert "CAID:CA123643" in ids
    assert "CAID:CA999" not in ids  # "unrecognized" suppressed (convert_data.py:28)
    assert "HGVS:NC_000002.12:g.208248388C>T" in ids  # non-CAID still a node
    by_id = {r["id"]: r for r in nodes}
    assert by_id["CAID:CA123643"]["name"] == "V600E"
    assert by_id["CAID:CA123643"]["category"] == ["biolink:SequenceVariant"]


def test_civic_therapy_nodes_ncit_packed(civic_result):
    nodes, _ = civic_result
    ids = {r["id"] for r in nodes}
    assert {"NCIT:C82386", "NCIT:C77908"} <= ids  # comma-split + prefix
    assert "NCIT:C376" not in ids  # empty doid row contributes no therapy


def test_civic_edge_gates(civic_result):
    _, edges = civic_result
    triples = {(r["subject"], r["predicate"], r["object"]) for r in edges}
    # CAID-gated variant→disease edge
    assert ("CAID:CA123643", "biolink:genetically_associated_with", "DOID:1909") in triples
    # non-CAID variant id: NO variant→disease edge (convert_data.py:36)
    assert not any(
        s.startswith("HGVS:") and p == "biolink:genetically_associated_with"
        for s, p, _ in triples
    )
    # "unrecognized" affects only the NODE, not edges (convert_data.py:36,50)
    assert ("CAID:CA999", "biolink:genetically_associated_with", "DOID:1324") in triples
    # therapy→disease
    assert ("NCIT:C82386", "biolink:applied_to_treat", "DOID:1909") in triples
    # variant→gene requires non-empty variant AND gene
    assert ("CAID:CA123643", "biolink:is_sequence_variant_of", "NCBIGene:673") in triples
    assert not any(s == "" for s, _, _ in triples)


CBIO = [
    {"entrez_gene_id": 7157, "gene_symbol": "TP53", "doid": "DOID:3068"},
    {"entrez_gene_id": 673, "gene_symbol": "BRAF", "doid": "DOID:1909"},
    {"entrez_gene_id": 9999, "gene_symbol": "NOPE", "doid": None},  # filtered
]


def test_cbioportal_converter(spark, tmp_path):
    p = tmp_path / "cbio.json"
    p.write_text(json.dumps(CBIO))
    nodes, edges = cbioportal_to_kgx(read_cbioportal_json(spark, str(p)))
    ids = {r["id"] for r in nodes.collect()}
    assert {"NCBIGene:7157", "NCBIGene:673", "DOID:3068", "DOID:1909"} <= ids
    assert "NCBIGene:9999" not in ids  # doid-null row fully filtered
    triples = {(r["subject"], r["predicate"], r["object"]) for r in edges.collect()}
    assert triples == {
        ("NCBIGene:7157", "biolink:gene_associated_with_condition", "DOID:3068"),
        ("NCBIGene:673", "biolink:gene_associated_with_condition", "DOID:1909"),
    }


VEP = [
    {  # normal: NC_ hgvsg branch; gene on first consequence
        "input": "6\t63999108\trs535631562\tC\tT\t.\t.\tAFR=0.0008;AMR=0;EAS=0;EUR=0.5;SAS=0.0041",
        "most_severe_consequence": "synonymous_variant",
        "transcript_consequences": [
            {"gene_id": "59084", "hgvsg": "NC_000006.12:g.63999108C>T",
             "spdi": "NC_000006.12:63999107:C:T"},
        ],
    },
    {  # chr-style hgvsg → SPDI-contig graft branch (util.py:30-36)
        "input": "7\t140753336\trs113488022\tA\tT\t.\t.\tAFR=0;AMR=0.01;EAS=0;EUR=0;SAS=0",
        "most_severe_consequence": "missense_variant",
        "transcript_consequences": [
            # first element: gene comes from HERE (positional, convert_data.py:94)
            # but hgvs first-MATCH skips it (no hgvsg/spdi) → element 2
            {"gene_id": "673", "hgvsg": None, "spdi": None},
            {"gene_id": "999999", "hgvsg": "chr7:g.140753336A>T",
             "spdi": "NC_000007.14:140753335:A:T"},
        ],
    },
    {  # no transcript_consequences → dropped entirely (convert_data.py:91-92)
        "input": "1\t1\trs0\tG\tA\t.\t.\tAFR=0;AMR=0;EAS=0;EUR=0;SAS=0",
        "most_severe_consequence": "intron_variant",
    },
]


def test_onekg_converter(spark, tmp_path):
    p = tmp_path / "vep.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in VEP) + "\n")
    nodes, edges = onekg_to_kgx(read_vep_jsonl(spark, str(p)))
    nrows = nodes.collect()
    ids = {r["id"] for r in nrows}
    # NC_ branch keeps hgvsg; chr branch grafts the SPDI contig
    assert "HGVS:NC_000006.12:g.63999108C>T" in ids
    assert "HGVS:NC_000007.14:g.140753336A>T" in ids
    assert len([r for r in nrows if r["id"].startswith("HGVS:")]) == 2  # rs0 dropped
    # frequency blob → map properties
    by_id = {r["id"]: r for r in nrows}
    props = by_id["HGVS:NC_000006.12:g.63999108C>T"]["properties"]
    assert props["AFR"] == "0.0008" and props["EUR"] == "0.5"
    triples = {(r["subject"], r["predicate"], r["object"]) for r in edges.collect()}
    assert ("HGVS:NC_000006.12:g.63999108C>T",
            "biolink:is_synonymous_variant_of", "NCBIGene:59084") in triples
    assert ("HGVS:NC_000007.14:g.140753336A>T",
            "biolink:is_missense_variant_of", "NCBIGene:673") in triples


def test_icetable_roundtrip_and_pruning(spark, tmp_path):
    """Iceberg-layout write/read + bucket-level partition pruning."""
    from adding_datasets_to_kg_spark.icetable import (
        bucket_expr,
        read_manifest,
        read_table,
        write_table,
    )

    df = spark.createDataFrame(
        [(f"conv{i:03d}", j, f"t{i}-{j}") for i in range(20) for j in range(3)],
        "conv_id string, turn_idx int, text string",
    )
    write_table(df, str(tmp_path), "transcripts", n_buckets=4)
    man = read_manifest(spark, str(tmp_path), "transcripts")
    assert man["partition_spec"] == {"transform": "bucket", "col": "conv_id", "n": 4}

    full = read_table(spark, str(tmp_path), "transcripts")
    assert full.count() == 60

    # prune to the bucket holding conv007: full row recovery from ONE dir
    b = df.select(bucket_expr("conv_id", 4)).where(F.col("conv_id") == "conv007")
    target = b.first()[0]
    pruned = read_table(spark, str(tmp_path), "transcripts", buckets=[target])
    got = pruned.filter(F.col("conv_id") == "conv007").count()
    assert got == 3
    assert pruned.count() < 60  # actually pruned, not a full scan


def test_graph_metadata_shape(spark):
    """G5 metadata dict: counts + census + dangling detection."""
    from adding_datasets_to_kg_spark.operators.stats import graph_metadata
    from adding_datasets_to_kg_spark.sources.kgx import conform_edges, conform_nodes

    nodes = conform_nodes(spark.createDataFrame(
        [("A", "a", ["biolink:Gene"]), ("B", "b", ["biolink:Disease"])],
        "id string, name string, category array<string>",
    ))
    edges = conform_edges(spark.createDataFrame(
        [("A", "biolink:affects", "B", "infores:x"),
         ("A", "biolink:affects", "MISSING", "infores:x")],
        "subject string, predicate string, object string, primary_knowledge_source string",
    ))
    md = graph_metadata(nodes, edges)
    assert md["node_count"] == 2 and md["edge_count"] == 2
    assert md["category_counts"] == {"biolink:Gene": 1, "biolink:Disease": 1}
    assert md["predicate_counts"] == {"biolink:affects": 2}
    assert md["source_counts"] == {"infores:x": 2}
    assert md["dangling_edge_count"] == 1


def test_graph_metadata_three_actions_match_oracle(spark, monkeypatch):
    """graph_metadata runs exactly three Spark actions (one grouped count
    per table and the dangling count) and equals a pure-Python oracle over
    the collected rows: every category element counts once; a null or
    empty array, a null element and "" count as __uncategorized__; null
    predicates and sources keep their None keys."""
    from collections import Counter

    from adding_datasets_to_kg_spark.operators.stats import graph_metadata

    nodes = spark.createDataFrame(
        [("A", ["biolink:Gene", "biolink:Protein"]), ("B", ["biolink:Disease"]),
         ("C", None), ("D", []), ("E", [None]), ("F", [""]),
         ("G", ["biolink:Gene"]), ("H", ["biolink:Gene", "biolink:Protein"])],
        "id string, category array<string>",
    )
    edges = spark.createDataFrame(
        [("A", "biolink:affects", "B", "infores:x"),
         ("A", None, "C", "infores:x"),
         ("G", "biolink:affects", "B", "infores:y"),
         ("A", "biolink:affects", "MISSING", "infores:y"),
         ("MISSING", None, "MISSING2", None)],
        "subject string, predicate string, object string, primary_knowledge_source string",
    )
    node_rows, edge_rows = nodes.collect(), edges.collect()
    ids = {r["id"] for r in node_rows}
    exploded = [c for r in node_rows for c in (r["category"] or [None])]
    want = {
        "node_count": len(node_rows),
        "edge_count": len(edge_rows),
        "category_counts": dict(Counter(c if c else "__uncategorized__" for c in exploded)),
        "predicate_counts": dict(Counter(r["predicate"] for r in edge_rows)),
        "source_counts": dict(Counter(r["primary_knowledge_source"] for r in edge_rows)),
        "dangling_edge_count": len({tuple(r) for r in edge_rows
                                    if r["subject"] not in ids or r["object"] not in ids}),
    }
    assert want["category_counts"]["__uncategorized__"] == 4
    assert want["predicate_counts"][None] == 2 and want["source_counts"][None] == 1

    actions = []
    cls = type(nodes)
    for name in ("collect", "count"):
        def spy(self, *args, __fn=getattr(cls, name), __name=name, **kwargs):
            actions.append(__name)
            return __fn(self, *args, **kwargs)
        monkeypatch.setattr(cls, name, spy)
    got = graph_metadata(nodes, edges)
    monkeypatch.undo()

    assert len(actions) == 3, actions
    assert got == want


def test_icetable_roundtrip_through_file_scheme_uri(spark, tmp_path):
    """Same roundtrip + pruning through an explicit ``file:`` Hadoop URI —
    the manifest and bucket-existence probes go through fsio, so a scheme'd
    root must behave exactly like a bare local path (the round-3
    implementation used driver-local os.* and broke on any URI root)."""
    from adding_datasets_to_kg_spark.icetable import (
        bucket_expr,
        read_manifest,
        read_table,
        write_table,
    )

    root = f"file://{tmp_path}"
    df = spark.createDataFrame(
        [(f"conv{i:03d}", j, f"t{i}-{j}") for i in range(12) for j in range(2)],
        "conv_id string, turn_idx int, text string",
    )
    write_table(df, root, "transcripts", n_buckets=4)
    man = read_manifest(spark, root, "transcripts")
    assert man["partition_spec"]["n"] == 4
    assert read_table(spark, root, "transcripts").count() == 24
    target = df.select(bucket_expr("conv_id", 4)).where(
        F.col("conv_id") == "conv003"
    ).first()[0]
    pruned = read_table(spark, root, "transcripts", buckets=[target])
    assert pruned.filter(F.col("conv_id") == "conv003").count() == 2
    assert pruned.count() < 24
    # absent bucket list -> zero rows, manifest-shaped schema, no error
    assert read_table(spark, root, "transcripts", buckets=[]).count() == 0
