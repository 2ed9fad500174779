"""End-to-end pipeline tests against the pure-Python oracle (SURVEY.md §5.2)."""

import pyspark.sql.functions as F
import pytest

from adding_datasets_to_kg_spark.datagen import transcripts as dg
from adding_datasets_to_kg_spark.plans.pipeline import (
    Lexicons,
    run_pipeline,
    run_pipeline_checkpointed,
)

from .oracle import expected_triples


@pytest.fixture(scope="module")
def lex(spark):
    return Lexicons(
        gene=dg.gene_lexicon_df(spark),
        disease=dg.disease_lexicon_df(spark),
        variant=dg.variant_lexicon_df(spark),
        id_equivalences=dg.id_equivalences_df(spark),
        predicate_map=dg.predicate_map_df(spark),
    )


@pytest.fixture(scope="module")
def corpus_rows():
    return dg.generate_corpus(n_convs=40, seed=7)


@pytest.fixture(scope="module")
def corpus(spark, corpus_rows):
    return spark.createDataFrame(corpus_rows, dg.TRANSCRIPT_SCHEMA)


@pytest.fixture(scope="module")
def result(corpus, lex):
    return run_pipeline(corpus, lex, compute_metadata=False)


def triple_set(edges_df):
    return {
        (r["subject"], r["predicate"], r["object"])
        for r in edges_df.select("subject", "predicate", "object").collect()
    }


def node_rows(nodes_df):
    """Sorted node rows with order-free category and property values."""
    return sorted(
        (
            r["id"],
            r["name"],
            tuple(sorted(r["category"] or [])),
            tuple(sorted((r["properties"] or {}).items())),
            r["properties"] is None,
        )
        for r in nodes_df.collect()
    )


def test_triples_match_oracle(result, corpus_rows):
    got = triple_set(result["edges"])
    want = expected_triples(corpus_rows)
    tp = len(got & want)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(want) if want else 0.0
    assert precision >= 0.95, f"precision {precision}: extra={sorted(got - want)[:10]}"
    assert recall >= 0.95, f"recall {recall}: missing={sorted(want - got)[:10]}"
    # at this scale we expect exact agreement
    assert got == want


def test_merge_idempotent(result, lex):
    """Running the node merge twice equals once (dedup idempotence)."""
    from adding_datasets_to_kg_spark.operators.merge import merge_nodes

    once = result["nodes"]
    twice = merge_nodes(once)
    assert once.count() == twice.count()
    assert triple_set(once.select(F.col("id").alias("subject"),
                                  F.lit("x").alias("predicate"),
                                  F.col("id").alias("object"))) == \
           triple_set(twice.select(F.col("id").alias("subject"),
                                   F.lit("x").alias("predicate"),
                                   F.col("id").alias("object")))


def test_targeted_merge_equals_full_merge(corpus, lex):
    """The pipeline's targeted node merge (aggregate only over
    canonicalization-target ids, bypass for construction-unique rows) must
    produce exactly the rows the full two-phase merge produces."""
    from adding_datasets_to_kg_spark.operators.canonicalize import (
        normalize_predicates,
        remap_edge_endpoints,
    )
    from adding_datasets_to_kg_spark.operators.merge import (
        dedup_edges,
        dedup_edges_targeted,
        merge_nodes,
        merge_nodes_targeted,
    )
    from adding_datasets_to_kg_spark.plans.pipeline import (
        _predicate_census,
        build_nodes_for_edges,
        canonicalize_graph,
        emit_triples,
        extract_linked_mentions,
    )

    edges_pre = emit_triples(extract_linked_mentions(corpus, lex), lex)
    nodes = build_nodes_for_edges(edges_pre, lex)
    nodes, norm_map, _, _ = canonicalize_graph(nodes, lex)
    edges = normalize_predicates(remap_edge_endpoints(edges_pre, norm_map), lex.predicate_map)
    canon_ids = norm_map.select(F.col("canonical_id").alias("id"))
    full = merge_nodes(nodes)
    targeted = merge_nodes_targeted(nodes, canon_ids)

    assert node_rows(full) == node_rows(targeted)
    # the merge path must actually have merged something (norm map non-empty)
    assert norm_map.count() > 0

    # Edge side: targeted dedup must keep exactly the keys a full dedup
    # keeps (row choice among colliding property payloads is unspecified in
    # BOTH paths, so compare the deduped key multiset, not full rows).
    ambig = _predicate_census(edges_pre, lex.predicate_map)[0]
    full_e = dedup_edges(edges)
    targeted_e = dedup_edges_targeted(edges, canon_ids, ambig)

    def keys(df):
        return sorted(
            (r["subject"], r["predicate"], r["object"], r["primary_knowledge_source"])
            for r in df.collect()
        )

    assert keys(full_e) == keys(targeted_e)
    assert targeted_e.count() == full_e.count()


def test_finalize_graph_expr_split_equals_join_fallback(corpus, lex):
    """_finalize_graph's pure-expression (InSet) split over PRE-remap edges
    must produce exactly the graph the broadcast-join fallback produces —
    same node rows, same deduped edge keys, same endpoint remaps, same
    original_* provenance columns."""
    from adding_datasets_to_kg_spark.plans.pipeline import (
        _finalize_graph,
        _predicate_census,
        build_nodes_for_edges,
        canonicalize_graph,
        emit_triples,
        extract_linked_mentions,
    )

    edges = emit_triples(extract_linked_mentions(corpus, lex), lex)
    nodes, norm_map, _, _ = canonicalize_graph(build_nodes_for_edges(edges, lex), lex)
    assert norm_map.count() > 0  # the split must actually be exercised
    ambig = _predicate_census(edges, lex.predicate_map)[0]

    n_expr, e_expr = _finalize_graph(nodes, edges, norm_map, lex.predicate_map, ambig)
    # max_inset_ids=0 forces the broadcast-join fallback on the same inputs
    n_join, e_join = _finalize_graph(
        nodes, edges, norm_map, lex.predicate_map, ambig, max_inset_ids=0
    )

    def edge_keys(df):
        return sorted(
            (r["subject"], r["predicate"], r["object"], r["primary_knowledge_source"])
            for r in df.collect()
        )

    assert node_rows(n_expr) == node_rows(n_join)
    assert edge_keys(e_expr) == edge_keys(e_join)
    # original_* provenance: WHICH of two colliding remapped edges
    # dropDuplicates keeps is unspecified, and the two paths build different
    # physical plans — so originals are asserted only for keys with a single
    # pre-dedup contributor (where the kept row is fully determined).
    from collections import Counter

    from adding_datasets_to_kg_spark.operators.canonicalize import (
        normalize_predicates,
        remap_edge_endpoints,
    )

    pre = remap_edge_endpoints(edges, norm_map)
    if lex.predicate_map is not None:
        pre = normalize_predicates(pre, lex.predicate_map)
    contributors = Counter(
        (r["subject"], r["predicate"], r["object"], r["primary_knowledge_source"])
        for r in pre.collect()
    )
    single = {k for k, c in contributors.items() if c == 1}
    assert single  # fixture must exercise the unambiguous case

    def originals(df):
        return sorted(
            (
                r["subject"], r["predicate"], r["object"],
                r["primary_knowledge_source"],
                r["original_subject"], r["original_object"],
            )
            for r in df.collect()
            if (r["subject"], r["predicate"], r["object"],
                r["primary_knowledge_source"]) in single
        )

    assert originals(e_expr) == originals(e_join)
    # remap actually rewrote something (non-degenerate fixture)
    assert any(r["subject"] != r["original_subject"] or r["object"] != r["original_object"]
               for r in e_expr.collect())


def test_referential_integrity(result):
    from adding_datasets_to_kg_spark.operators.stats import dangling_edges

    assert dangling_edges(result["nodes"], result["edges"]).count() == 0


def test_normalization_map_totality(result):
    """Every raw id either resolves or lands in the failures table
    (normalize.py:17-18 analog)."""
    nm, failures = result["norm_map"], result["failures"]
    assert nm is not None
    assert nm.filter(F.col("canonical_id").isNull()).count() == 0
    # failures are ids with no equivalence clique — they must not appear in map
    overlap = failures.join(nm, "id", "inner").count()
    assert overlap == 0


def test_node_ids_unique(result):
    n = result["nodes"]
    assert n.count() == n.select("id").distinct().count()


@pytest.mark.parametrize("scheme", ["", "file://"])
def test_resume_after_induced_failure(tmp_path, corpus, lex, scheme):
    """Kill after K buckets → restart → identical final triple set, no
    duplicate checkpoints (SURVEY.md §5.2 resume tests).

    Parameterized over a scheme-qualified URI: the checkpoint store goes
    through the Hadoop FileSystem API (fsio), so an explicit ``file://``
    output_dir exercises the same code path an ``hdfs://``/``s3a://``
    cluster run takes — driver-local ``os.*`` would reject or mis-resolve
    the scheme-carrying string."""
    out1 = scheme + str(tmp_path / "full")
    full = run_pipeline_checkpointed(corpus, lex, out1, n_buckets=4)
    want = triple_set(full["edges"])

    out2 = scheme + str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="induced failure"):
        run_pipeline_checkpointed(corpus, lex, out2, n_buckets=4, fail_after_bucket=1)
    from adding_datasets_to_kg_spark.plans.pipeline import completed_buckets

    done_before = completed_buckets(corpus.sparkSession, out2)
    assert 0 < len(done_before) < 4
    resumed = run_pipeline_checkpointed(corpus, lex, out2, n_buckets=4)
    assert triple_set(resumed["edges"]) == want
    assert len(completed_buckets(corpus.sparkSession, out2)) == 4


def test_connected_components_order_invariance(spark):
    """CC canonicalization is invariant to edge-list ordering (§5.2)."""
    from adding_datasets_to_kg_spark.operators.canonicalize import connected_components

    edges = [("b", "a"), ("c", "b"), ("x", "y"), ("q", "q"), ("m", "n"), ("n", "o"), ("o", "p")]
    df1 = spark.createDataFrame(edges, "id_a string, id_b string")
    df2 = spark.createDataFrame(list(reversed(edges)), "id_a string, id_b string")
    r1 = {(r["id"], r["canonical_id"]) for r in connected_components(df1).collect()}
    r2 = {(r["id"], r["canonical_id"]) for r in connected_components(df2).collect()}
    assert r1 == r2
    as_map = dict(r1)
    assert as_map["c"] == "a" and as_map["p"] == "m" and as_map["q"] == "q"
    assert as_map["x"] == "x" and as_map["y"] == "x"


def test_connected_components_strategies_agree(spark):
    """Driver union-find (small path) and the distributed iterative-join
    fixpoint (driver_threshold=0) produce identical labelings."""
    from adding_datasets_to_kg_spark.operators.canonicalize import connected_components

    edges = [("b", "a"), ("c", "b"), ("x", "y"), ("q", "q"), ("m", "n"),
             ("n", "o"), ("o", "p"), ("p", "pp"), ("a", "a0")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    fast = {(r["id"], r["canonical_id"]) for r in connected_components(df).collect()}
    dist = {
        (r["id"], r["canonical_id"])
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert fast == dist
    as_map = dict(fast)
    assert as_map["c"] == "a" and as_map["a0"] == "a" and as_map["pp"] == "m"


def test_load_lexicons_from_parquet_dir(spark, tmp_path, corpus, lex):
    """Production lexicon path: parquet dir → load_lexicons → same triples
    as the in-memory fixture lexicons."""
    from adding_datasets_to_kg_spark.plans.pipeline import load_lexicons, run_pipeline

    d = str(tmp_path / "lexicons")
    lex.gene.write.parquet(f"{d}/gene_lexicon.parquet")
    lex.disease.write.parquet(f"{d}/disease_lexicon.parquet")
    lex.variant.write.parquet(f"{d}/variant_lexicon.parquet")
    lex.id_equivalences.write.parquet(f"{d}/id_equivalences.parquet")
    lex.predicate_map.write.parquet(f"{d}/predicate_map.parquet")

    loaded = load_lexicons(spark, d)
    got = run_pipeline(corpus, loaded, compute_metadata=False)
    want = run_pipeline(corpus, lex, compute_metadata=False)
    key = lambda df: {  # noqa: E731
        (r["subject"], r["predicate"], r["object"])
        for r in df.select("subject", "predicate", "object").collect()
    }
    assert key(got["edges"]) == key(want["edges"])


def test_extract_linked_mentions_matches_oracle(corpus, corpus_rows, lex):
    """extract_linked_mentions returns exactly the distinct
    (conv_id, turn_idx, entity_id, entity_type) set of the pure-Python
    mention oracle's best-candidate links — the lean set every emit family
    reads, with no surface form or token position left in it."""
    from adding_datasets_to_kg_spark.plans.pipeline import extract_linked_mentions

    from .oracle import build_dictionary, detect

    table = build_dictionary()
    want = {
        (conv_id, turn_idx, eid, etype)
        for conv_id, turn_idx, _role, text, _tool, _ts in corpus_rows
        for _surface, eid, etype, _pos in detect(text or "", table)
    }
    linked = extract_linked_mentions(corpus, lex)
    assert linked.columns == ["conv_id", "turn_idx", "entity_id", "entity_type"]
    rows = [tuple(r) for r in linked.collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == want
    assert want  # fixture actually produced mentions


def test_graph_metadata_matches_committed_golden(result):
    """Golden-stats fidelity: the full pipeline's metadata over the fixed
    fixture corpus (n_convs=40, seed=7) must equal the committed golden JSON
    — the analog of the reference's committed KG summary counts
    (/root/reference/docs/04_MIDAS_KNOWLEDGE_GRAPH_SUMMARY.md:12-16). Any
    semantic drift in extract/link/canonicalize/merge surfaces here as a
    count diff; bless intentional changes with

        python jobs/gen_golden_metadata.py
    """
    import json
    import os

    from adding_datasets_to_kg_spark.operators.stats import graph_metadata

    golden_path = os.path.join(os.path.dirname(__file__), "golden_graph_metadata.json")
    with open(golden_path) as f:
        golden = json.load(f)
    got = graph_metadata(result["nodes"], result["edges"])
    assert got == golden, (
        "graph_metadata drifted from the committed golden; if intentional, "
        "re-bless via jobs/gen_golden_metadata.py.\n"
        f"got:    {json.dumps(got, sort_keys=True)}\n"
        f"golden: {json.dumps(golden, sort_keys=True)}"
    )


def test_canonical_key_join_order_insensitive(spark):
    """J6 property test: shuffled token order yields identical keys."""
    from adding_datasets_to_kg_spark.functions.text import canonical_set_key

    df = spark.createDataFrame(
        [(["b", "a", "c"],), (["c", "b", "a", "a"],)], "toks array<string>"
    ).select(canonical_set_key(F.col("toks")).alias("k"))
    keys = [r["k"] for r in df.collect()]
    assert keys[0] == keys[1] == "a|b|c"


def test_pipeline_persists_normalization_artifacts(tmp_path, corpus, lex, spark):
    """The reference leaves inspectable normalization/metadata files on disk
    (reference README.md:68-75, normalize.py:16-18, merge.py:23-25); both
    pipeline variants must do the same under output_dir."""
    import json
    import os

    out_dir = str(tmp_path / "oneshot")
    res = run_pipeline(corpus, lex, output_dir=out_dir, graph_id="goldenKG")
    for name in ["kg_nodes", "kg_edges", "normalization_map.json",
                 "normalization_failures.txt", "predicate_map.jsonl"]:
        assert os.path.exists(os.path.join(out_dir, name)), name
    with open(os.path.join(out_dir, "goldenKG_metadata.json")) as f:
        meta = json.load(f)
    assert meta == res["metadata"]
    # the persisted map round-trips and covers every mapped id
    nm = spark.read.json(os.path.join(out_dir, "normalization_map.json"))
    assert nm.count() == res["norm_map"].count()
    assert {"id", "canonical_id", "equivalent_identifiers"} <= set(nm.columns)

    ckpt_dir = str(tmp_path / "ckpt")
    run_pipeline_checkpointed(corpus, lex, ckpt_dir, n_buckets=2)
    for name in ["normalization_map.json", "normalization_failures.txt",
                 "predicate_map.jsonl", "graph_metadata.json"]:
        assert os.path.exists(os.path.join(ckpt_dir, name)), name


def test_star_contraction_logarithmic_rounds_on_chain(spark):
    """Alternating large/small-star must converge in O(log d) rounds: a
    64-node path graph (diameter 63) would take ~63 rounds under naive
    neighbor-min propagation; star contraction needs ≤ 12."""
    import math

    from adding_datasets_to_kg_spark.operators.canonicalize import star_contraction

    n = 64
    chain = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)],
        "id_a string, id_b string",
    )
    labels, rounds = star_contraction(chain)
    got = {r.id: r.canonical_id for r in labels.collect()}
    assert got == {f"n{i:03d}": "n000" for i in range(n)}
    assert rounds <= 2 * int(math.log2(n)) or rounds <= 12, rounds


def test_cc_half_null_edges_agree_across_paths(spark):
    """(a, NULL) edges: the non-null endpoint must survive as a singleton in
    BOTH the driver union-find and the distributed star path."""
    from adding_datasets_to_kg_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [("x", None), (None, "y"), ("a", "b"), (None, None)],
        "id_a string, id_b string",
    )
    want = {"x": "x", "y": "y", "a": "a", "b": "a"}
    driver = {r.id: r.canonical_id for r in connected_components(edges).collect()}
    dist = {r.id: r.canonical_id
            for r in connected_components(edges, driver_threshold=0).collect()}
    assert driver == want and dist == want


def test_combine_bucket_triples_keeps_null_subject_rows(spark):
    """A null-subject (or null-predicate) triple fails BOTH startswith filter
    branches unless the mention test coalesces NULL to False — such rows
    must flow through the deduped branch, matching what dedup_edges(raw)
    did before the mention/bulk split existed."""
    from adding_datasets_to_kg_spark.plans.pipeline import combine_bucket_triples

    raw = spark.createDataFrame(
        [
            ("TURN:c1#0", "biolink:mentions", "NCBIGene:7157", "s"),
            (None, "biolink:mentions", "NCBIGene:7157", "s"),
            (None, "biolink:mentions", "NCBIGene:7157", "s"),  # dup of the null row
            ("NCBIGene:7157", None, "DOID:1612", "s"),
            ("NCBIGene:7157", "biolink:gene_associated_with_condition", "DOID:1612", "s"),
        ],
        "subject string, predicate string, object string, primary_knowledge_source string",
    )
    key = lambda t: tuple(x or "" for x in t)  # noqa: E731 — None-safe sort
    got = sorted(
        ((r.subject, r.predicate, r.object)
         for r in combine_bucket_triples(raw).collect()), key=key
    )
    assert got == sorted([
        ("TURN:c1#0", "biolink:mentions", "NCBIGene:7157"),
        (None, "biolink:mentions", "NCBIGene:7157"),  # deduped, NOT dropped
        ("NCBIGene:7157", None, "DOID:1612"),
        ("NCBIGene:7157", "biolink:gene_associated_with_condition", "DOID:1612"),
    ], key=key)


def test_pipeline_output_readable_via_icetable(tmp_path, corpus, lex, spark):
    """kg_nodes/kg_edges are materialized in the Iceberg-style bucketed
    layout: read back through icetable.read_table, row counts match the
    returned DataFrames, and bucket pruning on a node id recovers the row
    from one partition directory."""
    from adding_datasets_to_kg_spark.icetable import bucket_expr, read_manifest, read_table

    out_dir = str(tmp_path / "ice")
    res = run_pipeline(corpus, lex, output_dir=out_dir, compute_metadata=False)
    nodes = read_table(spark, out_dir, "kg_nodes")
    edges = read_table(spark, out_dir, "kg_edges")
    assert nodes.count() == res["nodes"].count()
    assert edges.count() == res["edges"].count()
    assert read_manifest(spark, out_dir, "kg_nodes")["partition_spec"]["col"] == "id"

    some_id = res["nodes"].select("id").orderBy("id").first()[0]
    n_buckets = read_manifest(spark, out_dir, "kg_nodes")["partition_spec"]["n"]
    b = spark.createDataFrame([(some_id,)], "id string").select(
        bucket_expr("id", n_buckets)
    ).first()[0]
    pruned = read_table(spark, out_dir, "kg_nodes", buckets=[b])
    assert pruned.filter(F.col("id") == some_id).count() == 1


def test_one_shot_and_checkpointed_paths_agree(tmp_path, corpus, lex, result):
    """run_pipeline and run_pipeline_checkpointed share one front and one
    tail, so on the same corpus they build the same graph: identical node
    rows and identical edge rows, provenance columns included, at one
    bucket and across several."""
    cols = ["subject", "predicate", "object", "primary_knowledge_source",
            "original_subject", "original_object"]

    def edge_rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    want_nodes, want_edges = node_rows(result["nodes"]), edge_rows(result["edges"])
    assert want_edges
    for n_buckets in (1, 3):
        got = run_pipeline_checkpointed(
            corpus, lex, str(tmp_path / f"b{n_buckets}"), n_buckets=n_buckets,
            compute_metadata=False,
        )
        assert node_rows(got["nodes"]) == want_nodes, n_buckets
        assert edge_rows(got["edges"]) == want_edges, n_buckets


def test_entry_points_release_their_caches(tmp_path, corpus, lex, spark):
    """With an output dir, both entry points unpersist the triple and node
    caches they created once the outputs are written, so a long-lived
    session does not accumulate them run after run."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    run_pipeline(corpus, lex, output_dir=str(tmp_path / "oneshot"), compute_metadata=False)
    assert cache_manager.isEmpty()
    run_pipeline_checkpointed(corpus, lex, str(tmp_path / "ckpt"), n_buckets=2,
                              compute_metadata=False)
    assert cache_manager.isEmpty()


def test_build_graph_returns_the_written_tables(tmp_path, corpus, lex, result):
    """With an output dir, both entry points return the kg_nodes / kg_edges
    tables they wrote (the returned frames read only the written data
    files), and the metadata over them equals the metadata of the in-memory
    graph."""
    from pathlib import Path
    from urllib.parse import urlparse

    from adding_datasets_to_kg_spark.operators.stats import graph_metadata

    want = graph_metadata(result["nodes"], result["edges"])
    runs = {
        "oneshot": run_pipeline(corpus, lex, output_dir=str(tmp_path / "oneshot")),
        "ckpt": run_pipeline_checkpointed(corpus, lex, str(tmp_path / "ckpt"), n_buckets=2),
    }
    for name, out in runs.items():
        for table, df in (("kg_nodes", out["nodes"]), ("kg_edges", out["edges"])):
            data_dir = (tmp_path / name / table / "data").resolve()
            files = [Path(urlparse(f).path).resolve() for f in df.inputFiles()]
            assert files, (name, table)
            assert all(data_dir in f.parents for f in files), (name, table, files)
        assert out["metadata"] == want, name
