"""The end-to-end transcript → knowledge-graph pipeline: one stage graph,
shared by the one-shot, checkpointed and streaming entry points.

Stage map (SURVEY.md §7.1; reference driver src/midas/pipeline.py:21-47):
  1 extract      — narrow scan, conv_id repartition, vectorized lexicon
                   mention detection                       (≈ convert_to_kgx)
  2 link         — best-candidate entity linking, distinct
                   (conv, turn, entity)                    (≈ normalize, id side)
  3 emit         — triple families: mentions / gene-disease / variant-cohort /
                   variant-gene                            (≈ converter edge rules)
  4 nodes        — one node row per edge endpoint, typed by CURIE prefix
  5 canonicalize — CC over id_equivalences, node side; predicate census
                                                           (≈ NodeNorm + predicate_map)
  6 finalize     — endpoint remap + predicate rewrite + node merge / edge
                   dedup                                   (≈ merge_kgx_files)
  7 export       — Iceberg-layout kg_nodes / kg_edges, read back as the
                   returned graph
  8 stats        — metadata dict over that graph, three actions; with an
                   output dir it reads the written tables, not the triples
                                                           (≈ validate_graph)
  9 artifacts    — normalization and metadata files

Two functions hold the stages, and every entry point composes them:
  front  ``linked_triples``  stages 1-3
  tail   ``build_graph``     stages 4-9

  run_pipeline               build_graph(linked_triples(turns))
  run_pipeline_checkpointed  per bucket: linked_triples → write → commit;
                             then build_graph(combine_bucket_triples(buckets))
  streaming process_batch    linked_triples → write (streaming/incremental.py)

Resumability (north_rule): work is partitioned by bucket(conv_id); each
bucket's triples are written atomically (directory per bucket), then a
checkpoint row {bucket, status, counters, lineage} is appended. On restart,
completed buckets are skipped; the tail reads all bucket outputs.
Counters double as per-partition lineage metrics.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..icetable import bucket_expr
from ..operators.canonicalize import normalization_map, normalize_predicates, remap_edge_endpoints
from ..operators.linking import (
    emit_gene_disease_triples,
    emit_mention_triples,
    emit_variant_cohort_triples,
    emit_variant_gene_triples,
    link_best_candidate,
)
from ..operators.mention import build_lexicon_entries, detect_mentions, explode_mentions
from ..operators.merge import (
    dedup_edges,
    dedup_edges_targeted,
    merge_nodes,
    merge_nodes_targeted,
)
from ..operators.stats import graph_metadata
from ..sources.kgx import NODE_COLS, conform_nodes


@dataclass
class Lexicons:
    gene: DataFrame
    disease: DataFrame
    variant: DataFrame
    id_equivalences: DataFrame | None = None
    predicate_map: DataFrame | None = None
    _entries: list = field(default=None, repr=False)
    _bc: object = field(default=None, repr=False)

    def entries(self) -> list[tuple[str, str, str]]:
        if self._entries is None:
            self._entries = build_lexicon_entries(self.gene, self.disease, self.variant)
        return self._entries

    def broadcast_entries(self):
        """One broadcast of the sorted entry set, reused across every
        mention-detection call on this Lexicons (micro-batches, buckets) —
        repeated per-call broadcasts leak on long-running streams."""
        if self._bc is None:
            sc = self.gene.sparkSession.sparkContext
            self._bc = sc.broadcast(sorted(set(self.entries())))
        return self._bc


def load_lexicons(spark: SparkSession, lexicon_dir: str) -> Lexicons:
    """Production lexicon loading: dictionary tables as parquet under one
    directory — gene_lexicon / disease_lexicon / variant_lexicon required,
    id_equivalences / predicate_map optional (pipeline skips canonicalize /
    predicate normalization when absent, mirroring the reference running
    without NodeNorm)."""

    def read(name: str, required: bool = True) -> DataFrame | None:
        # Resolve through spark.read, not os.path: the lexicon dir may live
        # on HDFS/S3 in a spark-submit cluster run (jobs/run_kg_pipeline.py),
        # where driver-local existence probes always fail.
        from pyspark.errors import AnalysisException

        path = f"{lexicon_dir.rstrip('/')}/{name}.parquet"
        try:
            # .parquet() resolves the path eagerly (schema inference), so a
            # missing table raises right here, not at first downstream use
            return spark.read.parquet(path)
        except AnalysisException as e:
            if required:
                raise FileNotFoundError(f"required lexicon table missing: {path}") from e
            return None

    return Lexicons(
        gene=read("gene_lexicon"),
        disease=read("disease_lexicon"),
        variant=read("variant_lexicon"),
        id_equivalences=read("id_equivalences", required=False),
        predicate_map=read("predicate_map", required=False),
    )


def extract_linked_mentions(transcripts: DataFrame, lex: Lexicons) -> DataFrame:
    """Stages 1-2: narrow projection → mention UDF → explode → partition by
    conv_id → link → distinct. Returns the lean linked set
    (conv_id, turn_idx, entity_id, entity_type), one row per entity per turn
    — everything the four emit families read.

    The ONE explicit repartition on conv_id here is the north-star
    "explicit partitioning on conv_id buckets": every downstream
    per-conversation operator (link aggregate on (conv,turn,pos), the
    distinct on (conv,turn,entity), the same-turn gene×disease join on
    (conv,turn)) clusters on keys that CONTAIN conv_id, so Catalyst
    recognizes the child partitioning as satisfying and plans them all
    WITHOUT further exchanges — the mention stream is shuffled exactly
    once. The repartition sits AFTER the UDF+explode, not before: when an
    aggregate's grouping keys reference python-UDF-derived columns, UDF
    extraction re-plans the exchange and the subset-key satisfies check is
    defeated (verified empirically: repartition-before-UDF plans 3
    exchanges, repartition-after plans 1). With an Iceberg bucket(conv_id)
    layout + storage-partitioned reads this shuffle disappears too.

    The term string is replaced by a 4-byte ``term_len`` BEFORE the conv_id
    exchange: no consumer reads the surface form, so the corpus-proportional
    mention shuffle and the link aggregate's min_by buffers never carry it.
    Winner selection only ever used length(term) as its tiebreak."""
    narrow = transcripts.select("conv_id", "turn_idx", "text")
    with_mentions = detect_mentions(narrow, lex.broadcast_entries())
    mentions = explode_mentions(with_mentions, ["conv_id", "turn_idx"]).select(
        "conv_id",
        "turn_idx",
        "token_pos",
        "entity_id",
        "entity_type",
        F.length("term").alias("term_len"),
    )
    return (
        link_best_candidate(mentions.repartition("conv_id"))
        .select("conv_id", "turn_idx", "entity_id", "entity_type")
        .dropDuplicates()
    )


def emit_triples(linked: DataFrame, lex: Lexicons) -> DataFrame:
    """Stage 3: union of the four triple families, deduped in ONE shuffle —
    and only over the families that can actually contain duplicates.

    The mention family is unique by construction (``linked`` is distinct on
    (conv_id, turn_idx, entity_id) and the triple key embeds exactly those),
    and its predicate is disjoint from every other family's, so it skips the
    dedup entirely. That matters at scale: mention triples are the
    corpus-proportional bulk (~80% of rows) with ALL-UNIQUE keys — a dedup
    shuffle over them moves every row and reduces nothing. The remaining
    families are corpus-many rows collapsing onto dictionary-few (subject,
    predicate, object) keys, so their dedup's partial aggregation shrinks
    the shuffle to approximately the distinct-triple count."""
    dedupable = (
        emit_gene_disease_triples(linked, lex.disease)
        .unionByName(emit_variant_cohort_triples(linked))
        .unionByName(emit_variant_gene_triples(linked, lex.variant), allowMissingColumns=True)
    ).dropDuplicates(["subject", "predicate", "object"])
    return emit_mention_triples(linked).unionByName(
        dedupable, allowMissingColumns=True
    )


def linked_triples(turns: DataFrame, lex: Lexicons) -> DataFrame:
    """Stages 1-3, the front every entry point shares: linked mentions,
    materialized once, then the four triple families.

    The linked set is the only input of all four emit families, so it is
    materialized before any of them reads it (a localCheckpoint, which also
    cuts the UDF lineage out of every downstream plan). Eager, because AQE
    runs the emit union's branches as concurrent query-stage jobs, and
    concurrent first readers of a persisted-but-unmaterialized plan race:
    each branch recomputed the full scan in parallel (observed as N
    identical stages splitting the cores N ways)."""
    linked = extract_linked_mentions(turns, lex).localCheckpoint(eager=True)
    return emit_triples(linked, lex)


def build_nodes_for_edges(edges: DataFrame, lex: Lexicons) -> DataFrame:
    """Node records for every edge endpoint, typed by CURIE prefix.

    Endpoint ids come from ONE pass over the edge table
    (explode([subject, object])) rather than a two-select union — edges is
    the pipeline's largest cached table and every scan of it is paid twice
    under the union shape."""
    ids = (
        edges.select(F.explode(F.array("subject", "object")).alias("id"))
        .distinct()
    )
    category = (
        F.when(F.col("id").startswith("NCBIGene:"), F.array(F.lit("biolink:Gene")))
        .when(F.col("id").startswith("DOID:"), F.array(F.lit("biolink:Disease")))
        .when(
            F.col("id").startswith("CAID:") | F.col("id").startswith("HGVS:"),
            F.array(F.lit("biolink:SequenceVariant")),
        )
        .when(F.col("id").startswith("TURN:"), F.array(F.lit("biolink:InformationContentEntity")))
        .when(F.col("id").startswith("COHORT:"), F.array(F.lit("biolink:Cohort")))
        .otherwise(F.array(F.lit("biolink:NamedThing")))
    )
    gene_names = F.broadcast(
        lex.gene.select(F.col("gene_id").alias("id"), F.col("symbol").alias("_name"))
    )
    disease_names = F.broadcast(
        lex.disease.select(F.col("disease_id").alias("id"), F.col("name").alias("_dname")).dropDuplicates(["id"])
    )
    return conform_nodes(
        ids.join(gene_names, "id", "left")
        .join(disease_names, "id", "left")
        .select(
            "id",
            F.coalesce("_name", "_dname").alias("name"),
            category.alias("category"),
        )
    )


def _predicate_census(
    edges: DataFrame, predicate_map: DataFrame | None
) -> tuple[list[str], set[str]]:
    """(ambiguous normalization targets, raw predicate-map keys).

    Ambiguous targets = post-normalization predicate values with ≥ 2
    pre-images over the OBSERVED predicate universe (an unmapped predicate
    is its own pre-image) — the only predicates along which normalization
    can create duplicate triples. The predicate column is
    dictionary-cardinality, so the distinct is a map-side-collapsed
    aggregate over the edge table; the rest is driver
    arithmetic on two tiny sets. Returns the map's raw key set too so
    ``_finalize_graph`` doesn't re-collect it.

    Thread-safe (read-only jobs, no session-conf flips, nothing pinned) —
    the pipelines run it on a background thread overlapped with the node
    build + canonicalization jobs, closing one of the measured driver-only
    timeline gaps (BENCH.md §1e)."""
    from collections import Counter

    observed = [r[0] for r in edges.select("predicate").distinct().collect()]
    pm: dict[str, str] = {}
    if predicate_map is not None:
        pm = {
            r["raw_predicate"]: r["biolink_predicate"]
            for r in predicate_map.collect()
        }
    counts = Counter(pm.get(p, p) for p in observed)
    return [t for t, c in counts.items() if c >= 2], set(pm)


def canonicalize_graph(
    nodes: DataFrame, lex: Lexicons
) -> tuple[DataFrame, DataFrame, DataFrame, int | None]:
    """Stage 5, node side: returns (nodes, norm_map, failures, n_norm).

    Edges are not touched here: ``_finalize_graph`` folds the endpoint remap,
    predicate rewrite and dedup into one split pass over the pre-remap
    edges, instead of layering the dedup's branches on top of an
    already-joined edge plan.

    ``n_norm`` is the measured norm-map row count — returned explicitly so
    callers (``_finalize_graph``) reuse it instead of re-running the count
    job; one fewer driver-only gap in the 46-job timeline (BENCH.md §1e).
    """
    if lex.id_equivalences is None:
        return nodes, None, None, None
    norm_map, failures = normalization_map(nodes, lex.id_equivalences)
    # Materialize once: the node join below and the edge remap in
    # _finalize_graph would each re-run the CC-derived plan otherwise. The
    # count is ~free on the checkpointed blocks and size-guards every
    # downstream broadcast hint (hints.guarded_broadcast) — the norm map
    # tracks the observed entity universe, which is NOT bounded at 100 TB.
    norm_map = norm_map.localCheckpoint(eager=True)
    n_norm = norm_map.count()
    from ..hints import guarded_broadcast

    nm = guarded_broadcast(
        norm_map.select("id", "canonical_id", "equivalent_identifiers"), n_norm
    )
    nodes = (
        nodes.join(nm, "id", "left")
        .select(
            F.coalesce("canonical_id", "id").alias("id"),
            "name",
            "category",
            # Untouched rows keep their properties verbatim (NULL stays
            # NULL — an empty-map backfill here would diverge from what the
            # node merge renders for propertyless rows); only normalized
            # rows graft the equivalent_identifiers entry.
            F.when(
                F.col("equivalent_identifiers").isNotNull(),
                F.map_concat(
                    F.coalesce("properties", F.create_map()),
                    F.create_map(
                        F.lit("equivalent_identifiers"),
                        F.array_join("equivalent_identifiers", ";"),
                    ),
                ),
            ).otherwise(F.col("properties")).alias("properties"),
        )
    )
    return nodes, norm_map, failures, n_norm


def _finalize_graph(
    nodes: DataFrame,
    edges: DataFrame,
    norm_map: DataFrame,
    predicate_map: DataFrame | None,
    ambiguous_targets: list[str],
    max_inset_ids: int = 1_000,
    norm_map_rows: int | None = None,
    pred_keys: set[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Stage 5 over pre-remap edges: endpoint remap + predicate rewrite +
    dedup, splitting the triple stream ONCE with a pure-expression membership
    test so the corpus-proportional bulk pays zero join probes and zero
    dedup shuffle.

    Why pre-remap: the previous shape (remap joins, then
    ``dedup_edges_targeted``'s flag joins + filter split) re-evaluated the
    5-broadcast-join chain on BOTH union branches — measured 2.4× slower than
    even a full-stream dedup at 8M turns. Here the split condition is an
    ``isin`` over driver-collected sets (Catalyst compiles >10 literals to a
    hash-set ``InSet``), evaluated directly against the pre-remap edge input:

      touched ⇔ subject ∈ nm_ids ∨ object ∈ nm_ids ∨ predicate ∈ pred_touch

    where nm_ids = the norm map's raw-id key set and pred_touch = remapped ∪
    ambiguous-target predicates. Soundness (why the bulk can neither change
    nor collide):
      - ``normalization_map`` emits canonical SELF-rows (CC maps roots to
        themselves, inner-joined against observed node ids), so any observed
        id a remap could land ON is itself in nm_ids — an untouched edge can
        never be the silent twin of a remapped one.
      - emit/cross-bucket dedup guarantees pre-remap uniqueness on
        (subject, predicate, object), so equal-key pairs must involve a
        changed component, and every change implies touched-membership on
        both sides of the pair (see ``dedup_edges_targeted`` for the
        predicate argument; pred_touch here additionally includes the raw
        remapped predicates because the split runs pre-rewrite).
    The touched subset is dictionary-bounded (edges adjacent to equivalence
    cliques), so its remap joins + full dedup shuffle move few rows.

    Scale guard: inlining the norm map into the plan is only sane while it is
    dictionary-sized. Past ``max_inset_ids`` raw ids, fall back to the
    broadcast-join targeted operators — same results, no driver collect of
    the id universe, plan size stays bounded. The 1,000-id default is the
    MEASURED crossover (jobs/bench_inset_crossover.py, 4M persisted edges,
    local[32]: InSet 1.4/1.5/1.8/2.4s at 100/250/500/1k ids vs a flat ~3.1s
    for the join path; at 2k ids InSet loses at 4.0s and degrades linearly —
    77s at 50k — because the py4j literal construction and per-task plan
    deserialization scale with the id count while hash-set probing does not).

    Node side, same trick: ``build_nodes_for_edges`` emits unique ids, so
    only canonical targets can collide after the node remap; an ``InSet``
    split replaces ``merge_nodes_targeted``'s semi/anti joins.
    """
    canon_ids_df = norm_map.select(F.col("canonical_id").alias("id"))
    # reuse the caller-measured count (returned by canonicalize_graph) —
    # the fallback count only runs for direct/test callers
    n_norm = norm_map.count() if norm_map_rows is None else norm_map_rows
    if n_norm > max_inset_ids:
        edges = remap_edge_endpoints(edges, norm_map, norm_map_rows=n_norm)
        if predicate_map is not None:
            edges = normalize_predicates(edges, predicate_map)
        # canonical-id projection is ≤ n_norm rows — the same measured count
        # guards the membership broadcasts inside both targeted operators
        return (
            merge_nodes_targeted(nodes, canon_ids_df, maybe_dup_rows=n_norm),
            dedup_edges_targeted(edges, canon_ids_df, ambiguous_targets,
                                 endpoint_rows=n_norm),
        )

    rows = norm_map.select("id", "canonical_id").collect()
    nm_ids = [r["id"] for r in rows]
    canon_ids = sorted({r["canonical_id"] for r in rows})
    if pred_keys is None:
        pred_keys = set()
        if predicate_map is not None:
            pred_keys = {
                r[0] for r in predicate_map.select("raw_predicate").distinct().collect()
            }
    pred_touch = sorted(pred_keys | set(ambiguous_targets))

    touch = F.lit(False)
    if nm_ids:
        touch = F.col("subject").isin(nm_ids) | F.col("object").isin(nm_ids)
    if pred_touch:
        touch = touch | F.col("predicate").isin(pred_touch)
    # Null endpoints/predicates make isin NULL; route those rows through the
    # join path (left joins pass them through unchanged) rather than letting
    # NULL drop them from both filter branches.
    touch = F.coalesce(touch, F.lit(True))

    touched = remap_edge_endpoints(edges.filter(touch), norm_map, norm_map_rows=n_norm)
    if predicate_map is not None:
        touched = normalize_predicates(touched, predicate_map)
    touched = dedup_edges(touched)
    bulk = (
        edges.filter(~touch)
        .withColumn("original_subject", F.col("subject"))
        .withColumn("original_object", F.col("object"))
    )
    edges_out = touched.unionByName(bulk.select(*touched.columns))

    if canon_ids:
        ntouch = F.coalesce(F.col("id").isin(canon_ids), F.lit(True))
        nodes_out = merge_nodes(nodes.filter(ntouch)).unionByName(
            nodes.filter(~ntouch).select(*NODE_COLS)
        )
    else:
        nodes_out = nodes.select(*NODE_COLS)
    return nodes_out, edges_out


def _write_graph_tables(nodes: DataFrame, edges: DataFrame, output_dir: str,
                        n_buckets: int = 16) -> tuple[DataFrame, DataFrame]:
    """Materialize the goldenKG node/edge tables in the Iceberg-style layout
    (icetable.write_table): bucketed on the join/lookup key (nodes on id,
    edges on subject), manifest + data dirs under
    ``<output_dir>/kg_{nodes,edges}``, every path through the Hadoop FS API
    so file:/hdfs:/s3a: output roots behave identically. Readers prune by
    bucket (icetable.read_table(buckets=[...])) — the Iceberg
    bucket-transform contract the north rule asks the materialized graph to
    carry.

    The two writes run CONCURRENTLY (separate directories, shared read-only
    persisted upstreams): the node table is small next to the edge table,
    so serial writes left cores idle through the node write and through the
    edge stages' tails — concurrent jobs fill both (BENCH.md §1e
    utilization).

    Returns the written (nodes, edges), read back without the bucket
    column: everything after the write reads the tables, not the plan that
    produced them."""
    from concurrent.futures import ThreadPoolExecutor

    from ..icetable import read_table, write_table

    with ThreadPoolExecutor(max_workers=2) as pool:
        fn = pool.submit(write_table, nodes, output_dir, "kg_nodes",
                         bucket_col="id", n_buckets=n_buckets)
        fe = pool.submit(write_table, edges, output_dir, "kg_edges",
                         bucket_col="subject", n_buckets=n_buckets)
        fn.result()
        fe.result()
    spark = nodes.sparkSession
    return (read_table(spark, output_dir, "kg_nodes").drop("bucket"),
            read_table(spark, output_dir, "kg_edges").drop("bucket"))


def write_graph_artifacts(out: dict, lex: Lexicons, output_dir: str,
                          graph_id: str = "graph") -> None:
    """Persist the inspectable normalization/metadata artifacts the reference
    pipeline leaves on disk (reference README.md:68-75): per-run
    ``normalization_map.json`` + ``normalization_failures.txt``
    (normalize.py:16-18), ``predicate_map.jsonl`` (normalize.py:28,35) and
    ``{graph_id}_metadata.json`` (merge.py:23-25, metadata.py:5-10).

    Spark-idiomatic shapes: the map/failures/predicate tables are
    distributed writes (JSONL/text part files under a directory carrying the
    reference's file name); the metadata dict is driver-sized and written as
    one plain JSON file.
    """
    if out.get("norm_map") is not None:
        out["norm_map"].write.mode("overwrite").json(
            f"{output_dir.rstrip(chr(47))}/normalization_map.json"
        )
    if out.get("failures") is not None:
        out["failures"].select(F.col("id").alias("value")).write.mode("overwrite").text(
            f"{output_dir.rstrip(chr(47))}/normalization_failures.txt"
        )
    if lex.predicate_map is not None:
        lex.predicate_map.write.mode("overwrite").json(
            f"{output_dir.rstrip(chr(47))}/predicate_map.jsonl"
        )
    if out.get("metadata") is not None:
        from .. import fsio

        spark = (out.get("nodes") or lex.gene).sparkSession
        fsio.write_text_atomic(
            spark,
            f"{output_dir.rstrip('/')}/{graph_id}_metadata.json",
            json.dumps(out["metadata"], indent=2, default=str),
        )


def build_graph(
    edges: DataFrame,
    lex: Lexicons,
    output_dir: str | None = None,
    compute_metadata: bool = True,
    graph_id: str = "graph",
) -> dict:
    """Stages 4-9, the tail every batch entry point shares: node build →
    background predicate census → canonicalize → finalize (or a plain node
    merge when there is no equivalence table) → tables under
    ``output_dir`` → metadata → artifacts. ``edges`` are the deduped
    pre-remap triples (emit / cross-bucket dedup guarantees uniqueness on
    (subject, predicate, object), which ``_finalize_graph`` relies on).

    Returns dict with nodes/edges/norm_map/failures (+ metadata) — the
    Spark analog of midas.pipeline.run_pipeline's outputs. With
    ``output_dir`` the returned nodes/edges are the written ``kg_nodes`` /
    ``kg_edges`` tables, and the metadata describes them; without it they
    are the lazy finalized frames.

    Cache ownership: the pre-canonicalize node cache made here is released
    once the outputs are written under ``output_dir`` (after the artifacts:
    the failures table reads it). With ``output_dir=None`` it stays
    persisted for the caller, whose reads of the returned lazy nodes/edges
    go through it."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel

    # Predicate census on a BACKGROUND thread, overlapped with the node
    # build + canonicalization jobs below: it is one read-only pass over the
    # edges plus a tiny predicate-map collect, and running it serially was a
    # measured driver-only gap in the 46-job timeline (BENCH.md §1e/§1f —
    # ~3% of wall at 32M turns). Safe to overlap: no session-conf flips,
    # nothing pinned/unpinned on either side while it runs (see
    # session.unpersist_new_rdds's warning — the canonicalize path only
    # checkpoints, never diff-releases).
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        census = pool.submit(_predicate_census, edges, lex.predicate_map)
        # Pre-canonicalize nodes have two full executions otherwise: once
        # pulled through normalization_map's CC materialization, once again
        # when the final nodes plan is forced. Narrow (id, name, category)
        # rows → persist is bounded and spills, never recomputes.
        nodes_pre = build_nodes_for_edges(edges, lex).persist(StorageLevel.MEMORY_AND_DISK)
        nodes_pre.count()
        nodes, norm_map, failures, n_norm = canonicalize_graph(nodes_pre, lex)
        ambiguous, pred_keys = census.result()
    finally:
        # cancel_futures: if canonicalize_graph raised before the census
        # started, don't let it begin Spark jobs while the caller unwinds
        # (a census already running cannot be stopped — it is read-only and
        # harmless, but a queued one need not start)
        pool.shutdown(wait=False, cancel_futures=True)
    # Endpoint ids are distinct by construction (build_nodes_for_edges), so
    # only canonicalization targets can collide — merge just those and
    # bypass the two-shuffle aggregate for the per-turn node bulk. Same
    # argument on the edge side: only edges whose endpoints were
    # canonicalized (or whose predicate is an ambiguous normalization
    # target) can have become duplicates. _finalize_graph performs remap +
    # rewrite + dedup in one expression-split pass.
    if norm_map is not None:
        nodes, edges = _finalize_graph(
            nodes, edges, norm_map, lex.predicate_map, ambiguous,
            norm_map_rows=n_norm,
            pred_keys=pred_keys,
        )
    else:
        # No remap and no predicate rewrite happened: the input's uniqueness
        # on (subject, predicate, object) still holds, so a further dedup
        # would shuffle the full triple stream to remove nothing.
        nodes = merge_nodes(nodes)
    if output_dir:
        nodes, edges = _write_graph_tables(nodes, edges, output_dir)
    out: dict = {"nodes": nodes, "edges": edges, "norm_map": norm_map, "failures": failures}
    if compute_metadata:
        out["metadata"] = graph_metadata(nodes, edges)
    if output_dir:
        write_graph_artifacts(out, lex, output_dir, graph_id)
        nodes_pre.unpersist()
    return out


def run_pipeline(
    transcripts: DataFrame,
    lex: Lexicons,
    output_dir: str | None = None,
    compute_metadata: bool = True,
    graph_id: str = "graph",
) -> dict:
    """One-shot (non-checkpointed) run: ``build_graph(linked_triples(...))``.

    The triples are persisted (MEMORY_AND_DISK, so a 100 TB run degrades to
    spill, never recompute) and materialized with one action before the
    tail fans out over them: node build, census, finalize and export read
    them. With ``output_dir`` the metadata reads the written tables instead;
    without it, it reads the lazy graph and so the triples too.

    Cache ownership: with ``output_dir`` the triple and node caches are
    released once the outputs are written, and the returned nodes/edges
    read the written tables. With ``output_dir=None`` they stay persisted
    for the caller, who forces the returned lazy nodes/edges through them."""
    from pyspark import StorageLevel

    edges = linked_triples(transcripts, lex).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    out = build_graph(edges, lex, output_dir, compute_metadata, graph_id)
    if output_dir:
        edges.unpersist()
    return out


# ---------------------------------------------------------------------------
# Checkpointed / resumable variant
# ---------------------------------------------------------------------------

def _checkpoint_path(output_dir: str) -> str:
    return f"{output_dir.rstrip('/')}/_checkpoints"


def completed_buckets(spark: SparkSession, output_dir: str) -> set[int]:
    """Read the per-bucket checkpoint rows through the Hadoop FileSystem API
    — ``output_dir`` may be file:/hdfs:/s3a:; driver-local ``os.*`` probes
    would silently report an empty checkpoint set on a cluster run and
    resume would redo (and re-commit) every bucket."""
    from .. import fsio

    path = _checkpoint_path(output_dir)
    done = set()
    for fn in fsio.list_names(spark, path):
        if fn.endswith(".json") and not fn.endswith(".json.tmp"):
            rec = json.loads(fsio.read_text(spark, f"{path}/{fn}"))
            if rec.get("status") == "complete":
                done.add(rec["bucket"])
    return done


def combine_bucket_triples(raw: DataFrame) -> DataFrame:
    """Cross-bucket triple combination for the checkpointed pipeline.

    Buckets partition conv_id, and mention triples embed (conv_id,
    turn_idx) in their key — they cannot repeat across buckets and skip the
    dedup shuffle (mirrors emit_triples' reasoning); the dictionary-keyed
    families CAN repeat across buckets and are deduped.

    coalesce: ``startswith()`` is NULL for a null subject, and a NULL
    predicate fails BOTH filter branches — such rows must flow through the
    deduped branch (matching the pre-split ``dedup_edges(raw)`` behavior
    and the explicit NULL routing in ``_finalize_graph``), not silently
    vanish from the output.
    """
    is_mention = F.coalesce(F.col("subject").startswith("TURN:"), F.lit(False))
    return raw.filter(is_mention).unionByName(dedup_edges(raw.filter(~is_mention)))


def run_pipeline_checkpointed(
    transcripts: DataFrame,
    lex: Lexicons,
    output_dir: str,
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
    graph_id: str = "graph",
    compute_metadata: bool = True,
) -> dict:
    """Resumable run: per bucket, ``linked_triples`` → atomic write →
    checkpoint row; then ``build_graph`` over all bucket outputs. The
    triples are already on disk, so the tail reads them from there rather
    than from a cache; the tail releases its node cache once the outputs
    are written, and returns the written ``kg_nodes`` / ``kg_edges``.

    ``fail_after_bucket`` is a test hook: raise after committing K buckets to
    exercise resume semantics (SURVEY.md §5.2 resume tests).
    """
    from .. import fsio

    spark = transcripts.sparkSession
    fsio.mkdirs(spark, _checkpoint_path(output_dir))
    done = completed_buckets(spark, output_dir)
    bucketed = transcripts.withColumn("_bucket", bucket_expr("conv_id", n_buckets))

    n_processed = 0
    for b in range(n_buckets):
        if b in done:
            continue
        t0 = time.time()
        part = bucketed.filter(F.col("_bucket") == b).drop("_bucket")
        edge_path = f"{output_dir.rstrip('/')}/triples/bucket={b}"
        linked_triples(part, lex).write.mode("overwrite").parquet(edge_path)
        n_edges = spark.read.parquet(edge_path).count()
        n_turns = part.count()
        ckpt = {
            "bucket": b,
            "status": "complete",
            "counters": {"turns": n_turns, "triples": n_edges},
            "lineage": {
                "stage": "extract+link+emit",
                "input": "transcripts",
                "output": edge_path,
            },
            "wall_sec": round(time.time() - t0, 3),
        }
        # write-then-rename through the Hadoop FS API: atomic commit that
        # works for file:/hdfs:/s3a: output dirs alike (os.replace only
        # ever worked on the driver's local disk)
        fsio.write_text_atomic(
            spark,
            f"{_checkpoint_path(output_dir)}/bucket_{b}.json",
            json.dumps(ckpt),
        )
        n_processed += 1
        if fail_after_bucket is not None and n_processed > fail_after_bucket:
            raise RuntimeError(f"induced failure after bucket {b}")

    raw = spark.read.parquet(f"{output_dir.rstrip(chr(47))}/triples")
    return build_graph(combine_bucket_triples(raw), lex, output_dir, compute_metadata, graph_id)
