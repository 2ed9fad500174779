"""Identifier canonicalization: connected components over an equivalence
edge list, plus predicate normalization and edge endpoint remapping.

Reference parity (G1-G3 in SURVEY.md §2.11):
- clique collapse          ← Node Normalizer resolution driven by
  /root/reference/src/midas/normalize.py:29-37 — every raw CURIE maps to a
  preferred CURIE + equivalent_identifiers; we compute the same fixpoint from
  an offline ``id_equivalences(id_a, id_b)`` table via alternating
  large-star/small-star contraction — no GraphFrames dependency.
- predicate normalization  ← normalize.py:28,35 (predicate_map.jsonl) — a
  broadcast-join against a 2-column mapping table.
- endpoint remap           ← original_subject/original_object columns in
  /root/reference/scripts/preprocessing/convert_for_neptune_bulk.py:76-77,98-99.

Scale notes: the CC loop is the one genuinely iterative operator. Each round
is two shuffles on the node key; ``localCheckpoint(eager=True)`` truncates
lineage each round so plans stay O(1) deep. Star contraction converges in
O(log d) rounds of the component diameter (property-tested on a 64-node
chain); we bound it and assert convergence. Canonical member = lexicographic min —
deterministic, order-independent (deviation from the reference's
input-order-dependent first-wins, documented in SURVEY.md §7.4.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


# MEASURED bound (jobs/bench_cc_crossover.py, BENCH.md §5a; local[32],
# CURIE-string clique edges): the WALL crossover is beyond 2M edges — driver
# union-find beats star contraction 0.8s-vs-7.2s at 10k, 13.9s-vs-41.9s at
# 1M, 24.4s-vs-65.8s at 2M — so the threshold is set by the driver-side
# costs that grow linearly and have NO distributed escape: ~64 MB driver RSS
# and a ~14 s single-threaded driver stall per 1M collected pairs. 1M keeps
# both inside what a busy production driver tolerates (≲100 MB, ≲15 s);
# past it the distributed path's rounds also parallelize across real
# executors, eroding the local wall advantage the bench overstates.
DRIVER_CC_MAX_EDGES = 1_000_000


def _driver_union_find(pairs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Union-find with path compression; canonical = lexicographic min."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a is None or b is None:
            # half-null edge: the non-null endpoint still exists as a
            # singleton (matches the distributed path, which self-loops both
            # endpoints before the null filter)
            if a is not None:
                find(a)
            elif b is not None:
                find(b)
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by lexicographic min so roots trend toward the canonical
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    # second pass: exact min per component (union order may leave a non-min root)
    comp_min: dict[str, str] = {}
    for x in parent:
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    return [(x, comp_min[find(x)]) for x in parent]


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    driver_threshold: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """Connected components: min-id canonicalization until fixpoint.

    Input: undirected equivalence edges (id_a, id_b). Output columns:
    ``id`` (member), ``canonical_id`` (lexicographic min of its component).
    Singleton ids (present only as self-pairs) map to themselves.

    Strategy is adaptive: equivalence tables are dictionary-scale in this
    domain (ontology cross-references, not transcript-scale), so below
    ``driver_threshold`` edges we collect and run union-find on the driver —
    one job instead of ~4 iterations × 3 stages of distributed fixpoint.
    Above the threshold the alternating large-star/small-star contraction
    runs (:func:`star_contraction`). Both paths produce identical output
    (verified by tests at the boundary). Set driver_threshold=0 to force
    the distributed path.
    """
    spark = edges.sparkSession
    if driver_threshold > 0 and edges.limit(driver_threshold + 1).count() <= driver_threshold:
        pairs = [
            (r[0], r[1])
            for r in edges.select(id_a, id_b).collect()
        ]
        return local_frame(spark, _driver_union_find(pairs), "id string, canonical_id string")
    labels, _ = star_contraction(edges, id_a, id_b, max_iterations)
    return labels


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star step (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): every strictly-larger neighbor of u reconnects to
    min(Γ(u) ∪ {u}). One shuffle on the node key."""
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
    return (
        sym.join(mins, "a")
        .filter(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star step: direct every edge large→small, then u and all its
    ≤-neighbors reconnect to the minimum."""
    directed = e.select(
        F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
    ).filter(F.col("a") != F.col("b")).distinct()
    mins = directed.groupBy("a").agg(F.min("b").alias("m"))
    leaves = directed.join(mins, "a").select(F.col("b").alias("a"), F.col("m").alias("b"))
    centers = mins.select(F.col("a"), F.col("m").alias("b"))
    return (
        leaves.unionByName(centers)
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def star_contraction(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star contraction — O(log d) rounds in
    the component diameter d (vs O(d) for plain neighbor-min label
    propagation; the convergence-rate property is tested on a long chain in
    tests/test_union_find_property.py). Returns (labels, n_rounds).

    Each round is two grouped aggregates + joins shuffling on the node key;
    ``localCheckpoint`` truncates lineage so plans stay O(1) deep. At
    fixpoint the edge set is a star forest (node → component minimum);
    singletons (ids appearing only with null partners or in self-pairs) are
    restored from the id universe afterwards.
    """
    # id universe: every non-null endpoint survives, even from half-null edges
    ids = (
        edges.select(F.col(id_a).alias("id"))
        .unionByName(edges.select(F.col(id_b).alias("id")))
        .filter(F.col("id").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    for _ in range(max_iterations):
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        rounds += 1
        same_count = new_e.count() == e.count()
        unchanged = same_count and new_e.join(e, ["a", "b"], "left_anti").limit(1).count() == 0
        e = new_e
        if unchanged:
            break
    else:
        raise RuntimeError(
            f"star_contraction did not converge in {max_iterations} rounds"
        )
    # star forest: every edge points node → component min
    labels = e.select(F.col("a").alias("id"), F.col("b").alias("canonical_id"))
    roots_and_singletons = ids.join(labels.select("id"), "id", "left_anti").select(
        "id", F.col("id").alias("canonical_id")
    )
    return labels.unionByName(roots_and_singletons), rounds


def normalization_map(
    ids: DataFrame, equivalences: DataFrame, id_col: str = "id"
) -> tuple[DataFrame, DataFrame]:
    """Resolve raw ids → (canonical_id, equivalent_identifiers), mirroring the
    normalization_map.json / normalization_failures.txt pair of
    /root/reference/src/midas/normalize.py:16-18.

    Returns (norm_map, failures):
      norm_map: id, canonical_id, equivalent_identifiers array<string>
      failures: id (raw ids with no entry in the equivalence table)
    """
    cc = connected_components(equivalences)
    members = cc.groupBy("canonical_id").agg(
        F.array_sort(F.collect_set("id")).alias("equivalent_identifiers")
    )
    norm = cc.join(members, "canonical_id").select(
        "id", "canonical_id", "equivalent_identifiers"
    )
    raw = ids.select(F.col(id_col).alias("id")).distinct()
    norm_map = raw.join(norm, "id", "inner")
    failures = raw.join(norm.select("id"), "id", "left_anti")
    return norm_map, failures


def normalize_predicates(edges: DataFrame, predicate_map: DataFrame) -> DataFrame:
    """G2: broadcast-join predicate rewrite; unmapped predicates pass through
    (normalize.py:28,35)."""
    pm = predicate_map.select(
        F.col("raw_predicate").alias("predicate"),
        F.col("biolink_predicate").alias("_norm_pred"),
    )
    return (
        edges.join(F.broadcast(pm), "predicate", "left")
        .withColumn("predicate", F.coalesce("_norm_pred", "predicate"))
        .drop("_norm_pred")
    )


def remap_edge_endpoints(
    edges: DataFrame, norm_map: DataFrame, norm_map_rows: int | None = None
) -> DataFrame:
    """G3: rewrite subject/object to canonical ids, keeping originals
    (convert_for_neptune_bulk.py:76-77,98-99 column contract).

    The norm map is usually dictionary-sized (its key space is the entity-id
    universe, not the transcript universe), but it reaches here through
    localCheckpointed CC output whose size Catalyst can't estimate — without
    an explicit hint both joins planned as 64/128-task sort-merge joins over
    a 30-row table. Broadcast explicitly, SIZE-GUARDED: callers that have
    counted the map (the pipeline counts its checkpointed map once) pass
    ``norm_map_rows``, and past ``hints.MAX_BROADCAST_HINT_ROWS`` the hint
    is dropped so a 100×-entity-universe map cannot force an unbounded
    broadcast build (AQE then picks from runtime stats).
    """
    from ..hints import guarded_broadcast

    nm = guarded_broadcast(norm_map.select("id", "canonical_id"), norm_map_rows)
    subj = nm.withColumnRenamed("id", "subject").withColumnRenamed(
        "canonical_id", "_subj_canon"
    )
    obj = nm.withColumnRenamed("id", "object").withColumnRenamed(
        "canonical_id", "_obj_canon"
    )
    return (
        edges.join(subj, "subject", "left")
        .join(obj, "object", "left")
        .withColumn("original_subject", F.col("subject"))
        .withColumn("original_object", F.col("object"))
        .withColumn("subject", F.coalesce("_subj_canon", "subject"))
        .withColumn("object", F.coalesce("_obj_canon", "object"))
        .drop("_subj_canon", "_obj_canon")
    )
