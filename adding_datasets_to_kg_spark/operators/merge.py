"""Graph merge: dedup-merge of the canonicalized node/edge streams into the
"goldenKG" node/edge tables.

Reference parity (G4, J8 in SURVEY.md §2):
- node merge semantics     ← orion merge_kgx_files [ORION, public]: same-id
  node records merge (union of categories/properties, one winning name);
  edges are concatenated across sources (goldenKG edge count = Σ source
  counts per the reference README.md:278-306 census). The reference's n-way
  per-source union (merge.py:9-10,19-22) has no counterpart here: the
  pipeline builds one graph from one triple stream.

Scale notes: the node merge is ONE hash aggregate on id. Hot ids (TP53-style
hubs appear in every source) make the groupBy skewed, so we pre-aggregate on
a salted key first (two-phase: salt → partial merge → final merge). AQE skew
handling covers the join paths; the explicit salt covers the aggregation
path, which AQE does not split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.kgx import NODE_COLS

DEFAULT_SALT_BUCKETS = 16


def _merged_name() -> F.Column:
    # Deterministic name pick: shortest non-empty, ties by lexicographic min.
    # (Reference is first-wins = input-order-dependent; we need a stable
    # result under any partitioning — documented deviation, SURVEY.md §7.4.4.)
    return F.min(
        F.when(
            F.col("name").isNotNull() & (F.col("name") != ""),
            F.struct(F.length("name").alias("l"), F.col("name").alias("n")),
        )
    )["n"]


def _prop_entries_partial() -> F.Column:
    # partial aggregate: union of (key, value) property entries
    return F.array_distinct(
        F.flatten(
            F.collect_list(F.map_entries(F.coalesce("properties", F.create_map())))
        )
    )


def _entries_to_map(entries: F.Column) -> F.Column:
    """Deterministic property union: sort entries by (key, value) and keep
    the FIRST value per key — i.e. per-key lexicographic-min, stable under
    any partitioning. (F.first(properties) — the round-1 choice — was
    order-dependent whenever two sources disagreed on a key.)"""
    return F.aggregate(
        F.array_sort(entries),
        F.create_map().cast("map<string,string>"),
        lambda acc, e: F.when(
            F.array_contains(F.map_keys(acc), e["key"]), acc
        ).otherwise(F.map_concat(acc, F.create_map(e["key"], e["value"]))),
    )


def merge_nodes(nodes: DataFrame, salt_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Two-phase salted node merge on id (J8).

    Every aggregate here is order-independent (min-struct name, set-union
    category, sorted per-key-min property union), so the salt assignment —
    which only exists to spread hot ids across partial-agg buckets — cannot
    influence the result.
    """
    salted = nodes.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy("id", "_salt").agg(
        _merged_name().alias("name"),
        F.array_distinct(
            F.flatten(F.collect_list(F.coalesce("category", F.array())))
        ).alias("category"),
        _prop_entries_partial().alias("_prop_entries"),
    )
    final = partial.groupBy("id").agg(
        _merged_name().alias("name"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("category")))).alias(
            "category"
        ),
        F.array_distinct(F.flatten(F.collect_list("_prop_entries"))).alias("_all_entries"),
    )
    merged_props = F.when(
        F.size("_all_entries") > 0, _entries_to_map(F.col("_all_entries"))
    ).otherwise(F.lit(None).cast("map<string,string>"))
    return final.withColumn("properties", merged_props).select(*NODE_COLS)


def merge_nodes_targeted(
    nodes: DataFrame,
    maybe_dup_ids: DataFrame,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    maybe_dup_rows: int | None = None,
) -> DataFrame:
    """Node merge restricted to ids that CAN collide.

    Precondition: every row whose id is NOT in ``maybe_dup_ids`` is already
    unique in ``nodes``. That holds for the pipeline by construction —
    ``build_nodes_for_edges`` emits one row per distinct endpoint id, so
    after canonicalization the only ids that can appear twice are the
    canonical targets of the norm map (two raw ids collapsing onto one
    canonical id, or a raw id colliding with an untouched node that already
    carries the canonical id). ``maybe_dup_ids`` = the norm map's
    canonical_id column covers both cases.

    Second precondition (exact-parity callers): uniqueness alone is NOT
    sufficient for bitwise parity with ``merge_nodes`` — the untouched
    branch passes rows through VERBATIM, while ``merge_nodes`` normalizes
    representation (empty-string name → NULL via min-struct over non-empty,
    array_sort'd category, empty property set → NULL map). Generic callers
    whose unique rows are not already in that normal form get equivalent
    but not identical rows on the untouched side. The pipeline satisfies
    it by construction: ``build_nodes_for_edges`` emits NULL-or-real names,
    single-element (hence sorted) categories, and NULL properties, and
    ``canonicalize_graph`` preserves NULL properties for untouched rows.

    Why it exists: the full ``merge_nodes`` pays two shuffles plus
    collect_list/array aggregation over EVERY node — at 32M turns that is
    tens of millions of per-turn TURN: nodes that can never merge with
    anything. The collide-set is dictionary-sized (it comes from the
    id-equivalence lexicon), so the split is a broadcast semi/anti join (no
    shuffle on the big side) and the aggregate runs over thousands of rows
    instead of tens of millions. Measured on the e2e bench: the node
    merge+write phase dropped from ~157 s to seconds at 32M turns.

    ``maybe_dup_rows``: measured row count of ``maybe_dup_ids`` when the
    caller has one — the broadcast hint is dropped past
    ``hints.MAX_BROADCAST_HINT_ROWS`` so a corpus-grown collide-set cannot
    force an unbounded broadcast (AQE then decides; the split still avoids
    aggregating the untouched bulk).
    """
    from ..hints import guarded_broadcast

    ids = guarded_broadcast(maybe_dup_ids.select("id").distinct(), maybe_dup_rows)
    to_merge = nodes.join(ids, "id", "left_semi")
    untouched = nodes.join(ids, "id", "left_anti")
    return merge_nodes(to_merge, salt_buckets).unionByName(
        untouched.select(*NODE_COLS)
    )


def dedup_edges(edges: DataFrame) -> DataFrame:
    """Exact-key edge dedup on (subject, predicate, object, source).

    The reference keeps duplicate edges across sources (counts are additive);
    within a source the writer emits what the converter emits. The pipeline
    applies it only where a duplicate can arise: across checkpoint buckets
    and after an endpoint remap or predicate rewrite.
    """
    return edges.dropDuplicates(
        ["subject", "predicate", "object", "primary_knowledge_source"]
    )


def dedup_edges_targeted(
    edges: DataFrame,
    maybe_dup_endpoints: DataFrame,
    ambiguous_predicates: list[str] | tuple[str, ...] = (),
    endpoint_rows: int | None = None,
) -> DataFrame:
    """Post-canonicalization edge dedup restricted to edges that CAN collide.

    Precondition: ``edges`` was unique on (subject, predicate, object)
    BEFORE endpoint remap / predicate normalization (the pipeline's emit
    stage guarantees it). A remap can only create a duplicate pair if some
    component changed — and a changed endpoint is by definition a canonical
    id, a changed predicate by definition a normalization target. The
    matching component of the OTHER edge in the pair then carries the same
    (canonical / target) value, so BOTH colliding edges satisfy:
    subject ∈ canonical ids ∨ object ∈ canonical ids ∨ predicate ambiguous.
    Edges outside that set are still pairwise-distinct and bypass the
    shuffle.

    ``ambiguous_predicates`` must list the post-normalization predicate
    values with ≥ 2 pre-images over the OBSERVED predicate universe
    (an unmapped predicate is its own pre-image) — the caller computes it
    from the predicate map plus a cheap distinct over the low-cardinality
    predicate column. An injective-on-observed map yields the empty list.

    Scale: canonical-id membership is two broadcast joins (no shuffle on the
    big side); the dedup aggregate then moves only the collision-capable
    subset — the edges touching equivalence-clique entities — instead of the
    full corpus-proportional triple stream. ``endpoint_rows`` size-guards
    the two membership broadcasts the same way as ``merge_nodes_targeted``.
    """
    from ..hints import guarded_broadcast

    cap_s = guarded_broadcast(
        maybe_dup_endpoints.select(F.col("id").alias("subject"))
        .distinct()
        .withColumn("_cap_s", F.lit(True)),
        endpoint_rows,
    )
    cap_o = guarded_broadcast(
        maybe_dup_endpoints.select(F.col("id").alias("object"))
        .distinct()
        .withColumn("_cap_o", F.lit(True)),
        endpoint_rows,
    )
    flagged = edges.join(cap_s, "subject", "left").join(cap_o, "object", "left")
    cap = F.coalesce("_cap_s", F.lit(False)) | F.coalesce("_cap_o", F.lit(False))
    if ambiguous_predicates:
        cap = cap | F.col("predicate").isin(list(ambiguous_predicates))
    flagged = flagged.withColumn("_cap", cap).drop("_cap_s", "_cap_o")
    capable = dedup_edges(flagged.filter(F.col("_cap")).drop("_cap"))
    rest = flagged.filter(~F.col("_cap")).drop("_cap")
    return capable.unionByName(rest).select(*edges.columns)

