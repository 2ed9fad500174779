"""Graph validation + summary metadata + node degrees.

Reference parity (G5/G6 in SURVEY.md §2):
- metadata JSON            ← reference src/midas/metadata.py:5-10
  (validate_graph → {node_count, edge_count, per-category counts,
  per-predicate counts}); census shape rendered in reference README.md:278-306.
- dangling-edge check      ← validation pass [ORION, public]: edges whose
  subject/object has no node row → left_anti join.
- node degrees             ← agent notebook cell 3 (the registry's A7/A8
  entry carries the histogram and summary shape).

Scale notes: category counts explode the (small) category array — one
shuffle; predicate counts are a map-side-combinable groupBy; the degree agg
is the skew hot spot (hub nodes) → AQE + two-phase salted count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def category_counts(nodes: DataFrame) -> DataFrame:
    return (
        nodes.select(F.explode_outer("category").alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("node_count"))
    )


def predicate_counts(edges: DataFrame) -> DataFrame:
    return edges.groupBy("predicate").agg(F.count(F.lit(1)).alias("edge_count"))


def source_counts(edges: DataFrame) -> DataFrame:
    return edges.groupBy("primary_knowledge_source").agg(
        F.count(F.lit(1)).alias("edge_count")
    )


def dangling_edges(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """J9: edges referencing a missing node (left_anti on each endpoint)."""
    ids = nodes.select("id").distinct()
    missing_subj = edges.join(ids, edges.subject == ids.id, "left_anti")
    missing_obj = edges.join(ids, edges.object == ids.id, "left_anti")
    # dedup on the full edge identity (incl. source): an edge missing BOTH
    # endpoints appears in both branches and must count once, but two
    # distinct cross-source edges sharing (s, p, o) must each count
    return missing_subj.unionByName(missing_obj).dropDuplicates(
        ["subject", "predicate", "object", "primary_knowledge_source"]
    )


def node_degrees(edges: DataFrame, salt_buckets: int = 16) -> DataFrame:
    """Degree per node id. Two-phase salted count to defuse hub skew:
    partial count on (id, salt), then final sum on id."""
    endpoints = edges.select(
        F.explode(F.array(F.col("subject"), F.col("object"))).alias("id")
    )
    salted = endpoints.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt_buckets))
    )
    partial = salted.groupBy("id", "_salt").agg(F.count(F.lit(1)).alias("c"))
    return partial.groupBy("id").agg(F.sum("c").alias("degree"))


def graph_metadata(nodes: DataFrame, edges: DataFrame) -> dict:
    """G5: the metadata dict the reference dumps to {graph_id}_metadata.json
    (metadata.py:5-10)."""
    return {
        "node_count": nodes.count(),
        "edge_count": edges.count(),
        "category_counts": {
            (r["category"] or "__uncategorized__"): r["node_count"]
            for r in category_counts(nodes).collect()
        },
        "predicate_counts": {
            r["predicate"]: r["edge_count"] for r in predicate_counts(edges).collect()
        },
        "source_counts": {
            r["primary_knowledge_source"]: r["edge_count"]
            for r in source_counts(edges).collect()
        },
        "dangling_edge_count": dangling_edges(nodes, edges).count(),
    }
