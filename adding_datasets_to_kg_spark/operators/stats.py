"""Graph validation + summary metadata.

Reference parity (G5 in SURVEY.md §2):
- metadata JSON            ← reference src/midas/metadata.py:5-10
  (validate_graph → {node_count, edge_count, per-category counts,
  per-predicate counts}); census shape rendered in reference README.md:278-306.
- dangling-edge check      ← validation pass [ORION, public]: edges whose
  subject/object has no node row → left_anti join.

Scale notes: the metadata is three actions — one grouped count per table
and the dangling count. Both grouped results are dictionary-sized (distinct
predicate × source pairs, distinct category arrays), so the driver derives
every total and count map from them.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame


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


def graph_metadata(nodes: DataFrame, edges: DataFrame) -> dict:
    """G5: the metadata dict the reference dumps to {graph_id}_metadata.json
    (metadata.py:5-10), in three Spark actions.

    Every element of a node's category array is counted once; a null or
    empty array, a null element and ``""`` count as ``__uncategorized__``.
    Null predicates and null sources keep their ``None`` keys."""
    edge_groups = edges.groupBy("predicate", "primary_knowledge_source").count().collect()
    node_groups = nodes.groupBy("category").count().collect()
    predicates, sources, categories = Counter(), Counter(), Counter()
    for r in edge_groups:
        predicates[r["predicate"]] += r["count"]
        sources[r["primary_knowledge_source"]] += r["count"]
    for r in node_groups:
        for c in r["category"] or [None]:
            categories[c or "__uncategorized__"] += r["count"]
    return {
        "node_count": sum(r["count"] for r in node_groups),
        "edge_count": sum(predicates.values()),
        "category_counts": dict(categories),
        "predicate_counts": dict(predicates),
        "source_counts": dict(sources),
        "dangling_edge_count": dangling_edges(nodes, edges).count(),
    }
