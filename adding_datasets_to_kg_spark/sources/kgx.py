"""KGX graph model: schemas, JSONL sink with node dedup, typed CSV export.

Reference parity:
- node/edge JSONL shape     ← /root/reference/README.md:85-88 and the
  KGXFileWriter call sites in /root/reference/src/midas/convert_data.py
- writer-side node dedup    ← KGXFileWriter skips already-written node ids
  (first-wins, input-order-dependent). We use deterministic merge instead:
  groupBy(id) with min-length/first-non-null semantics — order-independent,
  documented deviation (SURVEY.md §7.4.4).
- typed CSV export          ← orion convert_jsonl_to_neo4j_csv call site
  /root/reference/src/midas/kgx_converter.py:9-14 plus header conventions in
  /root/reference/scripts/preprocessing/convert_for_neptune_bulk.py:46-47,70-83

Scale notes: nodes/edges are plain columnar DataFrames; the "writer" is just
a sink after a hash-aggregate dedup (map-side partial agg + AQE handles the
hot-id skew). Export is a single projection — no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

NODE_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("name", StringType(), True),
        StructField("category", ArrayType(StringType()), True),
        StructField("properties", MapType(StringType(), StringType()), True),
    ]
)

EDGE_SCHEMA = StructType(
    [
        StructField("subject", StringType(), False),
        StructField("predicate", StringType(), False),
        StructField("object", StringType(), False),
        StructField("primary_knowledge_source", StringType(), True),
        StructField("properties", MapType(StringType(), StringType()), True),
    ]
)

NODE_COLS = [f.name for f in NODE_SCHEMA.fields]
EDGE_COLS = [f.name for f in EDGE_SCHEMA.fields]


def conform_nodes(df: DataFrame) -> DataFrame:
    """Project/backfill to the canonical node schema."""
    cols = {c: F.col(c) for c in df.columns}
    out = [
        cols.get("id", F.lit(None)).cast("string").alias("id"),
        cols.get("name", F.lit(None)).cast("string").alias("name"),
        cols.get("category", F.lit(None)).cast("array<string>").alias("category"),
        cols.get("properties", F.lit(None))
        .cast("map<string,string>")
        .alias("properties"),
    ]
    return df.select(*out)


def conform_edges(df: DataFrame) -> DataFrame:
    cols = {c: F.col(c) for c in df.columns}
    out = [
        cols.get("subject", F.lit(None)).cast("string").alias("subject"),
        cols.get("predicate", F.lit(None)).cast("string").alias("predicate"),
        cols.get("object", F.lit(None)).cast("string").alias("object"),
        cols.get("primary_knowledge_source", F.lit(None))
        .cast("string")
        .alias("primary_knowledge_source"),
        cols.get("properties", F.lit(None))
        .cast("map<string,string>")
        .alias("properties"),
    ]
    return df.select(*out)


def dedup_nodes(nodes: DataFrame) -> DataFrame:
    """Writer-side node dedup (KGXFileWriter semantics, order-independent).

    The reference writer keeps the FIRST record per id (input-order
    dependent); we keep a deterministic representative. Delegates to
    operators.merge.merge_nodes so the writer path and the merge path CANNOT
    diverge (they previously disagreed on empty-string names: min('name')
    let '' beat a real name; merge_nodes picks the shortest NON-EMPTY name
    and unions properties per-key deterministically).
    """
    from ..operators.merge import merge_nodes  # local import: merge imports this module

    return merge_nodes(nodes)


def write_kgx_jsonl(nodes: DataFrame, edges: DataFrame, nodes_path: str, edges_path: str) -> None:
    """KGX JSONL sink (S6): dedup nodes, then line-delimited JSON files."""
    dedup_nodes(nodes).write.mode("overwrite").json(nodes_path)
    edges.write.mode("overwrite").json(edges_path)


def read_kgx_jsonl(spark, nodes_path: str, edges_path: str) -> tuple[DataFrame, DataFrame]:
    """Explicit schemas: inference would type the dynamic ``properties`` JSON
    object as a struct of whichever keys appear, not map<string,string>."""
    return (
        conform_nodes(spark.read.schema(NODE_SCHEMA).json(nodes_path)),
        conform_edges(spark.read.schema(EDGE_SCHEMA).json(edges_path)),
    )


def infer_property_types(df: DataFrame, properties_col: str = "properties",
                         array_delimiter: str = ";") -> dict[str, str]:
    """Pass 1 of the ORION 2-pass typed-CSV conversion: discover the union
    of dynamic property keys and infer a column type for each — the
    behavior behind the typed headers the reference consumes
    (``information_content:float``, ``equivalent_identifiers:string[]`` in
    /root/reference/scripts/preprocessing/fix_golden_kg_v2_format.py:29-85
    and convert_for_neptune_bulk.py:53-65).

    Rules (deterministic, data-driven):
    - any value containing the array delimiter  → ``string[]``
    - every non-null value casts to double (≥1 non-null) → ``float``
    - otherwise → ``string``

    One aggregate over the exploded map; the result is the property
    VOCABULARY (bounded — reference KGs have ~a dozen property keys), so the
    collect is dictionary-sized regardless of row count.
    """
    kv = df.select(F.explode_outer(properties_col).alias("key", "value")).filter(
        F.col("key").isNotNull()
    )
    stats = kv.groupBy("key").agg(
        F.max(F.col("value").contains(array_delimiter).cast("int")).alias("any_array"),
        F.min(
            (F.col("value").isNull() | F.col("value").try_cast("double").isNotNull()).cast("int")
        ).alias("all_float"),
        F.max(F.col("value").isNotNull().cast("int")).alias("has_value"),
    )
    out: dict[str, str] = {}
    for r in stats.collect():
        if r.any_array == 1:
            out[r.key] = "string[]"
        elif r.all_float == 1 and r.has_value == 1:
            out[r.key] = "float"
        else:
            out[r.key] = "string"
    return out


def _typed_property_cols(property_types: dict[str, str]) -> list:
    cols = []
    for key in sorted(property_types):
        t = property_types[key]
        v = F.col("properties")[key]
        if t == "float":
            v = v.try_cast("double")
        cols.append(v.alias(f"{key}:{t}"))
    return cols


def nodes_to_typed_csv_df(nodes: DataFrame, array_delimiter: str = ";",
                          property_types: dict[str, str] | None = None) -> DataFrame:
    """Typed Neo4j/Neptune header projection for nodes (S7/S8).

    Emits ``id:ID``, ``name:string``, ``category:LABEL`` (array joined by
    ``;``) — the header shapes consumed by the reference's
    fix_golden_kg_format.py:29-38 — plus, when ``property_types`` is given
    (from :func:`infer_property_types`, pass 2 of the ORION conversion),
    one typed column per dynamic property key (``{key}:float`` /
    ``{key}:string[]`` / ``{key}:string``, sorted by key for a stable
    header). Without it, dynamic properties fall back to a single
    JSON-packed ``properties:string`` column.
    """
    base = [
        F.col("id").alias("id:ID"),
        F.col("name").alias("name:string"),
        F.array_join("category", array_delimiter).alias("category:LABEL"),
    ]
    if property_types is None:
        return nodes.select(*base, F.to_json("properties").alias("properties:string"))
    return nodes.select(*base, *_typed_property_cols(property_types))


def edges_to_typed_csv_df(edges: DataFrame,
                          property_types: dict[str, str] | None = None) -> DataFrame:
    """Typed edge projection: ``:START_ID/:TYPE/:END_ID`` headers
    (convert_for_neptune_bulk.py:70-83); per-property typed columns when
    ``property_types`` is given, JSON-packed fallback otherwise."""
    base = [
        F.col("subject").alias("subject:START_ID"),
        F.col("predicate").alias("predicate:TYPE"),
        F.col("object").alias("object:END_ID"),
        F.col("primary_knowledge_source").alias("primary_knowledge_source:string"),
    ]
    if property_types is None:
        return edges.select(*base, F.to_json("properties").alias("properties:string"))
    return edges.select(*base, *_typed_property_cols(property_types))


def export_typed_csv(nodes: DataFrame, edges: DataFrame, nodes_path: str, edges_path: str,
                     infer_properties: bool = True) -> None:
    """S7/S8 sink: typed CSV with headers, arrays joined by ';'.

    With ``infer_properties`` the full ORION 2-pass conversion runs:
    schema-inference aggregate (pass 1), then typed per-property columns in
    the projection (pass 2) — a Neptune/Neo4j bulk loader can consume the
    per-property values directly.
    """
    node_types = infer_property_types(nodes) if infer_properties else None
    edge_types = infer_property_types(edges) if infer_properties else None
    nodes_to_typed_csv_df(nodes, property_types=node_types).write.mode(
        "overwrite"
    ).option("header", True).csv(nodes_path)
    edges_to_typed_csv_df(edges, property_types=edge_types).write.mode(
        "overwrite"
    ).option("header", True).csv(edges_path)
