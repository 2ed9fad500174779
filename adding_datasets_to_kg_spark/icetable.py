"""Iceberg-style table layout on plain Parquet + JSON manifest.

The north_rule mandates Iceberg tables; no Iceberg runtime jar exists in this
sandbox (SURVEY.md §7.4.5), so this module implements the same *layout
contract* — bucketed partitioning on conv_id, schema + partition-spec
manifest, snapshot-ish commit semantics — over directories of Parquet, behind
an API narrow enough to swap in a real Iceberg catalog
(``spark.table("kg.transcripts")``) by changing only this file.

Layout for a table written with bucket(conv_id, N):
    <root>/<name>/data/bucket=<k>/*.parquet
    <root>/<name>/manifest.json    {schema, bucket_col, n_buckets, snapshot}

Partition pruning: readers filtering on a conv_id can compute its bucket and
read only that directory — the Iceberg bucket-transform behavior.

All driver-side metadata I/O (manifest write/read, bucket-dir existence
probes) goes through :mod:`fsio` — the Hadoop FileSystem API — so a
``file:``, ``hdfs:`` or ``s3a:`` root behaves identically. Driver-local
``os.*`` (the round-3 implementation) silently broke on any non-local root:
manifests landed on the driver's disk next to data on HDFS, and pruning
probes reported every bucket absent.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio
from .session import local_frame


def bucket_expr(col: str, n_buckets: int) -> F.Column:
    """Deterministic bucket id (Iceberg-style hash bucket transform)."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets)).cast("int")


def _table_path(root: str, name: str) -> str:
    return f"{root.rstrip('/')}/{name}"


def write_table(
    df: DataFrame,
    root: str,
    name: str,
    bucket_col: str = "conv_id",
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> str:
    # The manifest protocol is snapshot-replacing: write_table always
    # rewrites manifest.json with a fresh snapshot_ts + schema, so an
    # append would silently REPLACE snapshot metadata while extending data —
    # reject it rather than invite that mismatch.
    if mode != "overwrite":
        raise ValueError(
            f"icetable.write_table supports only mode='overwrite' (got {mode!r}): "
            "the single-snapshot manifest cannot represent appends"
        )
    path = _table_path(root, name)
    (
        df.withColumn("bucket", bucket_expr(bucket_col, n_buckets))
        .repartition("bucket")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{path}/data")
    )
    manifest = {
        "name": name,
        "format": "parquet",
        "schema": df.schema.jsonValue(),
        "partition_spec": {"transform": "bucket", "col": bucket_col, "n": n_buckets},
        "snapshot_ts": int(time.time() * 1000),
    }
    # write-then-rename through the Hadoop FS API: readers polling the root
    # never observe a half-written manifest, on any URI scheme
    fsio.write_text_atomic(
        df.sparkSession, f"{path}/manifest.json", json.dumps(manifest, indent=2)
    )
    return path


def read_table(
    spark: SparkSession, root: str, name: str, buckets: list[int] | None = None
) -> DataFrame:
    """Read the table; ``buckets`` prunes to specific bucket partitions
    (directory-level pruning, same effect as Iceberg partition pruning).

    Buckets with no data have NO directory (partitionBy only writes
    value-present partitions), so requested-but-absent buckets contribute
    zero rows — like Iceberg pruning — instead of a path-missing error; an
    explicitly EMPTY bucket list reads nothing (schema from the manifest).
    """
    from pyspark.sql.types import StructType

    data_path = f"{_table_path(root, name)}/data"
    if buckets is None:
        return spark.read.option("basePath", data_path).parquet(data_path)
    paths = [
        p
        for b in buckets
        if fsio.exists(spark, p := f"{data_path}/bucket={b}")
    ]
    if not paths:
        schema = StructType.fromJson(read_manifest(spark, root, name)["schema"])
        empty = local_frame(spark, [], schema)
        # partition column materializes on real reads; keep shape identical
        return empty.withColumn("bucket", F.lit(None).cast("int"))
    return spark.read.option("basePath", data_path).parquet(*paths)


def read_manifest(spark: SparkSession, root: str, name: str) -> dict:
    return json.loads(
        fsio.read_text(spark, f"{_table_path(root, name)}/manifest.json")
    )
