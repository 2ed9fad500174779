"""SparkSession factory tuned for the KG-construction workload.

Design notes (scale-first):
- AQE on, with skew-join splitting: the reference's predicate census spans
  2 → 2,453,552 edges per predicate (reference README.md:278-306), and hub
  entities (TP53-style) concentrate triples; AQE re-plans skewed shuffle
  partitions at runtime.
- shuffle.partitions scales with cores locally; on a real cluster this is
  overridden by spark-submit conf (we never hardcode cluster-size-dependent
  values in operators).
- Arrow enabled for every pandas UDF path (mention detection, multimodal);
  per-batch size bounded so executor memory stays flat at 100 TB scale.
  Tables built from driver rows cross into the JVM as one Arrow table
  (:func:`local_frame`), never as a pickled Python RDD.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


@contextmanager
def no_wholestage_codegen(spark: SparkSession):
    """Execute a plan with whole-stage codegen off — for WIDE-expression
    plans (unrolled 64-term vector math) whose generated consume method
    exceeds janino's 64 KB limit: the compile attempt fails AFTER several
    seconds, the failure is not cached (Guava cache caches successes only),
    so every invocation re-pays it before falling back to interpreted
    evaluation anyway. Measured 13 s → 2.5 s on the sf0.1 embedding-LSH
    materialization. Session-scoped conf flip — callers use it only around
    eager materializations (localCheckpoint), never across a lazy return."""
    prev = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", prev)


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently pinned in the block manager (persisted or
    localCheckpointed). Used with :func:`unpersist_new_rdds` to release an
    operator's materialized intermediates without giving up localCheckpoint's
    plan TRUNCATION: persist keeps the full analyzed subtree embedded in
    every downstream plan — for the unrolled 64-term vector trees that is
    seconds of re-analysis per consumer (measured 2-3× on the IVF/LSH
    entries) — while localCheckpoint replaces it with a leaf RDD scan."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {jrdd.id() for jrdd in jmap.values()}


def unpersist_new_rdds(spark: SparkSession, before: set[int], keep: set[int] = frozenset()) -> None:
    """Release every pinned RDD created since ``before`` was snapshotted,
    except ids in ``keep`` (typically the operator's own small checkpointed
    result). Non-blocking. Safe for localCheckpointed intermediates that are
    fully consumed: their blocks are never read again.

    WARNING — single-threaded sessions only. The snapshot/diff is over
    GLOBAL block-manager state: if another thread pins an RDD between
    ``before`` and this call, its blocks are released too, and for a
    localCheckpointed RDD the lineage is already truncated, so that is an
    unrecoverable job failure (not a recompute). Every current call site
    runs its snapshot → materialize → release sequence sequentially on the
    driver thread; keep it that way, or switch callers to tracking the exact
    ids created by each localCheckpoint (diff immediately after the
    checkpoint call) before introducing driver-side concurrency."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        rid = jrdd.id()
        if rid not in before and rid not in keep:
            jrdd.unpersist(False)


def get_spark(
    app_name: str = "adding_datasets_to_kg_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    ``cpus`` controls local parallelism only; cluster deployments pass their
    own master/conf via spark-submit and everything here acts as defaults.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = SparkSession.builder.appName(app_name)
    # Under spark-submit the master comes from the launcher and must not be
    # overridden. Detection: spark-submit runs python apps through
    # PythonRunner, which exports PYSPARK_GATEWAY_PORT/SECRET for the
    # already-running JVM gateway (that JVM carries --master). Probing
    # SparkConf() here would NOT work — before a SparkContext exists it is
    # an empty dict and contains("spark.master") is always False, which
    # would force local[N] onto cluster submissions.
    launched_by_spark_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if not launched_by_spark_submit:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    builder = (
        builder
        # --- adaptive execution: runtime re-planning + skew defense ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: cores-proportional locally ---
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.default.parallelism", str(max(cpus, 8)))
        # --- Arrow for vectorized pandas UDFs (input_hint: no per-row Python) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local_frame tables up to 1 MiB of Arrow batches become a
        # LocalRelation, larger ones an RDD of Arrow batches (both JVM-only).
        # A LocalRelation ships its rows from the driver with every scan:
        # measured on 4 cores, one groupBy over 50k / 1M id pairs took
        # 0.3 / 3.5 s as a LocalRelation against 0.13 / 0.85 s as Arrow
        # batches; at 20k pairs (0.7 MiB) the two are even. Spark's 48 MiB
        # default would keep the 1M-pair union-find output local.
        .config("spark.sql.execution.arrow.localRelationThreshold", str(1024 * 1024))
        # --- scan sizing: bounded input splits so partitions fit executor memory ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Split small inputs across all cores: maxSplitBytes =
        # min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum)),
        # so a dictionary-scale parquet file (a few MB) otherwise scans as ONE
        # task and serializes every expression over it onto one core (measured
        # 5× on the sf0.1 document entries). Scale-neutral: at 100 TB the
        # totalBytes/minPartitionNum term exceeds maxPartitionBytes and the
        # 128 MB cap above still governs split size.
        #
        # openCostInBytes = 1 KiB, not the 4 MiB default: local/columnar
        # opens are cheap, and the floor must sit BELOW tiny-file/32 so a
        # small input and a 100× one split into the SAME partition count.
        # Matching split counts keeps the Python-worker pool warm across
        # scales: a mapInPandas stage whose warm-up ran at 3 splits but whose
        # real run fans to 32 pays a serialized createPythonWorker fork storm
        # (daemon forks are one-at-a-time; measured 8.5s vs 0.9s on the media
        # feature stage — pandas import per fresh worker × 28 forks).
        .config("spark.sql.files.minPartitionNum", str(max(cpus, 8)))
        .config("spark.sql.files.openCostInBytes", "1024")
        # --- broadcast threshold: dictionary/lexicon tables are broadcast joins ---
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A DataFrame over driver-held ``rows`` (tuples in ``schema`` column
    order) that lives entirely in the JVM.

    ``spark.createDataFrame(<list>, schema)`` pickles the rows into a Python
    RDD (``Scan ExistingRDD``): every scan of the table starts a Python-worker
    task set, and the relation has no size statistics. The same rows sent as
    one ``pyarrow.Table`` become a ``LocalRelation`` instead — a
    ``LocalTableScan`` with exact statistics whose scans start no Python — so
    the package's only Python on the pipeline path stays the mention UDF.
    Tables past ``spark.sql.execution.arrow.localRelationThreshold`` (see
    :func:`get_spark`) become an RDD of Arrow batches instead, which is
    JVM-only too. Every package-side table built from driver rows goes
    through here.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = spark._parse_ddl(schema) if isinstance(schema, str) else schema
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type) for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
