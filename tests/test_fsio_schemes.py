"""Hadoop-FS portability: the fsio/icetable write/read/checkpoint path must
behave identically on a NON-default FileSystem, proving no driver-local
``os.*`` residue anywhere on it (the round-3/4 claim was only exercised
through default ``file:`` URIs).

Two second schemes, both backed by local disk but resolved through different
Hadoop FileSystem classes:
- ``viewfs://<mounttable>/...`` — a client-side mount table (ViewFileSystem /
  ViewFs), the scheme used to federate HDFS namespaces; any os.* call or
  string-path assumption breaks immediately because the user-visible path
  does not exist on the local disk at all.
- ``file:`` with ``fs.file.impl`` overridden to RawLocalFileSystem (cache
  disabled) — same scheme, different FileSystem implementation, catching
  code that special-cases the default LocalFileSystem.
"""

import json

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from adding_datasets_to_kg_spark import fsio
from adding_datasets_to_kg_spark.icetable import read_manifest, read_table, write_table


@pytest.fixture
def viewfs_root(spark, tmp_path):
    """viewfs://kgtest/warehouse mounted onto a local tmp dir."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    target = f"file://{tmp_path}/wh"
    conf.set("fs.viewfs.mounttable.kgtest.link./warehouse", target)
    yield "viewfs://kgtest/warehouse"
    conf.unset("fs.viewfs.mounttable.kgtest.link./warehouse")


def _exercise_small_file_path(spark, root):
    """write_text_atomic (including a REWRITE — the rename-overwrite path) →
    read_text → exists → list_names → mkdirs, all through fsio."""
    ck = f"{root}/_checkpoints"
    fsio.mkdirs(spark, ck)
    assert fsio.exists(spark, ck)
    p = f"{ck}/bucket_0.json"
    fsio.write_text_atomic(spark, p, json.dumps({"bucket": 0, "status": "partial"}))
    assert json.loads(fsio.read_text(spark, p))["status"] == "partial"
    # rewrite over the existing file: exercises FileContext Rename.OVERWRITE
    # (or the documented delete+rename fallback) — and no .tmp must survive
    fsio.write_text_atomic(spark, p, json.dumps({"bucket": 0, "status": "complete"}))
    assert json.loads(fsio.read_text(spark, p))["status"] == "complete"
    assert fsio.list_names(spark, ck) == ["bucket_0.json"]
    assert not fsio.exists(spark, f"{p}.tmp")


def test_icetable_and_checkpoint_roundtrip_viewfs(spark, viewfs_root):
    """Full icetable write/read/prune + checkpoint-file roundtrip through a
    viewfs:// root — a path that does NOT exist on local disk as written."""
    df = spark.range(100).select(
        F.concat(F.lit("conv"), (F.col("id") % 10).cast("string")).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
    )
    path = write_table(df, viewfs_root, "kg_turns", bucket_col="conv_id", n_buckets=4)
    assert path.startswith("viewfs://kgtest/")

    man = read_manifest(spark, viewfs_root, "kg_turns")
    assert man["partition_spec"] == {"transform": "bucket", "col": "conv_id", "n": 4}

    back = read_table(spark, viewfs_root, "kg_turns")
    assert back.count() == 100
    assert set(back.columns) == {"conv_id", "turn_idx", "bucket"}
    # bucket pruning: each requested bucket directory resolves through the
    # mount; union of all buckets is the full table
    per_bucket = [
        read_table(spark, viewfs_root, "kg_turns", buckets=[b]).count()
        for b in range(4)
    ]
    assert sum(per_bucket) == 100

    _exercise_small_file_path(spark, f"{viewfs_root}/kg_turns")

    # completed_buckets reads the row back through the same API
    from adding_datasets_to_kg_spark.plans.pipeline import completed_buckets

    assert completed_buckets(spark, f"{viewfs_root}/kg_turns") == {0}


def test_fsio_small_files_rawlocal_override(spark, tmp_path):
    """Same small-file protocol with fs.file.impl forced to
    RawLocalFileSystem (cache disabled): a different FileSystem class must
    not change behavior."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    conf.set("fs.file.impl.disable.cache", "true")
    try:
        root = f"file://{tmp_path}/raw"
        fs, _ = fsio._fs_path(spark, root)
        assert "RawLocalFileSystem" in fs.getClass().getName()
        _exercise_small_file_path(spark, root)
    finally:
        conf.unset("fs.file.impl")
        conf.unset("fs.file.impl.disable.cache")


def test_write_text_atomic_rename_failure_raises(spark, tmp_path):
    """A failed overwrite-rename raises the rename's own error instead of
    falling back to delete-then-rename. The destination here is a non-empty
    directory, which no file rename may replace; it survives untouched."""
    dest = tmp_path / "dest"
    dest.mkdir()
    (dest / "keep").write_text("x")
    with pytest.raises(Py4JJavaError, match="must both be directories"):
        fsio.write_text_atomic(spark, f"file://{dest}", "{}")
    assert (dest / "keep").read_text() == "x"


class _FailingRename:
    """A Hadoop FileSystem whose rename reports failure."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        return False


def test_write_text_atomic_fallback_chains_rename_failure(spark, tmp_path, monkeypatch):
    """A scheme with no AbstractFileSystem binding (here file: with its
    binding removed) takes the delete-then-rename fallback. A failed
    fallback rename raises IOError chained to the error that chose the
    fallback."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    key = "fs.AbstractFileSystem.file.impl"
    binding = conf.get(key)
    p = f"file://{tmp_path}/row.json"
    conf.unset(key)
    try:
        fsio.write_text_atomic(spark, p, "old")
        fsio.write_text_atomic(spark, p, "new")  # rewrite through the fallback
        assert fsio.read_text(spark, p) == "new"

        real = fsio._fs_path

        def failing_fs_path(spark_, path_str):
            fs, path = real(spark_, path_str)
            return _FailingRename(fs), path

        monkeypatch.setattr(fsio, "_fs_path", failing_fs_path)
        with pytest.raises(OSError, match="failed") as err:
            fsio.write_text_atomic(spark, p, "lost")
    finally:
        conf.set(key, binding)
    cause = err.value.__cause__
    assert isinstance(cause, Py4JJavaError)
    assert "UnsupportedFileSystemException" in cause.java_exception.getClass().getName()
