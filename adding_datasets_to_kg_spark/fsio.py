"""Driver-side small-file I/O through the Hadoop FileSystem API.

The checkpoint/resume protocol and the reference-parity metadata artifacts
(normalization map JSON, `{graph_id}_metadata.json` — reference
/root/reference/src/midas/normalize.py:16-18, metadata.py:5-10) need a few
KILOBYTE-sized driver-written files next to the Spark-written tables. Plain
``os.*`` / ``open()`` only works when ``output_dir`` is on the driver's
local disk; in a spark-submit cluster run the output lives on HDFS/S3, where
driver-local probes silently see nothing (the same class of bug fixed for
``load_lexicons`` in round 2). Everything here goes through
``Path.getFileSystem(hadoopConf)``, so a ``file:``, ``hdfs:`` or ``s3a:``
URI behaves identically.

Corpus-scale data never passes through this module — those are
``spark.read``/``spark.write`` distributed I/O; this is for checkpoint rows
and metadata dicts only.
"""

from __future__ import annotations

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for a path string under whatever scheme it carries
    (scheme-less strings resolve against fs.defaultFS, matching what
    spark.read/write would do with the same string)."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path


def mkdirs(spark: SparkSession, path_str: str) -> None:
    fs, path = _fs_path(spark, path_str)
    fs.mkdirs(path)


def exists(spark: SparkSession, path_str: str) -> bool:
    fs, path = _fs_path(spark, path_str)
    return bool(fs.exists(path))


def list_names(spark: SparkSession, dir_str: str) -> list[str]:
    """Sorted file names (not paths) directly under ``dir_str``; [] if the
    directory does not exist."""
    fs, path = _fs_path(spark, dir_str)
    if not fs.exists(path):
        return []
    return sorted(st.getPath().getName() for st in fs.listStatus(path))


def read_text(spark: SparkSession, path_str: str) -> str:
    fs, path = _fs_path(spark, path_str)
    stream = fs.open(path)
    try:
        jvm = spark.sparkContext._jvm
        # commons-io ships on Spark's classpath; reads the FSDataInputStream
        # fully without a Python-side loop over py4j calls
        return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text_atomic(spark: SparkSession, path_str: str, content: str) -> None:
    """Write-then-rename commit: the file never exists half-written under its
    final name (the checkpoint protocol's atomicity requirement) — content
    atomicity holds on every scheme.

    Rename-over-existing uses ``FileContext.rename(…, Rename.OVERWRITE)``.
    On HDFS that is a single atomic overwrite: a concurrent reader of
    manifest.json / a checkpoint row during a rewrite sees either the old or
    the new complete file, never a missing one. Everywhere else the overwrite
    is NOT atomic: local ``file:`` (``LocalFs``) implements it as
    delete-then-rename, object stores rename by copy+delete, and schemes with
    no ``AbstractFileSystem`` binding (e.g. s3a without
    ``fs.AbstractFileSystem.s3a.impl``) take the explicit delete-then-rename
    fallback below. There a reader can observe a brief missing-file window
    during a REWRITE (first writes are unaffected) and must retry.

    A failed rename raises; only the missing-binding case falls back."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs, final_path = _fs_path(spark, path_str)
    tmp_str = f"{path_str}.tmp"
    _, tmp_path = _fs_path(spark, tmp_str)
    out = fs.create(tmp_path, True)
    try:
        out.write(bytearray(content, "utf-8"))
    finally:
        out.close()
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            final_path.toUri(), conf
        )
    except Py4JJavaError as exc:
        if not is_instance_of(
            spark.sparkContext._gateway,
            exc.java_exception,
            "org.apache.hadoop.fs.UnsupportedFileSystemException",
        ):
            raise
        if fs.exists(final_path):
            fs.delete(final_path, False)
        if not fs.rename(tmp_path, final_path):
            raise IOError(f"rename {tmp_str} -> {path_str} failed") from exc
        return
    opts = spark.sparkContext._gateway.new_array(
        jvm.org.apache.hadoop.fs.Options.Rename, 1
    )
    opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
    fc.rename(tmp_path, final_path, opts)  # throws on failure
