"""Incremental transcript ingest via Structured Streaming.

The reference is pure batch (SURVEY.md §2.10); its docs list "real-time
update pipelines" as future work (reference
docs/04_MIDAS_KNOWLEDGE_GRAPH_SUMMARY.md:186-188). This module supplies that
path the Spark-idiomatic way:

- ``readStream`` over the transcript table directory (new parquet files =
  new conversations/turns);
- ``foreachBatch`` runs the batch pipeline's front,
  ``plans.pipeline.linked_triples`` (extract → link → emit), on each
  micro-batch — the same function ``run_pipeline`` and every bucket of
  ``run_pipeline_checkpointed`` call — so streaming and batch share one
  implementation and one test surface;
- ``Trigger.AvailableNow`` drains everything currently available then stops —
  the incremental-catch-up pattern (run nightly, process only new files);
- the streaming checkpointLocation tracks consumed source files exactly-once
  across restarts. foreachBatch sinks are at-least-once by themselves (a
  crash between sink write and checkpoint commit replays the batch), so the
  sink writes IDEMPOTENTLY: each micro-batch lands in its own
  ``_batch_id={id}`` partition via dynamic partition overwrite — a replayed
  batch overwrites its own partition instead of appending duplicates. The
  periodic compaction's dedup (dedup_edges) remains a second line of
  defense, complementing the batch pipeline's bucket-level checkpoint table
  (plans/pipeline.py).

Scale notes: per micro-batch work is the batch front's plan (conv_id
co-partitioning, broadcast lexicons). Triples append to a parquet sink; the
dedup/canonicalize/merge stages run as a periodic batch compaction over the
appended triples — the standard lambda-ish split for monotone
extract + non-monotone merge.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..datagen.transcripts import TRANSCRIPT_SCHEMA
from ..plans.pipeline import Lexicons, linked_triples


def stream_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    lex: Lexicons,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the incremental extract→link→emit stream.

    Returns the StreamingQuery; with ``available_now`` the caller should
    ``.awaitTermination()`` to drain currently-available input and stop.
    """
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        if max_files_per_trigger
        else spark.readStream.schema(TRANSCRIPT_SCHEMA)
    )
    stream = reader.parquet(input_dir)
    triples_path = os.path.join(output_dir, "triples_stream")
    ckpt_path = os.path.join(output_dir, "_stream_checkpoint")

    from pyspark.sql import functions as F

    # hoist the lexicon broadcast across micro-batches (a per-batch
    # broadcast would leak on long-running streams)
    lex.broadcast_entries()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        edges = linked_triples(batch_df, lex).withColumn("_batch_id", F.lit(batch_id))
        # idempotent under foreachBatch replay: dynamic overwrite touches
        # only this batch's partition
        (
            edges.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(triples_path)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", ckpt_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_streamed_triples(spark: SparkSession, output_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(output_dir, "triples_stream")).drop("_batch_id")
