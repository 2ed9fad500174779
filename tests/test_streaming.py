"""Incremental (Structured Streaming) ingest parity + restart semantics.

The stream runs the batch front (linked_triples) per micro-batch, so the
distinct (subject, predicate, object) set after draining must equal the
batch pipeline's pre-canonicalization triple set over the same rows — and
a second drain after new files arrive must process ONLY the new files
(streaming checkpoint) while the union still matches batch over everything.
"""

import pytest
from pyspark.sql import functions as F

from adding_datasets_to_kg_spark.datagen import transcripts as dg
from adding_datasets_to_kg_spark.plans.pipeline import Lexicons, linked_triples
from adding_datasets_to_kg_spark.streaming.incremental import (
    read_streamed_triples,
    stream_triples,
)


@pytest.fixture(scope="module")
def lex(spark):
    return Lexicons(
        gene=dg.gene_lexicon_df(spark),
        disease=dg.disease_lexicon_df(spark),
        variant=dg.variant_lexicon_df(spark),
    )


def batch_triples(df, lex):
    return {
        (r["subject"], r["predicate"], r["object"])
        for r in linked_triples(df, lex).select("subject", "predicate", "object")
        .distinct().collect()
    }


def test_stream_matches_batch_and_resumes(spark, lex, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")

    chunk1 = spark.createDataFrame(dg.generate_corpus(10, seed=3), dg.TRANSCRIPT_SCHEMA)
    chunk1.write.mode("append").parquet(in_dir)

    q = stream_triples(spark, in_dir, out_dir, lex)
    q.awaitTermination()
    rows_after_first = read_streamed_triples(spark, out_dir).count()
    got1 = {
        (r["subject"], r["predicate"], r["object"])
        for r in read_streamed_triples(spark, out_dir)
        .select("subject", "predicate", "object").distinct().collect()
    }
    assert got1 == batch_triples(chunk1, lex)
    assert len(got1) > 0

    # new files arrive; re-run with the SAME checkpoint → only new processed
    chunk2 = spark.createDataFrame(dg.generate_corpus(8, seed=11), dg.TRANSCRIPT_SCHEMA)
    chunk2.write.mode("append").parquet(in_dir)
    q2 = stream_triples(spark, in_dir, out_dir, lex)
    q2.awaitTermination()

    got_all = {
        (r["subject"], r["predicate"], r["object"])
        for r in read_streamed_triples(spark, out_dir)
        .select("subject", "predicate", "object").distinct().collect()
    }
    want_all = batch_triples(chunk1, lex) | batch_triples(chunk2, lex)
    assert got_all == want_all
    # checkpoint really skipped chunk1: the second drain appended only
    # chunk2-sized output (reprocessing chunk1 would roughly double it)
    chunk2_rows = linked_triples(chunk2, lex).count()
    rows_after_second = read_streamed_triples(spark, out_dir).count()
    assert rows_after_second == rows_after_first + chunk2_rows


def test_stateful_progress_survives_restart(spark, tmp_path):
    """applyInPandasWithState: per-conversation accumulators must carry
    across micro-batches AND across query restarts (state store in the
    checkpoint), not reset per batch."""
    from adding_datasets_to_kg_spark.streaming.stateful import read_progress, run_progress_stream

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    rows1 = [("c1", i, "user", f"turn {i}", None, None) for i in range(3)]
    rows2 = [("c1", i, "user", f"turn {i}", None, None) for i in range(3, 8)] + [
        ("c2", 0, "user", "hello", None, None)
    ]
    spark.createDataFrame(rows1, dg.TRANSCRIPT_SCHEMA).write.mode("append").parquet(in_dir)
    run_progress_stream(spark, in_dir, out_dir).awaitTermination()
    got1 = {r.conv_id: r for r in read_progress(spark, out_dir).collect()}
    assert got1["c1"].n_turns == 3 and got1["c1"].max_turn_idx == 2

    # restart with new files and the SAME checkpoint: counts must resume
    spark.createDataFrame(rows2, dg.TRANSCRIPT_SCHEMA).write.mode("append").parquet(in_dir)
    run_progress_stream(spark, in_dir, out_dir).awaitTermination()
    got2 = {r.conv_id: r for r in read_progress(spark, out_dir).collect()}
    assert got2["c1"].n_turns == 8, "state reset instead of resuming"
    assert got2["c1"].max_turn_idx == 7
    assert got2["c1"].batch_turns == 5  # only the new files were processed
    assert got2["c2"].n_turns == 1


def test_watermark_drops_late_and_finalizes_windows(spark, tmp_path):
    """Watermarked tumbling windows: a turn arriving later than the
    watermark is dropped, and append mode emits a window exactly once —
    after the watermark passes its end — so finalized counts never grow."""
    import datetime as dt

    from adding_datasets_to_kg_spark.streaming.windowed import (
        read_finalized_windows,
        run_windowed_stream,
    )

    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")

    def t(h, m):
        return dt.datetime(2026, 1, 1, h, m, 0)

    # file 1: two turns in the 10:00 window + one at 12:10 that pushes the
    # max event time (watermark after this batch = 11:40)
    rows1 = [("c1", 0, "user", "a", None, t(10, 0)),
             ("c1", 1, "user", "b", None, t(10, 30)),
             ("c2", 0, "user", "c", None, t(12, 10))]
    # file 2: a LATE turn for the already-finalized 10:00 window (< watermark)
    # plus another 12:xx turn
    rows2 = [("c3", 0, "user", "late", None, t(10, 45)),
             ("c2", 1, "user", "d", None, t(12, 20))]

    # two sequential drains over ONE checkpoint: the watermark advances in
    # run 1 (max event 12:10 → watermark 11:40) and persists, so run 2 must
    # treat the 10:45 arrival as late
    spark.createDataFrame(rows1, dg.TRANSCRIPT_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    run_windowed_stream(spark, in_dir, out_dir,
                        window="1 hour", late_threshold="30 minutes").awaitTermination()
    spark.createDataFrame(rows2, dg.TRANSCRIPT_SCHEMA).coalesce(1).write.mode("append").parquet(in_dir)
    run_windowed_stream(spark, in_dir, out_dir,
                        window="1 hour", late_threshold="30 minutes").awaitTermination()

    finalized = read_finalized_windows(spark, out_dir).collect()
    by_start = {r.win_start: r for r in finalized}
    # only the 10:00 window is past the watermark → exactly one finalized row
    assert list(by_start) == [t(10, 0)]
    # the late 10:45 turn was dropped: count stays 2, not 3
    assert by_start[t(10, 0)].n_turns == 2
