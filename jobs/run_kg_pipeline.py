#!/usr/bin/env python
"""spark-submit entry point for the transcript → knowledge-graph pipeline.

Cluster launch (north-rule contract):

    python jobs/package_pyfiles.py                       # → dist/adding_datasets_to_kg_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/adding_datasets_to_kg_spark.zip \
        jobs/run_kg_pipeline.py \
        --input  <dir of transcript parquet / icetable root> \
        --output <output dir> \
        [--icetable-name transcripts]    # input is an icetable root, not flat parquet
        [--buckets 64]                   # checkpoint/resume granularity
        [--synthetic-turns N]            # no --input: generate N synthetic turns

Local smoke (same script, no cluster):

    python jobs/run_kg_pipeline.py --synthetic-turns 100000 --output /tmp/kg_out

The job is resumable: re-running with the same --output skips buckets whose
checkpoint rows are already committed (plans/pipeline.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# Local smoke support: when run as `python jobs/run_kg_pipeline.py` the
# package lives one level up; under spark-submit --py-files the zip already
# provides it and this insert is harmless.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", default=None, help="transcript parquet dir or icetable root")
    ap.add_argument("--icetable-name", default=None,
                    help="treat --input as an icetable root containing this table")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--synthetic-turns", type=int, default=None,
                    help="generate a deterministic synthetic corpus instead of --input")
    ap.add_argument("--lexicon-dir", default=None,
                    help="directory of parquet lexicon tables (gene_lexicon/"
                         "disease_lexicon/variant_lexicon[,id_equivalences,"
                         "predicate_map]); default: built-in fixture lexicons")
    ap.add_argument("--no-resume", action="store_true",
                    help="one-shot run without per-bucket checkpoints")
    ap.add_argument("--graph-id", default="goldenKG",
                    help="name stamped on the {graph_id}_metadata.json artifact")
    args = ap.parse_args()

    from adding_datasets_to_kg_spark.session import get_spark
    from adding_datasets_to_kg_spark.datagen.transcripts import (
        disease_lexicon_df,
        gene_lexicon_df,
        generate_transcripts_distributed,
        id_equivalences_df,
        predicate_map_df,
        variant_lexicon_df,
    )
    from adding_datasets_to_kg_spark.icetable import read_table
    from adding_datasets_to_kg_spark.plans.pipeline import (
        Lexicons,
        load_lexicons,
        run_pipeline,
        run_pipeline_checkpointed,
    )

    spark = get_spark("kg-pipeline")
    if args.synthetic_turns:
        transcripts = generate_transcripts_distributed(spark, args.synthetic_turns // 20, 20)
    elif args.icetable_name:
        transcripts = read_table(spark, args.input, args.icetable_name)
    elif args.input:
        transcripts = spark.read.parquet(args.input)
    else:
        ap.error("one of --input or --synthetic-turns is required")

    if args.lexicon_dir:
        lex = load_lexicons(spark, args.lexicon_dir)
    else:
        lex = Lexicons(
            gene=gene_lexicon_df(spark),
            disease=disease_lexicon_df(spark),
            variant=variant_lexicon_df(spark),
            id_equivalences=id_equivalences_df(spark),
            predicate_map=predicate_map_df(spark),
        )

    t0 = time.time()
    if args.no_resume:
        out = run_pipeline(
            transcripts, lex, output_dir=args.output,
            compute_metadata=True, graph_id=args.graph_id,
        )
    else:
        out = run_pipeline_checkpointed(
            transcripts, lex, args.output, n_buckets=args.buckets,
            graph_id=args.graph_id,
        )
    # both entry points computed the metadata over the written tables and
    # persisted it as {graph_id}_metadata.json, the job's one metadata file
    print(json.dumps({**out["metadata"], "wall_sec": round(time.time() - t0, 2)}))


if __name__ == "__main__":
    main()
