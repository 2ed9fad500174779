"""The benchmark workloads: each makes its inputs from the seed, prepares
what a user's job prepares (lexicons, broadcast), runs one input-to-result
operation, and checks that operation's output.

Sizes are chosen for a 4-core host: every run pays a fresh JVM and a cold
warm-up operation before its timed ones, and one run of each workload must
fit the run budget of the benchmark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

# release() drops what an operation left cached or pinned (the pipeline
# leaves its reuse points persisted for the caller), so every operation
# starts from the same block-manager state
from bench import _release as release

from . import inputs, reference

DEDUP_ENTRIES = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_cluster_survivors", "dedup_ngram_jaccard",
    "dedup_embedding_cosine", "dedup_simhash64", "sim_topk_bruteforce", "sim_topk_ivf",
)


def _phase(recorder, name):
    """The recorder's span for a benchmark-side step; nothing when untraced."""
    return nullcontext() if recorder is None else recorder.phase(name)


class Workload:
    name = ""
    bucketed = False

    def __init__(self, work_dir: str, seed: int):
        self.work_dir, self.seed = work_dir, seed
        self.input_dir = os.path.join(work_dir, "input")
        self.rows = 0
        self.input_bytes = 0

    def generate(self) -> None:
        """Write the seeded inputs under input_dir (not timed)."""

    def expected(self) -> None:
        """Compute the reference for this (workload, seed) (not timed)."""

    def prepare(self, spark) -> None:
        """Per-session set-up a user's job pays before its first result."""

    def run(self, spark, op_dir: str, recorder=None):
        raise NotImplementedError

    def check(self, spark, result) -> list[str]:
        raise NotImplementedError


class _Pipeline(Workload):
    """Shared inputs and checks of the three transcript pipeline workloads.

    With ``lexicon_size`` unset the workload uses the built-in fixture
    lexicon, as the job does without --lexicon-dir; otherwise it generates
    a lexicon of (genes, diseases, variants), writes it as parquet and
    reads it through load_lexicons, as the job does with --lexicon-dir."""

    n_convs = 0
    graph_id = "goldenKG"
    lexicon_size: tuple[int, int, int] | None = None

    def generate(self):
        if self.lexicon_size is None:
            self.lex = inputs.fixture_lexicon()
        else:
            self.lex = inputs.generated_lexicon(self.seed, *self.lexicon_size)
            self.lexicon_dir = os.path.join(self.input_dir, "lexicon")
            inputs.write_lexicon(self.lex, self.lexicon_dir)
        self.turns = inputs.transcripts(self.seed, self.n_convs, self.lex)
        self.rows = len(self.turns)
        self.transcript_dir = os.path.join(self.input_dir, "transcripts")
        self.input_bytes = inputs.write_parquet(self.turns, inputs.TRANSCRIPT_SCHEMA,
                                                self.transcript_dir, n_files=4)

    def expected(self):
        self.want = reference.expected_edges(self.turns, self.lex)

    def prepare(self, spark):
        from adding_datasets_to_kg_spark.datagen import transcripts as dg
        from adding_datasets_to_kg_spark.plans.pipeline import Lexicons, load_lexicons

        if self.lexicon_size is None:
            self.lexicons = Lexicons(
                gene=dg.gene_lexicon_df(spark),
                disease=dg.disease_lexicon_df(spark),
                variant=dg.variant_lexicon_df(spark),
                id_equivalences=dg.id_equivalences_df(spark),
                predicate_map=dg.predicate_map_df(spark),
            )
        else:
            self.lexicons = load_lexicons(spark, self.lexicon_dir)
        self.lexicons.broadcast_entries()

    def read_input(self, spark):
        return spark.read.parquet(self.transcript_dir)

    def check(self, spark, result):
        edges, node_ids, dangling = reference.read_written_graph(result, self.graph_id)
        return reference.check_graph(edges, node_ids, self.want, dangling)


class MentionBulk(_Pipeline):
    """run_pipeline(compute_metadata=False) with the fixture lexicon (its
    norm map is far below the InSet cutoff), outputs forced to the noop
    sink."""

    name = "mention_bulk"
    n_convs = 1000

    def run(self, spark, op_dir, recorder=None):
        from adding_datasets_to_kg_spark.plans.pipeline import run_pipeline

        out = run_pipeline(self.read_input(spark), self.lexicons, compute_metadata=False)

        def force(df):
            with _phase(recorder, "sink"):
                df.write.format("noop").mode("overwrite").save()

        # concurrent forcing, as bench.py does: the node job fills the edge
        # job's scheduler tail
        with ThreadPoolExecutor(max_workers=2) as pool:
            for fut in [pool.submit(force, d) for d in (out["edges"], out["nodes"])]:
                fut.result()
        return out

    def check(self, spark, out):
        edges = [tuple(r) for r in out["edges"].select("subject", "predicate", "object").collect()]
        node_ids = [r[0] for r in out["nodes"].select("id").collect()]
        return reference.check_graph(edges, node_ids, self.want, dangling=None)


class CkptBuckets(_Pipeline):
    """run_pipeline_checkpointed into a fresh output dir: per-bucket extract,
    emit, triple write and checkpoint commit, then the canonicalize /
    finalize / icetable write / metadata / artifact tail. Its generated
    lexicon puts the norm map past the 1,000-id InSet cutoff (about 1,500
    ids), so _finalize_graph takes its join path here."""

    name = "ckpt_buckets"
    bucketed = True
    n_convs = 200
    n_buckets = 2
    lexicon_size = (1_500, 400, 400)

    def run(self, spark, op_dir, recorder=None):
        from adding_datasets_to_kg_spark.plans.pipeline import run_pipeline_checkpointed

        run_pipeline_checkpointed(self.read_input(spark), self.lexicons, op_dir,
                                  n_buckets=self.n_buckets, graph_id=self.graph_id)
        return op_dir


class BiglexWrite(_Pipeline):
    """The job's --no-resume path, run_pipeline(output_dir=...,
    compute_metadata=True), with a production-scale lexicon (HGNC / MONDO
    order of size): the norm map holds about 11,000 ids."""

    name = "biglex_write"
    n_convs = 1000
    lexicon_size = (20_000, 5_000, 5_000)

    def run(self, spark, op_dir, recorder=None):
        from adding_datasets_to_kg_spark.plans.pipeline import run_pipeline

        run_pipeline(self.read_input(spark), self.lexicons, output_dir=op_dir,
                     compute_metadata=True, graph_id=self.graph_id)
        return op_dir


class CorpusDedup(Workload):
    """The eight dedup / similarity registry entries over a document and
    embedding corpus in the measured shape of the sf0.1 tables at a fifth
    of their size (see inputs.py); the seed permutes the physical row
    order. Every entry's result is collected and checked against its
    DuckDB oracle."""

    name = "corpus_dedup"
    n_docs = 1000
    n_vecs = 400

    def generate(self):
        docs, vecs = inputs.documents(self.n_docs), inputs.embeddings(self.n_vecs)
        # identifies the seed-independent content in the oracle digest keys
        self.content = hashlib.sha256(repr((docs, vecs)).encode()).hexdigest()
        docs, vecs = inputs.permuted(docs, self.seed), inputs.permuted(vecs, self.seed)
        self.rows = len(docs) + len(vecs)
        self.input_bytes = (
            inputs.write_parquet(docs, inputs.DOCUMENT_SCHEMA,
                                 os.path.join(self.input_dir, "documents.parquet"), n_files=2)
            + inputs.write_parquet(vecs, inputs.EMBEDDING_SCHEMA,
                                   os.path.join(self.input_dir, "embeddings.parquet"), n_files=2))

    def expected(self):
        self.want = reference.oracle_digests(self.input_dir, list(DEDUP_ENTRIES), self.content)

    def run(self, spark, op_dir, recorder=None):
        from adding_datasets_to_kg_spark.plans.entry_queries import QUERIES

        # the registry reads each table as <input_dir>/<table>.parquet
        results = {}
        for name in DEDUP_ENTRIES:
            with _phase(recorder, f"q.{name}"):
                df = QUERIES[name](spark, self.input_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            release(spark)
        return results

    def check(self, spark, results):
        problems = []
        for name in DEDUP_ENTRIES:
            cols, rows = results[name]
            problems += reference.check_entry(name, cols, rows, self.want[name])
        return problems


WORKLOADS = {w.name: w for w in (MentionBulk, CkptBuckets, BiglexWrite, CorpusDedup)}


def refresh_oracle_digests() -> None:
    """Evaluate every corpus_dedup oracle with DuckDB and rewrite
    reference.ORACLE_DIGESTS for the current corpus and oracle SQL."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wl = CorpusDedup(os.path.join(root, ".perfbench-work", "oracle-refresh"), 0)
    shutil.rmtree(wl.work_dir, ignore_errors=True)
    try:
        wl.generate()
        t0 = time.time()
        digests = reference.duckdb_digests(wl.input_dir, list(DEDUP_ENTRIES))
        print(f"DuckDB oracles: {time.time() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(wl.work_dir)
    keys = reference.oracle_keys(list(DEDUP_ENTRIES), wl.content)
    with open(reference.ORACLE_DIGESTS, "w") as f:
        json.dump({keys[n]: d for n, d in digests.items()}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    refresh_oracle_digests()
