"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import threading

from perfbench import inputs, reference, trace


def _graph(edges):
    return edges, {s for s, _, _ in edges} | {o for _, _, o in edges}


def test_reference_matches_repo_oracle_on_fixture_corpus():
    from adding_datasets_to_kg_spark.datagen.transcripts import generate_corpus
    from tests.oracle import expected_triples

    rows = generate_corpus(n_convs=30, seed=3)
    assert reference.expected_edges(rows, inputs.fixture_lexicon()) == expected_triples(rows)


def test_correct_graph_passes_and_corrupted_graphs_fail():
    lex = inputs.fixture_lexicon()
    want = reference.expected_edges(inputs.transcripts(5, 40, lex), lex)
    edges, nodes = _graph(set(want))
    assert reference.check_graph(edges, nodes, want, dangling=0) == []

    dropped = set(want)
    dropped.pop()
    assert reference.check_graph(*_graph(dropped), want, dangling=0)

    # one endpoint left un-canonicalized: a raw clique member instead of
    # its lexicographic-min canonical id
    canon = reference.cliques(lex.equivalences)
    raw_of = {c: x for x, c in canon.items() if x != c}
    s, p, o = next(e for e in sorted(want) if e[2] in raw_of)
    bad = (set(want) - {(s, p, o)}) | {(s, p, raw_of[o])}
    assert reference.check_graph(*_graph(bad), want, dangling=0)

    assert reference.check_graph(edges, nodes - {o}, want, dangling=0)
    assert reference.check_graph(edges, nodes, want, dangling=1)


def test_entry_digest_flags_a_changed_value():
    rows = [(1, 2, 0.5), (1, 3, 0.25)]
    want = reference.digest(["id_a", "id_b", "cos"], rows)
    assert reference.check_entry("e", ["id_b", "id_a", "cos"],
                                 [(r[1], r[0], r[2]) for r in rows[::-1]], want) == []
    assert reference.check_entry("e", ["id_a", "id_b", "cos"], [(1, 2, 0.5), (1, 3, 0.2)], want)
    assert reference.check_entry("e", ["id_a", "id_b", "cos"], rows[:1], want)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    lex = inputs.fixture_lexicon()

    def write(seed, name):
        path = tmp_path / name
        inputs.write_parquet(inputs.transcripts(seed, 30, lex), inputs.TRANSCRIPT_SCHEMA,
                             str(path), n_files=2)
        inputs.write_parquet(inputs.permuted(inputs.documents(200), seed),
                             inputs.DOCUMENT_SCHEMA, str(path / "docs"))
        return {p.relative_to(path): p.read_bytes() for p in sorted(path.rglob("*.parquet"))}

    assert write(7, "a") == write(7, "b")
    assert write(7, "a") != write(8, "c")
    big = inputs.generated_lexicon(7, 200, 50, 50)
    assert big == inputs.generated_lexicon(7, 200, 50, 50)
    assert len(big.equivalences) == 2 * 200 + 50


class _FakeContext:
    def setJobDescription(self, name):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


class _FakeSampler:
    def __init__(self):
        self.cpu = 0.0

    def python_cpu_s(self):
        self.cpu += 0.5
        return self.cpu


def _run_boundaries(rec):
    """A checkpointed-shaped run: two buckets, a background census, then
    two concurrent table writes whose manifest commits nest inside them."""
    rec.begin_run()
    for _ in range(2):
        with rec.phase("extract"):
            pass
        with rec.phase("emit"):
            pass
        with rec.phase("commit"):
            pass
    census = threading.Thread(target=lambda: rec.exit(rec.enter("census")))
    census.start()
    with rec.phase("canonicalize"):
        census.join()
    a, b = rec.enter("write"), rec.enter("write")
    with rec.phase("commit"):
        pass
    rec.exit(a)
    rec.exit(b)
    with rec.phase("artifacts"):
        pass
    rec.end_run()


def test_phase_walls_partition_the_run():
    rec = trace.Recorder(_FakeSpark(), _FakeSampler(), bucketed=True)
    _run_boundaries(rec)
    run = rec.spans[0]
    walls = sum(s["end"] - s["start"] for s in rec.segments)
    assert abs(walls - (run["end"] - run["start"])) < 1e-9
    for a, b in zip(rec.segments, rec.segments[1:]):
        assert a["end"] == b["start"]
    names = [s["name"] for s in rec.segments]
    assert "census" not in names  # concurrent: its own span, not a segment
    # the nested manifest commit returns the timeline to the enclosing write
    assert names[-4:] == ["write", "commit", "write", "artifacts"]
    assert len(rec.buckets) == 2
    assert all(b["parent"] == run["id"] for b in rec.buckets)


def test_event_log_jobs_are_charged_by_description_then_by_start(tmp_path):
    rec = trace.Recorder(_FakeSpark(), _FakeSampler())
    rec.begin_run()
    with rec.phase("extract"):
        pass
    with rec.phase("emit"):
        pass
    rec.end_run()
    seg = {s["name"]: s for s in rec.segments}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": seg["extract"]["start"] * 1000,
         "Properties": {"spark.job.description": "emit"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 0],
         "Submission Time": (seg["extract"]["start"] + seg["extract"]["end"]) * 500,
         "Properties": {}, "Stage Infos": [{"Stage ID": 1, "RDD Info": [{"Name": "FileScanRDD"}]}]},
    ]
    for stage, cpu_ns in ((0, 2e9), (1, 3e9)):
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": 10, "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024},
            "Input Metrics": {"Bytes Read": 2 * 1024 * 1024, "Records Read": 7},
            "Output Metrics": {"Bytes Written": 0}}})
    log = tmp_path / "app" / "events_1_app"
    log.parent.mkdir()
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = trace.read_event_log(str(tmp_path))
    out = trace.attribute(rec, jobs, stages)["phases"]
    assert out["emit"]["jobs"] == 1 and out["emit"]["executor_cpu_s"] == 2.0
    # stage 0 already ran in job 0: job 1 is charged only its own stage
    assert out["extract"]["jobs"] == 1 and out["extract"]["executor_cpu_s"] == 3.0
    assert out["extract"]["shuffle_write_mb"] == 1.0
    # input counts file-scanning stages only (stage 1), not block reads
    assert out["extract"]["input_rows"] == 7 and out["emit"]["input_rows"] == 0


def test_traced_spark_scans_are_charged_to_their_phase(tmp_path):
    """On a real local session: a full read of a parquet table is charged
    its rows, and a filter on a hash of a column (which the scan cannot
    skip row groups for, as in the checkpointed pipeline's bucket loop)
    rescans every row, once per bucket."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    lex = inputs.fixture_lexicon()
    rows = inputs.transcripts(1, 20, lex)
    data, log = str(tmp_path / "turns"), tmp_path / "eventlog"
    log.mkdir()
    inputs.write_parquet(rows, inputs.TRANSCRIPT_SCHEMA, data, n_files=2)
    builder = SparkSession.builder.master("local[1]").appName("perfbench-selftest")
    for k, v in {**trace.event_log_conf(str(log)), "spark.ui.enabled": "false"}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        rec = trace.Recorder(spark, _FakeSampler(), bucketed=True)
        rec.begin_run()
        with rec.phase("extract"):
            assert len(spark.read.parquet(data).collect()) == len(rows)
        for b in range(2):
            with rec.phase("extract" if b else "emit"):
                df = spark.read.parquet(data)
                df.filter(F.abs(F.xxhash64("conv_id")) % 2 == b).count()
        rec.end_run()
    finally:
        spark.stop()
    jobs, stages = trace.read_event_log(str(log))
    phases = trace.attribute(rec, jobs, stages)["phases"]
    assert phases["extract"]["input_rows"] == 2 * len(rows)
    assert phases["emit"]["input_rows"] == len(rows)
