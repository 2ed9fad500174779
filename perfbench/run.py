#!/usr/bin/env python3
"""Layered pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Every workload of BENCHMARK.json, untraced:

    for w in mention_bulk ckpt_buckets; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 1 --trace 0
    done

corpus_dedup and biglex_write run the same way. They are left out of
BENCHMARK.json only for time: every run pays a fresh JVM and a cold
warm-up operation, 55-75 s a run on a 4-core host, and the benchmark's run
budget holds two such workloads.

Run from the root of a checkout. One run: write the workload's seeded
inputs and compute its reference (not timed), start a fresh Spark session,
prepare the workload and run one warm-up operation (``setup_s``), then run
input-to-result operations until ``--seconds`` of operation time has passed
(at least one), checking every operation's output outside the timer.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
``wall_s`` (median operation wall), ``input_rows_per_s``, ``setup_s`` and
``peak_rss_mb`` (peak proportional set size of the JVM + pyspark workers,
sampled from /proc). With ``--trace 1`` the boundary functions of
plans.pipeline / icetable / fsio are rebound to span-recording wrappers,
Spark's event log is enabled for the run, and the line carries per-phase
measures instead (see perfbench/trace.py).

A full record (host context, per-operation walls, spans) is written to
``.perfbench-work/<workload>-seed<n>-trace<k>/record.json``.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as tr  # noqa: E402

# The driver JVM's heap, fixed from the start (-Xms = -Xmx): with a heap
# that G1 grows on its own heuristics the JVM's resident size varied by a
# quarter from run to run (1.6-2.2 GB at 2g), with a fixed heap by 3%.
DRIVER_MEMORY = "1g"
# Printed per-layer measures; the record keeps all of them. Spill was zero
# on every workload at these sizes.
REPORTED_MEASURES = [m for m in tr.MEASURES if m != "spill_mb"]


def start_session(work: str, trace: bool):
    """A local[nproc] session with every temporary and output path inside
    the checkout; the event log only for traced runs."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # pyspark workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update(tr.event_log_conf(os.path.join(work, "eventlog")))
    from adding_datasets_to_kg_spark.session import get_spark

    spark = get_spark("perfbench", cpus=os.cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and end the JVM gateway; reap_all() waits for the
    pyspark workers the JVM leaves behind."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def become_subreaper() -> None:
    """Make this process the reaper of everything it starts: a process
    whose parent exits first (a pyspark daemon after the JVM, the
    multiprocessing resource tracker) is re-parented here instead of to
    init, so reap_all() can wait for it."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_all(grace_s: float = 60.0) -> None:
    """Wait until every process this one started, directly or not, has
    ended; kill what is still running after ``grace_s``."""
    deadline = time.time() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:  # no children left
            return
        if time.time() > deadline:
            for pid in tr.ProcSampler().children():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def host_calibration(path: str, n: int) -> dict:
    """bench_scaling.py's alu (L1-resident sha256 chain) and mem
    (DRAM-streaming checksum) kernels, one task per core, one wave each.
    The process pool is created and warmed before the timer starts. Made
    once per checkout (after the first run's session has stopped) and
    read back from ``path`` by later runs."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import multiprocessing

    from bench_scaling import _calibration_work, _calibration_work_mem

    out = {"measured_at": time.time()}
    with multiprocessing.get_context("spawn").Pool(n) as pool:
        pool.map(_calibration_work_mem, range(n))
        for name, fn in (("alu", _calibration_work), ("mem", _calibration_work_mem)):
            t0 = time.time()
            pool.map(fn, range(n))
            out[f"{name}_wave_s"] = round(time.time() - t0, 3)
    # the spawn context started a resource tracker that would otherwise
    # live until this process exits
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def per_layer(recorders: list, attributions: list[dict], input_rows: int) -> dict:
    """The per-layer metrics: median over traced operations of each
    phase measure, the norm-map size that picks the finalize path, bucket
    measures, and q.<entry> walls on corpus_dedup."""
    from perfbench.workloads import DEDUP_ENTRIES

    med = statistics.median
    out = {}
    units = {"jobs": "count", "input_rows": "count"}
    for phase in tr.PHASES:
        for m in REPORTED_MEASURES:
            out[f"{phase}.{m}"] = {
                "value": med(a["phases"][phase][m] for a in attributions),
                "unit": units.get(m, "MB" if m.endswith("_mb") else "s"),
            }
    out["finalize.norm_map_rows"] = {
        "value": med(r.notes.get("norm_map_rows") or 0 for r in recorders), "unit": "count"}
    buckets = [b for a in attributions for b in a["buckets"]]
    n_ops = len(attributions)
    out["bucket.wall_s"] = {"value": med(b["wall_s"] for b in buckets) if buckets else 0.0,
                            "unit": "s"}
    # rows the bucket loop read from files over the input's rows: every
    # bucket's input rescans plus the read-back count of its own triples
    out["ckpt.input_read_ratio"] = {
        "value": sum(b["input_rows"] for b in buckets) / n_ops / input_rows
        if buckets else 0.0, "unit": "ratio"}
    out["ckpt.jobs_per_bucket"] = {
        "value": sum(b["jobs"] for b in buckets) / len(buckets) if buckets else 0.0,
        "unit": "count"}
    if attributions[0]["q"]:
        for name in DEDUP_ENTRIES:
            out[f"q.{name}.wall_s"] = {"value": med(a["q"][f"q.{name}"] for a in attributions),
                                       "unit": "s"}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "adding_datasets_to_kg_spark", "plans",
                                       "pipeline.py")):
        print("perfbench: the adding_datasets_to_kg_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS, release

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    wl = WORKLOADS[args.workload](work, args.seed)
    t_gen0 = time.time()
    wl.generate()
    wl.expected()
    t_gen1 = time.time()

    spark = start_session(work, bool(args.trace))
    try:
        wl.prepare(spark)
        # one warm-up operation, untraced and unchecked: a session's first
        # result pays JIT compilation and code generation (on a 4-core host
        # 25-40 s against 13-20 s for later ones), which setup_s then shows
        warm_dir = os.path.join(work, "out", "warmup")
        wl.run(spark, warm_dir)
        release(spark)
        shutil.rmtree(warm_dir, ignore_errors=True)
        # fresh process to the first timed operation, minus input generation
        # and the reference
        setup_s = (time.time() - T_PROCESS) - (t_gen1 - t_gen0)

        sampler = tr.ProcSampler()
        walls, peaks, steals, recorders, problems = [], [], [], [], []
        attempted = failed = 0
        measured = 0.0
        while attempted == 0 or measured < args.seconds:
            attempted += 1
            op_dir = os.path.join(work, "out", f"op{attempted}")
            rec = tr.Recorder(spark, sampler, bucketed=wl.bucketed) if args.trace else None
            steal0 = tr.steal_s()
            t0 = time.time()
            try:
                with tr.PeakMemory(sampler) as mem:
                    if rec is None:
                        result = wl.run(spark, op_dir)
                    else:
                        rec.begin_run()
                        with tr.traced(rec):
                            result = wl.run(spark, op_dir, rec)
                        rec.end_run()
                wall = time.time() - t0
                measured += wall
                op_problems = wl.check(spark, result)
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                measured += time.time() - t0
                op_problems = [traceback.format_exc(limit=3)]
            if op_problems:
                failed += 1
                problems += op_problems
                print(f"perfbench: op {attempted} failed: {op_problems}", file=sys.stderr)
            else:
                walls.append(wall)
                steals.append(tr.steal_s() - steal0)
                peaks.append((mem.peak_mb, mem.peak_jvm_mb, mem.peak_workers_mb))
                if rec is not None:
                    recorders.append(rec)
            release(spark)
            shutil.rmtree(op_dir, ignore_errors=True)
    finally:
        stop_session(spark)

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": {"nproc": os.cpu_count(), "driver_memory": DRIVER_MEMORY,
                 "calibration": host_calibration(
                     os.path.join(ROOT, ".perfbench-work", "host_calibration.json"),
                     os.cpu_count())},
        "input_rows": wl.rows, "input_bytes": wl.input_bytes,
        "generate_and_reference_s": round(t_gen1 - t_gen0, 3),
        "setup_s": setup_s, "walls_s": walls,
        # CPU time other guests took from this host during each operation,
        # to tell a slow outlier the host caused from one the program caused
        "steal_s": steals,
        "peak_rss_mb": [p[0] for p in peaks], "peak_jvm_mb": [p[1] for p in peaks],
        "peak_workers_mb": [p[2] for p in peaks],
        "problems": problems,
    }
    if args.trace:
        jobs, stages = tr.read_event_log(os.path.join(work, "eventlog"))
        attributions = [tr.attribute(r, jobs, stages) for r in recorders]
        metrics = {}
        if attributions:
            metrics = per_layer(recorders, attributions, wl.rows)
            # traced wall, to set against the untraced wall_s of the same
            # seed; self_s is the recorder's own bookkeeping time
            metrics["trace.wall_s"] = {"value": statistics.median(walls), "unit": "s"}
            metrics["trace.self_s"] = {
                "value": statistics.median(r.self_s for r in recorders), "unit": "s"}
        record["trace"] = [
            {"spans": r.spans, "segments": r.segments, "notes": r.notes, "jobs": a["jobs"],
             "phases": a["phases"], "buckets": a["buckets"]}
            for r, a in zip(recorders, attributions)]
        record["finalize_path"] = [r.notes.get("finalize_path") for r in recorders]
    else:
        metrics = {}
        if walls:
            wall = statistics.median(walls)
            metrics = {
                "wall_s": {"value": wall, "unit": "s"},
                "input_rows_per_s": {"value": wl.rows / wall, "unit": "rows/s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": statistics.median(p[0] for p in peaks), "unit": "MB"},
            }
    record["metrics"] = metrics
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for d in os.listdir(work):  # keep the record, drop inputs, outputs and logs
        if d != "record.json":
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"correct": failed == 0 and bool(walls), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    become_subreaper()
    try:
        code = main()
    finally:
        reap_all()
    sys.exit(code)
