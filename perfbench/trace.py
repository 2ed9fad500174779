"""Traced-run tooling: boundary wrappers, an in-memory span recorder,
/proc sampling of the JVM and its pyspark workers, and a parser for Spark's
event log that charges every job's task metrics to a phase.

Phases. The recorder keeps one main timeline per run. A call to a wrapped
boundary function switches the timeline to that boundary's phase; when a
nested boundary returns while an enclosing one is still running, the
timeline returns to the enclosing phase; otherwise a phase lasts until the
next boundary call. So a run's phases partition its wall, and lazy work is
charged to the phase whose action forces it. ``census`` runs on a
background thread and is recorded as its own concurrent span instead.

Every wrapper also sets the Spark job description on its calling thread,
so the event log names the phase of each job; a job without a description
is charged to the phase whose interval contains its submission time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

# (phase, module, attribute) boundaries, rebound while a traced run is
# active. graph_metadata is imported into plans.pipeline by name, so it is
# rebound there; write_table and write_text_atomic are looked up on their
# modules at call time, so they are rebound on the modules.
BOUNDARIES = (
    ("extract", "adding_datasets_to_kg_spark.plans.pipeline", "extract_linked_mentions"),
    ("emit", "adding_datasets_to_kg_spark.plans.pipeline", "emit_triples"),
    ("nodes", "adding_datasets_to_kg_spark.plans.pipeline", "build_nodes_for_edges"),
    ("census", "adding_datasets_to_kg_spark.plans.pipeline", "_predicate_census"),
    ("canonicalize", "adding_datasets_to_kg_spark.plans.pipeline", "canonicalize_graph"),
    ("finalize", "adding_datasets_to_kg_spark.plans.pipeline", "_finalize_graph"),
    ("metadata", "adding_datasets_to_kg_spark.plans.pipeline", "graph_metadata"),
    ("write", "adding_datasets_to_kg_spark.icetable", "write_table"),
    ("artifacts", "adding_datasets_to_kg_spark.plans.pipeline", "write_graph_artifacts"),
    ("commit", "adding_datasets_to_kg_spark.fsio", "write_text_atomic"),
)
CONCURRENT = {"census"}
PHASES = [b[0] for b in BOUNDARIES] + ["sink"]
MEASURES = ("wall_s", "driver_only_s", "jobs", "executor_cpu_s", "python_cpu_s",
            "gc_s", "shuffle_write_mb", "spill_mb", "input_rows", "output_mb")
MB = 1024 * 1024


def _descendants(root: int) -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields for every descendant of ``root``."""
    stats, children = {}, {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:
            continue
        # the command name (field 2) may contain spaces: split after ')'
        fields = raw[raw.rfind(")") + 2:].split()
        pid = int(path.split("/")[2])
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs since boot (/proc/stat "steal")."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"java" in f.read().split(b"\0", 1)[0]
    except OSError:
        return False


class ProcSampler:
    """CPU and resident memory of this process's JVM and pyspark workers.

    Python CPU follows ``bench_scaling.cpu_task_seconds``: utime + stime of
    every live python descendant, plus the children's counters
    (cutime + cstime) that count workers which exited and were reaped."""

    def __init__(self):
        self.me = os.getpid()
        self._tick = os.sysconf("SC_CLK_TCK")
        self._jvm: dict[int, bool] = {}

    def _kind(self, pid: int) -> bool:
        if pid not in self._jvm:
            self._jvm[pid] = _is_jvm(pid)
        return self._jvm[pid]

    def children(self) -> list[int]:
        """Live descendants: the JVM and its pyspark daemons and workers."""
        return list(_descendants(self.me))

    def python_cpu_s(self) -> float:
        # fields after the ')' split: [11]=utime [12]=stime [13]=cutime [14]=cstime
        ticks = 0
        for pid, st in _descendants(self.me).items():
            if not self._kind(pid):
                ticks += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        return ticks / self._tick

    def pss_mb(self) -> tuple[float, float]:
        """Proportional set size of (the JVM, the pyspark workers): pages
        shared between the forked workers are counted once in total."""
        kb = [0, 0]
        for pid in _descendants(self.me):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss = next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
            except (OSError, StopIteration):
                continue
            kb[0 if self._kind(pid) else 1] += pss
        return kb[0] / 1024, kb[1] / 1024


class PeakMemory:
    """Background sampler of the JVM + worker memory (PSS), started around
    a timed region; ``peak_mb`` is the highest sum seen, ``peak_jvm_mb``
    and ``peak_workers_mb`` the highest of each part."""

    def __init__(self, sampler: ProcSampler, every_s: float = 0.2):
        self.sampler, self.every_s = sampler, every_s
        self.peak_mb = self.peak_jvm_mb = self.peak_workers_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        jvm, workers = self.sampler.pss_mb()
        self.peak_mb = max(self.peak_mb, jvm + workers)
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_workers_mb = max(self.peak_workers_mb, workers)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


class Recorder:
    """In-memory spans (name, kind, start, end, parent) for one traced run
    with a run -> bucket -> phase hierarchy, plus the main-timeline phase
    segments with python-worker CPU at each boundary."""

    def __init__(self, spark, sampler: ProcSampler, bucketed: bool = False):
        self.spark, self.sampler, self.bucketed = spark, sampler, bucketed
        self.spans: list[dict] = []
        self.segments: list[dict] = []
        self.buckets: list[dict] = []
        self.notes: dict = {}
        self.self_s = 0.0
        self._lock = threading.Lock()
        self._active: list[dict] = []
        self._local = threading.local()
        self._run = None
        self._bucket = None

    def _span(self, name, kind, start, parent):
        span = {"id": len(self.spans), "name": name, "kind": kind, "start": start,
                "end": None, "parent": parent, "thread": threading.current_thread().name}
        self.spans.append(span)
        return span

    def _switch(self, name, t):
        """Close the current segment at ``t`` and open ``name`` (caller holds
        the lock). The run's lead-in before the first boundary call is
        charged to the first phase."""
        cur = self.segments[-1]
        if cur["name"] is None:
            cur["name"] = name
            return
        if cur["name"] == name:
            return
        cpu = self.sampler.python_cpu_s()
        cur["end"], cur["cpu1"] = t, cpu
        parent = (self._bucket or self._run)["id"]
        self.segments.append({"name": name, "start": t, "end": None, "cpu0": cpu,
                              "parent": parent})

    def begin_run(self):
        # an earlier operation's last phase must not label this run's lead-in
        self.spark.sparkContext.setJobDescription(None)
        t = time.time()
        self._run = self._span("run", "run", t, None)
        self.segments.append({"name": None, "start": t, "end": None,
                              "cpu0": self.sampler.python_cpu_s(), "parent": self._run["id"]})

    def end_run(self):
        with self._lock:
            t = time.time()
            cur = self.segments[-1]
            cur["end"], cur["cpu1"] = t, self.sampler.python_cpu_s()
            if cur["name"] is None:  # no boundary was called
                cur["name"] = "unattributed"
            if self._bucket is not None:
                self._close_bucket(t)
            self._run["end"] = t

    def _close_bucket(self, t):
        self._bucket["end"] = t
        self.buckets.append(self._bucket)
        self._bucket = None

    def enter(self, name: str) -> dict:
        c0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            t = time.time()
            if self.bucketed and name == "extract":
                if self._bucket is not None:
                    self._close_bucket(t)
                self._bucket = self._span(f"bucket{len(self.buckets)}", "bucket", t,
                                          self._run["id"])
            parent = (self._bucket or self._run)["id"]
            call = self._span(name, "phase", t, parent)
            if name not in CONCURRENT:
                self._active.append(call)
                self._switch(name, t)
        stack.append(name)
        self.spark.sparkContext.setJobDescription(name)
        self.self_s += time.perf_counter() - c0
        return call

    def exit(self, call: dict) -> None:
        c0 = time.perf_counter()
        stack = self._local.stack
        stack.pop()
        if stack:  # back inside an enclosing boundary on this thread
            self.spark.sparkContext.setJobDescription(stack[-1])
        with self._lock:
            t = time.time()
            call["end"] = t
            if call in self._active:
                self._active.remove(call)
                if self._active:
                    self._switch(self._active[-1]["name"], t)
            if (self.bucketed and call["name"] == "commit" and self._bucket is not None
                    and not self._active):
                self._close_bucket(t)
        self.self_s += time.perf_counter() - c0

    @contextmanager
    def phase(self, name: str):
        call = self.enter(name)
        try:
            yield
        finally:
            self.exit(call)


@contextmanager
def traced(recorder: Recorder):
    """Rebind every boundary in BOUNDARIES to a span-recording wrapper for
    the duration of the block; the originals are restored afterwards."""
    import functools
    import importlib

    saved = []
    for name, module, attr in BOUNDARIES:
        mod = importlib.import_module(module)
        fn = getattr(mod, attr)

        def wrapper(*args, __fn=fn, __name=name, **kwargs):
            if __name == "finalize":
                # _finalize_graph inlines the norm map as an InSet up to
                # max_inset_ids rows and joins past it
                n_norm = kwargs.get("norm_map_rows")
                limit = kwargs.get("max_inset_ids", 1_000)
                recorder.notes["norm_map_rows"] = n_norm
                recorder.notes["finalize_path"] = (
                    None if n_norm is None else "join" if n_norm > limit else "inset")
            with recorder.phase(__name):
                return __fn(*args, **kwargs)

        functools.update_wrapper(wrapper, fn)
        saved.append((mod, attr, fn))
        setattr(mod, attr, wrapper)
    try:
        yield recorder
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def event_log_conf(log_dir: str) -> dict:
    """Spark conf that writes an uncompressed event log under ``log_dir``."""
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false"}


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse Spark's JSON event log (rolling or single file) into
    (jobs, stages): jobs[id] = {desc, submit, end, stages}; stages[id] =
    task metrics summed over the stage's tasks.

    ``input_rows`` is the rows read by stages that scan files; reads of
    cached or checkpointed blocks, which Spark also reports as input, are
    left out. It is counted in rows, not bytes: Spark 4.1's parquet reader
    reports only the footer reads as Bytes Read (a full collect of a
    0.35 MB transcript table showed 0.01 MB), while its Records Read is
    exact."""
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])
                       if os.path.basename(p).startswith("events_") else 0),
    )
    jobs, stages, scans = {}, {}, set()
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "desc": (ev.get("Properties") or {}).get("spark.job.description"),
                        "submit": ev["Submission Time"] / 1000,
                        "end": None,
                        "stages": ev["Stage IDs"],
                    }
                    for info in ev.get("Stage Infos", []):
                        if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                            scans.add(info["Stage ID"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    s = stages.setdefault(ev["Stage ID"], dict.fromkeys(
                        ("executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
                         "input_rows", "output_mb"), 0.0))
                    s["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                    s["gc_s"] += m["JVM GC Time"] / 1000
                    s["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                    s["spill_mb"] += m["Disk Bytes Spilled"] / MB
                    if ev["Stage ID"] in scans:
                        s["input_rows"] += m["Input Metrics"]["Records Read"]
                    s["output_mb"] += m["Output Metrics"]["Bytes Written"] / MB
    return jobs, stages


def _overlap(a0, a1, intervals) -> float:
    """Length of [a0, a1] covered by the union of ``intervals``."""
    covered, cur0, cur1 = 0.0, None, None
    for s, e in sorted((max(s, a0), min(e, a1)) for s, e in intervals if e > a0 and s < a1):
        if cur1 is None or s > cur1:
            if cur1 is not None:
                covered += cur1 - cur0
            cur0, cur1 = s, e
        else:
            cur1 = max(cur1, e)
    if cur1 is not None:
        covered += cur1 - cur0
    return covered


def attribute(recorder: Recorder, jobs: dict, stages: dict) -> dict:
    """Per-phase measures for one traced run: walls from the main-timeline
    segments (census from its own spans), task metrics from the event log
    by job description, else by the segment containing the job's start."""
    run = recorder.spans[0]
    run_jobs = {j: v for j, v in jobs.items() if run["start"] <= v["submit"] <= run["end"]}
    job_intervals = [(v["submit"], v["end"] or run["end"]) for v in run_jobs.values()]

    def phase_at(t):
        for seg in recorder.segments:
            if seg["start"] <= t <= seg["end"]:
                return seg["name"]
        return recorder.segments[-1]["name"]

    out = {p: dict.fromkeys(MEASURES, 0.0) for p in PHASES}
    q = {}
    for seg in recorder.segments:
        wall = seg["end"] - seg["start"]
        rec = out.setdefault(seg["name"], dict.fromkeys(MEASURES, 0.0))
        rec["wall_s"] += wall
        rec["driver_only_s"] += wall - _overlap(seg["start"], seg["end"], job_intervals)
        rec["python_cpu_s"] += seg["cpu1"] - seg["cpu0"]
        if seg["name"].startswith("q."):
            q[seg["name"]] = q.get(seg["name"], 0.0) + wall
    for span in recorder.spans:
        if span["name"] in CONCURRENT and span["kind"] == "phase" and span["end"]:
            out[span["name"]]["wall_s"] += span["end"] - span["start"]
            out[span["name"]]["driver_only_s"] += (
                span["end"] - span["start"] - _overlap(span["start"], span["end"], job_intervals))

    # a stage listed by several jobs ran in the first of them (the later
    # ones reuse its shuffle output)
    owned: dict[int, list[int]] = {}
    seen = set()
    for jid in sorted(run_jobs):
        owned[jid] = [sid for sid in run_jobs[jid]["stages"] if sid in stages and sid not in seen]
        seen.update(owned[jid])
    job_phase = {}
    for jid, job in run_jobs.items():
        phase = job["desc"] if job["desc"] in out else phase_at(job["submit"])
        job_phase[jid] = phase
        out[phase]["jobs"] += 1
        for sid in owned[jid]:
            for k, v in stages[sid].items():
                out[phase][k] += v

    buckets = []
    for b in recorder.buckets:
        in_b = [jid for jid, v in run_jobs.items() if b["start"] <= v["submit"] <= b["end"]]
        buckets.append({"wall_s": b["end"] - b["start"], "jobs": len(in_b),
                        "input_rows": sum(stages[s]["input_rows"] for j in in_b for s in owned[j])})
    return {"phases": out, "q": q, "buckets": buckets, "jobs": len(run_jobs),
            "job_phase": job_phase}
