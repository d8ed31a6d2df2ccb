"""Tracing for the per-layer run: spans recorded by the benchmark around its
calls into `sgp_sketch`, Spark's own event log, and the attribution of each
operation's wall time to layers.

Layers are named after the repo's modules (`agg`, `queries`, `routing`,
`checkpoint`, ...), plus `spark` for the framework floor and `perfbench` for
the benchmark's own code inside an operation.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"
# Spark physical operators that run Python code on the executors
PYTHON_OPS = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
              "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
              "AggregateInPandas", "WindowInPandas", "PythonMapInArrow")
LAYERS = ("perfbench", "spark", "agg", "queries", "routing", "checkpoint")


class Tracer:
    """Spans kept in memory. A disabled tracer records nothing and never
    touches Spark, so untraced runs pay nothing for it."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        sid = f"s{len(self.spans)}"
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "t0": time.time() * 1000.0}
        self.spans.append(rec)
        self._stack.append(sid)
        # jobs submitted while the span is open carry its id in their
        # properties, which ties each job in the event log to its span
        self.sc.setLocalProperty(SPAN_PROP, sid)
        try:
            yield
        finally:
            rec["t1"] = time.time() * 1000.0
            self._stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROP, self._stack[-1] if self._stack else None)


class RssSampler:
    """Peak resident memory of this process and all its descendants (driver
    Python, the JVM, Python workers), sampled from /proc by one thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = {"all": 0, "java": 0, "python": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        while not self._stop.is_set():
            procs = process_table()
            cur = {"all": 0, "java": 0, "python": 0}
            for p in descendants(os.getpid(), procs):
                _, pages, comm = procs[p]
                cur["all"] += pages * self._page
                kind = "java" if comm == "java" else "python" \
                    if comm.startswith("python") else None
                if kind:
                    cur[kind] += pages * self._page
            for k, v in cur.items():
                self.peak[k] = max(self.peak[k], v)
            self._stop.wait(self.interval)


def process_table() -> dict[int, tuple[int, int, str]]:
    """pid → (parent pid, resident pages, command name) for every visible
    process."""
    out = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        out[int(st.split("/")[2])] = (int(fields[1]), int(fields[21]),
                                      raw[raw.find("(") + 1:raw.rfind(")")])
    return out


def descendants(root: int, procs: dict) -> list[int]:
    """`root` and every live process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


# ------------------------------------------------------------- event log

def read_eventlog(log_dir: str) -> dict:
    """Jobs (with their span), completed stages and per-stage task metrics
    from Spark's JSON event log."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(f) and not os.path.basename(f).startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs, stages, tasks = {}, {}, {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"], "t1": None,
                    "span": (ev.get("Properties") or {}).get(SPAN_PROP),
                    "stages": ev["Stage IDs"]}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Completion Time" not in si or si.get("Failure Reason"):
                    continue
                ops = {json.loads(r["Scope"])["name"] if r.get("Scope")
                       else r["Name"] for r in si["RDD Info"]}
                stages[si["Stage ID"]] = {
                    "t0": si["Submission Time"], "t1": si["Completion Time"],
                    "python": any(o in PYTHON_OPS for o in ops)}
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0)})
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def jobs_of(log: dict, span_ids) -> list[dict]:
    span_ids = set(span_ids)
    return [j for j in log["jobs"].values()
            if j["span"] in span_ids and j["t1"] is not None]


def job_counters(log: dict, jobs: list[dict]) -> dict:
    stage_ids = [s for j in jobs for s in j["stages"] if s in log["stages"]]
    tasks = [t for s in stage_ids for t in log["tasks"].get(s, ())]
    return {"jobs": len(jobs), "stages": len(stage_ids), "tasks": len(tasks),
            "run_ms": sum(t["run_ms"] for t in tasks),
            "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks)}


def attribute(op: dict, children: list[dict], log: dict) -> dict:
    """Split one operation's wall time into layer self times (ms).

    Inside the span of a call into module L, an instant belongs to
      - L while a stage running Python operators of one of its jobs is
        active (L's code running on the executors);
      - `spark` while other stages run, and between the first job's
        submission and the last job's completion otherwise (scheduling,
        JVM-only stages, adaptive re-planning);
      - L otherwise (driver-side planning and result handling).
    Time of the operation outside every call is `perfbench`.
    The self times sum to the operation's wall time."""
    o0, o1 = op["t0"], op["t1"]
    intervals = []  # (t0, t1, priority, layer)
    for sp in children:
        layer = sp["name"].split(".")[0]
        intervals.append((sp["t0"], sp["t1"], 1, layer))
        jobs = jobs_of(log, [sp["id"]])
        if jobs:
            intervals.append((min(j["t0"] for j in jobs),
                              max(j["t1"] for j in jobs), 2, "spark"))
        for j in jobs:
            for sid in j["stages"]:
                st = log["stages"].get(sid)
                if st is not None:
                    intervals.append((st["t0"], st["t1"],
                                      3 if st["python"] else 2,
                                      layer if st["python"] else "spark"))
    cuts = sorted({o0, o1} | {min(max(t, o0), o1)
                              for a, b, _, _ in intervals for t in (a, b)})
    self_ms = dict.fromkeys(LAYERS, 0.0)
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        best = (0, "perfbench")
        for t0, t1, prio, layer in intervals:
            if t0 <= mid < t1 and prio > best[0]:
                best = (prio, layer)
        self_ms[best[1]] += b - a
    return self_ms
