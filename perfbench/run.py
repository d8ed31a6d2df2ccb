"""Benchmark runner for sgp_sketch.

    python3 perfbench/run.py --workload build_full --seed 1 --seconds 12 \
        --trace 0

Run from the root of a checkout. A child process makes the seeded input table
and its exact answers (DuckDB); then one closed-loop client in this process
runs the workload's operations against a local Spark session sized to the box
(`local[nproc]`, shuffle partitions = nproc, driver memory = RAM/4) and checks
every result against those answers.

--trace 0 prints the end-to-end metrics; --trace 1 runs the per-layer
analysis (spans, Spark event log, layer probes) instead. The last line of
stdout is the result object; the line before it is the full record.
Everything the run writes stays under `.perfbench_work/` in the checkout.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
TMP = os.path.join(WORK, "tmp")
SETUPS = 3              # session set-ups per untraced run; setup_s = median
RECONCILE_TOL = 0.15    # Σ layer self-time medians vs traced op p50


def box_info() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"cores": cores, "ram_mb": mem_kb // 1024,
            "driver_mem_mb": max(1024, mem_kb // 1024 // 4)}


def versions() -> dict:
    from importlib.metadata import version

    return {"python": platform.python_version(),
            **{lib: version(lib) for lib in ("pyspark", "pyarrow", "numpy",
                                             "pandas", "duckdb")}}


class Session:
    """Owns the Spark session(s) of one run and the JVM behind them."""

    def __init__(self, box: dict):
        self.box = box
        self.spark = None

    def start(self, eventlog_dir: str | None = None) -> tuple[float, float]:
        """get_spark + shipping the checkout to the workers (start), then a
        first no-op mapInArrow job that imports the package on every worker
        (warm). Returns both times in seconds."""
        from sgp_sketch import deploy
        from sgp_sketch.session import get_spark

        cores = self.box["cores"]
        conf = {"spark.local.dir": os.path.join(TMP, "spark"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.ui.showConsoleProgress": "false"}
        if eventlog_dir:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": eventlog_dir,
                         "spark.eventLog.rolling.enabled": "false",
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]",
                          shuffle_partitions=cores, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        deploy.ensure_py_files(spark)
        t1 = time.perf_counter()

        def warm(batches):
            import sgp_sketch.agg  # noqa: F401
            for b in batches:
                yield b
        spark.range(cores, numPartitions=cores).mapInArrow(
            warm, "id long").collect()
        self.spark = spark
        return t1 - t0, time.perf_counter() - t1

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for every process this
        run started to end."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        _reap_children()


def _reap_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this run is left; kill stragglers
    after `timeout`."""
    from perfbench.trace import descendants, process_table

    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in descendants(os.getpid(), process_table())
                if p != os.getpid()]
        # past the grace period only exited (zombie) entries can remain
        if not left or time.monotonic() > deadline + 5:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


class Runner:
    """Runs and checks operations, counting attempts and failures."""

    def __init__(self, workload):
        self.workload = workload
        self.attempted = 0
        self.failures: list[str] = []

    def op(self, ctx, entry, traced=False):
        """One operation, timed, inside an `op:<name>` span when traced.
        Returns its wall seconds, or None if it raised or failed its
        check."""
        name, op, check = entry
        self.attempted += 1
        try:
            with (ctx.tracer.span(f"op:{name}") if traced
                  else contextlib.nullcontext()):
                t0 = time.perf_counter()
                result = op(ctx)
                dt = time.perf_counter() - t0
            bad = check(ctx, result)
        except Exception:
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None
        if bad:
            self.failures.append(f"{name}: {'; '.join(bad[:5])}")
            return None
        return dt

    def rounds(self, ctx, seconds=0.0, min_rounds=1, entries=None,
               trace=None):
        """Whole rounds of `entries` (default: the workload's) until at
        least `min_rounds` ran and `seconds` passed. `trace` is None, "all",
        or "alternate" (every other operation traced). Returns
        [(name, seconds, traced)] of the operations that passed."""
        out = []
        deadline = time.perf_counter() + seconds
        done = 0
        while done < min_rounds or time.perf_counter() < deadline:
            for entry in entries or self.workload.entries:
                traced = trace == "all" or (trace == "alternate"
                                            and self.attempted % 2 == 0)
                dt = self.op(ctx, entry, traced)
                if dt is not None:
                    out.append((entry[0], dt, traced))
            done += 1
        return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def e2e_metrics(lat, n_tokens, setup_s, peak_rss) -> dict:
    times = [dt for _, dt, _ in lat]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (_median(times) * 1e3, "ms"),
        "tok_per_s": (_median([n_tokens / dt for dt in times]), "tokens/s"),
        # the Python side (driver + workers) holds the library's memory;
        # the JVM's resident size follows its garbage collector and is
        # recorded, not bounded
        "py_peak_rss_mb": (peak_rss["python"] / 2**20, "MB"),
    }


def trace_metrics(spans, log, cores, lat) -> dict:
    """Per-operation counters and layer self times of the traced
    operations of the measurement loop (`spans`), as medians, plus the span
    overhead measured against the loop's untraced operations."""
    from perfbench.trace import LAYERS, attribute, job_counters, jobs_of

    per_op = []
    for op in spans:
        if not op["name"].startswith("op:"):
            continue
        kids = [s for s in spans if s["parent"] == op["id"]]
        wall = op["t1"] - op["t0"]
        c = job_counters(log, jobs_of(log, [k["id"] for k in kids]))
        c["idle_frac"] = 1.0 - c["run_ms"] / (cores * wall)
        c["self"] = attribute(op, kids, log)
        c["wall_ms"] = wall
        per_op.append(c)
    m = {f"spark.{k}": _median([c[k] for c in per_op])
         for k in ("jobs", "stages", "tasks", "idle_frac",
                   "shuffle_write_bytes")}
    m["spark.executor_cpu_s"] = _median([c["cpu_s"] for c in per_op])
    m["spark.gc_s"] = _median([c["gc_s"] for c in per_op])
    for layer in LAYERS:
        m[f"self.{layer}_ms"] = _median([c["self"][layer] for c in per_op])
    on = _median([c["wall_ms"] for c in per_op])
    off = _median([dt for _, dt, traced in lat if not traced]) * 1e3
    m["trace.op_p50_ms"] = on
    m["trace.overhead_frac"] = on / off - 1.0
    m["trace.reconcile_err"] = abs(
        sum(m[f"self.{layer}_ms"] for layer in LAYERS) - on) / on
    return m


def run(args) -> tuple[dict, Runner, dict]:
    from perfbench import inputs
    from perfbench.trace import RssSampler, Tracer, read_eventlog
    from perfbench.workloads import TABLE_DOCS, WORKLOADS, Ctx

    workload = WORKLOADS[args.workload]
    box = box_info()
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{box['driver_mem_mb']}m"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    phases = {}
    t = time.perf_counter()
    child = subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", WORK, str(args.seed),
         str(TABLE_DOCS[workload.table])],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True)
    path = child.stdout.strip()
    exact = inputs.load_exact(path)
    phases["inputs"] = time.perf_counter() - t
    record = {"workload": workload.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "box": box,
              "versions": versions(), "n_docs": exact["n_docs"],
              "n_tokens": exact["n_tokens"], "phases_s": phases}
    runner = Runner(workload)
    sess = Session(box)
    log_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
    try:
        with RssSampler() as rss:
            t = time.perf_counter()
            setups = [sess.start(log_dir if args.trace else None)]
            phases["setup"] = time.perf_counter() - t
            spark = sess.spark
            tracer = Tracer(spark.sparkContext if args.trace else None)
            ctx = Ctx(spark, spark.read.parquet(path), exact, tracer)
            t = time.perf_counter()
            runner.rounds(ctx, min_rounds=workload.warm_rounds)
            phases["warm"] = time.perf_counter() - t
            t = time.perf_counter()
            # traced: two rounds at least, so every rotation entry has a
            # traced and an untraced operation
            lat = runner.rounds(ctx, seconds=args.seconds,
                                min_rounds=2 if args.trace else 1,
                                trace="alternate" if args.trace else None)
            phases["measure"] = time.perf_counter() - t
            loop_spans = list(tracer.spans)
        peak = rss.peak
        if not args.trace:
            # further set-ups restart the SparkContext inside the now-warm
            # JVM: new executors, new Python workers, cold caches
            t = time.perf_counter()
            for _ in range(SETUPS - 1):
                sess.stop()
                setups.append(sess.start())
            phases["restarts"] = time.perf_counter() - t
        record.update(setups_s=setups, ops=lat, accuracy=ctx.accuracy)
        if args.trace:
            t = time.perf_counter()
            metrics = layer_metrics(ctx, runner, path, setups[0], lat)
            sess.stop()  # closes the event log
            log = read_eventlog(log_dir)
            metrics.update(trace_metrics(loop_spans, log, box["cores"], lat))
            metrics["spark.task_skew"] = task_skew(log, tracer)
            metrics["spark.jvm_peak_rss_mb"] = peak["java"] / 2**20
            phases["probes"] = time.perf_counter() - t
            record["reconcile_tol"] = RECONCILE_TOL
        else:
            metrics = e2e_metrics(
                lat, exact["n_tokens"],
                statistics.median(a + b for a, b in setups), peak)
        record["peak_rss_mb"] = {k: v / 2**20 for k, v in peak.items()}
    finally:
        t = time.perf_counter()
        sess.shutdown()
        phases["shutdown"] = time.perf_counter() - t
    record["failures"] = runner.failures
    return record, runner, metrics


def layer_metrics(ctx, runner, path, setup0, lat) -> dict:
    """The layer probes, run after the traced loop in the same session."""
    from perfbench import probes
    from perfbench.workloads import PERKEY, ROTATION

    m = {"session.start_s": setup0[0], "session.warm_s": setup0[1]}
    m["spark.scan_floor_s"] = probes.scan_floor(ctx)
    agg_m, groups, merged = probes.agg_layers(ctx)
    m.update(agg_m)
    m["agg.partials_self_s"] = m["agg.partials_s"] - m["spark.scan_floor_s"]
    m.update(probes.kernel_layers(path, groups))
    ck, bad = probes.checkpoint_layers(ctx, WORK, path, merged)
    m.update(ck)
    runner.attempted += 1
    if bad:
        runner.failures.append("checkpoint: " + "; ".join(bad[:5]))
    # query_small's loop already ran the rotation; other workloads run it
    # once on their own table
    q_lat = lat if runner.workload.entries is ROTATION else \
        runner.rounds(ctx, entries=ROTATION, trace="all")
    q_lat += runner.rounds(ctx, entries=[PERKEY], trace="all")
    for name, _, _ in ROTATION + [PERKEY]:
        key = "routing.assign_ms" if name == "assign_shards" \
            else f"queries.{name}_ms"
        m[key] = _median([dt for n, dt, _ in q_lat if n == name]) * 1e3
    m["routing.max_load_ratio"] = ctx.accuracy["max_load_ratio"]
    return m


def task_skew(log, tracer) -> float:
    """max/median task run time in the largest stage of the last scan-floor
    job."""
    from perfbench.trace import jobs_of

    spans = [sp["id"] for sp in tracer.spans
             if sp["name"] == "spark.scan_floor"][-1:]
    runs = []
    for j in jobs_of(log, spans):
        for sid in j["stages"]:
            t = [x["run_ms"] for x in log["tasks"].get(sid, ())]
            if len(t) > len(runs):
                runs = t
    return max(runs) / statistics.median(runs) if runs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # everything a run writes, temporary files included, stays in the checkout
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        import sgp_sketch
    except ImportError as e:
        print(f"perfbench: sgp_sketch is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(sgp_sketch.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: sgp_sketch resolved to {sgp_sketch.__file__}, "
              f"outside the checkout {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    record, runner, metrics = run(args)
    record["metrics"] = metrics
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": v[0], "unit": v[1]} if isinstance(v, tuple)
                    else {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()}}))
    return 0


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from the suffix of its name."""
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_ns"):
        return "ns"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio", "_err", "task_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
