"""Layer probes of the traced run: each times one layer of the build on the
workload's own table, from outside the library."""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

import numpy as np

from .inputs import parquet_glob
from .workloads import SPECS


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _median_time(fn, reps: int) -> float:
    return statistics.median(_timed(fn)[0] for _ in range(reps))


def scan_floor(ctx, reps: int = 3) -> float:
    """A no-op mapInArrow over the scan and columns the build reads: the
    framework floor (scan, Arrow handoff, scheduling) of one build."""
    df = ctx.df.select("source", "tokens", "n_tok")

    def drain(batches):
        for _ in batches:
            pass
        yield from ()

    def once():
        with ctx.tracer.span("spark.scan_floor"):
            df.mapInArrow(drain, "source string").collect()
    return _median_time(once, reps)


def agg_layers(ctx) -> tuple[dict, dict, dict]:
    """The build split into its partial scan and its merge round, each run
    alone. Returns (metrics, partial blobs per (source, sketch), merged
    blobs per (source, sketch))."""
    from pyspark import StorageLevel

    from sgp_sketch import agg

    m = {}
    partials, schema = agg.build_partials_multi(ctx.df, SPECS)
    partials = partials.persist(StorageLevel.MEMORY_ONLY)
    try:
        with ctx.tracer.span("agg.build_partials_multi"):
            m["agg.partials_s"], _ = _timed(partials.count)
        groups: dict = {}
        for r in partials.select("source", "sketch", "state").collect():
            groups.setdefault((r["source"], r["sketch"]), []).append(
                bytes(r["state"]))
        m["agg.partial_blobs"] = sum(len(v) for v in groups.values())
        m["agg.partial_bytes"] = sum(len(b) for v in groups.values()
                                     for b in v)
        merged_df = agg.tree_merge(
            partials, schema, ["source", "sketch"],
            n_parts=ctx.spark.sparkContext.defaultParallelism)
        with ctx.tracer.span("agg.tree_merge"):
            m["agg.merge_s"], rows = _timed(merged_df.collect)
        # an adaptive plan prints its final plan before the initial one
        plan = merged_df._jdf.queryExecution().executedPlan().toString()
        m["agg.merge_rounds"] = plan.split("== Initial Plan ==")[0].count(
            "FlatMapGroupsInPandas")
    finally:
        partials.unpersist()
    merged = {(r["source"], r["sketch"]): bytes(r["state"]) for r in rows}
    m["agg.merged_bytes"] = sum(len(b) for b in merged.values())
    return m, groups, merged


def kernel_layers(table_path: str, partial_groups: dict,
                  reps: int = 5) -> dict:
    """Single-thread kernel costs on the driver over fixed inputs: the
    tokens of the table's first file, its n_tok column, and the run's own
    partial blobs."""
    import pyarrow.parquet as pq

    from sgp_sketch.kernels import hashing, registry

    first = sorted(glob.glob(parquet_glob(table_path)))[0]
    t = pq.read_table(first, columns=["tokens", "n_tok"])
    flat = np.asarray(t.column("tokens").combine_chunks().flatten())
    uniq, counts = np.unique(flat, return_counts=True)
    u64 = uniq.astype(np.uint64)
    h = hashing.hash64(u64)
    n_tok = t.column("n_tok").to_numpy().astype(np.float64)
    nums = np.tile(n_tok, max(1, (1 << 16) // n_tok.size))

    m = {"kernels.hash64_ns":
         _median_time(lambda: hashing.hash64(u64), reps) / uniq.size * 1e9}
    # same update calls, on the same deduplicated hashes, as the scan path
    updates = {
        "hll": (lambda st: st.update_hashes(h, assume_unique=True),
                flat.size),
        "cms": (lambda st: st.update_hashes(h, counts=counts), flat.size),
        "bloom": (lambda st: st.update_hashes(h, assume_unique=True,
                                              n_raw=flat.size), flat.size),
        "theta": (lambda st: st.update_hashes(h, assume_unique=True),
                  flat.size),
        "kll": (lambda st: st.update(nums), nums.size),
        "tdigest": (lambda st: st.update(nums), nums.size),
        "moments": (lambda st: st.update(nums), nums.size),
    }
    params = {s["kind"]: s["params"] for s in SPECS.values()}
    states = {}
    for kind, (update, n_items) in updates.items():
        samples = []
        for _ in range(reps):
            st = registry.make(kind, **params.get(kind, {}))
            dt, _ = _timed(lambda: update(st))
            samples.append(dt)
        states[kind] = st
        m[f"kernels.{kind}.update_ns"] = \
            statistics.median(samples) / n_items * 1e9
    six = [states[s["kind"]] for s in SPECS.values()]
    m["kernels.to_bytes_s"] = _median_time(
        lambda: [st.to_bytes() for st in six], reps)
    blobs = [st.to_bytes() for st in six]
    m["kernels.from_bytes_s"] = _median_time(
        lambda: [registry.from_bytes(b) for b in blobs], reps)
    m["kernels.merge_blobs_s"] = _median_time(
        lambda: [registry.merge_blobs(v) for v in partial_groups.values()],
        3)
    return m


def checkpoint_layers(ctx, work: str, table_path: str,
                      merged: dict) -> tuple[dict, list[str]]:
    """A checkpointed build of the table (two files per slice), its
    finalize, and a resume pass over the complete checkpoint. The
    finalized blobs of the order-independent kinds must equal the
    one-shot build's bytes."""
    from sgp_sketch import checkpoint

    ck = os.path.join(work, "ckpt")
    shutil.rmtree(ck, ignore_errors=True)
    spark = ctx.spark

    def build():
        return checkpoint.build_checkpointed_multi(
            spark, table_path, SPECS, ("source",), ckpt_dir=ck,
            files_per_slice=2)

    m, bad = {}, []
    with ctx.tracer.span("checkpoint.build_checkpointed_multi"):
        build_s, man = _timed(build)
    with open(os.path.join(ck, "metrics.jsonl")) as f:
        slice_s = [json.loads(line)["seconds"] for line in f]
    m["checkpoint.slices"] = len(man["slice_ids"])
    m["checkpoint.slice_p50_s"] = statistics.median(slice_s)
    m["checkpoint.written_bytes"] = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(ck) for f in files)
    with ctx.tracer.span("checkpoint.finalize_multi"):
        m["checkpoint.finalize_s"], rows = _timed(
            checkpoint.finalize_multi(spark, ck).collect)
    with ctx.tracer.span("checkpoint.build_checkpointed_multi"):
        m["checkpoint.resume_s"], again = _timed(build)
    if man["built"] != man["slice_ids"]:
        bad.append(f"checkpoint: built {man['built']} of {man['slice_ids']}")
    if again["built"] or again["skipped"] != man["slice_ids"]:
        bad.append(f"checkpoint resume rebuilt {again['built']}")
    final = {(r["source"], r["sketch"]): bytes(r["state"]) for r in rows}
    for key, blob in sorted(merged.items()):
        if key[1] in ("hll", "cms", "bloom", "moments") \
                and final.get(key) != blob:
            bad.append(f"checkpoint {key}: finalized blob differs from "
                       "the one-shot build")
    if set(final) != set(merged):
        bad.append("checkpoint: finalized groups differ from the build's")
    return m, bad
