"""The benchmark's workloads: what one operation is, and how its output is
checked against the exact answers.

Each operation calls public functions of `sgp_sketch` and materializes the
result on the driver. Calls into a library module are wrapped in a span named
`<module>.<function>`, so a traced run can attribute the operation's time to
the module (layer) that was called.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

# The benchmark's own copy of the six-sketch production spec, so that edits
# elsewhere in the repo cannot move the workload.
SPECS = {
    "hll": {"kind": "hll", "value_col": "tokens", "params": {"p": 14}},
    "cms": {"kind": "cms", "value_col": "tokens",
            "params": {"depth": 4, "width": 1 << 14}},
    "bloom": {"kind": "bloom", "value_col": "tokens",
              "params": {"n_blocks": 1 << 12}},
    "kll": {"kind": "kll", "value_col": "n_tok", "params": {}},
    "tdigest": {"kind": "tdigest", "value_col": "n_tok", "params": {}},
    "moments": {"kind": "moments", "value_col": "n_tok", "params": {}},
}
QS = (0.01, 0.25, 0.5, 0.75, 0.99)

# Published bounds (ERRORS.md): HLL ±3·1.04/√m; CMS overestimate ≤ e/w·N;
# quantile rank error ≤ 0.02 (the KLL k=200 analysis bound, applied to
# t-digest δ=100 as well).
HLL_BOUND = 3 * 1.04 / math.sqrt(1 << 14)
CMS_BOUND = 1.0
RANK_BOUND = 0.02
N_SHARDS = 16

# Docs per table: `big` feeds build_full, `small` feeds query_small.
TABLE_DOCS = {"big": 20_000, "small": 2_000}


class Ctx:
    """Per-run state shared by the operations of one workload."""

    def __init__(self, spark, df, exact, tracer):
        self.spark = spark
        self.df = df
        self.exact = exact
        self.tracer = tracer
        self.reference = None   # first build's blob digest
        self.accuracy = {}      # worst observed error per sketch kind


def _rank_error(sorted_vals: np.ndarray, q: float, v: float) -> float:
    """Distance of q from the exact rank INTERVAL [P(X<v), P(X<=v)] —
    discrete n_tok has ties, so a point rank would raise false alarms."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, v, side="left") / n
    hi = np.searchsorted(sorted_vals, v, side="right") / n
    return max(0.0, lo - q, q - hi)


def _worst(ctx, key, value):
    ctx.accuracy[key] = max(ctx.accuracy.get(key, 0.0), float(value))


# ------------------------------------------------------------ build_full

def op_build(ctx):
    from sgp_sketch import agg

    with ctx.tracer.span("agg.multi_sketch_agg"):
        rows = agg.multi_sketch_agg(ctx.df, SPECS).collect()
    return {(r["source"], r["sketch"]): bytes(r["state"]) for r in rows}


def blob_digest(blobs: dict) -> str:
    h = hashlib.sha256()
    for key in sorted(blobs):
        h.update(repr(key).encode())
        h.update(blobs[key])
    return h.hexdigest()


def check_six_sketch_blobs(ctx, blobs: dict) -> list[str]:
    """Estimates of the six-sketch blobs against the exact answers."""
    from sgp_sketch.kernels import registry

    bad = []
    ex = ctx.exact["sources"]
    if set(blobs) != {(s, k) for s in ex for k in SPECS}:
        return [f"blob keys {sorted(blobs)} do not cover sources x sketches"]
    for s, e in ex.items():
        hll = registry.from_bytes(blobs[(s, "hll")])
        err = abs(hll.estimate() - e["distinct"]) / e["distinct"]
        _worst(ctx, "hll_rel_err", err)
        if err > HLL_BOUND:
            bad.append(f"hll {s}: rel err {err:.4f} > {HLL_BOUND:.4f}")
        cms = registry.from_bytes(blobs[(s, "cms")])
        top = np.array(e["top"][:20], dtype=np.int64)
        est = cms.estimate(top[:, 0].astype(np.uint64))
        over = est - top[:, 1]
        ratio = float(over.max()) / (math.e / cms.width * e["n_tokens"])
        _worst(ctx, "cms_err_ratio", ratio)
        if over.min() < 0 or ratio > CMS_BOUND:
            bad.append(f"cms {s}: over {over.min()}..{over.max()} "
                       f"ratio {ratio:.3f}")
        vals = np.array(e["n_tok_sorted"], dtype=np.float64)
        for kind in ("kll", "tdigest"):
            qv = registry.from_bytes(blobs[(s, kind)]).quantiles(list(QS))
            err = max(_rank_error(vals, q, v) for q, v in zip(QS, qv))
            _worst(ctx, f"{kind}_rank_err", err)
            if err > RANK_BOUND:
                bad.append(f"{kind} {s}: rank err {err:.4f}")
        bloom = registry.from_bytes(blobs[(s, "bloom")])
        present = np.array(e["present"], dtype=np.int64).view(np.uint64)
        absent = np.array(e["absent"], dtype=np.int64).view(np.uint64)
        if not bloom.contains(present).all():
            bad.append(f"bloom {s}: false negative")
        _worst(ctx, "bloom_fpr", bloom.contains(absent).mean())
        mom = registry.from_bytes(blobs[(s, "moments")])
        if mom.n != e["n_docs"] or int(mom.s[0]) != e["n_tokens"]:
            bad.append(f"moments {s}: n={mom.n} s1={mom.s[0]}")
    return bad


def check_build(ctx, blobs) -> list[str]:
    digest = blob_digest(blobs)
    if ctx.reference is None:
        ctx.reference = digest
        return check_six_sketch_blobs(ctx, blobs)
    if digest != ctx.reference:
        return ["merged blobs differ from the run's first build"]
    return []


# ------------------------------------------------- per-key (traced runs)

def op_perkey(ctx):
    from sgp_sketch import queries

    with ctx.tracer.span("queries.distinct_per_key"):
        return queries.distinct_per_key(ctx.df, ["doc_id"], "tokens",
                                        "theta").collect()


def check_perkey(ctx, rows) -> list[str]:
    exact = ctx.exact["per_doc_distinct"]
    if len(rows) != len(exact):
        return [f"{len(rows)} keys, expected {len(exact)}"]
    # theta retains raw hashes below k, so every per-doc estimate is exact
    wrong = sum(1 for r in rows if r["est_distinct"] != exact.get(r["doc_id"]))
    return [f"{wrong} per-doc estimates differ from COUNT(DISTINCT)"] \
        if wrong else []


# ----------------------------------------------------------- query_small

def op_distinct_tokens(ctx):
    from sgp_sketch import queries

    with ctx.tracer.span("queries.distinct_tokens"):
        return queries.distinct_tokens(ctx.df, include_global=True).collect()


def check_distinct_tokens(ctx, rows) -> list[str]:
    ex = ctx.exact
    want = {s: e["distinct"] for s, e in ex["sources"].items()}
    want["__all__"] = ex["global_distinct"]
    got = {r["source"]: r["est_distinct"] for r in rows}
    if set(got) != set(want):
        return [f"distinct_tokens groups {sorted(got)}"]
    bad = []
    for s, truth in want.items():
        err = abs(got[s] - truth) / truth
        _worst(ctx, "hll_rel_err", err)
        if err > HLL_BOUND:
            bad.append(f"distinct_tokens {s}: rel err {err:.4f}")
    return bad


def op_heavy_hitters(ctx):
    from sgp_sketch import queries

    with ctx.tracer.span("queries.heavy_hitters"):
        return queries.heavy_hitters(ctx.df, k=20).collect()


def check_heavy_hitters(ctx, rows) -> list[str]:
    bad = []
    for s, e in ctx.exact["sources"].items():
        exact = dict(map(tuple, e["top"]))
        got = {r["token"]: r["est_count"] for r in rows if r["source"] == s}
        missing = [t for t, _ in e["top"][:5] if t not in got]
        if missing:
            bad.append(f"heavy_hitters {s}: exact top-5 {missing} missing")
        for tok, est in got.items():
            if tok not in exact or est < exact[tok]:
                bad.append(f"heavy_hitters {s}: token {tok} est {est} "
                           f"truth {exact.get(tok)}")
    return bad


def _op_quantiles(kind):
    def op(ctx):
        from sgp_sketch import queries

        with ctx.tracer.span("queries.n_tok_quantiles"):
            return queries.n_tok_quantiles(ctx.df, QS, kind=kind).collect()

    def check(ctx, rows) -> list[str]:
        bad = []
        for s, e in ctx.exact["sources"].items():
            vals = np.array(e["n_tok_sorted"], dtype=np.float64)
            got = {r["q"]: r["value"] for r in rows if r["source"] == s}
            if len(got) != len(QS):
                bad.append(f"{kind} {s}: {len(got)} quantiles")
                continue
            err = max(_rank_error(vals, q, got[q]) for q in QS)
            _worst(ctx, f"{kind}_rank_err", err)
            if err > RANK_BOUND:
                bad.append(f"{kind} {s}: rank err {err:.4f}")
        return bad
    return op, check


def op_membership(ctx):
    from sgp_sketch import queries

    probes = [(s, t) for s, e in ctx.exact["sources"].items()
              for t in e["present"] + e["absent"]]
    with ctx.tracer.span("queries.build_membership"):
        blobs = queries.build_membership(ctx.df)
    with ctx.tracer.span("queries.probe_membership"):
        return queries.probe_membership(ctx.spark, blobs, probes).collect()


def check_membership(ctx, rows) -> list[str]:
    bad = []
    for s, e in ctx.exact["sources"].items():
        hit = {r["token"]: r["maybe_present"] for r in rows
               if r["source"] == s}
        if len(hit) != len(e["present"]) + len(e["absent"]):
            bad.append(f"membership {s}: {len(hit)} probe rows")
            continue
        if not all(hit[t] for t in e["present"]):
            bad.append(f"membership {s}: false negative")
        _worst(ctx, "bloom_fpr",
               sum(hit[t] for t in e["absent"]) / len(e["absent"]))
    return bad


def op_mg_heavy_hitters(ctx):
    from sgp_sketch import queries

    with ctx.tracer.span("queries.mg_heavy_hitters"):
        return queries.mg_heavy_hitters(ctx.df, k=10,
                                        counters=1024).collect()


def check_mg_heavy_hitters(ctx, rows) -> list[str]:
    bad = []
    for s, e in ctx.exact["sources"].items():
        exact = dict(map(tuple, e["top"]))
        got = [r for r in rows if r["source"] == s]
        if len(got) != 10:
            bad.append(f"mg_heavy_hitters {s}: {len(got)} rows")
        for r in got:
            truth = exact.get(r["token"])
            if truth is None or not r["est_min"] <= truth <= r["est_max"]:
                bad.append(f"mg_heavy_hitters {s}: token {r['token']} "
                           f"[{r['est_min']}, {r['est_max']}] truth {truth}")
    return bad


def op_assign_shards(ctx):
    from sgp_sketch import routing

    with ctx.tracer.span("routing.assign_shards"):
        return routing.assign_shards(ctx.df, n_shards=N_SHARDS,
                                     algorithm="fennel").collect()


def check_assign_shards(ctx, rows) -> list[str]:
    ids = [r["doc_id"] for r in rows]
    bad = []
    if len(set(ids)) != len(ids) \
            or set(ids) != set(ctx.exact["per_doc_distinct"]):
        bad.append(f"assign_shards: {len(ids)} rows, {len(set(ids))} "
                   f"distinct docs, expected {ctx.exact['n_docs']}")
    load = np.bincount([r["shard"] for r in rows], minlength=N_SHARDS)
    if load.size != N_SHARDS:
        bad.append(f"assign_shards: shard ids up to {load.size - 1}")
    ctx.accuracy["max_load_ratio"] = float(load.max() / load.mean())
    return bad


_kll = _op_quantiles("kll")
_tdigest = _op_quantiles("tdigest")

# query_small's fixed rotation: (name, op, check). Every entry scans the table.
ROTATION = [
    ("distinct_tokens", op_distinct_tokens, check_distinct_tokens),
    ("heavy_hitters", op_heavy_hitters, check_heavy_hitters),
    ("n_tok_quantiles_kll", _kll[0], _kll[1]),
    ("n_tok_quantiles_tdigest", _tdigest[0], _tdigest[1]),
    ("membership", op_membership, check_membership),
    ("mg_heavy_hitters", op_mg_heavy_hitters, check_mg_heavy_hitters),
    ("assign_shards", op_assign_shards, check_assign_shards),
]


class Workload:
    """`entries` is one round of operations, [(name, op, check)]; a run
    warms up with `warm_rounds` rounds, then measures whole rounds."""

    def __init__(self, name, table, entries, warm_rounds):
        self.name = name
        self.table = table
        self.entries = entries
        self.warm_rounds = warm_rounds


PERKEY = ("distinct_per_key", op_perkey, check_perkey)

WORKLOADS = {w.name: w for w in [
    Workload("build_full", "big", [("build", op_build, check_build)], 4),
    Workload("query_small", "small", ROTATION, 1),
]}
