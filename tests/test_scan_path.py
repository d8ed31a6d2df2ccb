"""The shared Arrow scan path (agg.build_partials_multi): per-group splits
of interleaved batches, empty groups, and truncated-blob rejection."""

import struct

import numpy as np
import pytest

from sgp_sketch import agg
from sgp_sketch.kernels import registry
from sgp_sketch.kernels.hashing import hash64

# header struct of every kernel's blob, as its from_bytes unpacks it
HEADERS = {
    "hll": "<2sBBBBI", "cms": "<2sBBBIQQ", "bloom": "<2sBBBIQQ",
    "kll": "<2sBBIQQddB", "tdigest": "<2sBBdQddI", "theta": "<2sBBIQI",
    "mg": "<2sBBIQQQ", "fd": "<2sBBIIQdQ", "cs": "<2sBBBIQQ",
    "dd": "<2sBBdQQII", "moments": "<2sBBQB",
}


def _filled_blob(kind: str) -> bytes:
    rng = np.random.default_rng(5)
    if kind == "fd":
        return registry.make("fd", d=4).update(
            rng.normal(size=(40, 4))).to_bytes()
    st = registry.make(kind)
    if kind in agg._HASH_KINDS and kind != "mg":
        st.update_hashes(rng.integers(0, 1 << 63, 3000).astype(np.uint64))
    else:
        st.update(rng.integers(1, 1000, 3000))
    return st.to_bytes()


def _cuts(kind):
    blob = _filled_blob(kind)
    header = struct.calcsize(HEADERS[kind])
    return [(kind, blob, cut) for cut in
            sorted({0, 3, header - 1, len(blob) // 2, len(blob) - 1})]


@pytest.mark.parametrize(
    "kind,blob,cut",
    [c for kind in sorted(registry._KINDS) for c in _cuts(kind)],
    ids=lambda v: v if isinstance(v, (str, int)) else "")
def test_truncated_blob_raises_value_error(kind, blob, cut):
    """Any truncation — inside the common 4-byte prefix, inside the kernel's
    own header, or inside its payload — is a ValueError, never a leaked
    struct.error or a silently short state."""
    assert registry.from_bytes(blob).to_bytes() == blob
    with pytest.raises(ValueError):
        registry.from_bytes(blob[:cut])


def test_interleaved_groups_match_direct_builds(spark):
    """One batch whose groups interleave row by row: every group's state
    is byte-equal to a direct kernel build fed that group's values in row
    order — the numeric kinds over a nullable scalar column, theta over
    array<bigint> tokens (wider than 32 bits: the split-by-group path)."""
    rng = np.random.default_rng(11)
    n, groups = 6000, ("a", "b", "c")
    vals = [None if i % 17 == 0 else float(v)
            for i, v in enumerate(rng.normal(100.0, 30.0, n).round(3))]
    toks = [[int(t) for t in rng.integers(-(1 << 40), 1 << 40,
                                          int(rng.integers(0, 6)))]
            for _ in range(n)]
    rows = [(groups[i % 3], vals[i], toks[i]) for i in range(n)]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "g string, v double, tokens array<bigint>")
    specs = {k: {"kind": k, "value_col": "v"} for k in ("kll", "tdigest", "dd")}
    specs["theta"] = {"kind": "theta", "value_col": "tokens"}
    partials, _ = agg.build_partials_multi(df, specs, ("g",))
    got = {(r["g"], r["sketch"]): (bytes(r["state"]), r["n_items"])
           for r in partials.collect()}
    assert len(got) == len(groups) * len(specs)
    for gi, g in enumerate(groups):
        gvals = np.array([v for v in vals[gi::3] if v is not None])
        gtoks = np.unique(np.array([t for row in toks[gi::3] for t in row],
                                   dtype=np.int64))
        for kind in ("kll", "tdigest", "dd"):
            want = registry.make(kind).update(gvals).to_bytes()
            assert got[g, kind] == (want, gvals.size), (g, kind)
        want = registry.make("theta").update_hashes(
            hash64(gtoks.view(np.uint64)), assume_unique=True).to_bytes()
        assert got[g, "theta"][0] == want, g

    # the split itself keeps each group's rows in order
    import pyarrow as pa

    batch = pa.RecordBatch.from_pylist(
        [{"g": g, "v": v} for g, v, _ in rows[:999]])
    codes, mapping = agg._batch_columns(batch, ["g"])
    split = agg._numeric_values(batch.column("v"), codes, False)
    for code, got_vals in split.items():
        gi = groups.index(mapping[code][0])
        want_vals = [v for v in vals[gi:999:3] if v is not None]
        assert got_vals.tolist() == want_vals


@pytest.mark.parametrize("other_source", [False, True])
def test_empty_group_emits_no_row_however_batched(spark, other_source):
    """A source whose only doc has an empty token array gets no sketch row,
    whether it is alone in its Arrow batch or shares it with another
    source — on both the partial+merge path and the per-key path."""
    rows = [("empty", [])] + ([("full", [1, 2, 2])] if other_source else [])
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                               "source string, tokens array<int>")
    specs = {k: {"kind": k, "value_col": "tokens"} for k in ("hll", "theta")}
    merged = agg.multi_sketch_agg(df, specs).collect()
    bykey = agg.sketch_agg_bykey(df, "theta", "tokens", ("source",)).collect()
    want = {"full"} if other_source else set()
    assert {r["source"] for r in merged} == want
    assert {r["source"] for r in bykey} == want
    assert all(r["n_items"] == 3 for r in merged + bykey)
