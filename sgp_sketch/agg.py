"""Spark aggregation layer: partial sketch states per partition, tree-wise
merge to one blob per group.

Execution shape (the partial+final split Spark applies to built-in
aggregates, made explicit for our binary states — SURVEY.md §2.4):

  read → [mapInArrow] one partial state per (partition × group × sketch)
         (map-side combine: the analog of the reference's per-partition
         counters,
         `/root/reference/src/main/java/ca/uwaterloo/cs/sgp/streaming/EdgeCutSGP.java:28-31`)
       → [applyInPandas rounds] tree merge over part_id buckets,
         O(log_fanin P) shuffle rounds of KB-sized blobs
       → one row per (group, sketch).

Why not groupBy(group).applyInPandas over raw rows: that shuffles ALL input
bytes to as many tasks as there are groups (8 sources ⇒ 8 tasks for 100 TB).
Partials shuffle only #partitions × #groups blobs — the only full-data pass
is the embarrassingly-parallel scan.

Grouping-cardinality tradeoff: the partial model shines for low-cardinality
group keys (sources, days). For high-cardinality keys the partial count is
#partitions × #groups; `sketch_agg_bykey` instead shuffles the raw rows once
on the key and runs the same scan, so each key's state is built whole
inside its partition and no merge round is needed.

All kernels run vectorized numpy over Arrow batches; no per-row Python in the
scan path (BASELINE.json input_hint).
"""

from __future__ import annotations

import math

import numpy as np

from .kernels import registry
from .kernels.hashing import hash64

PARTIAL_SCHEMA_TAIL = ("sketch_type string, state binary, n_items long, "
                       "part_id long")

# Kinds fed deduped (counts, hashes) per batch; every other kind takes the
# group's numeric values in row order.
_HASH_KINDS = frozenset({"hll", "cms", "bloom", "theta", "mg", "cs"})


def _unique_counts(flat: np.ndarray):
    """np.unique(return_counts) with a bincount fast path for dense bounded
    vocabularies (token ids): scatter-increment into a cache-resident count
    array beats a full O(n log n) sort on both CPU and — crucially for
    multi-core scaling — memory bandwidth."""
    if flat.size > 4096 and flat.dtype.kind in "iu":
        lo = int(flat.min())
        if lo >= 0:
            hi = int(flat.max())
            if hi < (1 << 22) and hi + 1 <= flat.size * 8:
                counts = np.bincount(flat, minlength=hi + 1)
                uniq = np.flatnonzero(counts)
                return uniq.astype(flat.dtype, copy=False), counts[uniq]
    return np.unique(flat, return_counts=True)


def _prep_tokens(flat: np.ndarray):
    """One group's batch prep for the hash-sketch kinds: one dedupe pass and
    one hash pass over the *unique* values, reused by every sketch built
    from the same column. Equivalent to per-item updates because HLL/Bloom
    are idempotent and CMS takes (hash, count) deltas."""
    uniq, counts = _unique_counts(flat)
    return uniq, counts, hash64(uniq.astype(np.uint64, copy=False))


def _merge_fn(group_cols):
    def merge(key, pdf):
        import pandas as pd

        blob = registry.merge_blobs(list(pdf["state"]))
        row = {c: pdf[c].iloc[0] for c in group_cols}
        row.update(sketch_type=pdf["sketch_type"].iloc[0], state=blob,
                   n_items=int(pdf["n_items"].sum()),
                   part_id=int(pdf["part_id"].iloc[0]))
        return pd.DataFrame([row])
    return merge


def tree_merge(partials, out_schema: str, group_cols=("source",),
               n_parts: int | None = None, fanin: int = 64, merge_fn=None):
    """Fanin-ary tree merge rounds over part_id buckets.

    O(log_fanin P) rounds; every round shuffles only blob rows. `n_parts`
    (the partial count upper bound = input partition count) lets us compute
    the round count driver-side without launching a counting job.

    `merge_fn(key, pdf) → one-row pdf` folds one bucket; the default merges
    the `state` blobs of one sketch_type, so it also buckets by sketch_type.
    """
    from pyspark.sql import functions as F

    group_cols = list(group_cols)
    keys = group_cols + (["sketch_type"] if merge_fn is None else [])
    merge_fn = merge_fn or _merge_fn(group_cols)
    df = partials
    if n_parts is None:
        n_parts = 4096
    rounds = max(1, math.ceil(math.log(max(n_parts, 2), fanin)))
    # intermediate rounds shrink the blob count by `fanin` each; the last
    # round always collapses to part_id=0, so the result is exactly one row
    # per group even if `n_parts` under-estimated the true partition count
    for _ in range(rounds - 1):
        df = df.withColumn("part_id", (F.col("part_id") / F.lit(fanin)).cast("long"))
        df = df.groupBy(*keys, "part_id").applyInPandas(merge_fn, out_schema)
    df = df.withColumn("part_id", F.lit(0).cast("long"))
    return df.groupBy(*keys, "part_id").applyInPandas(merge_fn, out_schema)


def sketch_agg(df, kind: str, value_col: str, group_cols=("source",),
               params: dict | None = None, fanin: int = 64):
    """End-to-end: partials → tree merge → one blob row per group, via the
    Arrow scan path (build_partials_multi) with a single spec."""
    merged = multi_sketch_agg(
        df, {kind: {"kind": kind, "value_col": value_col,
                    "params": params or {}}},
        group_cols, fanin=fanin)
    return merged.drop("sketch")


def sketch_agg_bykey(df, kind: str, value_col: str, key_cols=("key",),
                     params: dict | None = None,
                     num_partitions: int | None = None):
    """High-cardinality per-KEY sketch build — the other side of the
    grouping-cardinality tradeoff documented in the module docstring.

    The partial+tree-merge path (multi_sketch_agg) is right for
    low-cardinality group keys (sources, days): partial count =
    #partitions × #groups. For per-user / per-domain state tables with
    10^6–10^9 keys that product explodes, while each key's OWN data is
    tiny — so the cheaper plan is the one Spark's built-in aggregates use:
    ONE hash shuffle of the raw rows on the key, then build each key's
    sketch completely inside its shuffle partition. After
    `repartition(key)` every row of a key sits in exactly one partition,
    so the per-partition partial IS the final state — no merge rounds at
    all, and the output (key, blob) table is itself partitioned by key,
    ready for a co-located point-lookup join or a partitioned write.

    Output: key_cols…, sketch_type, state, n_items — one row per distinct
    key. Merge-freedom is load-bearing for exactness-below-k sketches
    (theta/KMV stores raw hashes while |set| < k, so per-key estimates of
    small sets are EXACT — `per_key_distinct` in `__spark_entry__` is
    oracle-adjudicated against COUNT(DISTINCT) on that basis).

    `num_partitions` defaults to spark.sql.shuffle.partitions; size it so
    (#keys × state bytes) / partitions fits the executor heap — sparse
    states for small sets are O(set) bytes, so the resident cost is about
    the partition's raw data, same as any built-in hash aggregate."""
    rep = (df.repartition(num_partitions, *key_cols) if num_partitions
           else df.repartition(*key_cols))
    # the Arrow scan path is also the faster one for many small groups
    # (local[4], theta by doc_id, warm: 20k keys 1.44 s vs 1.98 s and 60k
    # keys 4.05 s vs 5.25 s for the former pandas groupby accumulator)
    partials, _schema = build_partials_multi(
        rep, {kind: {"kind": kind, "value_col": value_col,
                     "params": params or {}}}, key_cols)
    return partials.drop("sketch", "part_id")


def _batch_columns(batch, group_cols):
    """RecordBatch → (group codes int64[n_rows], code→group-tuple dict).

    Dictionary-encodes each group column Arrow-side; multiple columns are
    combined by radix into one int64 code."""
    import pyarrow.compute as pc

    n = batch.num_rows
    if not group_cols:
        return np.zeros(n, dtype=np.int64), {0: ()}
    codes = np.zeros(n, dtype=np.int64)
    dicts = []
    for c in group_cols:
        enc = pc.dictionary_encode(batch.column(c))
        vals = enc.dictionary.to_pylist()
        indices = enc.indices
        if indices.null_count:  # null group value → its own dictionary slot
            indices = indices.fill_null(len(vals))
            vals = vals + [None]
        idx = indices.to_numpy(zero_copy_only=False).astype(np.int64)
        codes = codes * len(vals) + idx
        dicts.append(vals)
    mapping = {}
    for code in np.unique(codes):
        parts, rem = [], int(code)
        for vals in reversed(dicts):
            parts.append(vals[rem % len(vals)])
            rem //= len(vals)
        mapping[int(code)] = tuple(reversed(parts))
    return codes, mapping


def _flatten_list_column(col):
    """Arrow List/LargeList column → (flat values ndarray, lengths ndarray).
    Zero-copy on the values buffer — no per-row allocation.

    Null slots yield length 0 and contribute no values: lengths from the
    offsets are masked by the validity bitmap, because the Arrow spec
    permits non-degenerate offsets under null slots (Spark emits
    zero-length ones today, but relying on that would attribute garbage
    values to a null row)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = np.asarray(col.offsets)
    raw_lens = (off[1:] - off[:-1]).astype(np.int64)
    flat = col.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]
    if col.null_count:
        valid = np.asarray(col.is_valid())
        return flat[np.repeat(valid, raw_lens)], np.where(valid, raw_lens, 0)
    return flat, raw_lens


def _runs(sorted_codes: np.ndarray):
    """(code, lo, hi) for each run of equal values in a sorted code array."""
    if sorted_codes.size == 0:
        return []
    starts = np.flatnonzero(np.r_[True, sorted_codes[1:] != sorted_codes[:-1]])
    ends = np.r_[starts[1:], sorted_codes.size]
    return [(int(sorted_codes[lo]), lo, hi) for lo, hi in zip(starts, ends)]


def _split_by_group(values: np.ndarray, gids: np.ndarray):
    """[(group code, that group's values in row order)]. One stable argsort
    by code and contiguous slices, instead of a mask over the whole batch
    per group; stability hands each kernel exactly the sequence a direct
    build over the group's rows would see."""
    order = np.argsort(gids, kind="stable")
    vals = values[order]
    return [(g, vals[lo:hi]) for g, lo, hi in _runs(gids[order])]


def _column_values(col, codes, single: bool):
    """Arrow column (scalar or list) → (flat values, per-value group codes).
    Single-group batches (source-partitioned tables) return codes None and
    skip the per-token group-id expansion — half the memory traffic of the
    scan hot loop."""
    import pyarrow as pa

    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        flat, lens = _flatten_list_column(col)
        return flat, None if single else np.repeat(codes, lens)
    return col.to_numpy(zero_copy_only=False), None if single else codes


def _packed_token_stats(flat, gids):
    """Multi-group batch of ≤32-bit tokens: per-group (uniq, counts, hashes)
    from ONE sort of packed (group_code << 32 | token_bits) keys."""
    packed = (gids.astype(np.uint64) << np.uint64(32)) \
        | flat.astype(np.int32).view(np.uint32).astype(np.uint64)
    uniq, counts = np.unique(packed, return_counts=True)
    toks = (uniq & np.uint64(0xFFFFFFFF)).astype(np.uint32).view(np.int32)
    h = hash64(toks.astype(np.uint64, copy=False))
    return {g: (counts[lo:hi], h[lo:hi], int(counts[lo:hi].sum()),
                toks[lo:hi].astype(np.int64))
            for g, lo, hi in _runs((uniq >> np.uint64(32)).astype(np.int64))}


def _token_stats(col, codes, single: bool):
    """Arrow column → {group code: (counts, hashes, n_raw, tokens)} for the
    hash kinds: one dedupe and one hash pass per batch, shared by every hash
    sketch of the column. Groups without values get no entry."""
    flat, gids = _column_values(col, codes, single)
    if flat.dtype.kind == "f":
        # nullable integers arrive as float (+NaN) from Arrow: drop the
        # nulls, restore int64 (an astype would turn NaN into a garbage token)
        keep = ~np.isnan(flat)
        flat = flat[keep].astype(np.int64)
        gids = None if gids is None else gids[keep]
    if gids is None:
        groups = [(int(codes[0]), flat)] if flat.size else []
    elif flat.dtype.itemsize <= 4:
        return _packed_token_stats(flat, gids)
    else:
        groups = _split_by_group(flat, gids)
    out = {}
    for g, sel in groups:
        uniq, counts, h = _prep_tokens(sel)
        out[g] = (counts, h, int(sel.size), uniq.astype(np.int64))
    return out


def _numeric_values(col, codes, single: bool):
    """Arrow column → {group code: float64 values in row order} for the
    numeric kinds, nulls dropped. Groups without values get no entry."""
    flat, gids = _column_values(col, codes, single)
    vals = flat.astype(np.float64)
    keep = ~np.isnan(vals)
    vals = vals[keep]
    if gids is None:
        return {int(codes[0]): vals} if vals.size else {}
    return dict(_split_by_group(vals, gids[keep]))


def _ingest(st, kind: str, data) -> int:
    """Feed one group's prepped batch to its state; returns items added."""
    if kind not in _HASH_KINDS:
        st.update(data)
        return data.size
    counts, h, n_raw, toks = data
    if kind in ("cms", "cs"):
        st.update_hashes(h, counts=counts)
    elif kind == "mg":
        st.update(toks, counts)
    elif kind == "bloom":
        st.update_hashes(h, assume_unique=True, n_raw=n_raw)
    else:  # hll / theta: idempotent, deduped hash batch
        st.update_hashes(h, assume_unique=True)
    return n_raw


def _rows_batch(rows: list, in_schema, group_cols, tail: dict):
    """Row tuples (group values..., tail values...) → one Arrow RecordBatch.
    `tail` maps the remaining column names to pyarrow types. Group columns
    are pinned to their declared Spark types: inferred, an int32 group
    column would arrive as int64 and Spark's Arrow reader fails on the
    width mismatch only when a query groups by it."""
    import pyarrow as pa

    try:
        from pyspark.sql.pandas.types import to_arrow_type
        types = [to_arrow_type(in_schema[c].dataType) for c in group_cols]
    except Exception:
        types = [None] * len(group_cols)
    types += list(tail.values())
    return pa.RecordBatch.from_arrays(
        [pa.array(list(col), type=t) for col, t in zip(zip(*rows), types)],
        names=[*group_cols, *tail])


def build_partials_multi(df, specs: dict, group_cols=("source",)):
    """One scan, many sketches: per (partition × group × spec) partial state.

    `specs`: {name: {"kind": str, "value_col": str, "params": dict}}.
    Returns (DataFrame, out_schema) with columns group..., sketch (spec
    name), sketch_type, state, n_items, part_id. One mapInArrow pass reads
    each input row once no matter how many sketches are built — at 100 TB
    the scan dominates, so N sketches for the price of one. Token arrays
    stay in Arrow's flat values buffer (zero-copy into numpy: no per-row
    object allocation), and one packed-key sort per batch serves every hash
    sketch of a column across all groups. A (group × spec) state is created
    on its first non-empty input, so empty groups emit no row.
    """
    from pyspark import TaskContext

    group_cols = list(group_cols)
    in_schema = df.schema
    group_fields = ", ".join(
        f"{c} {in_schema[c].dataType.simpleString()}" for c in group_cols)
    out_schema = ((group_fields + ", ") if group_fields else "") + \
        "sketch string, " + PARTIAL_SCHEMA_TAIL
    value_cols = sorted({s["value_col"] for s in specs.values()})
    needed = group_cols + value_cols

    def acc(batches):
        import pyarrow as pa

        states: dict[tuple, object] = {}   # (gkey-tuple, name) → state
        counts: dict[tuple, int] = {}
        for batch in batches:
            codes, mapping = _batch_columns(batch, group_cols)
            single = len(mapping) == 1
            prepped = {}
            for name, spec in specs.items():
                vc, kind = spec["value_col"], spec["kind"]
                hashed = kind in _HASH_KINDS
                if (vc, hashed) not in prepped:
                    prep = _token_stats if hashed else _numeric_values
                    prepped[vc, hashed] = prep(batch.column(vc), codes, single)
                for g, data in prepped[vc, hashed].items():
                    key = (mapping[g], name)
                    if key not in states:
                        states[key] = registry.make(
                            kind, **spec.get("params") or {})
                        counts[key] = 0
                    counts[key] += _ingest(states[key], kind, data)

        if not states:
            return
        pid = TaskContext.get().partitionId()
        yield _rows_batch(
            [(*gkey, name, specs[name]["kind"], st.to_bytes(),
              counts[gkey, name], pid)
             for (gkey, name), st in states.items()],
            in_schema, group_cols,
            {"sketch": pa.string(), "sketch_type": pa.string(),
             "state": pa.binary(), "n_items": pa.int64(),
             "part_id": pa.int64()})

    return df.select(*needed).mapInArrow(acc, out_schema), out_schema


def multi_sketch_agg(df, specs: dict, group_cols=("source",), fanin: int = 64,
                     n_parts: int | None = None):
    """End-to-end single-scan multi-sketch build: partials → tree merge →
    one blob row per (group × spec)."""
    if n_parts is None:
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    partials, schema = build_partials_multi(df, specs, group_cols)
    merged = tree_merge(partials, schema, list(group_cols) + ["sketch"],
                        n_parts=n_parts, fanin=fanin)
    return merged.drop("part_id")


def merge_across(blobs_df, out_schema: str | None = None, group_cols=()):
    """Re-aggregate existing blobs to a coarser grouping (e.g. per-source →
    global). Associativity of the kernels is exactly what makes this legal —
    the same invariant the reference's `reduceByKey(_ ++ _)` relies on
    (`/root/reference/scripts/analytics/snap2adj.scala:16`)."""
    from pyspark.sql import functions as F

    group_cols = list(group_cols)
    if out_schema is None:
        in_schema = blobs_df.schema
        group_fields = ", ".join(
            f"{c} {in_schema[c].dataType.simpleString()}" for c in group_cols)
        out_schema = (group_fields + ", " if group_fields else "") + PARTIAL_SCHEMA_TAIL
    df = blobs_df
    if "part_id" not in df.columns:
        df = df.withColumn("part_id", F.lit(0))
    return df.groupBy(*group_cols, "sketch_type").applyInPandas(
        _merge_fn(group_cols), out_schema).drop("part_id")
