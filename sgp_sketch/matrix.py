"""Matrix/spectral sketching over embedding columns: Frequent Directions
built through the same partial → tree-merge discipline as the frequency
sketches, so a 10^12-row embedding table reduces to one (ell x d) float
block per group without ever materializing a d x d Gram per partition in
the shuffle (blobs are <= ell rows by construction — `to_bytes` shrinks).

Spark shape: one mapInArrow scan (vector column flattened zero-copy from
Arrow's FixedSizeList/List values buffer into an (n, d) numpy view —
no per-row object allocation), per-partition FD states, then
`agg.tree_merge` rounds shuffling only the KB-sized blobs. The SVDs run
inside the scan tasks at (2*ell x d) cost each — compute proportional to
data read, state independent of row count.
"""

from __future__ import annotations

import numpy as np

from . import agg
from .kernels import registry


def _matrix_from_list_column(col, d: int):
    """Arrow List/LargeList/FixedSizeList<float> column → ((n_kept, d)
    float64 matrix, bool keep-mask of length n_rows). Rows with NULL or
    wrong-length vectors are dropped (they carry no usable direction);
    the mask lets callers filter row-aligned metadata (e.g. group codes)
    consistently."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_fixed_size_list(col.type):
        flat = col.values.to_numpy(zero_copy_only=False)
        m = flat.reshape(-1, col.type.list_size)
        keep = (np.asarray(col.is_valid()) if col.null_count
                else np.ones(m.shape[0], dtype=bool))
        m = m[keep]
    else:
        off = np.asarray(col.offsets)
        lens = off[1:] - off[:-1]
        keep = lens == d
        if col.null_count:
            keep &= np.asarray(col.is_valid())
        flat = col.values.to_numpy(zero_copy_only=False)[off[0]:off[-1]]
        starts = (off[:-1] - off[0])[keep]
        idx = starts[:, None] + np.arange(d)[None, :]
        m = flat[idx]
    if m.shape[1] != d:
        raise ValueError(f"vector dim {m.shape[1]} != configured d={d}")
    return np.ascontiguousarray(m, dtype=np.float64), keep


def fd_agg(df, vec_col: str = "embedding", d: int = 64, ell: int = 16,
           group_cols=(), fanin: int = 64):
    """Per-group Frequent Directions sketch of a vector column.

    → DataFrame(group_cols..., sketch_type, state, n_items, part_id=0),
    one blob row per group; `state` decodes via kernels.registry.
    """
    from pyspark import TaskContext
    from pyspark.sql import functions as F  # noqa: F401

    group_cols = list(group_cols)
    in_schema = df.schema
    group_fields = ", ".join(
        f"{c} {in_schema[c].dataType.simpleString()}" for c in group_cols)
    out_schema = ((group_fields + ", ") if group_fields else "") + \
        agg.PARTIAL_SCHEMA_TAIL

    def partial(batches):
        import pyarrow as pa

        states: dict[tuple, object] = {}
        for batch in batches:
            codes, mapping = agg._batch_columns(batch, group_cols)
            m, keep = _matrix_from_list_column(batch.column(vec_col), d)
            if m.shape[0] == 0:
                continue
            codes = codes[keep]  # align group codes with the kept rows
            for g in sorted(mapping):
                sel = m if len(mapping) == 1 else m[codes == g]
                if sel.shape[0] == 0:
                    continue
                gkey = mapping[g]
                st = states.get(gkey)
                if st is None:
                    st = registry.make("fd", ell=ell, d=d)
                    states[gkey] = st
                st.update(sel)
        if not states:
            return
        pid = TaskContext.get().partitionId()
        rows = [(*gkey, "fd", st.to_bytes(), st.n_rows, pid)
                for gkey, st in states.items()]
        yield agg._rows_batch(
            rows, in_schema, group_cols,
            {"sketch_type": pa.string(), "state": pa.binary(),
             "n_items": pa.int64(), "part_id": pa.int64()})

    n_parts = df.rdd.getNumPartitions()
    needed = group_cols + [vec_col]
    partials = df.select(*needed).mapInArrow(partial, out_schema)
    return agg.tree_merge(partials, out_schema, group_cols,
                          n_parts=n_parts, fanin=fanin)


def principal_spectrum(df, vec_col: str = "embedding", d: int = 64,
                       ell: int = 16, k: int = 5, group_cols=()):
    """Top-k spectral summary of an embedding table from the merged FD
    sketch: per rank i, the sketch singular value sigma_i(B) (a certified
    lower bound on the data's sigma_i(A), tight to within sqrt(shed)) plus
    the sketch's tracked error bound and row count — the 'how concentrated
    is this embedding space' diagnostic before clustering/SemDeDup runs.

    → DataFrame(group_cols..., rank int, sing_value double,
    gram_error_bound double, n_rows long), values rounded to 4 decimals
    (SVD is deterministic per input but not across BLAS builds; the
    oracle-exact twin for small inputs is gated in pytest, not DuckDB).
    """
    blobs = fd_agg(df, vec_col, d=d, ell=ell, group_cols=group_cols)
    return spectrum_from_blobs(blobs, k=k, group_cols=group_cols)


def spectrum_from_blobs(blobs, k: int = 5, group_cols=()):
    """Explode an fd_agg blob table into the per-rank spectral summary —
    the cheap half of `principal_spectrum`, exposed so callers that
    already materialized (or persisted/wrote) the blobs never rerun the
    corpus scan just to read singular values."""
    import pandas as pd

    group_cols = list(group_cols)
    in_schema = blobs.schema
    group_fields = ", ".join(
        f"{c} {in_schema[c].dataType.simpleString()}" for c in group_cols)
    out_schema = ((group_fields + ", ") if group_fields else "") + \
        "rank int, sing_value double, gram_error_bound double, n_rows long"

    def explode(it):
        for pdf in it:
            rows = []
            for _, r in pdf.iterrows():
                st = registry.from_bytes(bytes(r["state"]))
                for i, sv in enumerate(st.spectrum(k)):
                    rows.append(tuple(r[c] for c in group_cols)
                                + (i + 1, round(float(sv), 4),
                                   round(st.shed, 4), st.n_rows))
            yield pd.DataFrame(rows, columns=group_cols + [
                "rank", "sing_value", "gram_error_bound", "n_rows"])

    return blobs.mapInPandas(explode, out_schema)
