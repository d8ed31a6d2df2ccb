"""Seeded input tables and their exact answers, both cached per (seed, size).

The table rows come from `sgp_sketch.datagen.generate_pandas`, the same
chunked PCG64 generator `datagen.write_tokens_table` runs inside Spark (the
datagen docstring pins both paths to byte-identical rows). It is written here
with pyarrow, hive-partitioned by `source` with one file per source (the
layout `write_tokens_table` produces at these sizes), so the Spark session
under test never runs the generation and only ever sees the parquet.

Exact answers come from DuckDB over the same parquet, untimed.

`python3 -m perfbench.inputs <work dir> <seed> <n_docs>` prepares both and
prints the table path. The benchmark runs it as a child process, so that
generation and DuckDB leave nothing in the measured process's memory.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

import numpy as np

TOP_N = 200          # exact token counts kept per source (top by count)
PRESENT_PROBES = 64  # tokens per source known to be in the table
ABSENT_PROBES = 256  # tokens per source known NOT to be in the table
KEEP_TABLES = 24     # cached (seed, size) tables kept in the work dir


def table_dir(work: str, seed: int, n_docs: int) -> str:
    return os.path.join(work, "data", f"tokens_s{seed}_n{n_docs}")


def parquet_glob(path: str) -> str:
    return os.path.join(path, "source=*", "*.parquet")


def ensure_table(work: str, seed: int, n_docs: int) -> str:
    path = table_dir(work, seed, n_docs)
    if os.path.isdir(path):
        os.utime(path)
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sgp_sketch import datagen

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    pdf = datagen.generate_pandas(n_docs, seed=seed)
    schema = pa.schema([
        pa.field("doc_id", pa.string(), False),
        pa.field("tokens", pa.list_(pa.field("element", pa.int32(), False)),
                 False),
        pa.field("n_tok", pa.int32(), False)])
    for src, part in pdf.groupby("source", sort=True):
        d = os.path.join(tmp, f"source={src}")
        os.makedirs(d)
        tbl = pa.Table.from_pandas(part.drop(columns="source"), schema=schema,
                                   preserve_index=False)
        pq.write_table(tbl, os.path.join(d, "part-00000.parquet"))
    os.rename(tmp, path)
    _prune(os.path.dirname(path))
    return path


def _prune(data_dir: str) -> None:
    tables = sorted((p for p in glob.glob(os.path.join(data_dir, "tokens_*"))
                     if os.path.isdir(p) and not p.endswith(".tmp")),
                    key=os.path.getmtime)
    for old in tables[:-KEEP_TABLES]:
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(exact_path(old)):
            os.remove(exact_path(old))


def exact_path(path: str) -> str:
    return path + ".exact.json"


def load_exact(path: str) -> dict:
    with open(exact_path(path)) as f:
        return json.load(f)


def ensure_exact(path: str, seed: int) -> None:
    """Exact answers for one table: per-source distinct / totals / top
    tokens / sorted n_tok, the global distinct count, per-doc distinct
    counts and membership probes."""
    cache = exact_path(path)
    if os.path.exists(cache):
        return
    import duckdb

    from sgp_sketch import datagen

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TEMP TABLE docs AS SELECT * FROM read_parquet($1, "
            "hive_partitioning = 1)", [parquet_glob(path)])
        con.execute("CREATE TEMP TABLE toks AS SELECT source, "
                    "unnest(tokens) AS tok FROM docs")
        src = {}
        # n_tok is the token-array length, so its sum is the token count
        for s, nd, nt in con.execute(
                "SELECT source, count(*), sum(n_tok) FROM docs "
                "GROUP BY 1 ORDER BY 1").fetchall():
            src[s] = {"n_docs": int(nd), "n_tokens": int(nt)}
        for s, d in con.execute("SELECT source, count(DISTINCT tok) "
                                "FROM toks GROUP BY 1").fetchall():
            src[s]["distinct"] = int(d)
        for s, lst in con.execute("SELECT source, list(n_tok ORDER BY n_tok) "
                                  "FROM docs GROUP BY 1").fetchall():
            src[s]["n_tok_sorted"] = [int(v) for v in lst]
        for s in src:
            src[s]["top"] = []
            src[s]["present"] = []
        for s, tok, c in con.execute(
                "SELECT source, tok, c FROM (SELECT source, tok, count(*) c "
                "FROM toks GROUP BY 1, 2) QUALIFY row_number() OVER "
                "(PARTITION BY source ORDER BY c DESC, tok) <= ? "
                "ORDER BY source, c DESC, tok", [TOP_N]).fetchall():
            src[s]["top"].append([int(tok), int(c)])
        for s, tok in con.execute(
                "SELECT source, tok FROM (SELECT DISTINCT source, tok "
                "FROM toks) QUALIFY row_number() OVER (PARTITION BY source "
                "ORDER BY hash(tok, ?::BIGINT), tok) <= ? ORDER BY 1, 2",
                [seed, PRESENT_PROBES]).fetchall():
            src[s]["present"].append(int(tok))
        global_distinct = con.execute(
            "SELECT count(DISTINCT tok) FROM toks").fetchone()[0]
        per_doc = dict(con.execute(
            "SELECT doc_id, len(list_distinct(tokens)) FROM docs").fetchall())
    finally:
        con.close()
    rng = np.random.default_rng([seed, 0xAB5E])
    for s in sorted(src):
        # token ids are < VOCAB by construction, so these never occur
        src[s]["absent"] = (datagen.VOCAB + rng.choice(
            1 << 30, ABSENT_PROBES, replace=False)).tolist()
    exact = {"sources": src, "global_distinct": int(global_distinct),
             "n_docs": sum(v["n_docs"] for v in src.values()),
             "n_tokens": sum(v["n_tokens"] for v in src.values()),
             "per_doc_distinct": {k: int(v) for k, v in per_doc.items()}}
    with open(cache + ".tmp", "w") as f:
        json.dump(exact, f)
    os.replace(cache + ".tmp", cache)


if __name__ == "__main__":
    work, seed, n_docs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    table = ensure_table(work, seed, n_docs)
    ensure_exact(table, seed)
    print(table)
