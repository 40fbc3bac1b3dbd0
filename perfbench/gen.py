"""Seeded synthetic inputs with the layout and value distributions of the
graft testdata tables the workloads read (documents, embeddings, orders).

Every table is a pure function of (seed, row counts): the same seed
writes byte-identical values. Parquet is written through DuckDB, so
timestamps are naive TIMESTAMP[us] exactly like the testdata files.
"""
import os

import duckdb
import numpy as np
import pandas as pd

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _rng(seed, table):
    # One independent stream per table, so resizing one table leaves
    # the others' values unchanged.
    return np.random.default_rng([seed, sum(map(ord, table))])


def documents(seed, n):
    rng = _rng(seed, "documents")
    lengths = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    offs = np.concatenate([[0], np.cumsum(lengths)])
    toks = [list(vocab[words[offs[i]:offs[i + 1]]]) for i in range(n)]
    # 5% near-duplicates, as in the testdata: a verbatim copy of another
    # document with the word "dup" appended. Two copies of one source
    # make the few exact duplicates.
    for d in rng.choice(n, n // 20, replace=False):
        toks[d] = toks[int(rng.integers(0, n))] + ["dup"]
    text = [" ".join(t) for t in toks]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def embeddings(seed, n, dim=64):
    rng = _rng(seed, "embeddings")
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(x.astype(np.float32)),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def _dates(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days.astype("timedelta64[D]")).astype("datetime64[us]")


def orders(seed, n):
    rng = _rng(seed, "orders")
    return pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, 15000, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _dates(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
    })


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for name, df in tables.items():
        con.register("t", df)
        cols = ", ".join(
            f"CAST({c} AS FLOAT[]) AS {c}" if c == "embedding" else c
            for c in df.columns)
        con.execute(f"COPY (SELECT {cols} FROM t) TO "
                    f"'{out_dir}/{name}.parquet' (FORMAT PARQUET)")
        con.unregister("t")
    con.close()


def generate(seed, rows, out_dir):
    """Write one parquet file per entry of `rows` (table -> row count)."""
    make = {
        "documents": lambda: documents(seed, rows["documents"]),
        "embeddings": lambda: embeddings(seed, rows["embeddings"]),
        "orders": lambda: orders(seed, rows["orders"]),
    }
    write({t: make[t]() for t in rows}, out_dir)
