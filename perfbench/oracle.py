"""The DuckDB check: each query's materialized result against DuckDB
running that query's registered oracle SQL over the same tables.

A result matches when it has the oracle's columns (by name), the same
number of rows, and the same values. Values are compared as the strings
DuckDB renders for them, as rows sorted the same way on both sides, so
a result that only comes out in another row order still matches.

DuckDB's answers depend only on the input tables and the oracle text,
so they are cached under a key made from both; `fresh=True` recomputes
them.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def fingerprint(data_dir):
    """Hash of the bytes of every input table."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as f:
            h.update(t.encode())
            h.update(f.read())
    return h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    # never fetch an extension from the network for an oracle
    con.execute("SET autoinstall_known_extensions = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    return con


def normalized(df):
    """Columns sorted by name, every value as its string, rows sorted."""
    cols = sorted(df.columns)
    rows = df[cols].astype(str).itertuples(index=False, name=None)
    return cols, sorted(rows)


def compare(result_df, oracle_df):
    """None when the result matches the oracle, else what differs."""
    rc, rrows = normalized(result_df)
    oc, orows = normalized(oracle_df)
    if rc != oc:
        return f"columns {rc} != oracle {oc}"
    if len(rrows) != len(orows):
        return f"rows {len(rrows)} != oracle {len(orows)}"
    for i, (a, b) in enumerate(zip(rrows, orows)):
        if a != b:
            return f"row {i}: {a[:6]} != oracle {b[:6]}"
    return None


def oracle_answer(con, sql, key, cache_dir, fresh):
    """DuckDB's answer to `sql`, from the cache unless `fresh`."""
    path = os.path.join(cache_dir, key + ".pkl")
    if not fresh and os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    df.to_pickle(tmp)
    os.replace(tmp, path)
    return df


def check(data_dir, results_dir, oracles, queries, cache_dir, fresh=False):
    """Check every query in `queries`; returns {query: None or reason}."""
    con = connect(data_dir)
    fp = fingerprint(data_dir)
    verdicts = {}
    for q in queries:
        sql = oracles.get(q)
        if sql is None:
            verdicts[q] = "no oracle SQL registered"
            continue
        files = glob.glob(os.path.join(results_dir, q, "*.parquet"))
        if not files:
            verdicts[q] = "no materialized result"
            continue
        try:
            result = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            key = hashlib.sha256((fp + "\0" + sql).encode()).hexdigest()
            answer = oracle_answer(con, sql, key, cache_dir, fresh)
            verdicts[q] = compare(result, answer)
        except Exception as e:  # a failing oracle or unreadable result
            verdicts[q] = f"{type(e).__name__}: {e}"[:300]
    con.close()
    return verdicts
