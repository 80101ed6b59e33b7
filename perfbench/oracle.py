"""DuckDB oracle for benchmark results.

Runs a query's `SparkEntry.oracleSql` in DuckDB over the same parquet tables
and compares it with the Spark result the runner dumped, the same way the
repository's differential check (`tools/check.py`) does: columns sorted by
name, row count, then every column rendered as text, row by row.

Both sides are reduced to a SHA-256 digest of that canonical form. Oracle
digests are looked up, in order, in `oracle_digests.json` (committed; keyed
by dataset and SQL text, so an edited SQL misses it), in the local cache
`.work/oracle/`, and only then computed in DuckDB. A query's oracle therefore
runs at most once per dataset and SQL text, whatever the seed.
"""
import glob
import hashlib
import json
import multiprocessing
import os
import pickle
import shutil
import sys
import time

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
_committed = None


class Unavailable(Exception):
    """The oracle could not produce a result within its time and space budget."""


def _connection(data_dir, work):
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    con.execute("SET threads=4")
    con.execute("SET memory_limit='3GB'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("SET max_temp_directory_size='2GB'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _evaluate(sql, data_dir, work, path):
    """Child process: run the oracle and store its canonical result."""
    try:
        value = canonical(_connection(data_dir, work).execute(sql).fetchdf())
    except duckdb.Error as e:
        sys.stderr.write(f"[perfbench] oracle failed: {type(e).__name__}: {str(e)[:200]}\n")
        os._exit(3)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(value, fh)
    os.replace(path + ".tmp", path)
    os._exit(0)


def canonical(df):
    """(sorted column names, row count, each column as a list of strings)."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    return list(df.columns), len(df), [df[c].astype(str).tolist() for c in df.columns]


def digest(canon):
    cols, n, values = canon
    h = hashlib.sha256(json.dumps([cols, n]).encode())
    for col in values:
        for v in col:
            h.update(v.encode("utf-8", "surrogatepass"))
            h.update(b"\0")
        h.update(b"\1")
    return h.hexdigest()


def key(dataset_key, sql):
    return hashlib.sha256(f"{dataset_key}\n{sql}".encode()).hexdigest()[:32]


def committed():
    global _committed
    if _committed is None:
        path = os.path.join(HERE, "oracle_digests.json")
        _committed = json.load(open(path)) if os.path.exists(path) else {}
    return _committed


def expected(sql, dataset_key, data_dir, work, timeout_s=60):
    """The oracle's canonical result, from the local cache or DuckDB; raises
    [[Unavailable]] when DuckDB fails or needs more than `timeout_s`. DuckDB
    runs in a child process, so an oracle over budget can always be stopped."""
    path = os.path.join(work, "oracle", f"{key(dataset_key, sql)}.pkl")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = time.time()
        child = multiprocessing.get_context("fork").Process(target=_evaluate, args=(sql, data_dir, work, path))
        child.start()
        child.join(timeout_s)
        if child.is_alive():
            child.kill()
            child.join()
            shutil.rmtree(os.path.join(work, "duckdb_tmp"), ignore_errors=True)
        if not os.path.exists(path):
            raise Unavailable(f"no result after {time.time() - t0:.0f}s (exit {child.exitcode})")
        if time.time() - t0 > 2:
            print(f"[perfbench] oracle took {time.time() - t0:.1f}s: {sql[:60]!r}", file=sys.stderr)
    with open(path, "rb") as fh:
        return pickle.load(fh)


def compare(result_dir, sql, dataset_key, data_dir, work):
    """None when the dumped result equals the oracle, else what differs."""
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    got = canonical(pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame())
    known = committed().get(key(dataset_key, sql))
    if known is not None and known == digest(got):
        return None
    if known is not None and not os.path.exists(os.path.join(work, "oracle", f"{key(dataset_key, sql)}.pkl")):
        return f"result digest differs from the committed oracle digest ({got[1]} rows)"
    try:
        want = expected(sql, dataset_key, data_dir, work)
    except Unavailable as e:
        return f"oracle unavailable: {e}"
    if got[0] != want[0]:
        return f"columns spark={got[0]} oracle={want[0]}"
    if got[1] != want[1]:
        return f"rows spark={got[1]} oracle={want[1]}"
    for name, a, b in zip(got[0], got[2], want[2]):
        if a != b:
            i = next(k for k in range(len(a)) if a[k] != b[k])
            return f"{name}[row {i}]: spark={a[i][:80]!r} oracle={b[i][:80]!r}"
    return None
