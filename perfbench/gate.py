"""Correctness gate of the benchmark.

Queries: each result (Spark rows of the set-up pass, one parquet per
query) is compared with its `SparkEntry.oracleSql` query run by DuckDB
over the same tables, with scripts/check.py's rules: same column names,
same row count, same dtype kind per column, values equal in EMITTED row
order (floats to 1e-9 relative). An emitted-order miss that is equal as
a set is still a failure, reported as ORDER_MISMATCH.

Stream: the TableLog table must hold exactly the distinct generated
events: no event lost, none duplicated, none altered.

Oracle results are cached under the checkout's .bench_build/, keyed by
the SQL text and the input files' names, sizes and mtimes.
"""
import glob
import hashlib
import math
import os
import pickle

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _connect(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _read(con, directory):
    files = sorted(glob.glob(os.path.join(directory, "*.parquet")))
    if not files:
        return None
    return con.sql(f"SELECT * FROM read_parquet({files!r})").df()


def compare(sdf, ddf):
    """Compare a Spark result with its oracle; returns "OK" or the first
    difference found."""
    scols, dcols = sorted(sdf.columns), sorted(ddf.columns)
    if scols != dcols:
        return f"SCHEMA_MISMATCH spark={scols} duck={dcols}"
    if len(sdf) != len(ddf):
        return f"ROWCOUNT_MISMATCH spark={len(sdf)} duck={len(ddf)}"
    bad = _compare_cols(sdf[scols], ddf[scols], scols)
    if bad is None:
        return "OK"
    if bad.startswith("DTYPE"):
        return bad
    ss = sdf[scols].sort_values(scols).reset_index(drop=True)
    ds = ddf[scols].sort_values(scols).reset_index(drop=True)
    if _compare_cols(ss, ds, scols) is None:
        return f"ORDER_MISMATCH (equal as sets) first={bad}"
    return bad


def _compare_cols(sdf, ddf, cols):
    for c in cols:
        a, b = sdf[c].reset_index(drop=True), ddf[c].reset_index(drop=True)
        if a.dtype.kind != b.dtype.kind:
            return f"DTYPE_MISMATCH col={c} spark={a.dtype} duck={b.dtype}"
        if a.dtype.kind == "f":
            af, bf = a.astype(float), b.astype(float)
            if not af.equals(bf):
                rel = ((af - bf).abs() / bf.abs().clip(lower=1.0)).max()
                if not (rel < 1e-9 or math.isnan(rel)):
                    return f"VALUE_MISMATCH col={c} max_rel={rel}"
        elif not a.astype(str).equals(b.astype(str)):
            i = (a.astype(str) != b.astype(str)).idxmax()
            return f"VALUE_MISMATCH col={c} row={i} spark={a[i]!r} duck={b[i]!r}"
    return None


def _oracle(con, sql, sf_dir, cache_dir):
    key = hashlib.sha256(sql.encode())
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            st = os.stat(path)
            key.update(f"{path}:{st.st_size}:{st.st_mtime_ns}".encode())
    path = os.path.join(cache_dir, key.hexdigest() + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    df = con.sql(sql).df()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(df, f)
    os.replace(path + ".tmp", path)
    return df


def check_queries(gate_dir, names, oracle_sql, sf_dir, cache_dir):
    """Verdict per query: "OK" or the reason it failed."""
    con = _connect(sf_dir)
    verdicts = {}
    for name in names:
        # "<query>~<n>": rows of a timed call, checked against the query's oracle
        sql = oracle_sql.get(name.split("~")[0])
        sdf = _read(con, os.path.join(gate_dir, name))
        if sql is None:
            verdicts[name] = "NO_ORACLE"
        elif sdf is None:
            verdicts[name] = "MISSING_SPARK_OUTPUT"
        else:
            try:
                verdicts[name] = compare(sdf, _oracle(con, sql, sf_dir, cache_dir))
            except duckdb.Error as e:
                verdicts[name] = f"ORACLE_ERROR: {e}"
    return verdicts


def check_stream(con, table_dir, expected_dir):
    """ "OK" when the table holds exactly the expected events."""
    t = f"read_parquet({sorted(glob.glob(os.path.join(table_dir, '*.parquet')))!r})"
    e = f"read_parquet({sorted(glob.glob(os.path.join(expected_dir, '*.parquet')))!r})"
    cols = "event_id, ts, user_id, event_type, value, props"
    n_table, n_ids = con.sql(f"SELECT count(*), count(DISTINCT event_id) FROM {t}").fetchone()
    n_expected = con.sql(f"SELECT count(*) FROM {e}").fetchone()[0]
    missing = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {e} EXCEPT SELECT {cols} FROM {t})").fetchone()[0]
    extra = con.sql(f"SELECT count(*) FROM (SELECT {cols} FROM {t} EXCEPT SELECT {cols} FROM {e})").fetchone()[0]
    problems = []
    if n_table != n_ids:
        problems.append(f"{n_table - n_ids} duplicate rows")
    if missing:
        problems.append(f"{missing} expected events missing")
    if extra:
        problems.append(f"{extra} rows not in the feed")
    if n_table != n_expected and not problems:
        problems.append(f"{n_table} rows for {n_expected} events")
    return "OK" if not problems else "MISMATCH: " + ", ".join(problems)


def check_streams(stream_gate_dir):
    """Verdict per measured part (untraced, traced)."""
    con = duckdb.connect()
    return {part: check_stream(con, os.path.join(stream_gate_dir, part, "table"),
                               os.path.join(stream_gate_dir, part, "expected"))
            for part in sorted(os.listdir(stream_gate_dir))}
