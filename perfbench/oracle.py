"""Output check against the DuckDB oracle.

Each checked query's Spark output (parquet written by the client's check
pass) is compared with the query's `oracleSql` run by DuckDB over the same
input tables, both canonicalised as in tools/check.py: columns sorted by
name, list values as tuples, rows sorted, values compared exactly. Queries
whose oracle is too slow to run per benchmark run (the quadratic near-dup
oracles) are compared by digest against `expected/<workload>.json`, which
`python3 perfbench/oracle.py expect <workload>` computes once with DuckDB.
"""
import glob
import hashlib
import json
import math
import os
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple)) or "ndarray" in type(v).__name__).any():
            df[c] = df[c].map(lambda v: tuple(v) if v is not None and not (
                isinstance(v, float) and math.isnan(v)) else None)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def frame_digest(df):
    return hashlib.sha256(canon(df).to_csv(index=False).encode()).hexdigest()


def _table_glob(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def connect(data_dir, threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{_table_glob(os.path.join(data_dir, t + '.parquet'))}')")
    return con


def spark_output(con, check_dir, name):
    files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
    if not files:
        raise RuntimeError("no Spark output")
    return con.execute(f"SELECT * FROM read_parquet({files!r})").df()


def compare(con, check_dir, name, sql=None, expected_digest=None):
    """None when the output matches, else a one-line reason."""
    try:
        got = spark_output(con, check_dir, name)
        if expected_digest is not None:
            return None if frame_digest(got) == expected_digest else "digest differs from DuckDB's"
        want = canon(con.execute(sql).df())
        got = canon(got)
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} vs {list(want.columns)}"
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}"
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        return None
    except AssertionError as e:
        return "values differ: " + " | ".join(str(e).split("\n")[:3])
    except Exception as e:
        return f"{type(e).__name__}: {str(e)[:300]}"


def expect(workload):
    """Compute a workload's expected digests with DuckDB (slow; run once
    after the generator or a digested query's oracle changes)."""
    import run
    w = run.WORKLOADS[workload]
    run.ensure_build()
    data = run.ensure_data(w["scale"])
    with open(run.oracle_sql_path()) as f:
        sqls = json.load(f)
    con = connect(data, threads=os.cpu_count())
    out = {"data_digest": run.data_digest(w["scale"]), "digests": {}}
    by_sql = {}  # d03 and d04 share one oracle
    for q in w["digest_queries"]:
        if sqls[q] not in by_sql:
            by_sql[sqls[q]] = frame_digest(con.execute(sqls[q]).df())
        out["digests"][q] = by_sql[sqls[q]]
        print(q, out["digests"][q], flush=True)
    with open(os.path.join(run.HERE, "expected", f"{workload}.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "expect":
        expect(sys.argv[2])
    else:
        sys.exit("usage: python3 perfbench/oracle.py expect <workload>")
