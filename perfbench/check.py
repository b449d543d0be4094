"""Output checks, run after the timed region.

Catalog rows are compared with their DuckDB oracle SQL on the same
generated parquet (columns sorted by name, rows sorted, floats rounded
to 6 places, then hashed). The ETL sink is checked against the counts
the generator planted: fact rows per date equal the customers, no
duplicate keys after the re-run, and DQ issues per (column, category)
equal the planted defects.
"""
import hashlib
import json
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == "float64":
            df[c] = df[c].round(6)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df.astype(str)


def _hash(df):
    return hashlib.md5(
        df.to_csv(index=False, float_format="%.6f").encode()).hexdigest()


def catalog(data_dir, check_dir, names, threads):
    """Return {name: problem or ""}."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    oracle = json.loads((Path(check_dir) / "oracle_sql.json").read_text())
    problems = {}
    for name in names:
        try:
            got = _canon(pd.read_parquet(Path(check_dir) / name))
            want = _canon(con.execute(oracle[name]).df())
            if list(got.columns) != list(want.columns):
                problems[name] = f"columns {list(got.columns)} != " \
                                 f"{list(want.columns)}"
            elif len(got) != len(want):
                problems[name] = f"rows {len(got)} != {len(want)}"
            elif _hash(got) != _hash(want):
                problems[name] = "values differ from the oracle"
            else:
                problems[name] = ""
        except Exception as e:  # a missing dump or oracle is a failure
            problems[name] = f"{type(e).__name__}: {e}"[:200]
    return problems


def etl(out_dir, expected):
    """Return (list of problems, committed fact rows, stored bytes)."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    problems = []

    def table(name):
        return (f"read_parquet('{out_dir}/{name}/*/*.parquet', "
                f"hive_partitioning = true)")
    per_date = dict(con.execute(
        f"SELECT CAST(report_date AS VARCHAR), COUNT(*) "
        f"FROM {table('fact_customer')} GROUP BY 1").fetchall())
    for d in expected["dates"]:
        if per_date.get(d, 0) != expected["customers"]:
            problems.append(f"fact_customer {d}: {per_date.get(d, 0)} rows, "
                            f"expected {expected['customers']}")
    dups = con.execute(
        f"SELECT COUNT(*) - COUNT(DISTINCT (report_date, customer_name)) "
        f"FROM {table('fact_customer')}").fetchone()[0]
    if dups:
        problems.append(f"fact_customer: {dups} duplicate keys")
    dq = {(str(d), f"{c}/{k}"): n for d, c, k, n in con.execute(
        f"SELECT CAST(report_date AS VARCHAR), column_name, category, "
        f"COUNT(*) FROM {table('fact_customer_dq')} GROUP BY 1, 2, 3"
    ).fetchall()}
    for d in expected["dates"]:
        for key, n in expected["dq_per_date"].items():
            if dq.get((d, key), 0) != n:
                problems.append(f"fact_customer_dq {d} {key}: "
                                f"{dq.get((d, key), 0)} issues, expected {n}")
    extra = {k for k in dq if k[1] not in expected["dq_per_date"]}
    if extra:
        problems.append(f"fact_customer_dq: unexpected issues {sorted(extra)}")
    stored = sum(p.stat().st_size for t in ("fact_customer", "fact_customer_dq")
                 for p in Path(out_dir, t).glob("*/*.parquet"))
    return problems, sum(per_date.values()), stored
