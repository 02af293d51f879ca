"""DuckDB checks of the answers a run wrote; each returns a list of failures.

- Board outputs are compared with SparkEntry.oracleSql run over the same
  tables, the way scripts/check.py compares them: columns sorted by name,
  rows sorted, exact values.
- Serve answers are recomputed from the published warehouse parquet.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _same(a, b):
    a, b = _canon(a), _canon(b)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    for c in a.columns:
        if {str(a[c].dtype), str(b[c].dtype)} == {"int64", "float64"}:
            return f"dtype int-vs-float in {c}"
    if a.equals(b):
        return None
    for c in a.columns:
        av = a[c].astype(object).where(pd.notna(a[c]), None)
        bv = b[c].astype(object).where(pd.notna(b[c]), None)
        if not av.equals(bv):
            return f"values differ in {c}"
    return None


def _connect():
    con = duckdb.connect()
    # the benchmark reads and writes only its checkout: never fetch
    con.execute("SET autoinstall_known_extensions = false")
    con.execute("SET threads = 4")
    return con


def check_board(out_dir, data_dir):
    con = _connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    fails = []
    for name, sql in oracle.items():
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            fails.append(f"batch_board {name}: no output")
            continue
        spark_df = con.execute(
            f"SELECT * FROM '{out_dir}/{name}/*.parquet'").fetchdf()
        why = _same(spark_df, con.execute(sql).fetchdf())
        if why:
            fails.append(f"batch_board {name}: {why}")
    return fails


def check_serve(wh, answers):
    con = _connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("dws_product_stats", "dws_keyword_stats", "dws_visitor_stats"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{wh}/{t}/*/*.parquet', hive_partitioning = true)")
    fails = []
    for kind, arg, got in answers:
        if kind == "gmv":
            v = con.execute(
                "SELECT CAST(coalesce(sum(order_amount), 0) AS DECIMAL(38,6)) "
                "FROM dws_product_stats WHERE strftime(stt, '%Y%m%d') = ?",
                [arg]).fetchone()[0]
            want = f"{v:.6f}"
        elif kind == "kwtop":
            rows = con.execute(
                "SELECT keyword, CAST(sum(ct) AS BIGINT) AS ct "
                "FROM dws_keyword_stats WHERE strftime(stt, '%Y%m%d') = ? "
                "GROUP BY keyword ORDER BY ct DESC, keyword LIMIT 10",
                [arg]).fetchall()
            want = ",".join(f"{k}={c}" for k, c in rows)
        else:
            rows = con.execute(
                "SELECT uv_ct, uj_ct FROM dws_visitor_stats "
                "WHERE strftime(stt, '%Y-%m-%d') = ?", [arg]).fetchall()
            want = ",".join(f"{u}/{j}" for u, j in rows)
        if got != want:
            fails.append(f"serve_read {kind}({arg}): served {got!r}, expected {want!r}")
    return fails
