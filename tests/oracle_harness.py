"""Local stand-in for the driver's DuckDB-oracle comparison.

Runs a catalog query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column names, and an
order-insensitive canonicalized value multiset (floats rounded).
"""

from __future__ import annotations

import datetime as _dt
import math
import os

import duckdb

from real_estate_etl_dev_spark.sources.readers import TABLES

FLOAT_DECIMALS = 6


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, FLOAT_DECIMALS)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="seconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (int, str)):
        return v
    return str(v)


def ordered_rows(columns, rows):
    """Row tuples with columns sorted by name and values canonicalized,
    in the order the rows came."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(_canon(r[i]) for i in order) for r in rows]


def canon_rows(columns, rows):
    """Sort columns by name (like the driver), canonicalize values,
    return sorted multiset of row tuples."""
    out = ordered_rows(columns, rows)
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return sorted(columns), out


def oracle_rows(sf_dir: str, sql: str):
    """The oracle's column names and rows, in the order DuckDB returns
    them."""
    con = duckdb_conn(sf_dir)
    try:
        res = con.execute(sql)
        return [c[0] for c in res.description], res.fetchall()
    finally:
        con.close()


def compare(spark, sf_dir: str, fn, sql: str):
    sdf = fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    d_cols, d_rows = oracle_rows(sf_dir, sql)

    s_colset, s_canon = canon_rows(s_cols, s_rows)
    d_colset, d_canon = canon_rows(d_cols, d_rows)

    problems = []
    if s_colset != d_colset:
        problems.append(f"columns differ: spark={s_colset} duckdb={d_colset}")
    if len(s_rows) != len(d_rows):
        problems.append(f"row counts differ: spark={len(s_rows)} duckdb={len(d_rows)}")
    if not problems and s_canon != d_canon:
        diff_a = [r for r in s_canon if r not in d_canon][:5]
        diff_b = [r for r in d_canon if r not in s_canon][:5]
        problems.append(
            f"values differ; spark-only sample={diff_a} duckdb-only sample={diff_b}"
        )
    return problems
