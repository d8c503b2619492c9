"""Oracle-differential verification — the driver's correctness gate,
runnable locally.

Runs ``entry(spark)`` as a smoke check, then every ``queries()`` entry
against its ``oracle_sql()`` DuckDB equivalent (row count + column set
+ order-insensitive value hash, floats rounded to 6 places — the same
compare the driver records in CORRECTNESS_r{N}.json).

Usage:
    python scripts/verify_all.py                 # sf0.01, engine session
    python scripts/verify_all.py --sf sf0.1      # bench scale
    python scripts/verify_all.py --vanilla       # bare SparkSession:
        no AQE/Arrow/UTC/shuffle confs — proves no query depends on
        the engine's session tuning (README "Verification")

Exit code 0 iff every oracle-backed query matches.

All scales are expected green with zero exceptions: the one formerly
documented sf0.1 divergence (``dedup_bucket_audit``'s SimHash cap
biting at the bench corpus) is now pinned by its scale-aware oracle
(VERDICT r09 item 2 — keyed on corpus row count, see the query
docstring in plans/llmdata.py).
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf) -> str:
    pdf = pdf[sorted(pdf.columns)]
    csv = pdf.sort_values(list(pdf.columns)).round(6).to_csv(index=False)
    return hashlib.md5(csv.encode()).hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.01", help="testdata scale dir name")
    ap.add_argument("--root", default="/root/testdata", help="testdata root")
    ap.add_argument(
        "--vanilla", action="store_true",
        help="use a bare SparkSession instead of the engine's tuned one",
    )
    ap.add_argument(
        "--only", default=None, metavar="A,B,...",
        help="verify only the named queries (comma-separated)",
    )
    args = ap.parse_args()
    sf_dir = os.path.join(args.root, args.sf)

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    if args.only is not None:
        # validated before the JVM starts: a typo must not filter the
        # run down to zero queries and report an empty FAILS list
        keep = [s.strip() for s in args.only.split(",") if s.strip()]
        unknown = [n for n in keep if n not in qs]
        if unknown:
            ap.error(f"unknown queries in --only: {', '.join(unknown)}")
        if not keep:
            ap.error("--only lists no query name")
        qs = {n: f for n, f in qs.items() if n in keep}

    import duckdb

    if args.vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[32]")
            .appName("verify-vanilla")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from real_estate_etl_dev_spark.session import get_spark

        spark = get_spark("verify-all")
    spark.sparkContext.setLogLevel("ERROR")

    print("ENTRY rows:", e.entry(spark).count())

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    fails: list[str] = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
            if name not in oracles:
                print(f"rows-only  {name} {len(got)} ({time.time()-t0:.1f}s)")
                continue
            want = con.execute(oracles[name]).df()
            ok = (
                len(got) == len(want)
                and sorted(got.columns) == sorted(want.columns)
                and value_hash(got) == value_hash(want)
            )
            print(
                f"{'OK  ' if ok else 'FAIL'} {name} "
                f"{len(got)}/{len(want)} ({time.time()-t0:.1f}s)"
            )
            if not ok:
                fails.append(name)
        except Exception as ex:  # noqa: BLE001
            print(f"ERR  {name} {type(ex).__name__}: {str(ex)[:160]}")
            fails.append(name)
    print("FAILS:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
