"""Dump ``df.explain("formatted")`` for catalog queries to files.

Optimization-round tooling (r14): captures the physical plan of each
named query (default: every catalog query) into
``plans/r14/<query>_<tag>.txt`` so before/after plan diffs are
reviewable without running Spark.

Usage:
    python scripts/explain_dump.py --tag before
    python scripts/explain_dump.py --tag after --queries dedup_setsim_hybrid,embedding_ann_ivf
"""

from __future__ import annotations

import argparse
import os
import sys

os.environ.setdefault("SPARK_SUBMIT_OPTS", "-Dlog4j2.level=error")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", required=True, help="file suffix: before/after")
    ap.add_argument("--queries", default=None, help="comma list (default all)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None, help="output dir (default plans/r14)")
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = args.out or os.path.join(root, "plans", "r14")
    os.makedirs(out_dir, exist_ok=True)

    from real_estate_etl_dev_spark.planview import explain_formatted
    from real_estate_etl_dev_spark.plans.catalog import CATALOG
    from real_estate_etl_dev_spark.session import get_spark

    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")

    names = args.queries.split(",") if args.queries else list(CATALOG)
    failed = []
    for name in names:
        name = name.strip()
        if name not in CATALOG:
            print(f"SKIP unknown {name}", file=sys.stderr)
            continue
        try:
            plan = explain_formatted(CATALOG[name].fn(spark, args.sf_dir))
        except Exception as exc:  # noqa: BLE001 — isolate per-query faults
            print(f"FAIL {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
            failed.append(name)
            continue
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
