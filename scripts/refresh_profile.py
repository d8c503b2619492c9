"""Where a warm dashboard refresh spends its time, panel by panel.

    SPARK_GRAFT_CPUS=4 python scripts/refresh_profile.py SF_DIR [--refreshes N]

``SF_DIR`` holds the catalog's input tables (``orders.parquet`` ...),
e.g. the sf0.01 test data.  Two warm passes over the 13 panels fill the
schema and codegen caches and the prepared-plan memo (a panel's first
build infers its input schemas, so its second one stores the analyzed
plan; see ``plans.catalog.query``); then each of N refreshes builds
every panel (``Query.fn``, a memo hit) and collects it, as the
benchmark's dashboard does.
Each request is cut at its Spark jobs' submission and completion times
(the status store's, millisecond resolution):

* ``build``   — ``Query.fn`` (on a memo hit: the key check and a new
  DataFrame over the stored analyzed plan);
* ``pre``     — collect() called to the first job submitted (analysis,
  optimization, physical planning, AQE's initial plan);
* ``jobs``    — summed job durations (the jobs of one request run one
  after another);
* ``between`` — first submission to last completion, minus ``jobs``;
* ``post``    — last completion to collect() returning (rows to Python).

Prints the per-panel medians over the refreshes (ms) and the job count,
then the median refresh total.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ.setdefault("SPARK_SUBMIT_OPTS", "-Dlog4j2.level=error")

from perfbench.workloads import DASHBOARD  # noqa: E402
from real_estate_etl_dev_spark.plans.catalog import CATALOG  # noqa: E402
from real_estate_etl_dev_spark.session import get_spark  # noqa: E402

PARTS = ("build", "pre", "jobs", "between", "post")


def request(spark, sf_dir: str, name: str) -> dict:
    """One panel request, cut into PARTS (ms) plus its job count."""
    sc = spark.sparkContext._jsc.sc()
    store, bus = sc.statusStore(), sc.listenerBus()
    newest = store.jobsList(None)
    last = newest.apply(0).jobId() if newest.length() else -1
    t0 = time.time()
    df = CATALOG[name].fn(spark, sf_dir)
    t1 = time.time()
    df.collect()
    t2 = time.time()
    bus.waitUntilEmpty()
    spans = []
    jobs = store.jobsList(None)  # newest first
    for i in range(jobs.length()):
        job = jobs.apply(i)
        if job.jobId() <= last:
            break
        spans.append((job.submissionTime().get().getTime() / 1e3,
                      job.completionTime().get().getTime() / 1e3))
    out = {"build": t1 - t0, "pre": t2 - t1, "jobs": 0.0, "between": 0.0, "post": 0.0}
    if spans:
        first, end = min(s for s, _ in spans), max(e for _, e in spans)
        busy = sum(e - s for s, e in spans)
        out.update(pre=first - t1, jobs=busy, between=end - first - busy, post=t2 - end)
    out = {k: v * 1e3 for k, v in out.items()}
    out["n_jobs"] = len(spans)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--refreshes", type=int, default=5)
    args = ap.parse_args()

    spark = get_spark("refresh-profile")
    spark.sparkContext.setLogLevel("ERROR")
    for _ in range(2):
        for name in DASHBOARD:
            CATALOG[name].fn(spark, args.sf_dir).collect()
    runs = {name: [] for name in DASHBOARD}
    totals = []
    for _ in range(args.refreshes):
        t0 = time.perf_counter()
        for name in DASHBOARD:
            runs[name].append(request(spark, args.sf_dir, name))
        totals.append(time.perf_counter() - t0)

    print(f"{'panel':28s}" + "".join(f"{p:>9s}" for p in PARTS) + f"{'total':>9s}{'jobs':>6s}")
    sums = dict.fromkeys(PARTS + ("total", "n_jobs"), 0.0)
    for name, reqs in runs.items():
        med = {p: statistics.median(r[p] for r in reqs) for p in PARTS + ("n_jobs",)}
        med["total"] = sum(med[p] for p in PARTS)
        for k in sums:
            sums[k] += med[k]
        print(f"{name:28s}" + "".join(f"{med[p]:9.1f}" for p in PARTS + ("total",))
              + f"{med['n_jobs']:6.0f}")
    print(f"{'sum of medians':28s}" + "".join(f"{sums[p]:9.1f}" for p in PARTS + ("total",))
          + f"{sums['n_jobs']:6.0f}")
    print(f"median refresh: {statistics.median(totals) * 1e3:.0f} ms over {args.refreshes}")


if __name__ == "__main__":
    main()
