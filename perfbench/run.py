"""Benchmark of the engine on workloads drawn from the query catalog.

Usage (from the repository root):

    python3 perfbench/run.py --workload nightly_etl --seed 1 --seconds 30 --trace 0

Workloads (see ``perfbench/workloads.py`` for the query lists):

* ``nightly_etl`` -- one cold pass of the ingest -> extract -> DQ ->
  merge/write -> report job in a fresh JVM; a streaming trigger,
  fixtures, table writes and a pandas UDF land in its wall time.
* ``dashboard`` -- read-only serve path: one warm-up pass in set-up, then a
  closed loop with one client and no think time for at least
  ``--seconds`` and 100 requests; each request builds its query and
  collects the rows.
* ``llm_dedup`` -- one cold pass of near-duplicate, embedding and graph
  queries: executor CPU, shuffle and first-call codegen.  Runnable by
  hand; BENCHMARK.json leaves it out to keep the full set of runs
  inside its time budget.

Batch workloads time one pass and ignore ``--seconds``.  End-to-end
metrics: ``wall_s``, ``queries_per_s``, the median and p90 operation
latency and ``setup_s`` (process start until the session is up and
warm).  On a batch workload they describe the pass.  On the dashboard
they are medians over the run's refreshes (one refresh requests each
of the 13 panels once): the refresh time, the refresh's requests per
second and its p90 request latency; the p50 pools every request.

Each run generates its input tables from ``--seed`` into a private
directory (``.perfbench_work/``), which also holds ``TMPDIR``, Spark's
local dirs and the working directory, and is deleted at the end.  After
the timed part every result is checked against the query's
``oracle_sql()`` on DuckDB.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` opens spans around the benchmark's calls into the
engine, reads every layer counter and reports the per-layer metrics
(``perfbench/trace.py`` lists them with the layer each belongs to).
The last stdout line is one JSON object; details go to stderr and to
``.perfbench_out/<workload>-seed<N>-trace<T>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = 0.01  # TPC-H-style scale factor of the generated tables
MB = 1024 * 1024


def parse_args(argv=None):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Point every scratch location of this process, the JVM and the
    Python workers into ``work``, and size the session to this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Dlog4j2.level=error {jvm_tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.chdir(work)  # spark-warehouse/ lands here


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and its Python
    workers, and wait until every one of them has ended."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    from perfbench.probes import alive, descendants

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = descendants(proc.pid)[1:]
    try:
        spark.stop()
        gateway.shutdown()
    except (Py4JError, OSError):  # the JVM is already gone
        pass
    proc.stdin.close()  # the gateway server exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if alive(p)]
        time.sleep(0.05)
    for pid in workers:  # still there after 30 s: stop them
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def trace_layers(ops, tracer, wall: float, e2e: dict, cores: int) -> dict:
    """Per-layer metrics of a traced run: span self times plus the
    counters read around each operation, summed over the run."""
    from perfbench.trace import layer_totals

    spans = layer_totals(tracer.spans)
    layers = [op.layers for op in ops if op.layers]

    def total(*path) -> float:
        out = 0
        for value in layers:
            for key in path:
                value = value.get(key, {})
            out += value or 0
        return out

    task_ms = [t for ly in layers for t in ly["jobs"]["task_ms"]]
    query_s = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "query")
    return {
        "plans.build_s": spans.get("build", 0.0),
        "sources.load_table_s": spans.get("load_table", 0.0),
        "sources.load_table_calls": sum(s["name"] == "load_table" for s in tracer.spans),
        "spark.action_s": spans.get("action", 0.0),
        "spark.analysis_ms": total("planning", "analysis"),
        "spark.optimization_ms": total("planning", "optimization"),
        "spark.planning_ms": total("planning", "planning"),
        "spark.codegen_compiles": total("codegen_compiles"),
        "spark.codegen_ms": total("codegen_ms"),
        "spark.jobs": total("jobs", "jobs"),
        "spark.stages": total("jobs", "stages"),
        "spark.tasks": total("jobs", "tasks"),
        "spark.executor_run_s": total("jobs", "run_ms") / 1e3,
        "spark.executor_cpu_s": total("jobs", "cpu_ns") / 1e9,
        "spark.gc_s": total("jobs", "gc_ms") / 1e3,
        "spark.shuffle_read_mb": total("jobs", "shuffle_read") / MB,
        "spark.shuffle_write_mb": total("jobs", "shuffle_write") / MB,
        "spark.spill_mb": total("jobs", "spill") / MB,
        # task times are whole ms: a 1 ms floor keeps the ratio finite
        "spark.task_skew": max(task_ms, default=0) / max(statistics.median(task_ms or [0]), 1),
        "spark.busy_share": total("jobs", "run_ms") / 1e3 / (wall * cores),
        "functions.python_cpu_s": total("python_cpu_s"),
        "functions.python_nodes": total("python_nodes"),
        "streaming.batches": total("streaming", "batches"),
        "streaming.trigger_ms": total("streaming", "durations", "triggerExecution"),
        "streaming.add_batch_ms": total("streaming", "durations", "addBatch"),
        "streaming.query_planning_ms": total("streaming", "durations", "queryPlanning"),
        "streaming.wal_commit_ms": total("streaming", "durations", "walCommit"),
        "streaming.state_rows": total("streaming", "state_rows"),
        "streaming.state_mem_mb": total("streaming", "state_mem") / MB,
        "benchmeta.fixture_s": total("fixture_s"),
        "io.write_mb": total("write_bytes") / MB,
        "trace.wall_s": e2e["wall_s"],
        "trace.latency_p50_ms": e2e["latency_p50_ms"],
        "trace.span_share": query_s / wall,
    }


def per_query(ops) -> dict[str, float]:
    times: dict[str, list[float]] = {}
    for op in ops:
        times.setdefault(op.query, []).append(op.seconds)
    return {q: statistics.median(v) for q, v in times.items()}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    # a terminated run still stops Spark and deletes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # Fails here, before any work, when the engine is not next to us.
    from real_estate_etl_dev_spark.plans.catalog import CATALOG
    from real_estate_etl_dev_spark.session import get_spark
    import tests.oracle_harness  # noqa: F401 — the correctness gate needs it

    from perfbench import datagen, probes, workloads
    from perfbench.trace import LAYER_METRICS, Tracer

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    spark = None
    try:
        prepare_env(work)
        data_dir = os.path.join(work, "data")
        datagen.write_tables(data_dir, args.seed, SCALE)
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()  # the session is up once it ran a job
        from pyspark import SparkContext

        cores = spark.sparkContext.defaultParallelism
        tree = probes.ProcTree(SparkContext._gateway.proc.pid)
        tracer = Tracer(enabled=bool(args.trace))
        if args.trace:
            from real_estate_etl_dev_spark.sources import readers

            wrap_load_table(readers, tracer)
        runner = workloads.Runner(spark, data_dir, CATALOG, tracer, tree)
        blocks = None
        if args.workload == "dashboard":
            workloads.warm_dashboard(runner)
            tracer.spans.clear()
        setup_s = probes.process_age_s()

        steal0, load0 = probes.cpu_stat(), os.getloadavg()[0]
        if args.workload == "dashboard":
            ops, wall, blocks = workloads.run_dashboard(runner, args.seed, args.seconds)
        else:
            ops, wall = workloads.run_batch(runner, args.workload, args.seed)
        host = probes.load_stamp(steal0, load0)
        peak_rss = tree.peak_rss_mb()
        e2e = workloads.end_to_end(ops, wall, blocks)
        layers = (
            trace_layers(ops, tracer, wall, e2e, cores)
            if args.trace else None
        )
        failed = workloads.check(ops, CATALOG, data_dir)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            os.chdir(ROOT)
            workdir_bytes = probes.dir_bytes(work)
            shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = dict(layers)
        metrics["io.workdir_mb"] = workdir_bytes / MB
        metrics["bench.error_share"] = failed / len(ops)
        metrics["memory.peak_rss_mb"] = peak_rss
        metrics = {k: {"value": metrics[k], "unit": LAYER_METRICS[k][0]} for k in LAYER_METRICS}
    else:
        e2e["setup_s"] = setup_s
        units = {"wall_s": "s", "queries_per_s": "1/s", "latency_p50_ms": "ms",
                 "latency_p90_ms": "ms", "setup_s": "s"}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}

    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "scale": SCALE, "host": host, "peak_rss_mb": peak_rss,
        "workdir_bytes": workdir_bytes, "error_share": failed / len(ops),
        "errors": {op.query: op.error for op in ops if op.error},
        "q": per_query(ops), "metrics": metrics,
        "ops": [[op.query, op.seconds] for op in ops], "refresh_s": blocks,
    }
    if args.trace:
        detail["layers_by_op"] = [{"query": op.query, "seconds": op.seconds, **op.layers}
                                  for op in ops]
        detail["spans"] = tracer.spans
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(detail, f, default=str)

    for q, s in sorted(detail["q"].items(), key=lambda kv: -kv[1]):
        print(f"{s:9.3f}s  q.{q}", file=sys.stderr)
    for op in ops:
        if op.error:
            print(f"FAILED {op.query}: {op.error}", file=sys.stderr)
    print(f"host loadavg {host['loadavg_start']:.2f}->{host['loadavg_end']:.2f} "
          f"steal {host['steal_pct']:.2f}%  workdir {workdir_bytes / MB:.1f} MB",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def wrap_load_table(readers, tracer) -> None:
    """Time every load_table call: rebind it in each engine module that
    imported it by name, and in ``readers`` for call-time imports."""
    original = readers.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("load_table", table=name):
            return original(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("real_estate_etl_dev_spark")
                and getattr(mod, "load_table", None) is original):
            mod.load_table = load_table


if __name__ == "__main__":
    sys.exit(main())
