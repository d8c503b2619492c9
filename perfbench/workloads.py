"""The workloads: which catalog queries they run, in what order, and
how each operation is timed, traced and checked.

Every operation builds a catalog query with ``Query.fn`` and fetches
its rows with ``collect()``.  ``count()`` would let the optimizer prune
the projected columns (the extraction batteries' expressions would not
run), and the collected rows are what the correctness gate checks, so
no query runs twice.
"""

from __future__ import annotations

import random
import statistics
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

from . import probes

# Batch stages run in this order; the seed shuffles queries inside a stage.
# The lists are short on purpose: every run starts its own JVM (~10 s on
# four cores) and pays first-call planning and codegen per query, and the
# whole set of runs of all workloads must finish within an hour.  Each
# stage keeps the queries that carry its layer: a streaming trigger with a
# fixture that runs the SCD-1 merge in its micro-batch, a pandas UDF
# battery, the DQ rules, a versioned table write and the run report.  The
# batch ``merge_scd1`` is left out: it runs the same merge code as the
# streaming ingest and cost ~5 s a run.  The heavier queries get a stage
# each: whichever of two runs first pays their shared first-call cost,
# and that swap alone moved the median query latency by ~15%.
NIGHTLY_ETL = (
    ("ingest", ("streaming_merge_scd1",)),
    ("extract", ("lease_bedroom_cases",)),
    ("dq", ("dq_identify_issues",)),
    ("write", ("snapshot_time_travel",)),
    ("tail", ("dedup_exact_groups", "run_report_rows")),
)
LLM_DEDUP = (
    ("dedup", ("dedup_bucket_audit", "doc_containment_pairs")),
    ("embedding", ("embedding_kmeans",)),
    ("graph", ("trade_graph_pagerank", "product_profit_q9")),
)
DASHBOARD = (
    "monthly_order_counts", "event_type_counts", "groupwise_max_order_date",
    "filtered_error_count", "orders_keyset_page", "top1_order_by_price",
    "union_sources_counts", "run_report_rows", "revenue_grouping_sets",
    "order_status_pivot", "latest_order_per_customer",
    "customers_without_orders", "revenue_by_nation",
)
BATCH = {"nightly_etl": NIGHTLY_ETL, "llm_dedup": LLM_DEDUP}
WORKLOADS = ("nightly_etl", "llm_dedup", "dashboard")

# One cold pass fills the caches.  Later passes only move the JVM further
# along JIT compilation, which goes on for hundreds of requests; the
# dashboard's metrics are medians over refreshes, so the first, slower
# measured refreshes do not set them.
DASHBOARD_WARM_PASSES = 1
MIN_REQUESTS = 100  # 8 refreshes of the 13 panels


@dataclass
class Op:
    """One timed operation: a batch query or a dashboard request."""

    query: str
    seconds: float = 0.0
    columns: list = field(default_factory=list)
    rows: list | None = None
    error: str | None = None
    layers: dict = field(default_factory=dict)


def batch_order(workload: str, seed: int) -> list[str]:
    rng = random.Random(seed)
    order = []
    for _, queries in BATCH[workload]:
        stage = list(queries)
        rng.shuffle(stage)
        order += stage
    return order


def dashboard_blocks(seed: int):
    """Endless seeded request sequence: each block is one refresh of the
    whole dashboard, its panels in a fresh random order."""
    rng = random.Random(seed)
    while True:
        block = list(DASHBOARD)
        rng.shuffle(block)
        yield block


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * q // 100))
    return ordered[int(rank) - 1]


class Runner:
    """Runs operations against one session; with a tracer enabled it
    also opens spans and reads every layer counter around each one."""

    def __init__(self, spark, data_dir, catalog, tracer, proc_tree):
        self.spark = spark
        self.data_dir = data_dir
        self.catalog = catalog
        self.tracer = tracer
        self.traced = tracer.enabled
        self.proc = proc_tree
        if self.traced:
            self.probe = probes.SparkProbe(spark)
            self.streams = probes.StreamStats()
            spark.streams.addListener(self.streams)

    def run(self, name: str, keep_rows: bool = True) -> Op:
        from real_estate_etl_dev_spark.benchmeta import SETUP_SECONDS

        op = Op(name)
        q = self.catalog.get(name)
        if q is None:
            op.error = "missing from catalog"
            return op
        self.spark.sparkContext.setJobGroup(name, name)
        if self.traced:
            SETUP_SECONDS.clear()
            self.streams.reset()
            before = self._counters()
        self.tracer.trace_id += 1
        df = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("query", query=name):
                with self.tracer.span("build"):
                    df = q.fn(self.spark, self.data_dir)
                with self.tracer.span("action"):
                    rows = df.collect()
            op.seconds = time.perf_counter() - t0
            op.columns = df.columns
            op.rows = rows if keep_rows else None
        except Exception as exc:  # noqa: BLE001 — one failure must not end the run
            op.seconds = time.perf_counter() - t0
            op.error = f"{type(exc).__name__}: {exc}"[:300]
        if self.traced:
            op.layers = self._layers(df, before, SETUP_SECONDS)
        return op

    def _counters(self):
        self.probe.drain()
        return (self.probe.codegen(), self.proc.python_cpu_s(), self.proc.write_bytes())

    def _layers(self, df, before, setup_seconds) -> dict:
        (compiles0, cg_ms0), py0, wr0 = before
        (compiles1, cg_ms1), py1, wr1 = self._counters()
        jobs = self.probe.jobs_delta()
        out = {
            "codegen_compiles": compiles1 - compiles0,
            "codegen_ms": cg_ms1 - cg_ms0,
            "python_cpu_s": py1 - py0,
            "write_bytes": wr1 - wr0,
            "fixture_s": sum(setup_seconds.values()),
            "jobs": jobs,
            "streaming": {
                "batches": self.streams.batches,
                "durations": dict(self.streams.durations),
                "state_rows": sum(self.streams.state_rows.values()),
                "state_mem": sum(self.streams.state_mem.values()),
            },
        }
        if df is not None:
            try:
                out["planning"] = self.probe.planning_ms(df)
                out["python_nodes"] = self.probe.python_nodes(df)
            except Py4JError:  # a failed action leaves no executed plan
                pass
        return out


def run_batch(runner: Runner, workload: str, seed: int) -> tuple[list[Op], float]:
    ops = []
    t0 = time.perf_counter()
    for name in batch_order(workload, seed):
        ops.append(runner.run(name))
    return ops, time.perf_counter() - t0


def warm_dashboard(runner: Runner) -> None:
    for _ in range(DASHBOARD_WARM_PASSES):
        for name in DASHBOARD:
            runner.run(name, keep_rows=False)


def run_dashboard(runner: Runner, seed: int, seconds: float):
    """Closed loop, one client, no think time.  Stops at a block
    boundary once ``seconds`` have passed and MIN_REQUESTS were served."""
    ops, blocks = [], []
    t0 = time.perf_counter()
    for block in dashboard_blocks(seed):
        done = [runner.run(name) for name in block]
        ops += done
        blocks.append(sum(op.seconds for op in done))
        if time.perf_counter() - t0 >= seconds and len(ops) >= MIN_REQUESTS:
            break
    return ops, time.perf_counter() - t0, blocks


def end_to_end(ops: list[Op], wall: float, blocks: list[float] | None) -> dict:
    """Batch: the pass and its query latencies.  Dashboard: medians over
    the run's refreshes, so that a burst of load from other tenants of
    the host, or a slow first refresh, moves them less: the median
    refresh time, the median refresh's requests per second, and the
    median over refreshes of each refresh's p90 request latency.  The
    p50 pools every request."""
    lat_ms = [op.seconds * 1000.0 for op in ops]
    if not blocks:
        return {
            "wall_s": wall,
            "queries_per_s": len(ops) / wall,
            "latency_p50_ms": statistics.median(lat_ms),
            "latency_p90_ms": percentile(lat_ms, 90),
        }
    size = len(DASHBOARD)
    refreshes = [lat_ms[i:i + size] for i in range(0, len(lat_ms), size)]
    return {
        "wall_s": statistics.median(blocks),
        "queries_per_s": statistics.median(size / b for b in blocks),
        "latency_p50_ms": statistics.median(lat_ms),
        "latency_p90_ms": statistics.median(percentile(r, 90) for r in refreshes),
    }


def check(ops: list[Op], catalog, data_dir: str) -> int:
    """Compare every operation's rows with its oracle_sql() on DuckDB,
    canonicalised by tests/oracle_harness.py.  Returns failures."""
    import duckdb
    from tests.oracle_harness import canon_rows, duckdb_conn

    con = duckdb_conn(data_dir)
    expected: dict[str, tuple] = {}
    failed = 0
    try:
        for op in ops:
            oracle = catalog[op.query].oracle if op.error is None else None
            if op.error is None and oracle is None:
                op.error = "no oracle_sql() to check against"
            if op.error is None and op.query not in expected:
                try:
                    res = con.execute(oracle)
                except duckdb.Error as exc:
                    op.error = f"oracle_sql() failed: {exc}"[:300]
                else:
                    expected[op.query] = canon_rows(
                        [c[0] for c in res.description], res.fetchall())
            if op.error is None and canon_rows(
                    op.columns, [tuple(r) for r in op.rows]) != expected[op.query]:
                op.error = "result differs from oracle_sql()"
            op.rows = None
            failed += op.error is not None
    finally:
        con.close()
    return failed
