"""In-memory spans for the traced run, and the per-layer metric table.

A span records its name, start, end, parent span and the id shared by
every span of one query (or one dashboard request).  Spans stay in
memory and are written out once, when the run ends.  The benchmark
opens spans only around its own calls into the engine: the query
(``query``), ``Query.fn`` (``build``), each ``load_table`` call and the
final ``collect()`` (``action``).
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext

# Per-layer metrics: name -> (unit, better, layer, what it should move).
# BENCHMARK.json lists the same names; the untraced run reports none.
LAYER_METRICS = {
    "plans.build_s": ("s", "lower", "plans",
                      "wall_s on nightly_etl and llm_dedup"),
    "sources.load_table_s": ("s", "lower", "sources",
                             "latency_p50_ms and queries_per_s on dashboard"),
    "sources.load_table_calls": ("count", "lower", "sources",
                                 "latency_p50_ms and queries_per_s on dashboard"),
    "spark.action_s": ("s", "lower", "spark",
                       "wall_s on llm_dedup, latency_p50_ms on dashboard"),
    "spark.analysis_ms": ("ms", "lower", "spark planner",
                          "latency_p50_ms on dashboard, wall_s on nightly_etl"),
    "spark.optimization_ms": ("ms", "lower", "spark planner",
                              "latency_p50_ms on dashboard, wall_s on nightly_etl"),
    "spark.planning_ms": ("ms", "lower", "spark planner",
                          "latency_p50_ms on dashboard, wall_s on nightly_etl"),
    "spark.codegen_compiles": ("count", "lower", "codegen",
                               "wall_s on nightly_etl and llm_dedup, then dashboard latency"),
    "spark.codegen_ms": ("ms", "lower", "codegen",
                         "wall_s on nightly_etl and llm_dedup, then dashboard latency"),
    "spark.jobs": ("count", "lower", "scheduler", "latency_p50_ms on dashboard"),
    "spark.stages": ("count", "lower", "scheduler", "latency_p50_ms on dashboard"),
    "spark.tasks": ("count", "lower", "scheduler", "latency_p50_ms on dashboard"),
    "spark.executor_run_s": ("s", "lower", "executor", "wall_s on llm_dedup"),
    "spark.executor_cpu_s": ("s", "lower", "executor", "wall_s on llm_dedup"),
    "spark.gc_s": ("s", "lower", "executor", "wall_s on llm_dedup"),
    "spark.shuffle_read_mb": ("MB", "lower", "executor", "wall_s on llm_dedup"),
    "spark.shuffle_write_mb": ("MB", "lower", "executor", "wall_s on llm_dedup"),
    "spark.spill_mb": ("MB", "lower", "executor", "wall_s on llm_dedup"),
    "spark.task_skew": ("ratio", "lower", "executor", "wall_s on llm_dedup"),
    "spark.busy_share": ("share", "higher", "executor", "wall_s on llm_dedup"),
    "functions.python_cpu_s": ("s", "lower", "functions", "wall_s on nightly_etl"),
    "functions.python_nodes": ("count", "lower", "functions", "wall_s on nightly_etl"),
    "streaming.batches": ("count", "lower", "streaming", "wall_s on nightly_etl"),
    "streaming.trigger_ms": ("ms", "lower", "streaming", "wall_s on nightly_etl"),
    "streaming.add_batch_ms": ("ms", "lower", "streaming", "wall_s on nightly_etl"),
    "streaming.query_planning_ms": ("ms", "lower", "streaming", "wall_s on nightly_etl"),
    "streaming.wal_commit_ms": ("ms", "lower", "streaming", "wall_s on nightly_etl"),
    "streaming.state_rows": ("count", "lower", "streaming", "wall_s on nightly_etl"),
    "streaming.state_mem_mb": ("MB", "lower", "streaming", "wall_s on nightly_etl"),
    "benchmeta.fixture_s": ("s", "lower", "benchmeta",
                            "wall_s on nightly_etl; shows work moved into setup_s"),
    "io.write_mb": ("MB", "lower", "io", "wall_s on nightly_etl; ~0 on dashboard"),
    "io.workdir_mb": ("MB", "lower", "io", "setup_s and wall_s on nightly_etl"),
    "memory.peak_rss_mb": ("MB", "lower", "driver JVM + Python workers",
                           "setup_s; too variable run to run to bound end to end"),
    "trace.wall_s": ("s", "lower", "trace",
                     "minus the untraced wall_s: the tracing overhead"),
    "trace.latency_p50_ms": ("ms", "lower", "trace",
                             "minus the untraced latency_p50_ms: the tracing overhead"),
    "trace.span_share": ("share", "higher", "trace",
                         "query spans over traced wall time; 1.0 = all time attributed"),
    "bench.error_share": ("share", "lower", "bench", "failed over attempted operations"),
}


class Tracer:
    """Collects spans on the one client thread; ``enabled=False`` makes
    every ``span`` a shared no-op context."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.trace_id = 0

    def span(self, name: str, **attrs):
        return self._span(name, attrs) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, attrs: dict):
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its children cover.
    Children of one span never overlap: they run on the same thread."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def layer_totals(spans: list[dict]) -> dict[str, float]:
    """Summed self seconds per span name."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + selfs[s["id"]]
    return out
