"""Iterative graph ranking as DataFrame algebra — the third member of
the engine's certified-iterative family (connected components in
operators/dedup.py, Lloyd k-means in operators/similarity.py).

PageRank here is EXACT-DECIMAL: every per-edge contribution is one
deterministic double division rounded into a fixed-scale decimal, and
every aggregation is an exact decimal sum — so the ranks after a fixed
number of unrolled rounds are a pure function of the edge set,
bit-identical across engines and partitionings, hence certifiable
against an independent SQL formulation (no float-accumulator PageRank
can make that claim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import conf_scope

_RANK_DEC = "decimal(20,12)"

# Broadcast the per-round rank table when the node count is under this
# bound (r15, guide §3.1): the rank side is |nodes| rows of
# (string, decimal) ≈ 40-60 B/row, so 1M nodes is a ~50 MB broadcast —
# comfortably inside executor memory and far under the 8 GB broadcast
# cap.  Below the bound each round's contribution join becomes
# map-side (the |edges| list is never shuffled; only the ~|nodes|
# partial-aggregated dst sums cross the wire).  Above it the join
# falls back to the canonical shuffle-by-src PageRank step — the
# decision is data-sized (from the n_nodes count the algorithm already
# computes), not tuned to any core count.
PAGERANK_BROADCAST_NODES = 1_000_000


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round PageRank over a directed edge list (assumed free of
    dangling nodes — union reverse edges first if needed; the
    certified trade-graph query does exactly that, which also makes
    the walk an undirected co-trading rank).

    Per round: contribution(e) = CAST(rank(src)/out_deg(src) → DOUBLE
    division → DECIMAL(20,12)) — ONE deterministic rounding per edge —
    then new_rank(v) = base + d·Σ contributions, with the sum exact
    decimal and ``base = CAST((1-d)/N AS DECIMAL)`` a constant decimal
    built by the same double-division→decimal-cast chain on both
    engines.
    Rounds are UNROLLED into the plan; the rank table (|nodes| rows)
    is localCheckpoint-ed per round to truncate lineage, the CC /
    k-means posture.

    Scale: per round ONE shuffle of the edge list keyed by src (join
    ranks — or, below PAGERANK_BROADCAST_NODES, a broadcast of the
    rank table and no edge shuffle at all), one keyed agg on dst — the
    canonical distributed PageRank step; out-degrees compute once.
    Returns (node, rank) with rank as DOUBLE of the final decimal.

    Coalescing mode (r15): the whole iterative span runs — eagerly,
    via per-round eager checkpoints — under
    ``coalescePartitions.parallelismFirst=true`` (a ``conf_scope``,
    restored afterwards).  The rounds are CPU-bound per
    BYTE (one decimal division + rounding + cast per edge), exactly
    the workload class where size-based coalescing mis-sizes
    partitions: under the session's byte-target the edge passes froze
    onto 1–2 small-byte partitions and the query read 5.8–6.5s; with
    parallelism-first coalescing (Spark's own default mode) it reads
    3.2–4.0s.  The toggle is keyed to the operator's workload shape,
    not to a core count, and at real scale it simply restores Spark's
    default coalescing for these stages."""
    pf = {"spark.sql.adaptive.coalescePartitions.parallelismFirst": "true"}
    with conf_scope(edges.sparkSession, **pf):
        return _pagerank_body(edges, src, dst, damping, rounds)


def _pagerank_body(
    edges: DataFrame, src: str, dst: str, damping: float, rounds: int
) -> DataFrame:
    # Materialize the edge list ONCE: `e` feeds three distinct
    # consumers (nodes, deg, and the join side of `ed`), and without a
    # checkpoint each consumer re-runs the caller's whole edge
    # pipeline — for the trade graph that is the lineitem⋈orders
    # distinct, re-executed 3× (measured 18.8s → 8.6s at sf0.1).
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    # edges with degree attached — reused every round, materialize once.
    # (r15 measured-and-rejected: a conditional fan_out + re-checkpoint
    # of an EAGER ed — to counter size-based AQE coalescing freezing
    # the checkpoint at one small-byte partition — sped the isolated
    # 3-round stage 4.2–4.5s → 2.8–3.4s, but end-to-end through the
    # catalog query the two extra materialization jobs ate the win
    # (6.2–7.2s both ways, and the spread variant read WORSE on a full
    # bench leg).  The lazy single-checkpoint form stays; at real scale
    # a materialized edge list carries ≥ cores partitions anyway.)
    ed = (
        e.join(deg, "src")
        .select("src", "dst", "out_deg")
        .localCheckpoint(eager=False)
    )
    # base/init via the SAME double-division→decimal-cast chain the SQL
    # oracle uses (a Python round() here would apply banker's rounding
    # while SQL round() is half-away — a tie on the 12th digit would
    # silently diverge the engines)
    # NOTE: the oracle generator embeds repr(1.0 - damping) as an
    # explicit DOUBLE literal, so both engines divide the SAME double
    # (Python's 1.0-0.85 is 0.150000000000000002; DuckDB's exact
    # decimal 1.0-0.85 cast to double is a DIFFERENT neighbor)
    base = (F.lit(1.0 - damping) / F.lit(float(n_nodes))).cast(_RANK_DEC)
    init = (F.lit(1.0) / F.lit(float(n_nodes))).cast(_RANK_DEC)
    ranks = nodes.select("node", init.alias("rank"))
    small_ranks = n_nodes <= PAGERANK_BROADCAST_NODES
    for _ in range(rounds):
        rside = F.broadcast(ranks) if small_ranks else ranks
        contrib = (
            ed.join(rside, ed.src == rside["node"])
            .select(
                "dst",
                (F.col("rank").cast("double") / F.col("out_deg"))
                .cast(_RANK_DEC)
                .alias("c"),
            )
        )
        ranks = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    base
                    + (F.lit(damping) * F.sum("c").cast("double")).cast(_RANK_DEC)
                ).alias("rank")
            )
            # EAGER since r15: the rounds must execute inside the
            # operator's parallelism-first conf span (see docstring) —
            # a lazy cascade would materialize at the caller's first
            # action, after the conf is restored.
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("rank").cast("double").alias("rank"))
