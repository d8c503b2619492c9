"""Plan introspection — the one place that reads ``queryExecution()``.

Guards and plan tests compare Catalyst node CLASS names, never rendered
plan text (a column named ``JoinKey`` is not a join) and never
``nodeName()`` (``FileSourceScanExec``'s is ``"Scan parquet "``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

PHASES = {
    "logical": "logical",
    "analyzed": "analyzed",
    "optimized": "optimizedPlan",
    "executed": "executedPlan",
}

# physical exchange operators: a shuffle, a broadcast, or a reuse of one
EXCHANGES = frozenset({"ShuffleExchangeExec", "BroadcastExchangeExec", "ReusedExchangeExec"})


def seq(jseq) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [jseq.apply(i) for i in range(jseq.length())]


def key_names(exprs) -> list[str]:
    """Column names of a Scala ``Seq`` of keys (SQL for a computed key)."""
    return [e.name() if node_class(e) == "AttributeReference" else e.sql() for e in seq(exprs)]


def node_class(node) -> str:
    """Simple JVM class name of a plan node, e.g. ``"SortMergeJoinExec"``."""
    return node.getClass().getSimpleName()


def plan_root(df: DataFrame, phase: str = "executed"):
    """The JVM root plan node of ``df`` at ``phase`` (a ``PHASES`` key)."""
    if phase not in PHASES:
        raise ValueError(f"unknown plan phase {phase!r}; expected one of {list(PHASES)}")
    return getattr(df._jdf.queryExecution(), PHASES[phase])()


def subplans(plan) -> list:
    """``plan`` and the root of every subquery plan below it, at any
    depth (``QueryPlan.subqueriesAll``), without walking the tree."""
    return [plan, *seq(plan.subqueriesAll())]


def leaves(plan) -> list:
    """The childless nodes of ``plan``'s tree, subqueries not entered
    (``TreeNode.collectLeaves``)."""
    return seq(plan.collectLeaves())


def plan_nodes(df: DataFrame, phase: str = "executed") -> list:
    """Pre-order JVM plan nodes of ``df`` at ``phase`` (a ``PHASES`` key).

    The walk enters ``AdaptiveSparkPlanExec.executedPlan()`` (initial
    plan before the first action, final plan after),
    ``*QueryStageExec.plan()``, else ``innerChildren()`` (subqueries)
    then ``children()``, as ``explain`` prints them.  Nothing executes."""
    out, todo = [], [plan_root(df, phase)]
    while todo:
        node = todo.pop()
        out.append(node)
        cls = node_class(node)
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids = seq(node.innerChildren()) + seq(node.children())
        todo.extend(reversed(kids))
    return out


def node_classes(df: DataFrame, phase: str = "executed") -> list[str]:
    """:func:`plan_nodes` as class names, same order."""
    return [node_class(n) for n in plan_nodes(df, phase)]


def expression_classes(df: DataFrame, phase: str = "executed") -> list[str]:
    """Class names of every expression node, at any depth, of the
    :func:`plan_nodes` of ``df`` at ``phase``: node by node, each
    expression tree in pre-order."""
    out = []
    for node in plan_nodes(df, phase):
        todo = list(reversed(seq(node.expressions())))
        while todo:
            expr = todo.pop()
            out.append(node_class(expr))
            todo.extend(reversed(seq(expr.children())))
    return out


def file_roots(node) -> list[str] | None:
    """Root paths (URI path part, e.g. ``/data/orders.parquet``) of a
    logical ``LogicalRelation`` over files; ``None`` for any other node."""
    if node_class(node) != "LogicalRelation":
        return None
    relation = node.relation()
    if node_class(relation) != "HadoopFsRelation":
        return None
    return [p.toUri().getPath() for p in seq(relation.location().rootPaths())]


def _file_scans(df: DataFrame) -> list:
    return [n for n in plan_nodes(df) if node_class(n) == "FileSourceScanExec"]


def scan_metadata(df: DataFrame) -> list[dict[str, str]]:
    """``metadata()`` (``PushedFilters``, ``ReadSchema``…, unabbreviated)
    of every ``FileSourceScanExec`` in the executed plan, walk order."""
    conv = df._sc._jvm.scala.jdk.javaapi.CollectionConverters
    return [dict(conv.asJava(n.metadata())) for n in _file_scans(df)]


def partition_filter_columns(df: DataFrame) -> set[str]:
    """Columns referenced by the file scans' ``partitionFilters`` — the
    predicates that prune partition directories at planning time."""
    return {
        col
        for n in _file_scans(df)
        for f in seq(n.partitionFilters())
        for col in key_names(f.references().toSeq())
    }


def explain_formatted(df: DataFrame) -> str:
    """The ``explain("formatted")`` text, for plan dumps and for test
    assertions on expression arguments with no simpler accessor.  Never
    branch engine logic on it."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
