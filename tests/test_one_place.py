"""Source scan of the package: each recurring mechanic lives in exactly
one helper.

* plan introspection (``queryExecution`` / ``explainString``) only in
  ``planview``;
* session-conf overrides (``spark.conf.set`` / ``unset``) only in
  ``session.conf_scope``;
* blocking on a stream (``awaitTermination``) only in
  ``streaming.ingest.run_available_now``; opening one (``readStream``)
  only in ``streaming/ingest.py``; naming a memory sink
  (``queryName``) only in ``streaming.ingest.memory_sink``;
* temp dirs (``mkdtemp``) only in ``benchmeta.scratch_dir`` and the
  persistent publish dir of ``plans/merging.streaming_merge_scd1``;
* environment reads (``os.environ`` / ``os.getenv``) only in
  ``session``;
* driver-local frames (``createDataFrame``) only in
  ``benchmeta.collect_local`` and ``benchmeta.local_frame``;
* every top-level definition in ``plans/`` is a registered ``@query``
  or is used by the package.

The scan reads attribute accesses in the AST, so docstrings and
comments that name these calls don't count.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "real_estate_etl_dev_spark"


def _sites() -> dict[str, set[str]]:
    """``{call: {"<module path>:<innermost function>", ...}}`` for every
    watched attribute access in the package."""
    sites: dict[str, set[str]] = {}

    class Finder(ast.NodeVisitor):
        def __init__(self, rel: str):
            self.rel, self.stack = rel, []

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Attribute(self, node):
            key = node.attr
            if key in ("set", "unset"):
                on_conf = isinstance(node.value, ast.Attribute) and node.value.attr == "conf"
                key = f"conf.{key}" if on_conf else None
            if key in ("queryExecution", "explainString", "conf.set",
                       "conf.unset", "awaitTermination", "environ", "getenv",
                       "createDataFrame", "readStream", "queryName", "mkdtemp"):
                where = self.stack[-1] if self.stack else "<module>"
                sites.setdefault(key, set()).add(f"{self.rel}:{where}")
            self.generic_visit(node)

    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        Finder(rel).visit(ast.parse(path.read_text(), filename=str(path)))
    return sites


def test_plan_introspection_only_in_planview():
    sites = _sites()
    for call in ("queryExecution", "explainString"):
        assert sites.get(call) and {
            s.split(":")[0] for s in sites[call]
        } == {"planview.py"}, (call, sites.get(call))


def test_conf_overrides_only_in_conf_scope():
    sites = _sites()
    assert sites.get("conf.set") == {"session.py:conf_scope"}, sites.get("conf.set")
    assert sites.get("conf.unset") == {"session.py:conf_scope"}, sites.get("conf.unset")


def test_stream_await_only_in_run_available_now():
    assert _sites().get("awaitTermination") == {
        "streaming/ingest.py:run_available_now"
    }


def test_stream_reads_only_in_streaming_ingest():
    sites = _sites()
    assert {s.split(":")[0] for s in sites.get("readStream", ())} == {
        "streaming/ingest.py"
    }, sites.get("readStream")
    assert sites.get("queryName") == {"streaming/ingest.py:memory_sink"}


def test_temp_dirs_only_in_scratch_dir():
    assert _sites().get("mkdtemp") == {
        "benchmeta.py:scratch_dir", "plans/merging.py:streaming_merge_scd1"
    }


def test_env_reads_only_in_session():
    sites = _sites()
    files = {
        s.split(":")[0] for call in ("environ", "getenv") for s in sites.get(call, ())
    }
    assert files == {"session.py"}, files


def test_local_frames_only_in_benchmeta():
    """A ``createDataFrame`` of a Python list starts Python workers;
    the two helpers build a ``LocalRelation`` without one."""
    assert _sites().get("createDataFrame") == {
        "benchmeta.py:collect_local", "benchmeta.py:local_frame"
    }


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _top_level_names(node: ast.AST) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
        return [node.target.id]
    return []


def test_plan_definitions_are_queries_or_used():
    """Every top-level function or assignment in ``plans/`` is a
    registered ``@query`` or is read somewhere in the package, so no
    unregistered plan (a staged or retired row) can sit there unused."""
    loaded: set[str] = set()
    for path in PKG.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                loaded.add(node.id)
            elif isinstance(node, ast.Attribute):
                loaded.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                loaded.update(alias.name for alias in node.names)
    orphans = []
    for path in sorted((PKG / "plans").glob("*.py")):
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if _is_query(node):
                continue
            orphans += [
                f"{path.name}:{name}" for name in _top_level_names(node)
                if not (name.startswith("__") and name.endswith("__"))
                and name not in loaded
            ]
    assert orphans == [], orphans
