"""``util.drop_spark_zip_finders``: the per-task drop of the cached
finders of Spark's own archives (``pyspark.zip``, ``py4j-*.zip``, the
jars on the worker's ``sys.path``).

Spark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, which makes each cached ``zipimporter`` re-read its whole
archive. Every function the library ships to a Python worker drops
those finders first, so the next task on the worker has nothing to
re-read. These tests check, from inside the task, that user code runs
with no Spark-archive finder cached; that imports still work after the
drop; that other zips keep their finders; and, statically, that every
shipping site calls the helper first."""

import ast
import json
import os
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from renoir_spark.util import drop_spark_zip_finders

PKG = Path(__file__).resolve().parent.parent / "renoir_spark"


def _is_spark_archive(path: str) -> bool:
    name = os.path.basename(path)
    return (name == "pyspark.zip" or name.endswith(".jar")
            or (name.startswith("py4j-") and name.endswith(".zip")))


def _worker_probe():
    """A function that, called inside a Python task, reports the zip
    finders cached in its worker (path -> archive), the zip/jar entries
    of the worker's ``sys.path``, and whether the worker already ran an
    earlier probed task. Built here so that cloudpickle ships it by
    value (the test module is not importable in workers)."""

    def probe(import_name=None) -> str:
        import sys
        import zipimport

        # snapshot first: the imports below must not touch the cache
        cached = {k: f.archive for k, f in sys.path_importer_cache.items()
                  if isinstance(f, zipimport.zipimporter)}

        import importlib
        import json

        from pyspark import TaskContext

        tid = TaskContext.get().taskAttemptId()
        if not hasattr(sys, "_zip_probe_tasks"):
            sys._zip_probe_tasks = set()
        warm = bool(sys._zip_probe_tasks - {tid})
        sys._zip_probe_tasks.add(tid)
        report = {
            "warm": warm,
            "cached": cached,
            "path": [p for p in sys.path if p.endswith((".zip", ".jar"))],
        }
        if import_name is not None:
            import pyspark

            report["fresh"] = import_name not in sys.modules
            report["pkg_finder"] = (pyspark.__path__[0]
                                    in sys.path_importer_cache)
            report["loaded"] = importlib.import_module(import_name).__name__
        return json.dumps(report)

    return probe


def _reports(run, times: int = 3):
    """Reports from ``times`` runs of ``run()`` (each returns report
    strings); skips where the workers load PySpark from no archive."""
    reports = [json.loads(r) for _ in range(times) for r in run()]
    assert reports
    if not any(_is_spark_archive(p) for r in reports for p in r["path"]):
        pytest.skip("the workers load PySpark from no zip or jar archive")
    return reports


def _assert_no_spark_finders(run):
    """User code starts with no Spark-archive finder cached. One case is
    allowed: a worker's first task imports pandas after the drop, which
    rebuilds the finders of the ``sys.path`` entries themselves (the
    documented first-task cost), never those of package sub-paths. A
    worker that already ran a probed task must have none at all."""
    for r in _reports(run):
        spark = {k for k, a in r["cached"].items() if _is_spark_archive(a)}
        allowed = set() if r["warm"] else set(r["path"])
        assert not spark - allowed, r


# ------------------------------------------------------------------ #
# inside the task, through each user-function entry point
# ------------------------------------------------------------------ #

def _keyed(ctx):
    return ctx.stream_range(40).map(k=F.col("id") % 4, v=F.col("id")) \
        .key_by("k")


def test_keyed_rich_map_runs_without_spark_finders(ctx):
    probe = _worker_probe()

    def fn(pdf):
        return pd.DataFrame({"r": [probe()]})

    def run():
        out = _keyed(ctx).rich_map(fn, "r string", order=["v"]).df.collect()
        assert len(out) == 4
        return [r.r for r in out]

    _assert_no_spark_finders(run)


def test_map_batches_runs_without_spark_finders(ctx):
    probe = _worker_probe()

    def fn(pdf):
        return pd.DataFrame({"r": [probe()]})

    out = ctx.stream_range(40, partitions=4).map_batches(fn, "r string")
    _assert_no_spark_finders(lambda: [r.r for r in out.df.collect()])


def test_rich_map_custom_runs_without_spark_finders(ctx):
    probe = _worker_probe()

    def fn(batches):
        report = probe()
        n = sum(len(pdf) for pdf in batches)
        yield pd.DataFrame({"r": [report], "n": [n]})

    out = ctx.stream_range(40, partitions=4) \
        .rich_map_custom(fn, "r string, n long")

    def run():
        rows = out.df.collect()
        assert sum(r.n for r in rows) == 40
        return [r.r for r in rows]

    _assert_no_spark_finders(run)


@pytest.mark.parametrize("form", ["data", "key_data"])
def test_fold_py_runs_without_spark_finders(ctx, form):
    probe = _worker_probe()

    def one_arg(pdf):
        return pd.DataFrame({"k": [int(pdf["k"].iloc[0])],
                             "n": [len(pdf)], "r": [probe()]})

    def two_arg(key, pdf):
        return pd.DataFrame({"k": [int(key[0])], "n": [len(pdf)],
                             "r": [probe()]})

    fn = one_arg if form == "data" else two_arg

    def run():
        out = _keyed(ctx).fold_py(fn, "k long, n long, r string").df.collect()
        assert sorted((r.k, r.n) for r in out) == [(k, 10) for k in range(4)]
        return [r.r for r in out]

    _assert_no_spark_finders(run)


def test_fold_py_rejects_other_arities(ctx):
    with pytest.raises(ValueError, match="fold_py"):
        _keyed(ctx).fold_py(lambda a, b, c: a, "k long")


def test_pyspark_submodule_imports_after_the_drop(ctx):
    """A PySpark module the worker has not imported yet still loads
    after the drop, through a finder built anew for the dropped path of
    its parent package inside ``pyspark.zip``."""
    probe = _worker_probe()

    def fn(pdf):
        return pd.DataFrame({"r": [probe("pyspark.ml.linalg")]})

    out = ctx.stream_range(1, partitions=1).map_batches(fn, "r string")
    reports = _reports(lambda: [r.r for r in out.df.collect()])
    assert all(r["loaded"] == "pyspark.ml.linalg" for r in reports)
    fresh = [r for r in reports if r["fresh"]]
    assert fresh, "every worker had imported the module already"
    assert not any(r["pkg_finder"] for r in fresh), fresh


# ------------------------------------------------------------------ #
# the helper itself, on the driver
# ------------------------------------------------------------------ #

def test_drop_spares_other_zips(tmp_path):
    """Spark's archives lose their finders (package sub-paths included);
    any other zip, like a user's ``--py-files`` archive, keeps its."""
    names = ["pyspark.zip", "py4j-0.10.9.9-src.zip",
             "spark-core_2.13-4.1.2.jar", "user_lib.zip", "py4j_tools.zip"]
    entries = {}
    for n in names:
        archive = tmp_path / n
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("pkg/__init__.py", "")
        for path in (str(archive), f"{archive}/pkg"):
            entries[path] = zipimport.zipimporter(path)
    sys.path_importer_cache.update(entries)
    try:
        drop_spark_zip_finders()
        kept = {p for p in entries if p in sys.path_importer_cache}
    finally:
        for p in entries:
            sys.path_importer_cache.pop(p, None)
    assert kept == {str(tmp_path / n) + s
                    for n in ("user_lib.zip", "py4j_tools.zip")
                    for s in ("", "/pkg")}


# ------------------------------------------------------------------ #
# every shipping site calls the helper first (static)
# ------------------------------------------------------------------ #

# DataFrame / RDD methods whose first argument runs in a Python worker
SHIPPING_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas",
                    "applyInPandasWithState", "mapPartitionsWithIndex"}


def _scope_defs(scope):
    """name -> FunctionDefs defined directly in ``scope`` (nested
    blocks included, nested functions and classes excluded)."""
    out = {}
    todo = list(scope.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.setdefault(node.name, []).append(node)
        elif not isinstance(node, ast.ClassDef):
            todo.extend(ast.iter_child_nodes(node))
    return out


def _calls_helper_first(fn) -> bool:
    body = fn.body
    if (isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)):
        body = body[1:]  # docstring
    first = body[0] if body else None
    return (isinstance(first, ast.Expr) and isinstance(first.value, ast.Call)
            and ast.unparse(first.value.func).split(".")[-1]
            == "drop_spark_zip_finders")


def _shipped_functions(tree):
    """(site line, function name, defs or None) for each function the
    module hands to a Python worker; ``None`` when the argument is not a
    function defined in an enclosing scope (e.g. a caller's callable
    passed straight through)."""
    parents = {}
    for node in ast.walk(tree):
        for child in ast.iter_child_nodes(node):
            parents[child] = node

    def resolve(node, name):
        while node is not None:
            if isinstance(node, (ast.Module, ast.FunctionDef,
                                 ast.AsyncFunctionDef)):
                found = _scope_defs(node).get(name)
                if found:
                    return found
            node = parents.get(node)
        return None

    decorators = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for d in node.decorator_list:
                decorators.add(d)
                if "pandas_udf" in ast.unparse(d):
                    yield node.lineno, node.name, [node]
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or node in decorators:
            continue
        method = ast.unparse(node.func).split(".")[-1]
        if method not in SHIPPING_METHODS | {"pandas_udf"}:
            continue
        arg = node.args[0] if node.args else None
        if isinstance(arg, ast.Name):
            yield node.lineno, arg.id, resolve(node, arg.id)
        else:
            yield node.lineno, ast.unparse(arg) if arg else "", None


def test_every_shipped_function_drops_spark_finders_first():
    sites, bad = set(), []
    for src in sorted(PKG.glob("*.py")):
        tree = ast.parse(src.read_text(), filename=str(src))
        for line, name, defs in _shipped_functions(tree):
            sites.add((src.name, name))
            if defs is None:
                bad.append(f"{src.name}:{line} ships {name!r}, "
                           "not a function defined here")
            else:
                bad += [f"{src.name}:{d.lineno} {name} does not call "
                        "drop_spark_zip_finders() first"
                        for d in defs if not _calls_helper_first(d)]
    assert not bad, "\n".join(bad)
    # the walker really sees the library's Python stages
    assert {("util.py", "_proc"), ("streaming.py", "_fn"),
            ("multimodal.py", "_batches"), ("datapipe.py", "_bloom_hit"),
            ("datapipe.py", "sig_map"), ("stream.py", "_custom"),
            ("keyed.py", "_fold"), ("context.py", "_replica"),
            ("prep.py", "_apply")} <= sites, sites
