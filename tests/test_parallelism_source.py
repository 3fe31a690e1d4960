"""The package decides "is this input too narrow for the session?" in one
place, ``tables.ensure_parallel``, and reads "how big is this relation?"
in one place, ``tables.plan_size_bytes``. This scan fails when another
module grows its own copy of either: a ``.repartition(`` to the session's
parallelism, or an ``optimizedPlan().stats()`` read.

One repartition is allowed by name: q88's verify in
``operators/dedup.py`` spreads a join output that AQE coalesces at run
time, which no plan-time split count sees."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "franzoxide_spark"
_ALLOWED = {("operators/dedup.py", "edit_distance_near_duplicates")}
_PARALLELISM = ("defaultParallelism", "spark.sql.shuffle.partitions")


def _offences(source: str):
    """(function, line, what) for each parallelism repartition or
    optimized-plan stats read in ``source``."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            call = node.func
            if call.attr == "repartition" and any(
                p in ast.unparse(arg)
                for arg in [*node.args, *node.keywords]
                for p in _PARALLELISM
            ):
                found.append((func, node.lineno, "repartition"))
            if call.attr == "stats" and ast.unparse(call.value).endswith(
                "optimizedPlan()"
            ):
                found.append((func, node.lineno, "optimizedPlan().stats()"))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(source), None)
    return found


def test_scan_finds_both_kinds_of_copy():
    src = (
        "def f(df, spark):\n"
        "    df.repartition(\n"
        "        int(spark.conf.get('spark.sql.shuffle.partitions')))\n"
        "    return df._jdf.queryExecution().optimizedPlan() \\\n"
        "        .stats().sizeInBytes()\n"
    )
    assert _offences(src) == [
        ("f", 2, "repartition"),
        ("f", 4, "optimizedPlan().stats()"),
    ]
    assert _offences("df.repartition(8, 'k')") == []


def test_one_parallelism_decision_and_one_size_read():
    offenders = [
        f"{rel}:{line}: {what} in {func}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "tables.py"
        for rel in [path.relative_to(PKG).as_posix()]
        for func, line, what in _offences(path.read_text())
        if (rel, func) not in _ALLOWED
    ]
    assert not offenders, "\n".join(offenders)
