"""One timing path: every full-materialization probe goes through
`bench._materialize` (the `noop` sink), so `bench.py` and
`tools/time_queries.py` time a query the same way. A `.format("noop")`
anywhere else is a private timing loop with its own method. `perfbench/`
is the benchmark and keeps its own copy. Source scan only — no Spark
session."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCANNED = ["bench.py", "tools", "dist_keras_spark", "examples"]
MATERIALIZE = ("bench.py", "_materialize")


def noop_sinks(tree: ast.AST):
    """Yield (enclosing function name or None, lineno) per call
    `<x>.format("noop")`."""

    def walk(node: ast.AST, fn: str | None):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "format"
                and child.args
                and isinstance(child.args[0], ast.Constant)
                and child.args[0].value == "noop"
            ):
                yield fn, child.lineno
            yield from walk(child, inner)

    yield from walk(tree, None)


def _sources():
    for entry in SCANNED:
        path = REPO / entry
        yield from [path] if path.is_file() else sorted(path.rglob("*.py"))


def test_every_noop_sink_is_bench_materialize():
    inside, outside = 0, []
    for path in _sources():
        rel = path.relative_to(REPO).as_posix()
        for fn, line in noop_sinks(ast.parse(path.read_text())):
            if (rel, fn) == MATERIALIZE:
                inside += 1
            else:
                outside.append(f"{rel}:{line} (in {fn})")
    assert not outside, "noop sinks outside bench._materialize: " + ", ".join(outside)
    assert inside == 1, "bench._materialize should hold the one noop sink"


def test_scan_sees_a_sink_in_any_function():
    src = (
        "def _materialize(df):\n"
        "    df.write.format('noop').mode('overwrite').save()\n"
        "def run(q):\n"
        "    q(spark, d).write.format(\"noop\").mode('overwrite').save()\n"
        "df.write.format('parquet').save(p)\n"
    )
    assert list(noop_sinks(ast.parse(src))) == [("_materialize", 2), ("run", 4)]
