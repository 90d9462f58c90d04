"""One event-time rule: only `functions/time.py` converts a wall clock.
Spark's own conversions read TIMESTAMP_NTZ through the session zone, so
a call of one anywhere else in `dist_keras_spark/` would make a result
depend on `spark.sql.session.timeZone` again. The scan covers Python
calls and the Spark SQL strings handed to `F.expr`, `selectExpr`,
`filter`/`where` and `spark.sql`; oracle SQL runs on DuckDB and is not
scanned. Source scan only — no Spark session."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "dist_keras_spark"
HELPERS = "functions/time.py"
ZONED_FUNCTIONS = {
    "unix_micros",
    "unix_timestamp",
    "timestamp_micros",
    "timestampdiff",
    "timestamp_diff",
    "date_trunc",
}
SQL_CALLS = {"expr", "selectExpr", "filter", "where", "sql"}
ZONED_SQL = re.compile(
    r"\b(" + "|".join(sorted(ZONED_FUNCTIONS)) + r")\s*\("
    r"|\bAS\s+TIMESTAMP\b(?!_)",
    re.IGNORECASE,
)


def _name(func: ast.expr) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _strings(node: ast.AST):
    for n in ast.walk(node):
        if isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value


def zoned_sites(tree: ast.AST):
    """Yield (lineno, what) for each zone-bound conversion in `tree`."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _name(node.func)
        if name in ZONED_FUNCTIONS:
            yield node.lineno, name
        if (
            name == "cast"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and str(node.args[0].value).lower() == "timestamp"
        ):
            yield node.lineno, 'cast("timestamp")'
        if name in SQL_CALLS:
            for arg in node.args:
                for text in _strings(arg):
                    m = ZONED_SQL.search(text)
                    if m:
                        yield node.lineno, f"{name}({m.group(0)!r}…)"


def test_only_the_time_module_converts_event_time():
    inside, outside = 0, []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for line, what in zoned_sites(ast.parse(path.read_text())):
            if rel == HELPERS:
                inside += 1
            else:
                outside.append(f"{rel}:{line} {what}")
    assert not outside, "zone-bound time conversions: " + ", ".join(outside)
    assert inside > 0, "the scan no longer sees the helpers' own conversions"


def test_scan_sees_each_form():
    """Each form the rule bans is caught, in Python and in an F.expr
    string, and oracle-style SQL outside those calls is not."""
    caught = {
        'F.col("ts").cast("timestamp").cast("long")',
        'F.unix_micros(F.col("ts"))',
        'F.timestamp_micros(F.col("us"))',
        'F.date_trunc("hour", "ts")',
        'F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ\'1970-01-01 00:00:00\', ts)")',
        'F.expr("CAST(ts AS TIMESTAMP)")',
        'df.filter(f"unix_timestamp({c}) > 0")',
    }
    for src in caught:
        assert list(zoned_sites(ast.parse(src))), src
    ignored = {
        'query("q", oracle="SELECT date_trunc(\'hour\', ts) FROM events")',
        'F.col("ts").cast("timestamp_ntz")',
        'F.expr("CAST(x AS TIMESTAMP_NTZ)")',
    }
    for src in ignored:
        assert not list(zoned_sites(ast.parse(src))), src
