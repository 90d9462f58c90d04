"""One staging policy: every checkpoint in the package goes through
`operators.dedup._stage`, which picks reliable vs local checkpoints
from the session's checkpoint dir. A `.checkpoint(` or
`.localCheckpoint(` call anywhere else would bypass that rule, so the
storage-mode tests would no longer cover every staging site. Source
scan only — no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "dist_keras_spark"
STAGE = ("operators/dedup.py", "_stage")
CHECKPOINT_CALLS = {"checkpoint", "localCheckpoint"}


def _checkpoint_calls(tree: ast.AST):
    """Yield (enclosing function name or None, lineno) per call whose
    callee is an attribute named checkpoint/localCheckpoint."""

    def walk(node: ast.AST, fn: str | None):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in CHECKPOINT_CALLS
            ):
                yield fn, child.lineno
            yield from walk(child, inner)

    yield from walk(tree, None)


def test_every_checkpoint_goes_through_stage():
    inside, outside = 0, []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn, line in _checkpoint_calls(ast.parse(path.read_text())):
            if (rel, fn) == STAGE:
                inside += 1
            else:
                outside.append(f"{rel}:{line} (in {fn})")
    assert not outside, "checkpoint calls outside _stage: " + ", ".join(outside)
    assert inside == 2, "_stage should hold exactly the two checkpoint branches"
