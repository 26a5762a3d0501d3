"""Streams start in one place.

Inside the package a stream starts only in ``ContinuousQuery._start``
(every subscriber, and ``streaming.runner.replay_batches`` through them)
or in ``streaming.runner.replay_to_memory`` (the memory sink).  Any other
``writeStream`` is a second start path with its own trigger, checkpoint
and cleanup to keep right.  The examples start streams only through the
package.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STARTS = {
    ("go_streaming_spark/plans/builder.py", "_start"),
    ("go_streaming_spark/streaming/runner.py", "replay_to_memory"),
}


def _write_streams(path: Path) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``.writeStream`` in ``path``."""
    found = []

    def visit(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Attribute) and child.attr == "writeStream":
                found.append((func, child.lineno))
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else func)

    visit(ast.parse(path.read_text(), str(path)), "<module>")
    return found


def test_streams_start_only_in_the_engine():
    files = sorted((ROOT / "go_streaming_spark").rglob("*.py"))
    files += sorted((ROOT / "examples").rglob("*.py"))
    found = [
        (str(path.relative_to(ROOT)), func, line)
        for path in files
        for func, line in _write_streams(path)
    ]
    offenders = [f"{p}:{line} ({func})" for p, func, line in found
                 if (p, func) not in STARTS]
    assert offenders == [], offenders
    # guards the scan itself: it must find the two real start points
    assert {(p, func) for p, func, _ in found} == STARTS
