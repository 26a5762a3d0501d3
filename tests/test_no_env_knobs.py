"""Process-global settings live in one place.

Only ``session.py`` reads the environment (the deployment settings
``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM``).  Anything else in the
package that reads ``os.environ`` / ``os.getenv`` is a hidden process-global
knob: behaviour should be chosen by parameters instead.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "go_streaming_spark"
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(tree: ast.AST) -> list[int]:
    lines = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ENV_NAMES
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in ENV_NAMES for a in node.names):
                lines.append(node.lineno)
    return lines


def test_only_session_reads_environment():
    files = sorted(PKG.rglob("*.py"))
    assert (PKG / "session.py") in files
    offenders = [
        f"{path.relative_to(PKG.parent)}:{line}"
        for path in files
        if path.name != "session.py" or path.parent != PKG
        for line in _env_reads(ast.parse(path.read_text(), str(path)))
    ]
    assert offenders == [], offenders


def test_scan_sees_session_settings():
    # guards the scan itself: it must find the reads session.py does make
    tree = ast.parse((PKG / "session.py").read_text())
    assert _env_reads(tree)
