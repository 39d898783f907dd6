"""Only ``session.py`` writes a SparkSession's conf: the engine's keys are
set once at the query boundary (``session.engine_conf``) and a temporary
override runs on a ``session.scoped`` clone. An AST scan of every other
package module for ``<x>.conf.set(...)`` and ``<x>.conf.unset(...)`` calls."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "incubator_paimon_trino_spark"


def _conf_writes(tree: ast.Module) -> list[str]:
    return sorted(
        f"conf.{node.func.attr} (line {node.lineno})"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    )


def test_only_session_module_writes_conf():
    writes = {
        str(p.relative_to(PACKAGE)): found
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != PACKAGE / "session.py" and (found := _conf_writes(ast.parse(p.read_text())))
    }
    assert not writes, f"session conf written outside session.py: {writes}"


def test_scan_flags_conf_writes():
    tree = ast.parse(
        "spark.conf.set('k', 'v')\n"
        "df.sparkSession.conf.unset('k')\n"
        "spark.conf.get('k')\n"
        "options.set('k', 'v')\n"
    )
    assert _conf_writes(tree) == ["conf.set (line 1)", "conf.unset (line 2)"]
