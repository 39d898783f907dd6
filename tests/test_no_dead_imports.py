"""Every name a package module imports is used there, listed in its
``__all__``, or marked ``# noqa: F401`` (an import kept for its side
effect, like the query registrations in ``operators/__init__.py``): an AST
scan of imported versus referenced names."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "incubator_paimon_trino_spark"


def _unused_imports(tree: ast.Module, lines: list[str] = ()) -> list[str]:
    imported: dict[str, int] = {}
    used: set[str] = set()
    exported: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)) and (
            node.lineno <= len(lines) and "# noqa: F401" in lines[node.lineno - 1]
        ):
            continue
        if isinstance(node, ast.Import):
            for a in node.names:
                imported[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                if a.name != "*":
                    imported[a.asname or a.name] = node.lineno
        elif isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            exported |= {e.value for e in node.value.elts}
        # quoted annotations name types too
        for ann in (getattr(node, "annotation", None), getattr(node, "returns", None)):
            if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
                used |= {
                    n.id for n in ast.walk(ast.parse(ann.value, mode="eval"))
                    if isinstance(n, ast.Name)
                }
    return sorted(
        f"{name} (line {line})"
        for name, line in imported.items()
        if name not in used and name not in exported
    )


def test_package_modules_import_only_what_they_use():
    dead = {
        str(p.relative_to(PACKAGE)): names
        for p in sorted(PACKAGE.rglob("*.py"))
        if (names := _unused_imports(ast.parse(src := p.read_text()), src.splitlines()))
    }
    assert not dead, f"unused imports: {dead}"


def test_scan_flags_an_unused_import():
    tree = ast.parse(
        "import os\nfrom x import a, b as c\nfrom y import d\n"
        "__all__ = ['d']\n\ndef f(p: 'a') -> None:\n    return None\n"
    )
    assert _unused_imports(tree) == ["c (line 2)", "os (line 1)"]


def test_scan_exempts_noqa_marked_imports():
    src = "import os  # noqa: F401\nfrom x import (  # noqa: F401\n    a,\n)\nimport sys\n"
    assert _unused_imports(ast.parse(src), src.splitlines()) == ["sys (line 5)"]
