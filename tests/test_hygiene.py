"""Import hygiene: every name a module imports is used somewhere in it.

No linter ships with the toolchain, so this is the pyflakes F401 check in
miniature, over ``aave_etl_spark/`` and ``tests/``. Exempt: ``from
__future__`` imports, ``__init__.py`` files (their imports are the
package's re-exports), names listed in ``__all__``, and imports on a line
marked ``# noqa: F401``. A name counts as used anywhere in the module,
including inside string annotations.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("aave_etl_spark", "tests")


def _names_in(expr: str) -> set[str]:
    try:
        tree = ast.parse(expr, mode="eval")
    except SyntaxError:
        return set()
    return {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}


def _exported(tree: ast.Module) -> set[str]:
    out: set[str] = set()
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
                out |= {
                    c.value
                    for c in ast.walk(node.value)
                    if isinstance(c, ast.Constant) and isinstance(c.value, str)
                }
    return out


def unused_imports(source: str) -> list[tuple[int, str]]:
    """``(line, name)`` for every imported name ``source`` never uses."""
    tree = ast.parse(source)
    lines = source.splitlines()
    imported: list[tuple[int, str]] = []
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            span = lines[node.lineno - 1 : node.end_lineno]
            if any("# noqa: F401" in line for line in span):
                continue
            for alias in node.names:
                if alias.name == "*":
                    continue
                bound = alias.asname or alias.name.split(".")[0]
                imported.append((node.lineno, bound))
        elif isinstance(node, ast.Name):
            used.add(node.id)
        annotation = getattr(node, "annotation", None) or getattr(node, "returns", None)
        if isinstance(annotation, ast.Constant) and isinstance(annotation.value, str):
            used |= _names_in(annotation.value)
    used |= _exported(tree)
    return [(line, name) for line, name in imported if name not in used]


def _modules() -> list[Path]:
    return sorted(
        p
        for pkg in SCANNED
        for p in (ROOT / pkg).rglob("*.py")
        if p.name != "__init__.py"
    )


def test_no_unused_imports():
    found = [
        f"{path.relative_to(ROOT)}:{line} {name}"
        for path in _modules()
        for line, name in unused_imports(path.read_text())
    ]
    assert not found, "unused imports:\n" + "\n".join(found)


@pytest.mark.parametrize(
    "source, expected",
    [
        ("import os\n", [(1, "os")]),
        ("import os.path\nos.sep\n", []),
        ("from a import b as c\nb\n", [(1, "c")]),
        ("from __future__ import annotations\n", []),
        ("import os  # noqa: F401\n", []),
        ("from a import (\n    b,  # noqa: F401\n)\n", []),
        ("from a import b\n__all__ = ['b']\n", []),
        ("from a import T\ndef f(x: 'T') -> 'list[T]':\n    return x\n", []),
        ("def f():\n    import json\n    return 1\n", [(2, "json")]),
    ],
)
def test_unused_imports_scanner(source, expected):
    assert unused_imports(source) == expected
