"""Dead-code guard: every top-level function or class in the package must
be referenced somewhere outside its own definition — by the package,
``__spark_entry__``, the bench scripts, perfbench, scripts, tools or tests.

A name counts as referenced when it appears as an identifier, an
attribute, an imported name or a string constant (perfbench wraps
frontier functions by name).
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "image_search_indexing_spark"


def _sources():
    yield from ROOT.glob("*.py")
    for d in ("image_search_indexing_spark", "perfbench", "scripts", "tools", "tests"):
        yield from (ROOT / d).rglob("*.py")


def _names(tree):
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1], n.lineno
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            yield n.value, n.lineno


def test_every_package_function_and_class_is_referenced():
    defs: dict[str, list[tuple[Path, int, int]]] = {}
    for path in PKG.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((path, node.lineno, node.end_lineno))
    referenced = set()
    for path in _sources():
        for name, line in _names(ast.parse(path.read_text())):
            if name in defs and not any(p == path and a <= line <= b for p, a, b in defs[name]):
                referenced.add(name)
    dead = sorted(
        f"{p.relative_to(ROOT)}:{a} {name}"
        for name, spans in defs.items()
        if name not in referenced
        for p, a, _ in spans
    )
    assert not dead, "unreferenced package functions/classes:\n" + "\n".join(dead)
