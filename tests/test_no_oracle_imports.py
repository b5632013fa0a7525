"""Layering guard: production modules never import the differential
oracles (``graphrag_litex_spark/oracle*.py``). An engine path that returns
an oracle's output makes every engine-vs-oracle test on it vacuous."""

import ast
import pathlib

import graphrag_litex_spark

PKG = pathlib.Path(graphrag_litex_spark.__file__).parent
PRODUCTION_DIRS = ("operators", "plans", "querying")


def _oracle_imports(source: str) -> list[str]:
    """Every imported module or name with an ``oracle*`` component."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [node.module or ""] + [a.name for a in node.names]
        else:
            continue
        found += [
            f"{node.lineno}: {n}"
            for n in names
            if any(part.startswith("oracle") for part in n.split("."))
        ]
    return found


def test_guard_detects_every_import_form():
    src = (
        "import graphrag_litex_spark.oracle_docops\n"
        "from graphrag_litex_spark import oracle\n"
        "def f():\n"
        "    from graphrag_litex_spark.oracle_graph import neighborhood_golden\n"
        "from .iterutils import release\n"
    )
    assert len(_oracle_imports(src)) == 3


def test_no_oracle_import_in_production_modules():
    modules = [p for d in PRODUCTION_DIRS for p in sorted((PKG / d).rglob("*.py"))]
    assert {p.parent.name for p in modules} == set(PRODUCTION_DIRS)
    hits = [
        f"{p.relative_to(PKG)}:{hit}"
        for p in modules
        for hit in _oracle_imports(p.read_text())
    ]
    assert hits == []
