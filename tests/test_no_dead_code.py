"""Every top-level function and class in the package must have a use.

An ast scan, no Spark: a definition counts as used when its name appears
anywhere in the repository's Python files as a Name, an Attribute, an
import alias, or a string constant that is exactly the identifier (the
registries and the benchmark's tracer look functions up by name).
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "consent_based_conversion_adjustments_spark"


def _py_files():
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO).parts
        if any(p.startswith(".") or p == "__pycache__" for p in rel):
            continue
        yield path


def _used_names(tree: ast.AST) -> set[str]:
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
            if node.asname:
                used.add(node.asname)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                used.add(node.value)
    return used


def test_every_package_definition_is_used():
    used = set()
    defined = {}
    for path in _py_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        used |= _used_names(tree)
        if PACKAGE in path.parents:
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    rel = path.relative_to(REPO).as_posix()
                    defined.setdefault(node.name, []).append(rel)
    dead = sorted(
        f"{where}:{name}"
        for name, paths in defined.items()
        if name not in used
        for where in paths
    )
    assert not dead, "top-level definitions nothing uses: " + ", ".join(dead)
