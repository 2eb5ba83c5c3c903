"""Source scan: every public top-level function and class in the package is
used somewhere in the repo, tests included. A use is a name load
(``hits(...)``, ``@register``, a base class, an annotation) or an attribute
access (``graph.hits``) in any ``.py`` file; an import, an ``__all__``
entry, a docstring or a comment alone is not. A definition that nothing
uses is dead code; delete it rather than keep it."""

from __future__ import annotations

import ast
from pathlib import Path

import datapipelines_essentials_python_spark as pkg

PKG = Path(pkg.__file__).resolve().parent
ROOT = PKG.parent
# generated or hidden trees (perfbench/_work holds run outputs)
SKIP = {"spark-warehouse", "_work", "__pycache__"}


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        parts = path.relative_to(ROOT).parts
        if not any(p in SKIP or p.startswith(".") for p in parts):
            yield path


def _public_defs(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.name.startswith("_"):
                yield node.name, node.lineno


def _used_names(tree: ast.Module) -> set[str]:
    used = set()
    for node in ast.walk(tree):
        if not isinstance(getattr(node, "ctx", None), ast.Load):
            continue
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
    return used


def test_every_public_definition_is_named_elsewhere():
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _sources()}
    used = set().union(*map(_used_names, trees.values()))
    unused = [
        f"{path.relative_to(ROOT)}:{lineno} {name}"
        for path, tree in trees.items()
        if PKG in path.parents
        for name, lineno in _public_defs(tree)
        if name not in used
    ]
    assert unused == []
