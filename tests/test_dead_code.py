"""Source scan: every public top-level function and class in the package is
named somewhere in the repo outside its own ``def``/``class`` line, tests
included. A definition that nothing names is dead code; delete it rather
than keep it."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import datapipelines_essentials_python_spark as pkg

PKG = Path(pkg.__file__).resolve().parent
ROOT = PKG.parent
# generated or hidden trees (perfbench/_work holds run outputs)
SKIP = {"spark-warehouse", "_work", "__pycache__"}
WORD = re.compile(r"\w+")


def _sources():
    for path in sorted(ROOT.rglob("*.py")):
        parts = path.relative_to(ROOT).parts
        if not any(p in SKIP or p.startswith(".") for p in parts):
            yield path


def _public_defs(path: Path, text: str):
    for node in ast.parse(text).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.name.startswith("_"):
                yield node.name, node.lineno


def test_every_public_definition_is_named_elsewhere():
    texts = {p: p.read_text() for p in _sources()}
    words = Counter(w for t in texts.values() for w in WORD.findall(t))
    unused = []
    for path, text in texts.items():
        if PKG not in path.parents:
            continue
        lines = text.splitlines()
        for name, lineno in _public_defs(path, text):
            on_own_line = WORD.findall(lines[lineno - 1]).count(name)
            if words[name] == on_own_line:
                unused.append(f"{path.relative_to(ROOT)}:{lineno} {name}")
    assert unused == []
