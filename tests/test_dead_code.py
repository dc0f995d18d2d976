"""Dead-code guard: every top-level name defined in raster_tools_spark/
must be referenced somewhere in the repo's Python files outside its
own definition.  There is no allowlist -- delete a definition when its
last user goes."""

from __future__ import annotations

import ast
import os
import re
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORD = re.compile(r"\w+")


def _py_files(root):
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs
                   if not x.startswith(".") and x != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _top_level_defs(tree):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield t.id, node
        elif (isinstance(node, ast.AnnAssign)
              and isinstance(node.target, ast.Name)):
            yield node.target.id, node


def unreferenced_definitions(root=ROOT):
    """(path, line, name) of every top-level definition in the package
    whose name appears as a whole word nowhere but inside that
    definition's own source lines (a whole-word match is a maximal
    ``\\w+`` run, so counting tokens once per file is exact)."""
    texts = {}
    for path in _py_files(root):
        with open(path, encoding="utf-8") as f:
            texts[path] = f.read()
    words = Counter()
    for text in texts.values():
        words.update(WORD.findall(text))
    pkg = os.path.join(root, "raster_tools_spark")
    out = []
    for path, text in sorted(texts.items()):
        if not path.startswith(pkg + os.sep):
            continue
        lines = text.splitlines()
        for name, node in _top_level_defs(ast.parse(text)):
            start = min([node.lineno] + [
                d.lineno for d in getattr(node, "decorator_list", [])])
            own = "\n".join(lines[start - 1: node.end_lineno])
            if words[name] <= WORD.findall(own).count(name):
                out.append((os.path.relpath(path, root), start, name))
    return out


def test_no_unreferenced_top_level_definitions():
    assert unreferenced_definitions() == []


def test_scan_flags_a_planted_dead_definition(tmp_path):
    """The scan itself must see a definition nothing references."""
    pkg = tmp_path / "raster_tools_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def used():\n    return 1\n\n\n"
        "def dead_helper():\n    return dead_helper\n\n\n"
        "LIMIT = used()\n"
    )
    (tmp_path / "user.py").write_text(
        "from raster_tools_spark.mod import LIMIT\n")
    assert unreferenced_definitions(str(tmp_path)) == [
        (os.path.join("raster_tools_spark", "mod.py"), 5, "dead_helper")
    ]
