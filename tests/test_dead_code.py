"""Dead-code guards over raster_tools_spark/, with no allowlist:

- every top-level name must be referenced by code in a Python file
  outside tests/, outside its own definition (a name only tests reach
  is a reference, harness or fake, and lives in tests/; a name only
  docstrings or comments mention is dead);
- every defaulted parameter must be set to a different value by a call
  outside tests/ (an option nothing ships sets is a constant, and one
  only tests select is a second code path nothing ships);
- every import must be referenced by its module or imported from it
  by another file;
- every single-name local assignment must be read by its function.

Delete a definition, an option, an import or a local when its last
user goes."""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _py_files(root):
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs
                   if not x.startswith(".") and x != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse_all(root):
    trees = {}
    for path in _py_files(root):
        with open(path, encoding="utf-8") as f:
            trees[path] = ast.parse(f.read())
    return trees


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


def _code_names(node):
    """Every identifier code under ``node`` uses: ``Name`` ids (f-string
    interpolations included), ``Attribute`` attrs, imported names and
    their aliases, and keyword-argument names.  Docstrings and comments
    contribute nothing."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield from n.name.split(".")
            if n.asname:
                yield n.asname
        elif isinstance(n, ast.keyword) and n.arg:
            yield n.arg


def unreferenced_definitions(root=ROOT):
    """(path, line, name) of every top-level definition in the package
    whose name code in no file outside tests/ uses, beyond the uses
    inside that definition itself (decorators included)."""
    trees = _parse_all(root)
    tests = os.path.join(root, "tests") + os.sep
    used = Counter()
    for path, tree in trees.items():
        if not path.startswith(tests):
            used.update(_code_names(tree))
    pkg = os.path.join(root, "raster_tools_spark") + os.sep
    out = []
    for path, tree in sorted(trees.items()):
        if not path.startswith(pkg):
            continue
        for name, node in _top_level_defs(tree):
            start = min([node.lineno] + [
                d.lineno for d in getattr(node, "decorator_list", [])])
            if used[name] <= Counter(_code_names(node))[name]:
                out.append((os.path.relpath(path, root), start, name))
    return out


def test_no_unreferenced_top_level_definitions():
    assert unreferenced_definitions() == []


def test_scan_flags_a_planted_dead_definition(tmp_path):
    """The scan itself must see a definition nothing references, one
    only a test references and one only another module's docstring and
    comments name, and must not flag one a top-level script references
    or one only an f-string interpolates."""
    pkg = tmp_path / "raster_tools_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def used():\n    return 1\n\n\n"
        "def dead_helper():\n    return dead_helper\n\n\n"
        "def tests_only():\n    return 2\n\n\n"
        "def scripted():\n    return 3\n\n\n"
        "LIMIT = used()\n\n\n"
        "def prose_only():\n    return 4\n\n\n"
        "_PX = 'px'\n"
    )
    (tmp_path / "user.py").write_text(
        '"""Uses prose_only, in words only."""\n'
        "from raster_tools_spark.mod import LIMIT\n\n"
        "# prose_only again\n"
        "SQL = f'SELECT {_PX} FROM t'\n")
    (tmp_path / "bench.py").write_text(
        "from raster_tools_spark.mod import scripted\n")
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from raster_tools_spark.mod import tests_only\n")
    mod = os.path.join("raster_tools_spark", "mod.py")
    assert unreferenced_definitions(str(tmp_path)) == [
        (mod, 5, "dead_helper"), (mod, 9, "tests_only"),
        (mod, 20, "prose_only")]


def _options(tree):
    """(line, callee names, parameter, positional index or None,
    default expression) of every defaulted parameter of every def in
    ``tree``, methods and nested defs included.  A method is called
    without its self/cls argument, and ``__init__`` under its class
    name."""
    out = []

    def visit(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child.name)
                continue
            if not isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, cls)
                continue
            a = child.args
            pos = a.posonlyargs + a.args
            static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                         for d in child.decorator_list)
            shift = 1 if cls and not static else 0
            names = {child.name}
            if cls and child.name == "__init__":
                names.add(cls)
            first = len(pos) - len(a.defaults)
            params = [(p, i - shift, d) for i, (p, d) in enumerate(
                zip(pos[first:], a.defaults), start=first)]
            params += [(p, None, d)
                       for p, d in zip(a.kwonlyargs, a.kw_defaults)
                       if d is not None]
            out.extend((child.lineno, names, p.arg, i, d)
                       for p, i, d in params)
            visit(child, None)

    visit(tree, None)
    return out


def _constants(trees):
    """Name -> value of every module-level ``NAME = <literal>`` in
    ``trees`` (the package's modules); a name bound to different
    literals in two modules is left out.  A caller's own constant
    outside the package stays an expression: it is that caller's
    choice, free to move away from the package default."""
    seen = {}
    for tree in trees.values():
        for node in tree.body:
            if not (isinstance(node, ast.Assign) and len(node.targets) == 1
                    and isinstance(node.targets[0], ast.Name)):
                continue
            try:
                value = ast.literal_eval(node.value)
            except ValueError:
                continue
            seen.setdefault(node.targets[0].id, set()).add(repr(value))
    return {k: v.pop() for k, v in seen.items() if len(v) == 1}


def _value(expr, consts):
    """What ``expr`` passes: a literal's or a module-level literal
    constant's value, else the expression's ``ast.dump``."""
    if isinstance(expr, ast.Name) and expr.id in consts:
        return consts[expr.id]
    try:
        return repr(ast.literal_eval(expr))
    except ValueError:
        return ast.dump(expr)


def _sets(call, param, index, default, consts):
    """Does ``call`` pass ``param`` (keyword, or position ``index``) a
    value other than ``default``?  Literals and names of module-level
    literal constants compare by value, other expressions by
    ``ast.dump``.  ``*``/``**`` unpacking that could reach the
    parameter counts as setting it."""
    same = _value(default, consts)
    for k in call.keywords:
        if k.arg is None or (k.arg == param
                             and _value(k.value, consts) != same):
            return True
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return index is not None and i <= index
        if i == index:
            return _value(arg, consts) != same
    return False


def unset_options(root=ROOT):
    """(path, line, function names, parameter) of every defaulted
    parameter in the package that no call in a .py file outside tests/
    sets to a different value.  Callees match by bare or attribute name,
    so a forward such as ``f(x=x)`` sets ``f``'s ``x``."""
    trees = _parse_all(root)
    pkg = os.path.join(root, "raster_tools_spark") + os.sep
    tests = os.path.join(root, "tests") + os.sep
    consts = _constants({p: t for p, t in trees.items()
                         if p.startswith(pkg)})
    calls = {}
    for path, tree in trees.items():
        if path.startswith(tests):
            continue
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                calls.setdefault(name, []).append(node)
    out = []
    for path, tree in sorted(trees.items()):
        if not path.startswith(pkg):
            continue
        for line, names, param, index, default in _options(tree):
            if not any(_sets(c, param, index, default, consts)
                       for n in names for c in calls.get(n, [])):
                out.append((os.path.relpath(path, root), line,
                            min(names), param))
    return out


def _module_name(root, path):
    parts = os.path.relpath(path, root)[:-3].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _import_source(root, path, node):
    """Absolute module name an ``ImportFrom`` reads from."""
    if node.level == 0:
        return node.module
    base = _module_name(root, path).split(".")
    if not path.endswith("__init__.py"):
        base = base[:-1]
    base = base[:len(base) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


def _referenced_names(tree):
    """Every Name a module loads, including those inside string
    annotations and ``__all__``."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        notes = []
        if isinstance(node, ast.arg):
            notes.append(node.annotation)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            notes.append(node.returns)
        elif isinstance(node, ast.AnnAssign):
            notes.append(node.annotation)
        elif (isinstance(node, ast.Assign)
              and any(getattr(t, "id", None) == "__all__"
                      for t in node.targets)):
            used.update(c.value for c in ast.walk(node.value)
                        if isinstance(c, ast.Constant))
        for note in notes:
            if isinstance(note, ast.Constant) and isinstance(note.value, str):
                used.update(n.id for n in ast.walk(ast.parse(note.value))
                            if isinstance(n, ast.Name))
    return used


def unused_imports(root=ROOT):
    """(path, line, name) of every import in a package module whose
    bound name the module never references and no file imports from
    that module."""
    trees = _parse_all(root)
    imported_from = set()
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                src = _import_source(root, path, node)
                imported_from.update((src, a.name) for a in node.names)
    pkg = os.path.join(root, "raster_tools_spark") + os.sep
    out = []
    for path, tree in sorted(trees.items()):
        if not path.startswith(pkg):
            continue
        used = _referenced_names(tree)
        me = _module_name(root, path)
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(node, "module", None) == "__future__":
                continue
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in used and (me, bound) not in imported_from:
                    out.append((os.path.relpath(path, root), node.lineno,
                                bound))
    return out


def _unread_in(fn):
    """(line, name) of every ``x = ...``, ``x: T = ...`` or ``x += ...``
    directly in ``fn`` (not in a nested def, class or lambda) whose name
    nothing in ``fn``, nested scopes included, reads; ``global`` and
    ``nonlocal`` names are not locals."""
    reads = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            reads.add(node.id)
        elif isinstance(node, (ast.Global, ast.Nonlocal)):
            reads.update(node.names)
    out = []
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef, ast.Lambda)):
            continue
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AugAssign) or (
                isinstance(node, ast.AnnAssign) and node.value is not None):
            targets = [node.target]
        else:
            targets = []
        out += [(t.lineno, t.id) for t in targets
                if isinstance(t, ast.Name) and t.id not in reads]
        stack.extend(ast.iter_child_nodes(node))
    return out


def unread_locals(root=ROOT):
    """(path, line, function, name) of every single-name local
    assignment in a package def that its function never reads."""
    pkg = os.path.join(root, "raster_tools_spark") + os.sep
    out = []
    for path, tree in sorted(_parse_all(root).items()):
        if not path.startswith(pkg):
            continue
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out += [(os.path.relpath(path, root), line, fn.name, name)
                        for line, name in _unread_in(fn)]
    return sorted(out)


def test_every_option_is_set_outside_tests():
    assert unset_options() == []


def test_no_unused_imports():
    assert unused_imports() == []


def test_every_local_is_read():
    assert unread_locals() == []


def test_scans_flag_planted_unset_options_and_unused_import(tmp_path):
    """An unset option and a tests-only option are flagged; an option a
    non-test file sets (by position here) and one it reaches only
    through a forward are not.  Int, negative float, str, tuple and
    module-constant defaults are flagged, and so is a float passed the
    value it defaults to; one passed a different value is not.  A
    package constant compares by its value: a literal passed against a
    constant default of the same value, or the constant passed against
    that literal default, is flagged; one passed a different value, or
    a caller's own constant, is not.  An
    import nothing references is flagged; one another file imports
    from the module is not.  A local
    nothing reads is flagged, an augmented-only one at both writes; one
    read directly or by a lambda is not."""
    pkg = tmp_path / "raster_tools_spark"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "import os\n"
        "from math import pi\n\n\n"
        "def run(x, unset=None, tests_only=False, outside=None,\n"
        "        forwarded=False):\n"
        "    return x\n\n\n"
        "def forwarder(x, forwarded=False):\n"
        "    return run(x, forwarded=forwarded)\n\n\n"
        "def locals_(x):\n"
        "    dead = x + 1\n"
        "    kept = x * 2\n"
        "    closed = 3\n"
        "    total = 0\n"
        "    total += kept\n"
        "    return lambda: closed\n\n\n"
        "LIMIT = 8\n\n\n"
        "def sized(x, n=3, lo=-1.5, name='a', shape=(1, 2), cap=LIMIT,\n"
        "          same=1000.0, other=1000.0):\n"
        "    return x\n\n\n"
        "def resolved(x, res=LIMIT, k=8, other=LIMIT, mine=LIMIT):\n"
        "    return x\n"
    )
    (tmp_path / "user.py").write_text(
        "from raster_tools_spark.mod import LIMIT, forwarder, pi, run\n"
        "from raster_tools_spark.mod import resolved, sized\n\n"
        "run(1, None, False, 'out')\n"
        "forwarder(pi, True)\n"
        "sized(1, same=1000.0, other=999.5)\n"
        "MINE = 8\n"
        "resolved(1, res=8, k=LIMIT, other=9, mine=MINE)\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from raster_tools_spark.mod import run\n\n"
        "run(1, tests_only=True)\n"
    )
    mod = os.path.join("raster_tools_spark", "mod.py")
    assert unset_options(str(tmp_path)) == [
        (mod, 5, "run", "unset"),
        (mod, 5, "run", "tests_only"),
        (mod, 26, "sized", "n"),
        (mod, 26, "sized", "lo"),
        (mod, 26, "sized", "name"),
        (mod, 26, "sized", "shape"),
        (mod, 26, "sized", "cap"),
        (mod, 26, "sized", "same"),
        (mod, 31, "resolved", "res"),
        (mod, 31, "resolved", "k"),
    ]
    assert unused_imports(str(tmp_path)) == [(mod, 1, "os")]
    assert unread_locals(str(tmp_path)) == [
        (mod, 15, "locals_", "dead"),
        (mod, 18, "locals_", "total"),
        (mod, 19, "locals_", "total"),
    ]
