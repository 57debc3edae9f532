"""Every module of the package has a caller outside the tests: it is
imported, directly or through other package modules, from the job
(``plans/job.py``), the benchmark (``perfbench/*.py``), the query
registry (``__spark_entry__.py``) or a tool (``tools/``). A module that
only its own test imports fails here. No Spark session; the imports are
read from the source, not executed."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _module_name(base, path):
    parts = os.path.relpath(path, base)[:-len(".py")].split(os.sep)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _imports(base, path):
    """Every module name the file imports anywhere in its body, with the
    parent packages of each; relative imports are resolved."""
    name = _module_name(base, path)
    is_pkg = os.path.basename(path) == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            found.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level:
                parts = name.split(".")
                parts = parts[:len(parts) - node.level + is_pkg]
                mod = ".".join(parts + ([mod] if mod else []))
            found.add(mod)
            found.update(f"{mod}.{a.name}" for a in node.names)
    closed = set()
    for mod in found:
        parts = mod.split(".")
        closed.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return closed


def _unreached(base, package, roots):
    """Modules of ``package`` (a directory under ``base``) that no file
    in ``roots`` imports, directly or through other package modules."""
    modules = {
        _module_name(base, p): p
        for p in glob.glob(os.path.join(base, package, "**", "*.py"),
                           recursive=True)
    }
    reached = {_module_name(base, p) for p in roots}
    todo = [m for p in roots for m in _imports(base, p)]
    while todo:
        mod = todo.pop()
        if mod in modules and mod not in reached:
            reached.add(mod)
            todo += _imports(base, modules[mod])
    return sorted(set(modules) - reached)


def test_every_package_module_has_a_non_test_caller():
    roots = [os.path.join(ROOT, "logparser_spark", "plans", "job.py"),
             os.path.join(ROOT, "__spark_entry__.py")]
    roots += glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    roots += glob.glob(os.path.join(ROOT, "tools", "**", "*.py"),
                       recursive=True)
    assert _unreached(ROOT, "logparser_spark", roots) == []


def test_a_module_without_a_caller_is_reported(tmp_path):
    """A function-local relative import counts as a caller; a module
    that nothing imports is reported."""
    pkg = tmp_path / "p"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text("def f():\n    from .b import g\n")
    (pkg / "b.py").write_text("from . import c\ng = 1\n")
    (pkg / "c.py").write_text("")
    (pkg / "orphan.py").write_text("")
    main = tmp_path / "main.py"
    main.write_text("from p.a import f\n")
    assert _unreached(str(tmp_path), "p", [str(main)]) == ["p.orphan"]
