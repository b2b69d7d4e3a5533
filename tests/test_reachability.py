"""Every ``osm_conflate_spark`` module must be reachable from a program
entry point, so code nothing runs cannot accumulate unnoticed.

The walk is static: it parses each reached file with ``ast`` and follows
every ``import``/``from ... import`` in it, function-level ones included,
to files inside the repository."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "osm_conflate_spark"

ENTRY_POINTS = [
    os.path.join(ROOT, p) for p in ("__spark_entry__.py", f"{PKG}/cli.py", "bench.py")
] + sorted(glob.glob(f"{ROOT}/perfbench/*.py"))


def _module_file(name):
    base = os.path.join(ROOT, *name.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


def _module_name(path):
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _imported_names(path):
    """Dotted names an import in ``path`` may load, including each
    ``from X import Y`` target as a possible submodule ``X.Y``."""
    mod = _module_name(path)
    pkg = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = pkg.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def _reached():
    todo = list(ENTRY_POINTS)
    seen = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported_names(path):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__.py and a/b/__init__.py
            for i in range(1, len(parts) + 1):
                f = _module_file(".".join(parts[:i]))
                if f:
                    todo.append(f)
    return {_module_name(p) for p in seen}


def test_every_package_module_is_reached():
    package = {
        _module_name(p)
        for p in glob.glob(f"{ROOT}/{PKG}/**/*.py", recursive=True)
    }
    unreached = package - _reached()
    assert not unreached, sorted(unreached)
