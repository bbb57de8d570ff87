"""No test-only code in the shipped package: every public top-level function
or class of ``go_fluentd_spark/`` is used by the program itself — the
package, ``bench.py``, ``tools/`` or ``__spark_entry__.py`` — as a code
name or attribute.  A docstring or comment mention does not count, nor does
a definition's use of its own name."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: public definitions exempt from the check: none
ALLOWED: set[str] = set()


def _trees(paths):
    for path in paths:
        with open(path) as f:
            yield path, ast.parse(f.read(), path)


def _package_files():
    return sorted(glob.glob(os.path.join(ROOT, "go_fluentd_spark", "**", "*.py"), recursive=True))


def _public_defs():
    defs = {}
    for path, tree in _trees(_package_files()):
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    defs[node.name] = os.path.relpath(path, ROOT)
    return defs


def _program_references():
    paths = _package_files() + sorted(glob.glob(os.path.join(ROOT, "tools", "*.py"))) + [
        os.path.join(ROOT, "bench.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
    ]
    refs = set()
    for _, tree in _trees(paths):
        for stmt in tree.body:
            own = getattr(stmt, "name", None)
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name) and node.id != own:
                    refs.add(node.id)
                elif isinstance(node, ast.Attribute) and node.attr != own:
                    refs.add(node.attr)
    return refs


def test_every_public_definition_has_a_program_caller():
    refs = _program_references()
    unused = {name: path for name, path in _public_defs().items() if name not in refs}
    assert set(unused) <= ALLOWED, sorted(f"{p}::{n}" for n, p in unused.items() if n not in ALLOWED)


def test_allowlist_names_real_definitions():
    assert ALLOWED <= set(_public_defs())
