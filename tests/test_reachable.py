"""Every top-level def in ``pdfextraction_spark/`` is reachable from a
production root.

The roots are the query registry contract (``__spark_entry__.py``), the
CLI and the batch job (``cli.py``, ``pipeline.py``), the benchmark
(``perfbench/``), the tools (``tools/``), the fixture generators
(``fixtures/``) and the bench scripts (``bench*.py``). Tests are not
roots: code that only tests reach is dead weight and goes together with
its tests.

The pass is by name, to a fixed point. A def (function, class or
module-level assignment) is live once its name is used by a root or by
a live def; a live def makes every name in its body live. A name is
used only when it appears in code, as a name or as an attribute. Text
inside a string constant (a docstring, a registry key, SQL) names
nothing: a docstring that mentions a helper does not call it. Imports
bind names but do not use them, so a package ``__init__`` re-export
keeps nothing alive. Other module-level statements run on import, so
their names are live. Matching by bare name over-approximates (two
defs with one name live together), which is the safe side for a guard
that fails on dead code.

Needs no Spark.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "pdfextraction_spark")

ROOT_FILES = ("__spark_entry__.py", "pdfextraction_spark/cli.py",
              "pdfextraction_spark/pipeline.py")
ROOT_DIRS = ("perfbench", "tools", "fixtures")

# Kept although no root may reach it: oracle/ holds the loop-based
# reference implementations. Tests compare the kernels and operators
# against them, so they are specifications, not dead code.
EXEMPT_DIRS = ("oracle",)


def _py_files(base):
    for dirpath, dirnames, filenames in os.walk(base):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _used_names(node):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _assigned(stmt):
    """Names a plain module-level assignment binds, else None."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign) and stmt.value is not None:
        targets = [stmt.target]
    else:
        return None
    names = [t.id for t in targets if isinstance(t, ast.Name)]
    return names if len(names) == len(targets) else None


def _package_defs():
    """({(relpath, name): names its body uses}, names module-level code
    uses when the module is imported)."""
    defs, live = {}, set()
    for path in _py_files(PACKAGE):
        rel = os.path.relpath(path, PACKAGE).replace(os.sep, "/")
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[(rel, stmt.name)] = _used_names(stmt)
            elif isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            elif (names := _assigned(stmt)) is not None:
                for name in names:
                    defs[(rel, name)] = _used_names(stmt.value)
            else:
                live |= _used_names(stmt)
    return defs, live


def _root_names():
    paths = [os.path.join(ROOT, f) for f in ROOT_FILES]
    paths += [os.path.join(ROOT, f) for f in sorted(os.listdir(ROOT))
              if f.startswith("bench") and f.endswith(".py")]
    for d in ROOT_DIRS:
        paths += list(_py_files(os.path.join(ROOT, d)))
    names = set()
    for p in paths:
        names |= _used_names(_parse(p))
    return names


def unreachable_defs():
    defs, live = _package_defs()
    live |= _root_names()
    reached = set()
    while True:
        new = {k for k in defs if k[1] in live and k not in reached}
        if not new:
            break
        reached |= new
        for k in new:
            live |= defs[k]
    return sorted(
        f"{rel}:{name}" for rel, name in defs
        if (rel, name) not in reached
        and not name.startswith("__")  # __all__, __version__
        and rel.split("/")[0] not in EXEMPT_DIRS)


def test_every_package_def_is_reachable_from_a_root():
    dead = unreachable_defs()
    assert not dead, ("top-level defs no production root reaches:\n  "
                      + "\n  ".join(dead))
