"""Every top-level function and class of the package is named somewhere
else in the repo: by a ``Name``, an ``Attribute`` or a ``from … import``
in any ``.py`` file, tests included.  Names, not text: a mention in a
docstring or comment does not count, and neither does a def naming
itself.  No Spark."""

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "time_series_databse_engine_spark"
SKIP_DIRS = {"spark-warehouse", ".hypothesis", ".git"}


def _names(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.ImportFrom):
            yield from (a.name for a in node.names)


def _trees():
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if x not in SKIP_DIRS]
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, ROOT), ast.parse(fh.read(), path)


def unnamed_defs():
    """``path:line name`` of each package def that nothing else names."""
    trees = dict(_trees())
    named = Counter(n for tree in trees.values() for n in _names(tree))
    out = []
    for rel, tree in sorted(trees.items()):
        if not rel.startswith(PACKAGE + os.sep):
            continue
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                own = Counter(_names(node))[node.name]
                if named[node.name] == own:
                    out.append(f"{rel}:{node.lineno} {node.name}")
    return out


def test_every_package_def_is_named_elsewhere():
    unnamed = unnamed_defs()
    assert not unnamed, "named nowhere else in the repo:\n" + "\n".join(unnamed)
