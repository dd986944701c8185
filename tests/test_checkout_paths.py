"""The code must run from any checkout. A hard-coded checkout path
silently imports (or overwrites) a DIFFERENT checkout's package when the
tree is copied elsewhere, e.g. for an A/B against a parent commit. Every
tool derives the repo root from ``__file__`` instead."""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _sources() -> list[str]:
    paths = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for top in ("tests", "tools", "breweries_etl_spark"):
        for dirpath, _, files in os.walk(os.path.join(REPO, top)):
            paths += [os.path.join(dirpath, f) for f in files if f.endswith(".py")]
    return sorted(paths)


def test_no_literal_checkout_path():
    own = re.compile(r"""["']""" + re.escape(REPO) + r"""(?=["'/])""")
    hits = []
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            for lineno, line in enumerate(f, 1):
                if own.search(line):
                    hits.append(f"{os.path.relpath(path, REPO)}:{lineno}")
    assert hits == []


def test_no_literal_import_root():
    hits = []
    for path in _sources():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and ast.unparse(node.func) in ("sys.path.insert", "sys.path.append")
                and any(
                    isinstance(a, ast.Constant) and isinstance(a.value, str)
                    for a in node.args
                )
            ):
                hits.append(f"{os.path.relpath(path, REPO)}:{node.lineno}")
    assert hits == []
