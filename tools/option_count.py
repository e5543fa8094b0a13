"""Option count: how many knobs the conversion engine exposes.

Usage:
    python tools/option_count.py [REPO_ROOT]

Counts two things and prints them as ``name: count``:

- ``init_params``: the parameters of every ``__init__`` under
  incubator_xtable_spark/ (positional, keyword-only, ``*args`` and
  ``**kwargs``), not counting ``self``;
- ``run_sync_keys``: the distinct ``dataset.get("<key>")`` keys that
  incubator_xtable_spark/run_sync.py reads from a YAML dataset entry.

``tests/test_option_count.py`` holds a ceiling for each and fails when a
count goes above it.
"""

from __future__ import annotations

import ast
import os
import sys


def _modules(root: str):
    for d, _, names in os.walk(os.path.join(root, "incubator_xtable_spark")):
        if "__pycache__" not in d:
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(d, n), encoding="utf-8") as fh:
                        yield ast.parse(fh.read())


def init_params(root: str) -> int:
    total = 0
    for tree in _modules(root):
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "__init__":
                a = node.args
                total += len(a.posonlyargs) + len(a.args) + len(a.kwonlyargs) - 1
                total += (a.vararg is not None) + (a.kwarg is not None)
    return total


def run_sync_keys(root: str) -> int:
    with open(os.path.join(root, "incubator_xtable_spark", "run_sync.py"), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    keys = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "get"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "dataset"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        ):
            keys.add(node.args[0].value)
    return len(keys)


def main(root: str) -> None:
    print(f"init_params: {init_params(root)}")
    print(f"run_sync_keys: {run_sync_keys(root)}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
