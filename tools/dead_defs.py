"""Dead-definition scan: top-level conversion-engine definitions that no
code references.

Usage:
    python tools/dead_defs.py [REPO_ROOT]

Collects the top-level def / class / assignment names of every module
under incubator_xtable_spark/ except plans/ and operators/ (the frozen
query registry), then counts each name's uses in the code of every .py
file under incubator_xtable_spark/, tests/ and perfbench/ plus
loadtest.py, bench.py and __spark_entry__.py. Comments and plain strings
do not count; f-string replacement fields do. A name whose only use is
its own definition is printed as ``path:line: name``.
``tests/test_dead_defs.py`` runs the same scan as a test.
"""

from __future__ import annotations

import ast
import io
import os
import re
import sys
import tokenize

_SCANNED = ("incubator_xtable_spark", "tests", "perfbench")
_HARNESSES = ("loadtest.py", "bench.py", "__spark_entry__.py")
_FROZEN = ("plans", "operators")


def _sources(root: str) -> dict[str, str]:
    paths = [os.path.join(root, f) for f in _HARNESSES]
    for top in _SCANNED:
        for d, _, names in os.walk(os.path.join(root, top)):
            if "__pycache__" not in d:
                paths += [os.path.join(d, n) for n in names if n.endswith(".py")]
    out = {}
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            out[p] = fh.read()
    return out


def _use_counts(sources: dict[str, str]) -> dict[str, int]:
    counts: dict[str, int] = {}
    for text in sources.values():
        for tok in tokenize.generate_tokens(io.StringIO(text).readline):
            if tok.type == tokenize.NAME:
                names = [tok.string]
            elif tok.type == tokenize.STRING and re.match(r"(?i)r?f", tok.string):
                # before Python 3.12 an f-string is one STRING token
                fields = re.findall(r"\{([^{}]*)\}", tok.string)
                names = [w for f in fields for w in re.findall(r"[A-Za-z_]\w*", f)]
            else:
                continue
            for name in names:
                counts[name] = counts.get(name, 0) + 1
    return counts


def _definitions(path: str, text: str):
    for node in ast.parse(text).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.lineno, node.name
        elif isinstance(node, ast.Assign):
            for target in node.targets:
                if isinstance(target, ast.Name):
                    yield node.lineno, target.id
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.lineno, node.target.id


def dead_definitions(root: str) -> list[tuple[str, int, str]]:
    """(path relative to ``root``, line, name) of every definition whose
    only use is its own."""
    sources = _sources(root)
    counts = _use_counts(sources)
    engine = os.path.join(root, "incubator_xtable_spark")
    out = []
    for path in sorted(sources):
        rel = os.path.relpath(path, engine)
        if rel.startswith("..") or rel.split(os.sep)[0] in _FROZEN:
            continue
        for line, name in _definitions(path, sources[path]):
            if not name.startswith("__") and counts.get(name, 0) <= 1:
                out.append((os.path.relpath(path, root), line, name))
    return out


def main(root: str) -> None:
    for path, line, name in dead_definitions(root):
        print(f"{path}:{line}: {name}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
