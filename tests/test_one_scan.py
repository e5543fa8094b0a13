"""One file scan as a gate: under `sources/` and `sync/`, only
`sources/file_scan.py` binds a scanned file's path or row index
(``_metadata.file_path``, ``_metadata.row_index``, ``input_file_name``)
or builds a partition-values frame (``MAP<STRING,STRING>``); every
reader hands its files to `scan_files` instead, except the uses listed
here. Under `streaming/`, only `streaming/change_feed.py` subclasses
`DataSourceStreamReader` or reads a table with `pq.read_table`: the
readStream sources share its one reader."""

from __future__ import annotations

import ast
import io
import os
import tokenize

_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "incubator_xtable_spark")
_DIRS = ("sources", "sync")
_OWNER = os.path.join("sources", "file_scan.py")

# (file under incubator_xtable_spark, token) pairs that stay
_ALLOWED: set[tuple[str, str]] = set()


def _scan_tokens(path: str) -> list[str]:
    """The forbidden tokens of one file: string literals that name a
    file-metadata column or a string map, and `input_file_name` calls."""
    found = []
    with open(path, encoding="utf-8") as fh:
        tokens = tokenize.generate_tokens(io.StringIO(fh.read()).readline)
        for tok in tokens:
            if tok.type == tokenize.NAME and tok.string == "input_file_name":
                found.append("input_file_name")
            elif tok.type == tokenize.STRING:
                try:
                    value = ast.literal_eval(tok.string)
                except (ValueError, SyntaxError):
                    continue
                if not isinstance(value, str):
                    continue
                if value in ("_metadata", "_metadata.file_path", "_metadata.row_index"):
                    found.append(value)
                elif "MAP<STRING,STRING>" in value.upper().replace(" ", ""):
                    found.append("MAP<STRING,STRING>")
    return found


def test_only_file_scan_binds_file_paths_and_partition_maps():
    found = set()
    for sub in _DIRS:
        for dirpath, _, names in os.walk(os.path.join(_ROOT, sub)):
            for name in sorted(names):
                if not name.endswith(".py"):
                    continue
                rel = os.path.relpath(os.path.join(dirpath, name), _ROOT)
                if rel == _OWNER:
                    continue
                found |= {(rel, t) for t in _scan_tokens(os.path.join(dirpath, name))}
    assert found - _ALLOWED == set()


def test_the_gate_sees_each_form():
    """The scan finds every form it forbids (a gate that reads nothing
    passes everything)."""
    owner = _scan_tokens(os.path.join(_ROOT, _OWNER))
    assert {"_metadata.file_path", "_metadata.row_index", "MAP<STRING,STRING>"} <= set(owner)


_STREAM_OWNER = os.path.join("streaming", "change_feed.py")


def _stream_forms(path: str) -> set[str]:
    """The stream-reader forms of one file: a class that subclasses
    `DataSourceStreamReader`, and a `read_table` call."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef):
            for base in node.bases:
                name = base.attr if isinstance(base, ast.Attribute) else getattr(base, "id", None)
                if name == "DataSourceStreamReader":
                    found.add("DataSourceStreamReader")
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "read_table":
                found.add("read_table")
    return found


def test_only_change_feed_reads_streams():
    found = set()
    for dirpath, _, names in os.walk(os.path.join(_ROOT, "streaming")):
        for name in sorted(names):
            if name.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, name), _ROOT)
                if rel != _STREAM_OWNER:
                    found |= {(rel, t) for t in _stream_forms(os.path.join(dirpath, name))}
    assert found == set()


def test_the_stream_gate_sees_each_form():
    assert _stream_forms(os.path.join(_ROOT, _STREAM_OWNER)) == {"DataSourceStreamReader", "read_table"}
