"""Snapshot-as-diff: the path-keyed set difference every target uses to
commit a FULL snapshot as a minimal change against its live files.

Reference parity:
- FilesDiff.findNewAndRemovedFiles   model/storage/FilesDiff.java:67-85
  (latest files vs previous files, both keyed by path: the new ones are
  latest keys absent from previous, the removed ones previous keys absent
  from latest)

Both sides are driver-resident: the source hands over its snapshot as a
driver-held table, and each target reads its own live state from its log
or manifests. Keys go through ``relativize`` so a URI-form path
(``file:/x``, ``file:///x``) and a bare or base-relative one name the
same file; ``with_file_paths`` turns a Spark scan's URI-escaped file
paths back into file paths, so readers join them against driver paths.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, TypeVar
from urllib.parse import unquote

L = TypeVar("L")
P = TypeVar("P")


def _strip_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://") :]
    if path.startswith("file:"):
        return path[len("file:") :]
    return path


def relativize(path: str, base_path: str) -> str:
    """``path`` with a ``file://`` or ``file:`` scheme stripped, then the
    literal base-path prefix (no regex, so base paths with metacharacters
    are safe). A path outside the base comes back absolute."""
    base = _strip_scheme(base_path).rstrip("/") + "/"
    p = _strip_scheme(path)
    return p[len(base) :] if p.startswith(base) else p


def files_diff(
    latest: Iterable[L],
    previous: Iterable[P],
    base_path: str,
    latest_path: Callable[[L], str],
    previous_path: Callable[[P], str],
) -> tuple[list[L], list[P]]:
    """(added, removed): the ``latest`` items whose relativized path is not
    in ``previous``, and the ``previous`` items whose path is not in
    ``latest``, each in input order and carrying its own payload."""
    new = {relativize(latest_path(x), base_path): x for x in latest}
    old = {relativize(previous_path(x), base_path): x for x in previous}
    added = [x for k, x in new.items() if k not in old]
    removed = [x for k, x in old.items() if k not in new]
    return added, removed


def with_file_paths(df: Any, name: str) -> Any:
    """``df`` with its ``name`` column, a scanned file's path as Spark
    reports it (``input_file_name()`` or ``_metadata.file_path``, scheme
    stripped), turned into the path the file was listed under. Spark
    reports the URI string, which quotes a ``%`` or a space; ``unquote``
    inverts that quoting and, unlike ``url_decode``, keeps a ``+``."""
    escaped = {}
    for uri in df.inputFiles():
        form = _strip_scheme(uri)
        if unquote(form) != form:
            escaped[form] = unquote(form)
    return df.replace(escaped, subset=[name]) if escaped else df
