"""The dead-definition scan (`tools/dead_defs.py`) as a gate: no
top-level conversion-engine definition may go unreferenced, except the
names listed here."""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# <module>.<name> of the unreferenced definitions that stay
_ALLOWED = {
    "tables.BROADCAST_TABLES",
    "tables.register_views",
    "pipeline.continuous_sync",
}


def test_no_unreferenced_definitions():
    spec = importlib.util.spec_from_file_location(
        "dead_defs", os.path.join(_ROOT, "tools", "dead_defs.py")
    )
    dead_defs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dead_defs)
    found = {
        f"{os.path.splitext(os.path.basename(path))[0]}.{name}": f"{path}:{line}"
        for path, line, name in dead_defs.dead_definitions(_ROOT)
    }
    assert {k: v for k, v in found.items() if k not in _ALLOWED} == {}
