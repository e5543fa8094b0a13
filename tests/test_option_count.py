"""The option count (`tools/option_count.py`) as a ratchet: the engine's
``__init__`` parameters and ``run_sync`` dataset keys may not grow past
the ceilings kept here. A change that adds a knob raises its ceiling in
the same diff."""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_MAX_INIT_PARAMS = 109
_MAX_RUN_SYNC_KEYS = 21


def _tool():
    spec = importlib.util.spec_from_file_location(
        "option_count", os.path.join(_ROOT, "tools", "option_count.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_init_params_within_ceiling():
    assert _tool().init_params(_ROOT) <= _MAX_INIT_PARAMS


def test_run_sync_keys_within_ceiling():
    assert _tool().run_sync_keys(_ROOT) <= _MAX_RUN_SYNC_KEYS
