"""Gate for the full-suite shard runs (see conftest sharding note).

Runs LAST in the main process (zz prefix). On a full-suite invocation the
heavy e2e files execute concurrently in subprocess pytest runs; this test
waits for all of them and fails — printing each failing shard's log path,
the report of its first failing test and its log tail — unless every shard
came back fully green. On single-file or filtered invocations sharding
never engages and this test self-skips.
"""

from __future__ import annotations

import pytest

from .conftest import first_failure, wait_shards


def test_parallel_shards_all_green():
    results = wait_shards()
    if results is None:
        pytest.skip("sharding not engaged (not a full-suite run)")
    bad = {n: (rc, path, log) for n, (rc, path, log) in results.items() if rc != 0}
    msg = "\n\n".join(
        f"=== shard {n} exited {rc} (log: {path}) ===\n"
        f"--- first failure ---\n{first_failure(log)}\n"
        f"--- log tail ---\n{log[-4000:]}"
        for n, (rc, path, log) in bad.items()
    )
    assert not bad, f"{len(bad)} test shard(s) failed:\n{msg}"
