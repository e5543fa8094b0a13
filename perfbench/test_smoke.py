"""Smoke test of the benchmark itself: one tiny run per workload.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that each workload emits every metric BENCHMARK.json names, with
its unit, in both modes, and that the correctness gate fires when a
target's inventory misses a file or a scan returns other rows.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import tempfile

import pytest

from perfbench import run

TINY = {
    "full_fanout": {"files": 6},
    "incremental_backlog": {"base_files": 2, "commits": 1, "files_per_commit": 2},
    "readback_scan": {"files": 6, "ranges": 1},
}


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


@pytest.fixture(scope="module")
def spark():
    saved = dict(os.environ)
    saved_tempdir = tempfile.tempdir
    work = tempfile.mkdtemp(prefix="perfbench-smoke-")
    run.prepare_env(work)
    from incubator_xtable_spark.session import get_spark

    session = get_spark("perfbench-smoke")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()
    os.environ.clear()
    os.environ.update(saved)
    tempfile.tempdir = saved_tempdir
    shutil.rmtree(work, ignore_errors=True)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", list(TINY))
def test_every_metric_emitted_with_its_unit(spark, tmp_path, name, trace):
    result, lines, _ = run.run_workload(spark, name, 7, 0, bool(trace), str(tmp_path), TINY[name])
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, lines
    declared = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    for key, metric in result["metrics"].items():
        assert isinstance(metric["value"], (int, float)) and math.isfinite(metric["value"]), key
        if not trace:
            assert metric["value"] > 0, key
    json.dumps(result)  # the result line must serialize


def test_gate_fires_on_a_missing_target_file(spark, tmp_path, monkeypatch):
    from perfbench import workloads
    from perfbench.tracing import NullTracer

    wl = workloads.FullFanout(spark, str(tmp_path), 7, TINY["full_fanout"])
    wl.setup()
    wl.reset()
    results = wl.run_op(NullTracer())
    assert wl.check(results).errors == []

    real = workloads.target_files

    def one_missing(spark_, root, fmt):
        files = real(spark_, root, fmt)
        return files - {sorted(files)[0]} if fmt == "iceberg" else files

    monkeypatch.setattr(workloads, "target_files", one_missing)
    errors = wl.check(results).errors
    assert errors == ["iceberg: 1 live files missing, 0 unexpected"]


def test_gate_fires_on_a_wrong_scan_result(spark, tmp_path):
    from perfbench import workloads
    from perfbench.tracing import NullTracer

    wl = workloads.ReadbackScan(spark, str(tmp_path), 7, TINY["readback_scan"])
    wl.setup()
    wl.reset()
    out = wl.run_op(NullTracer())
    assert wl.check(out).errors == []
    out.aggregate = (out.aggregate[0], out.aggregate[1] + 1)
    assert len(wl.check(out).errors) == 1


def test_gate_fires_on_a_full_fallback():
    from incubator_xtable_spark.model.core import SyncMode, SyncResult, SyncStatusCode, TableFormat
    from perfbench.workloads import verify_sync

    files = {"/t/a.parquet"}
    results = {
        TableFormat.ICEBERG: SyncResult(SyncMode.FULL, SyncStatusCode.SUCCESS, TableFormat.ICEBERG)
    }
    errors = verify_sync(results, SyncMode.INCREMENTAL, files, {"iceberg": files})
    assert errors == ["iceberg: FULL sync where INCREMENTAL was expected"]


def test_failed_operations_are_counted(spark, tmp_path, monkeypatch):
    from perfbench import workloads

    monkeypatch.setattr(workloads.FullFanout, "warm_up", lambda self, tracer: None)
    monkeypatch.setattr(workloads, "target_files", lambda spark_, root, fmt: set())
    result, _, _ = run.run_workload(spark, "full_fanout", 7, 0, False, str(tmp_path), TINY["full_fanout"])
    assert not result["correct"]
    assert result["failed"] == result["attempted"] >= 1
