from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from incubator_xtable_spark.session import get_spark

    spark = get_spark("xtable_tests")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    from incubator_xtable_spark.sources.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )


# ---------------------------------------------------------------------------
# Full-suite sharding (r15, VERDICT r14 item 2).
#
# The suite is LATENCY-bound, not compute-bound (measured: ~8.6 s of CPU per
# 68 s of wall on the heaviest files; the same files run in the same wall
# time on local[8] and local[32]); a serial run takes ~52 min, which
# overflows the driver's verify window. pytest-xdist is not installed in
# this environment, so this is the same move implemented minimally: on a
# FULL-SUITE run, the heavy self-contained e2e files below are deselected
# from the in-process run and executed concurrently as subprocess pytest
# runs (each with its own Spark JVM), and `tests/test_zz_shards.py` — a
# real test that runs last in the main process — waits for every shard and
# FAILS, printing the shard's output, if any shard did not come back fully
# green. Every test still runs on every full-suite invocation; single-file
# and filtered invocations (-k/-m, explicit paths) are untouched.
#
# Shard files must be self-contained: tmp_path-scoped state only, no fixed
# ports (the socket tests bind port 0), no cross-file fixtures — and no
# memory beyond the heap budget below.
# XT_TEST_SHARDS=off forces the old serial behavior.
#
# Heap budget: a sharded run starts len(_SHARDS) + 1 Spark JVMs at once (one
# per shard plus the main process), and get_spark's 8g default heap for each
# overcommits a 16 GB host until the kernel OOM killer takes one (its shard
# then reports a block of py4j ConnectionRefusedErrors). So when sharding
# engages and SPARK_DRIVER_MEMORY is unset, every shard and the main process
# get SPARK_DRIVER_MEMORY = min(8g, MemAvailable / (2 * (len(_SHARDS) + 1))):
# an equal share of the memory free at launch, half of it left for each JVM's
# non-heap memory and Python workers. The main session is built lazily by the
# `spark` fixture, after collection, so it picks the value up. An explicit
# SPARK_DRIVER_MEMORY wins; single-file and filtered runs set nothing.
# ---------------------------------------------------------------------------

_SHARDS: dict[str, list[str]] = {
    # balanced by measured per-file wall time (idle where known)
    "parity": ["test_oracle_parity.py"],
    "hudi": [
        "test_hudi_col_stats.py",
        "test_hudi_clean.py",
        "test_hudi_files_index.py",
        "test_hfile_index_writes.py",
        "test_hudi_clustering.py",
        "test_hudi_metadata_logs.py",
        "test_hudi_snapshot_view_sync.py",
    ],
    "delta": [
        "test_delta_sink.py",
        "test_delta_v2_log.py",
        "test_cdf_datasource.py",
        "test_delta_cdf.py",
        "test_delta_row_tracking.py",
        "test_delta_dv.py",
        "test_delta_checkpoint.py",
    ],
    "stream": [
        "test_streaming_stateful.py",
        "test_stream_pacing.py",
        "test_cdc_channel.py",
        "test_hudi_cdc_datasource.py",
        "test_row_delete_conversion.py",
    ],
    "ops": [
        "test_pipeline_operators.py",
        "test_conformance.py",
        "test_retention_and_service.py",
        "test_file_formats.py",
    ],
    "misc": [
        "test_cli_and_catalog.py",
        "test_driver_fastpaths.py",
        "test_http_service.py",
        "test_catalog_external.py",
        "test_cdc_stream.py",
    ],
}

_SHARD_PROCS: dict[str, dict] = {}

_HEAP_CAP_MB = 8 * 1024  # get_spark's default spark.driver.memory


def _shard_heap(meminfo: str = "/proc/meminfo") -> str | None:
    """Driver heap for each JVM of a sharded run (see the heap budget in the
    sharding note), or None where MemAvailable cannot be read."""
    try:
        with open(meminfo) as fh:
            avail_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return None
    share_mb = avail_kb // 1024 // (2 * (len(_SHARDS) + 1))
    return f"{min(_HEAP_CAP_MB, share_mb)}m"


def _shard_logs_dir() -> str:
    import tempfile

    d = os.path.join(tempfile.gettempdir(), f"xt_test_shards_{os.getpid()}")
    os.makedirs(d, exist_ok=True)
    return d


def _shard_env(environ=os.environ) -> dict:
    """The shards' environment. Sets the heap budget in ``environ`` too, so
    the main process's lazily built session gets the same heap."""
    if "SPARK_DRIVER_MEMORY" not in environ:
        heap = _shard_heap()
        if heap:
            environ["SPARK_DRIVER_MEMORY"] = heap
    env = dict(environ, XT_TEST_SHARDS="off")
    # each shard JVM at 8 cores: same results, less scheduler churn when
    # 6 sessions share the box (the files are latency-bound, not CPU-bound)
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    return env


def pytest_collection_modifyitems(config, items):
    if os.environ.get("XT_TEST_SHARDS", "on") == "off":
        return
    if config.option.keyword or config.option.markexpr:
        return
    collected_files = {os.path.basename(str(item.fspath)) for item in items}
    shard_files = {f for fs in _SHARDS.values() for f in fs}
    # engage only on a genuine full-suite run: every shard file collected
    # AND there are non-shard files too (a bare `pytest tests/` shape)
    if not shard_files <= collected_files or not (collected_files - shard_files):
        return

    import subprocess

    logs = _shard_logs_dir()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = _shard_env()
    for name, files in _SHARDS.items():
        log_path = os.path.join(logs, f"{name}.log")
        with open(log_path, "w") as fh:
            proc = subprocess.Popen(
                [sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider"]
                + [os.path.join(repo, "tests", f) for f in files],
                cwd=repo,
                env=env,
                stdout=fh,
                stderr=subprocess.STDOUT,
            )
        _SHARD_PROCS[name] = {"proc": proc, "log": log_path, "files": files}

    kept, deselected = [], []
    for item in items:
        if os.path.basename(str(item.fspath)) in shard_files:
            deselected.append(item)
        else:
            kept.append(item)
    items[:] = kept
    config.hook.pytest_deselected(items=deselected)


_PROGRESS = re.compile(r"^([.FEsxX]+) *(?:\[ *\d+%\])?$", re.M)
_SECTION = re.compile(r"^_+ [^_ ].* _+$", re.M)  # `___ test_x ___`
_SECTION_END = re.compile(r"^(?:_+ [^_ ].* _+|=+ .* =+)$", re.M)


def first_failure(log: str) -> str:
    """The report section of the first test, in run order, that failed or
    errored in a ``pytest -q`` log, or "" when there is none.

    pytest reports all ERRORS sections before all FAILURES sections, so a
    shard that lost its JVM lists later tests' ConnectionRefusedErrors first;
    the progress characters (``..FE``) say which kind came first, and the
    k-th ``F``/``E`` is the k-th section under its banner.
    """
    progress = "".join(m.group(1) for m in _PROGRESS.finditer(log))
    first = next((c for c in progress if c in "FE"), None)
    if first is None:
        return ""
    banner = re.search(rf"^=+ {'FAILURES' if first == 'F' else 'ERRORS'} =+$", log, re.M)
    head = banner and _SECTION.search(log, banner.end())
    if not head:
        return ""
    end = _SECTION_END.search(log, head.end())
    return log[head.start() : end.start() if end else len(log)].rstrip()


def wait_shards(timeout_s: int = 2400):
    """Block until every shard subprocess finishes; returns
    {name: (returncode, log_path, log_text)} or None when sharding never
    engaged."""
    import time as _time

    if not _SHARD_PROCS:
        return None
    results = {}
    deadline = _time.monotonic() + timeout_s
    for name, info in _SHARD_PROCS.items():
        proc = info["proc"]
        try:
            proc.wait(timeout=max(1.0, deadline - _time.monotonic()))
        except Exception:
            proc.kill()
            proc.wait()
        try:
            with open(info["log"], "r", errors="replace") as fh:
                log = fh.read()
        except OSError:
            log = "<no shard log>"
        results[name] = (proc.returncode, info["log"], log)
    return results
