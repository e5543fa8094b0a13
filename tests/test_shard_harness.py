"""The full-suite shard harness in conftest: the per-JVM heap budget and the
gate's first-failure extraction (see the conftest sharding note)."""

from __future__ import annotations

from . import conftest
from .conftest import _SHARDS, _shard_env, _shard_heap, first_failure


def _meminfo(tmp_path, avail_kb: int) -> str:
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       16479424 kB\nMemFree:          912340 kB\nMemAvailable:   {avail_kb} kB\n")
    return str(p)


def test_heap_is_half_an_equal_share_of_available_memory(tmp_path):
    jvms = len(_SHARDS) + 1
    avail_kb = 15_804_600
    assert _shard_heap(_meminfo(tmp_path, avail_kb)) == f"{avail_kb // 1024 // (2 * jvms)}m"


def test_heap_is_capped_at_the_session_default(tmp_path):
    assert _shard_heap(_meminfo(tmp_path, 1024 * 1024 * 1024)) == "8192m"


def test_heap_unknown_without_memavailable(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemTotal:       16479424 kB\n")
    assert _shard_heap(str(p)) is None
    assert _shard_heap(str(tmp_path / "absent")) is None


def test_shard_env_sets_the_main_process_heap_too(monkeypatch):
    monkeypatch.setattr(conftest, "_shard_heap", lambda: "1102m")
    environ = {"PATH": "/usr/bin"}
    env = _shard_env(environ)
    assert env["SPARK_DRIVER_MEMORY"] == environ["SPARK_DRIVER_MEMORY"] == "1102m"
    assert env["XT_TEST_SHARDS"] == "off"
    assert env["SPARK_GRAFT_CPUS"] == "8"


def test_explicit_driver_memory_wins():
    environ = {"SPARK_DRIVER_MEMORY": "3g", "SPARK_GRAFT_CPUS": "2"}
    env = _shard_env(environ)
    assert environ == {"SPARK_DRIVER_MEMORY": "3g", "SPARK_GRAFT_CPUS": "2"}
    assert env["SPARK_DRIVER_MEMORY"] == "3g"
    assert env["SPARK_GRAFT_CPUS"] == "2"


_SEP = "_ " * 40


def _log(progress: str) -> str:
    # pytest -q layout: progress, ERRORS sections, FAILURES sections, summary
    return "\n".join(
        [
            f"{progress:<72} [100%]",
            "=" * 36 + " ERRORS " + "=" * 36,
            "_" * 26 + " ERROR at setup of test_later " + "_" * 26,
            "E   ConnectionRefusedError: [Errno 111] Connection refused",
            "=" * 35 + " FAILURES " + "=" * 35,
            "_" * 34 + " test_dies " + "_" * 34,
            "    def test_dies(spark):",
            _SEP,
            "E   py4j.protocol.Py4JNetworkError: Error while receiving",
            "_" * 34 + " test_next " + "_" * 34,
            "E   ConnectionRefusedError: [Errno 111] Connection refused",
            "=" * 27 + " short test summary info " + "=" * 27,
            "FAILED test_a.py::test_dies",
        ]
    )


def test_first_failure_follows_run_order_not_report_order():
    # test_dies failed before test_later errored, though ERRORS print first
    section = first_failure(_log("..FFE"))
    assert section.splitlines()[0].strip("_ ") == "test_dies"
    assert "Error while receiving" in section
    assert "test_next" not in section


def test_first_failure_is_a_setup_error_when_that_came_first():
    section = first_failure(_log(".EFF"))
    assert section.splitlines()[0].strip("_ ") == "ERROR at setup of test_later"
    assert "FAILURES" not in section


def test_first_failure_empty_for_a_green_log():
    assert first_failure("..s..  [100%]\n===== 4 passed, 1 skipped in 2.0s =====") == ""
