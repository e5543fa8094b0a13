"""Delta checkpoint tests: spec checkpoint parquet + _last_checkpoint
pointer in the classic, multi-part and v2 layouts, each file readable by
Spark's own parquet reader; read equivalence through/around checkpoints,
time travel below the checkpoint version."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

import incubator_xtable_spark.sources.delta_source as DS
from incubator_xtable_spark.model.conformance import check_delta_conformance
from incubator_xtable_spark.model.core import TableFormat
from incubator_xtable_spark.sources.delta_source import (
    list_log_versions,
    live_adds,
    read_delta_as_df,
    read_last_checkpoint,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .conftest import SF_SMOKE

# the action kinds a checkpoint file may carry, counted per file
_KINDS = ("add", "metaData", "protocol", "checkpointMetadata", "sidecar")


def _kind_counts(spark, path: str) -> dict[str, int]:
    """{kind: non-null rows} of one checkpoint file, read by Spark."""
    df = spark.read.parquet(path)
    kinds = [k for k in _KINDS if k in df.columns]
    row = df.select(*[F.count(F.col(k)).alias(k) for k in kinds]).collect()[0]
    return {k: row[k] for k in kinds} | {"rows": df.count()}


@pytest.mark.parametrize("layout", ["classic", "multipart", "v2"])
def test_checkpoint_written_and_read(spark, tmp_path, monkeypatch, layout):
    """Fragments and sidecars hold two actions each, so the multi-part
    and v2 checkpoints span several files; Spark reads every one of
    them and finds the state at the checkpoint version."""
    monkeypatch.setattr(DS, "_MULTIPART_ACTIONS_PER_FILE", 2)
    monkeypatch.setattr(DS, "_SIDECAR_ACTIONS_PER_FILE", 2)
    d = str(tmp_path / "cp_table")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(d)
    source = ParquetConversionSource(spark, d, name="region")
    target = DeltaConversionTarget(spark, d, checkpoint_interval=3, checkpoint_layout=layout)
    controller = ConversionController()
    controller.sync(source, {TableFormat.DELTA: target})

    base = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    # drive 5 more commits (versions 1..5); checkpoint lands at v3
    for i in range(5):
        base.withColumn("r_regionkey", F.col("r_regionkey") + 100 + i).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        controller.sync(source, {TableFormat.DELTA: target})

    versions = list_log_versions(d)
    assert max(versions) == 5
    cp = read_last_checkpoint(d)
    assert cp is not None and cp["version"] == 3

    # every file the writer produced, as Spark's parquet reader sees it:
    # 4 live adds + metaData + protocol at v3
    log = os.path.join(d, "_delta_log")
    top = sorted(glob.glob(os.path.join(log, f"{3:020d}.checkpoint*.parquet")))
    sidecars = sorted(glob.glob(os.path.join(log, "_sidecars", "*.parquet")))
    counts = [_kind_counts(spark, p) for p in top + sidecars]
    total = {k: sum(c.get(k, 0) for c in counts) for k in _KINDS + ("rows",)}
    assert (total["add"], total["metaData"], total["protocol"]) == (4, 1, 1)
    assert cp["size"] == total["rows"]
    if layout == "classic":
        assert [os.path.basename(p) for p in top] == [f"{3:020d}.checkpoint.parquet"]
        assert "parts" not in cp and not sidecars
    elif layout == "multipart":
        assert [os.path.basename(p) for p in top] == [
            f"{3:020d}.checkpoint.{i:010d}.{3:010d}.parquet" for i in (1, 2, 3)
        ]
        assert cp["parts"] == 3 and not sidecars
        assert all(c["rows"] == 2 for c in counts)
    else:
        assert len(top) == 1 and len(sidecars) == 2
        assert (total["checkpointMetadata"], total["sidecar"]) == (1, 2)
        assert [c["add"] for c in counts[1:]] == [2, 2]
        assert "parts" not in cp
    assert check_delta_conformance(spark, d).passed

    # reads through the checkpoint path match raw parquet
    a = sorted(map(tuple, spark.read.parquet(d).collect()))
    b = sorted(map(tuple, read_delta_as_df(spark, d).collect()))
    assert a == b and len(a) == 30

    # live file count at head = 6 files
    assert len(live_adds(d)) == 6

    # time travel BELOW the checkpoint still replays JSON correctly
    assert read_delta_as_df(spark, d, version=1).count() == 10
    assert read_delta_as_df(spark, d, version=3).count() == 20


class _FailingOs:
    """The ``os`` module as delta_source sees it, except that its
    ``fail_at``-th ``os.replace`` raises (0: none does); counts them."""

    def __init__(self, fail_at: int) -> None:
        self.fail_at = fail_at
        self.replaces = 0

    def __getattr__(self, name):
        return getattr(os, name)

    def replace(self, src, dst):
        self.replaces += 1
        if self.replaces == self.fail_at:
            raise OSError(f"injected failure at os.replace #{self.replaces}")
        os.replace(src, dst)


def _write_checkpoint_with(monkeypatch, fake_os, base, version, layout):
    monkeypatch.setattr(DS, "os", fake_os)
    try:
        DS.write_checkpoint(base, version, layout=layout)
    finally:
        monkeypatch.setattr(DS, "os", os)


def _one_file_commits(spark, base, layout):
    """Six one-file commits (versions 0..5) through a Delta target whose
    checkpoint lands at v3 in ``layout``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import InternalPartitionField

    target = DeltaConversionTarget(spark, base, checkpoint_interval=3, checkpoint_layout=layout)
    for v in range(6):
        path = os.path.join(base, f"p={v % 2}", f"f-{v}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table({"id": pa.array([v], pa.int64())}), path)
        os.utime(path, (1_700_000_000 + v, 1_700_000_000 + v))
        source = ParquetConversionSource(
            spark, base, name="t", partition_fields=[InternalPartitionField("p")]
        )
        ConversionController().sync(source, {TableFormat.DELTA: target})


@pytest.mark.parametrize("layout", ["classic", "multipart", "v2"])
def test_checkpoint_write_survives_a_failure_at_every_rename(
    spark, tmp_path, monkeypatch, layout
):
    """A checkpoint write that fails at its k-th rename, for every k,
    leaves `_last_checkpoint` on the previous checkpoint, every view's
    state as it was, no temporary file behind, and a conformant table;
    writing the checkpoint again then succeeds. Two actions per fragment
    or sidecar, so the split layouts rename several files."""
    monkeypatch.setattr(DS, "_MULTIPART_ACTIONS_PER_FILE", 2)
    monkeypatch.setattr(DS, "_SIDECAR_ACTIONS_PER_FILE", 2)
    pristine = str(tmp_path / "pristine")
    _one_file_commits(spark, pristine, layout)
    assert list_log_versions(pristine) == list(range(6))
    previous = read_last_checkpoint(pristine)
    assert previous["version"] == 3

    def state(base, exact=True):
        """Every view's live adds, metaData and protocol; not ``exact``:
        without the fields that tell which checkpoint a view was read
        through (the version tag, dataChange=false)."""
        drop = () if exact else ("version", "dataChange")
        return {
            v: (
                {
                    p: {k: x for k, x in a.items() if k not in drop}
                    for p, a in live_adds(base, v).items()
                },
                DS.latest_action(base, "metaData", v),
                DS.latest_action(base, "protocol", v),
            )
            for v in range(6)
        }

    def leftovers(base):
        dirs = [os.path.join(base, "_delta_log", sub) for sub in ("", "_sidecars")]
        return [n for d in dirs if os.path.isdir(d) for n in os.listdir(d) if "tmp" in n]

    expected = state(pristine)
    counter = _FailingOs(0)
    _write_checkpoint_with(
        monkeypatch, counter, shutil.copytree(pristine, str(tmp_path / "count")), 5, layout
    )
    assert counter.replaces >= 2  # at least the checkpoint file and its pointer
    for k in range(1, counter.replaces + 1):
        d = shutil.copytree(pristine, str(tmp_path / f"crash-{k}"))
        with pytest.raises(OSError, match="injected"):
            _write_checkpoint_with(monkeypatch, _FailingOs(k), d, 5, layout)
        assert read_last_checkpoint(d) == previous, k
        assert state(d) == expected, k
        assert not leftovers(d), k
        assert check_delta_conformance(spark, d).passed, k
        DS.write_checkpoint(d, 5, layout=layout)
        assert read_last_checkpoint(d)["version"] == 5
        assert state(d, exact=False) == state(pristine, exact=False), k
        assert check_delta_conformance(spark, d).passed, k


def test_expire_removes_sidecars_a_failed_checkpoint_left(spark, tmp_path, monkeypatch):
    """A v2 checkpoint write (at v4, below the head v5) that fails at its
    3rd rename has renamed two sidecars that nothing references. Once the
    write is rerun,
    `delta_expire_log` removes them, the checkpoint below and that
    checkpoint's sidecars: only the sidecars the new checkpoint
    references remain, and the table reads and conforms as before."""
    import pyarrow.parquet as pq

    from incubator_xtable_spark.sync.retention import delta_expire_log

    monkeypatch.setattr(DS, "_SIDECAR_ACTIONS_PER_FILE", 2)
    d = str(tmp_path / "t")
    _one_file_commits(spark, d, "v2")
    log = os.path.join(d, "_delta_log")
    sidecar_dir = os.path.join(log, "_sidecars")
    before = set(os.listdir(sidecar_dir))
    with pytest.raises(OSError, match="injected"):
        _write_checkpoint_with(monkeypatch, _FailingOs(3), d, 4, "v2")
    assert len(set(os.listdir(sidecar_dir)) - before) == 2
    DS.write_checkpoint(d, 4, layout="v2")
    expected = sorted(map(tuple, read_delta_as_df(spark, d).collect()))
    assert check_delta_conformance(spark, d).passed

    assert delta_expire_log(d) == list(range(4))
    (top,) = glob.glob(os.path.join(log, "*.checkpoint*.parquet"))
    assert os.path.basename(top).startswith(f"{4:020d}.checkpoint.")
    refs = pq.read_table(top, columns=["sidecar"]).column("sidecar").to_pylist()
    assert sorted(os.listdir(sidecar_dir)) == sorted(r["path"] for r in refs if r)
    assert check_delta_conformance(spark, d).passed
    assert sorted(map(tuple, read_delta_as_df(spark, d).collect())) == expected
