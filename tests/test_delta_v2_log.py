"""Delta v2/multi-part checkpoint READ support + minor log compaction.

The spec layouts (delta-io PROTOCOL.md): classic
<v>.checkpoint.parquet, v1 multi-part <v>.checkpoint.<i>.<n>.parquet,
v2 <v>.checkpoint.<uuid>.parquet whose file actions live in sidecar
parquets under _delta_log/_sidecars/, and minor log-compaction files
<start>.<end>.compacted.json replacing their commit range.
Fixtures here are hand-built from the spec (no Delta jars exist to
write them), which is exactly the point: the reader must accept tables
produced by modern external writers.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import (
    list_log_versions,
    live_adds,
    read_delta_as_df,
    read_last_checkpoint,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.sync.retention import delta_compact_log, delta_expire_log
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .conftest import SF_SMOKE


def _make_table(spark, tmp_path, commits=3):
    """Delta table with `commits` commits (versions 0..commits-1)."""
    base = str(tmp_path / "t")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    source = ParquetConversionSource(spark, base, name="region")
    target = DeltaConversionTarget(spark, base, checkpoint_interval=0)
    ctrl = ConversionController()
    res = ctrl.sync(source, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    src_df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    for i in range(commits - 1):
        src_df.withColumn("r_regionkey", F.col("r_regionkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(base)
        res = ctrl.sync(source, {TableFormat.DELTA: target})
        assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    return base


def _single_parquet(df, out_path):
    tmp = out_path + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    shutil.move(part, out_path)
    shutil.rmtree(tmp, ignore_errors=True)


def _rows(spark, base):
    return sorted(tuple(r) for r in read_delta_as_df(spark, base).collect())


def _build_v2_checkpoint(spark, base, version):
    """Hand-build a spec v2 checkpoint at `version`: sidecar parquet with
    the file actions, UUID-named top-level parquet with
    protocol/metaData/checkpointMetadata/sidecar actions."""
    log = os.path.join(base, "_delta_log")
    live = list(live_adds(base, version).values())
    meta_row = None
    proto_row = None
    for v in range(version + 1):
        for line in open(os.path.join(log, f"{v:020d}.json")):
            a = json.loads(line)
            if "metaData" in a:
                meta_row = a["metaData"]
            if "protocol" in a:
                proto_row = a["protocol"]

    add_type = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
            T.StructField("size", T.LongType()),
            T.StructField("modificationTime", T.LongType()),
            T.StructField("dataChange", T.BooleanType()),
            T.StructField("stats", T.StringType()),
        ]
    )
    sidecar_rows = [
        (
            (
                r["path"],
                dict(r["partitionValues"]) if r["partitionValues"] else {},
                r["size"],
                r["modificationTime"],
                False,
                r["stats"],
            ),
        )
        for r in live
    ]
    side_dir = os.path.join(log, "_sidecars")
    os.makedirs(side_dir, exist_ok=True)
    side_name = f"{uuid.uuid4().hex}.parquet"
    side_path = os.path.join(side_dir, side_name)
    _single_parquet(
        spark.createDataFrame(sidecar_rows, T.StructType([T.StructField("add", add_type)])),
        side_path,
    )

    top_schema = T.StructType(
        [
            T.StructField(
                "protocol",
                T.StructType(
                    [
                        T.StructField("minReaderVersion", T.IntegerType()),
                        T.StructField("minWriterVersion", T.IntegerType()),
                    ]
                ),
            ),
            T.StructField(
                "metaData",
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("name", T.StringType()),
                        T.StructField("schemaString", T.StringType()),
                        T.StructField("partitionColumns", T.ArrayType(T.StringType())),
                        T.StructField("configuration", T.MapType(T.StringType(), T.StringType())),
                        T.StructField("createdTime", T.LongType()),
                    ]
                ),
            ),
            T.StructField(
                "checkpointMetadata",
                T.StructType([T.StructField("version", T.LongType())]),
            ),
            T.StructField(
                "sidecar",
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("sizeInBytes", T.LongType()),
                        T.StructField("modificationTime", T.LongType()),
                    ]
                ),
            ),
        ]
    )
    top_rows = [
        ((proto_row["minReaderVersion"], proto_row["minWriterVersion"]), None, None, None),
        (
            None,
            (
                meta_row["id"],
                meta_row.get("name"),
                meta_row["schemaString"],
                meta_row.get("partitionColumns") or [],
                meta_row.get("configuration") or {},
                meta_row.get("createdTime"),
            ),
            None,
            None,
        ),
        (None, None, (version,), None),
        (None, None, None, (side_name, os.path.getsize(side_path), 1)),
    ]
    top_path = os.path.join(log, f"{version:020d}.checkpoint.{uuid.uuid4().hex}.parquet")
    _single_parquet(spark.createDataFrame(top_rows, top_schema), top_path)
    with open(os.path.join(log, "_last_checkpoint"), "w") as fh:
        json.dump({"version": version, "size": len(top_rows) + len(sidecar_rows)}, fh)


def test_v2_checkpoint_with_sidecars_read(spark, tmp_path):
    base = _make_table(spark, tmp_path, commits=3)
    expected = _rows(spark, base)
    _build_v2_checkpoint(spark, base, 2)
    assert _rows(spark, base) == expected
    # and purely from the checkpoint: expire the covered commit JSONs
    pruned = delta_expire_log(base)
    assert pruned == [0, 1]
    assert _rows(spark, base) == expected
    assert len(expected) == 15  # 3 commits x 5 regions


def test_multipart_v1_checkpoint_read(spark, tmp_path):
    base = _make_table(spark, tmp_path, commits=2)
    expected = _rows(spark, base)
    log = os.path.join(base, "_delta_log")
    # write a classic checkpoint via the target's own writer, then split
    # it into two spec multi-part files
    from incubator_xtable_spark.sources.delta_source import write_checkpoint

    write_checkpoint(base, 1)
    classic = os.path.join(log, f"{1:020d}.checkpoint.parquet")
    df = spark.read.parquet(classic)
    rows = df.collect()
    half = len(rows) // 2 or 1
    for i, chunk in enumerate([rows[:half], rows[half:]], start=1):
        _single_parquet(
            spark.createDataFrame(chunk, df.schema),
            os.path.join(log, f"{1:020d}.checkpoint.{i:010d}.{2:010d}.parquet"),
        )
    os.remove(classic)
    cp = read_last_checkpoint(base)
    assert cp is not None and cp["version"] == 1
    assert _rows(spark, base) == expected
    delta_expire_log(base)
    assert _rows(spark, base) == expected


def test_log_compaction_read_and_cleanup(spark, tmp_path):
    base = _make_table(spark, tmp_path, commits=6)
    expected = _rows(spark, base)
    out = delta_compact_log(base, 1, 4)
    assert os.path.basename(out) == f"{1:020d}.{4:020d}.compacted.json"
    # substitution with commit files still present: no double counting
    assert _rows(spark, base) == expected
    # and with the compacted range's commit files deleted
    for v in range(1, 5):
        os.remove(os.path.join(base, "_delta_log", f"{v:020d}.json"))
    assert _rows(spark, base) == expected
    assert list_log_versions(base) == [0, 5]


def test_log_compaction_preserves_late_removes(spark, tmp_path):
    """A file added inside the compacted range and removed after it must
    stay dead: the compacted range tags as its END version, which still
    orders below the later remove."""
    base = _make_table(spark, tmp_path, commits=4)
    # version 4: remove one file added at version 3
    log = os.path.join(base, "_delta_log")
    v3_adds = [
        json.loads(l)["add"]["path"]
        for l in open(os.path.join(log, f"{3:020d}.json"))
        if "add" in json.loads(l)
    ]
    victim = v3_adds[0]
    with open(os.path.join(log, f"{4:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {"remove": {"path": victim, "deletionTimestamp": 1, "dataChange": True}}
            )
            + "\n"
        )
    expected = _rows(spark, base)
    delta_compact_log(base, 1, 3)
    for v in range(1, 4):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert _rows(spark, base) == expected
    live_paths = {r["path"] for r in list(live_adds(base).values())}
    assert victim not in live_paths


def test_time_travel_below_compaction_end_uses_commits(spark, tmp_path):
    """With commit files retained, time travel inside a compacted range
    still replays the JSON commits (the range is skipped when its end
    exceeds max_version)."""
    base = _make_table(spark, tmp_path, commits=5)
    at_v2 = sorted(tuple(r) for r in read_delta_as_df(spark, base, version=2).collect())
    delta_compact_log(base, 1, 4)
    assert sorted(tuple(r) for r in read_delta_as_df(spark, base, version=2).collect()) == at_v2


def test_target_auto_compaction(spark, tmp_path):
    """compaction_interval=3: the target writes <s>.<e>.compacted.json
    every 3 commits and reads survive pruning the covered commit files."""
    base = str(tmp_path / "autocompact")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    source = ParquetConversionSource(spark, base, name="region")
    target = DeltaConversionTarget(
        spark, base, checkpoint_interval=0, compaction_interval=3
    )
    ctrl = ConversionController()
    ctrl.sync(source, {TableFormat.DELTA: target})
    src_df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    for i in range(5):  # versions 1..5; compactions at v2 ([0,2]) and v5 ([3,5])
        src_df.withColumn("r_regionkey", F.col("r_regionkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(base)
        ctrl.sync(source, {TableFormat.DELTA: target})

    log = os.path.join(base, "_delta_log")
    compacted = sorted(glob.glob(os.path.join(log, "*.compacted.json")))
    assert [os.path.basename(p) for p in compacted] == [
        f"{0:020d}.{2:020d}.compacted.json",
        f"{3:020d}.{5:020d}.compacted.json",
    ]
    expected = _rows(spark, base)
    for v in range(6):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert _rows(spark, base) == expected and len(expected) == 30


# ---------------------------------------------------------------------------
# V2 checkpoint WRITE path (target-side, PROTOCOL.md V2 Checkpoints)
# ---------------------------------------------------------------------------


def _make_v2_table(spark, tmp_path, commits=3, interval=2):
    """Delta target configured for v2 checkpoints; `commits` commits."""
    base = str(tmp_path / "v2w")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    source = ParquetConversionSource(spark, base, name="region")
    target = DeltaConversionTarget(
        spark, base, checkpoint_interval=interval, checkpoint_layout="v2"
    )
    ctrl = ConversionController()
    res = ctrl.sync(source, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    src_df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    for i in range(commits - 1):
        src_df.withColumn("r_regionkey", F.col("r_regionkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(base)
        res = ctrl.sync(source, {TableFormat.DELTA: target})
        assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    return base


def test_v2_checkpoint_write_layout_and_readback(spark, tmp_path):
    base = _make_v2_table(spark, tmp_path, commits=3, interval=2)
    log = os.path.join(base, "_delta_log")
    # no classic checkpoint; exactly one UUID top-level at v2 + sidecar(s)
    assert not os.path.exists(os.path.join(log, f"{2:020d}.checkpoint.parquet"))
    tops = glob.glob(os.path.join(log, f"{2:020d}.checkpoint.*.parquet"))
    assert len(tops) == 1
    sidecars = glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
    assert len(sidecars) >= 1
    # protocol declares the v2Checkpoint feature both sides
    proto = None
    for line in open(os.path.join(log, f"{0:020d}.json")):
        a = json.loads(line)
        if "protocol" in a:
            proto = a["protocol"]
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "v2Checkpoint" in proto["writerFeatures"]
    # pointer + readback purely from the checkpoint
    cp = read_last_checkpoint(base)
    assert cp["version"] == 2
    expected = _rows(spark, base)
    assert len(expected) == 15
    assert delta_expire_log(base) == [0, 1]
    assert _rows(spark, base) == expected


def test_v2_checkpoint_write_conformance_green_then_red(spark, tmp_path):
    from incubator_xtable_spark.model.conformance import check_delta_conformance

    base = _make_v2_table(spark, tmp_path, commits=3, interval=2)
    report = check_delta_conformance(spark, base)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]

    # red 1: a referenced sidecar goes missing
    side = glob.glob(os.path.join(base, "_delta_log", "_sidecars", "*.parquet"))[0]
    stash = side + ".stash"
    os.rename(side, stash)
    codes = {i.code for i in check_delta_conformance(spark, base).issues}
    assert "DELTA_V2_SIDECAR_MISSING" in codes
    os.rename(stash, side)

    # red 2: a top-level candidate that sorts last but lacks
    # checkpointMetadata (truncated/bogus writer retry)
    log = os.path.join(base, "_delta_log")
    bogus = os.path.join(log, f"{2:020d}.checkpoint.zzzzzzzz.parquet")
    schema = T.StructType(
        [
            T.StructField(
                "sidecar",
                T.StructType(
                    [T.StructField("path", T.StringType()), T.StructField("sizeInBytes", T.LongType())]
                ),
            )
        ]
    )
    _single_parquet(
        spark.createDataFrame([((os.path.basename(side), os.path.getsize(side)),)], schema),
        bogus,
    )
    codes = {i.code for i in check_delta_conformance(spark, base).issues}
    assert "DELTA_V2_CHECKPOINT_METADATA" in codes
    os.remove(bogus)

    # red 3: protocol loses the v2Checkpoint feature
    v0 = os.path.join(log, f"{0:020d}.json")
    lines = []
    for line in open(v0):
        a = json.loads(line)
        if "protocol" in a:
            a["protocol"]["readerFeatures"] = [
                f for f in a["protocol"]["readerFeatures"] if f != "v2Checkpoint"
            ]
        lines.append(json.dumps(a))
    with open(v0, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    codes = {i.code for i in check_delta_conformance(spark, base).issues}
    assert "DELTA_V2_FEATURE_MISSING" in codes


def test_v2_checkpoint_then_incremental_commits(spark, tmp_path):
    """Commits after the v2 checkpoint layer on top of it correctly."""
    base = _make_v2_table(spark, tmp_path, commits=4, interval=2)  # cp at v2, commit v3
    expected = _rows(spark, base)
    assert len(expected) == 20
    # prune pre-checkpoint JSON; v3 must still apply on top of the checkpoint
    assert delta_expire_log(base) == [0, 1]
    assert _rows(spark, base) == expected


# -- v1 multi-part checkpoint WRITES (r10) ------------------------------------


def _make_multipart_table(spark, tmp_path, monkeypatch, commits=3, interval=2, per_file=4):
    """Delta target configured for multi-part checkpoints, with the
    per-fragment action bound shrunk so a 15-row table spans fragments."""
    import incubator_xtable_spark.sources.delta_source as ds

    monkeypatch.setattr(ds, "_MULTIPART_ACTIONS_PER_FILE", per_file)
    base = str(tmp_path / "mpw")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(base)
    source = ParquetConversionSource(spark, base, name="region")
    target = DeltaConversionTarget(
        spark, base, checkpoint_interval=interval, checkpoint_layout="multipart"
    )
    ctrl = ConversionController()
    res = ctrl.sync(source, {TableFormat.DELTA: target})
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    src_df = spark.read.parquet(f"{SF_SMOKE}/region.parquet")
    for i in range(commits - 1):
        src_df.withColumn("r_regionkey", F.col("r_regionkey") + 100 * (i + 1)).coalesce(
            1
        ).write.mode("append").parquet(base)
        res = ctrl.sync(source, {TableFormat.DELTA: target})
        assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    return base


def test_multipart_checkpoint_write_layout_and_readback(spark, tmp_path, monkeypatch):
    base = _make_multipart_table(spark, tmp_path, monkeypatch, commits=3, interval=2)
    log = os.path.join(base, "_delta_log")
    # no classic single-file checkpoint at v2; only numbered fragments
    assert not os.path.exists(os.path.join(log, f"{2:020d}.checkpoint.parquet"))
    frags = sorted(glob.glob(os.path.join(log, f"{2:020d}.checkpoint.*.*.parquet")))
    assert len(frags) > 1, "fixture must span multiple fragments"
    toks = [os.path.basename(p).split(".") for p in frags]
    n = len(frags)
    assert all(int(t[-2]) == n for t in toks)
    assert sorted(int(t[-3]) for t in toks) == list(range(1, n + 1))
    # %010d formatting on both tokens
    assert all(len(t[-2]) == 10 and len(t[-3]) == 10 for t in toks)
    cp = read_last_checkpoint(base)
    assert cp["version"] == 2 and cp["parts"] == n
    # readback survives pruning every pre-checkpoint commit JSON
    expected = _rows(spark, base)
    assert len(expected) == 15
    assert delta_expire_log(base) == [0, 1]
    assert _rows(spark, base) == expected


def test_multipart_checkpoint_then_incremental_commits(spark, tmp_path, monkeypatch):
    base = _make_multipart_table(spark, tmp_path, monkeypatch, commits=4, interval=2)
    expected = _rows(spark, base)
    assert len(expected) == 20
    assert delta_expire_log(base) == [0, 1]
    assert _rows(spark, base) == expected


def test_multipart_checkpoint_conformance_green_then_red(spark, tmp_path, monkeypatch):
    from incubator_xtable_spark.model.conformance import check_delta_conformance

    base = _make_multipart_table(spark, tmp_path, monkeypatch, commits=3, interval=2)
    report = check_delta_conformance(spark, base)
    assert report.passed, [f"{i.code}: {i.detail}" for i in report.issues]

    log = os.path.join(base, "_delta_log")
    frags = sorted(glob.glob(os.path.join(log, f"{2:020d}.checkpoint.*.*.parquet")))

    # red 1: a fragment goes missing -> incomplete 1..n set
    stash = frags[0] + ".stash"
    os.rename(frags[0], stash)
    codes = {i.code for i in check_delta_conformance(spark, base).issues}
    assert "DELTA_CHECKPOINT_MULTIPART_PARTS" in codes
    os.rename(stash, frags[0])

    # red 2: _last_checkpoint's parts disagrees with the fragment count
    # (the field itself is spec-optional — only a MISMATCH is flagged)
    lc = os.path.join(log, "_last_checkpoint")
    meta = json.load(open(lc))
    good_parts = meta["parts"]
    meta["parts"] = good_parts + 3
    json.dump(meta, open(lc, "w"))
    codes = {i.code for i in check_delta_conformance(spark, base).issues}
    assert "DELTA_CHECKPOINT_MULTIPART_POINTER" in codes

    # red 3: size disagrees with the fragment row total
    meta["parts"] = good_parts
    meta["size"] = meta["size"] + 5
    json.dump(meta, open(lc, "w"))
    codes = {i.code for i in check_delta_conformance(spark, base).issues}
    assert "DELTA_CHECKPOINT_SIZE" in codes


def test_multipart_torn_fragments_from_earlier_attempt_are_ignored(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: leftover fragments from a torn earlier multi-part
    attempt with a DIFFERENT declared part count at the same version
    must not be read together with the complete set (duplicated
    checkpoint actions). `_last_checkpoint.parts` pins the selection;
    absent it, only a COMPLETE 1..n group qualifies."""
    from incubator_xtable_spark.sources.delta_source import _checkpoint_parquets

    base = _make_multipart_table(spark, tmp_path, monkeypatch, commits=3, interval=2)
    log = os.path.join(base, "_delta_log")
    cp = read_last_checkpoint(base)
    n = cp["parts"]
    expected = _rows(spark, base)

    # torn attempt: one stray fragment declaring n+3 parts (indexes 1..1)
    frag1 = glob.glob(os.path.join(log, f"{cp['version']:020d}.checkpoint.*.{n:010d}.parquet"))[0]
    stray = os.path.join(
        log, f"{cp['version']:020d}.checkpoint.{1:010d}.{n + 3:010d}.parquet"
    )
    shutil.copyfile(frag1, stray)

    # parts-pinned selection excludes the stray file
    sel = _checkpoint_parquets(base, cp["version"], cp.get("parts"))
    assert len(sel) == n and stray not in sel
    # pointer-driven read path unchanged by the torn attempt
    assert _rows(spark, base) == expected

    # without the optional parts field, the highest COMPLETE group wins
    sel2 = _checkpoint_parquets(base, cp["version"], None)
    assert sel2 == sel

    # a pointer declaring the torn group's count refuses loudly
    with pytest.raises(ValueError, match="incomplete"):
        _checkpoint_parquets(base, cp["version"], n + 3)
