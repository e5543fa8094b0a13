"""Hudi MOR snapshot-view SYNC: conversions of the real-time view.

The reference always converts the read-optimized view
(HudiDataFileExtractor getLatestBaseFiles); with
HudiConversionSource(view="snapshot") the conversion engine itself
materializes log-bearing slices as compaction shadows (base + merged
log tail, executor-side rewrite of only the affected files) so every
target sees un-compacted upserts/deletes. Log-only deltacommits —
invisible to the read-optimized diff — become shadow swaps in the
incremental path, and a real compaction commit swaps the shadow back
out for the new base file. Flipping the view between syncs forces a
FULL restatement via the bookmark's sourceView tag.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa

from incubator_xtable_spark.model.core import SyncMode, SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import read_delta_as_df
from incubator_xtable_spark.sources.hudi_source import HudiConversionSource, read_hudi_as_df
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from .hudi_logtable import avro_data_block, delete_block
from .test_hudi_log_merge import AVRO_SCHEMA, _add_log, _commit, _write_base, mor_base  # noqa: F401
from .model_tables import model_rows


def _rows(df):
    return sorted((r["id"], r["v"]) for r in df.select("id", "v").collect())


def _sync(spark, base, delta_dir, view):
    source = HudiConversionSource(spark, base, view=view)
    target = DeltaConversionTarget(spark, delta_dir)
    res = ConversionController().sync(source, {TableFormat.DELTA: target})[TableFormat.DELTA]
    assert res.status == SyncStatusCode.SUCCESS, res.error
    return res


def test_full_sync_snapshot_view(spark, tmp_path, mor_base):
    """Upserts + deletes + a log-only slice all land in the target."""
    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [
            avro_data_block(
                spark,
                "20240101000002000",
                AVRO_SCHEMA,
                [{"id": 2, "v": "updated"}, {"id": 10, "v": "new"}],
            ),
            delete_block(spark, "20240101000002000", ["0"]),
        ],
    )
    _add_log(
        mor_base,
        ".g9_001.log.1_0-1-0",
        "20240101000003000",
        [avro_data_block(spark, "20240101000003000", AVRO_SCHEMA, [{"id": 99, "v": "logonly"}])],
        file_id="g9",
    )
    delta_dir = str(tmp_path / "as_delta")
    _sync(spark, mor_base, delta_dir, view="snapshot")
    expect = _rows(read_hudi_as_df(spark, mor_base, mode="snapshot"))
    assert _rows(read_delta_as_df(spark, delta_dir)) == expect
    assert (99, "logonly") in expect and (2, "updated") in expect
    # the shadows are new files; originals are untouched
    assert os.path.exists(os.path.join(mor_base, "g1_0-0-0_001.parquet"))

    # default read-optimized sync is unchanged by all of this
    ro_dir = str(tmp_path / "as_delta_ro")
    _sync(spark, mor_base, ro_dir, view="read_optimized")
    assert _rows(read_delta_as_df(spark, ro_dir)) == [(i, f"x{i}") for i in range(5)]


def test_incremental_log_commits_swap_shadows(spark, tmp_path, mor_base):
    """Log-only deltacommits produce incremental shadow swaps; a later
    compaction (new base file) swaps the shadow back out."""
    delta_dir = str(tmp_path / "as_delta")
    res = _sync(spark, mor_base, delta_dir, view="snapshot")
    assert res.mode == SyncMode.FULL

    # log commit 1: upsert id 1
    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [avro_data_block(spark, "20240101000002000", AVRO_SCHEMA, [{"id": 1, "v": "u1"}])],
    )
    res = _sync(spark, mor_base, delta_dir, view="snapshot")
    assert res.mode == SyncMode.INCREMENTAL
    assert _rows(read_delta_as_df(spark, delta_dir)) == _rows(
        read_hudi_as_df(spark, mor_base, mode="snapshot")
    )

    # log commit 2: delete id 4 — the slice's shadow is superseded
    _add_log(
        mor_base,
        ".g1_001.log.2_0-1-0",
        "20240101000003000",
        [delete_block(spark, "20240101000003000", ["4"])],
    )
    res = _sync(spark, mor_base, delta_dir, view="snapshot")
    assert res.mode == SyncMode.INCREMENTAL
    got = _rows(read_delta_as_df(spark, delta_dir))
    assert got == _rows(read_hudi_as_df(spark, mor_base, mode="snapshot"))
    assert (1, "u1") in got and all(i != 4 for i, _ in got)

    # compaction: a commit writes the merged base file for g1
    merged = sorted(got)
    s = _write_base(mor_base, "g1_0-0-0_004.parquet", [i for i, _ in merged])
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "id": pa.array([i for i, _ in merged], pa.int64()),
                "v": [v for _, v in merged],
            }
        ),
        os.path.join(mor_base, "g1_0-0-0_004.parquet"),
    )
    _commit(
        mor_base,
        "20240101000004000",
        "commit",
        [
            {
                "fileId": "g1",
                "path": "g1_0-0-0_004.parquet",
                "fileSizeInBytes": os.path.getsize(os.path.join(mor_base, "g1_0-0-0_004.parquet")),
                "numWrites": len(merged),
            }
        ],
    )
    res = _sync(spark, mor_base, delta_dir, view="snapshot")
    assert res.mode == SyncMode.INCREMENTAL
    assert _rows(read_delta_as_df(spark, delta_dir)) == merged
    # the live delta file set is now the compacted base, no shadows
    from incubator_xtable_spark.sources.delta_source import live_adds

    paths = list(live_adds(delta_dir))
    assert any("g1_0-0-0_004" in p for p in paths)
    assert not any(".compacted-" in p for p in paths)


def test_view_flip_forces_full_restatement(spark, tmp_path, mor_base):
    """read-optimized bookmark + snapshot-view source -> FULL, and the
    target converges to the snapshot view."""
    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [avro_data_block(spark, "20240101000002000", AVRO_SCHEMA, [{"id": 0, "v": "flip"}])],
    )
    delta_dir = str(tmp_path / "as_delta")
    res = _sync(spark, mor_base, delta_dir, view="read_optimized")
    assert res.mode == SyncMode.FULL
    assert _rows(read_delta_as_df(spark, delta_dir)) == [(i, f"x{i}") for i in range(5)]

    res = _sync(spark, mor_base, delta_dir, view="snapshot")
    assert res.mode == SyncMode.FULL  # the flip, not the timeline, forced it
    got = _rows(read_delta_as_df(spark, delta_dir))
    assert got == _rows(read_hudi_as_df(spark, mor_base, mode="snapshot"))
    assert (0, "flip") in got

    # flipping back also restates
    res = _sync(spark, mor_base, delta_dir, view="read_optimized")
    assert res.mode == SyncMode.FULL
    assert _rows(read_delta_as_df(spark, delta_dir)) == [(i, f"x{i}") for i in range(5)]


def test_shadow_materialization_idempotent(spark, tmp_path, mor_base):
    """Same timeline state -> same shadow paths, no re-write churn."""
    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [avro_data_block(spark, "20240101000002000", AVRO_SCHEMA, [{"id": 7, "v": "seven"}])],
    )
    src = HudiConversionSource(spark, mor_base, view="snapshot")
    snap1 = src.get_current_snapshot()
    paths1 = sorted(r["physical_path"] for r in model_rows(snap1.files))
    mtimes = {p: os.path.getmtime(p) for p in paths1 if ".compacted-" in p}
    assert mtimes
    snap2 = HudiConversionSource(spark, mor_base, view="snapshot").get_current_snapshot()
    paths2 = sorted(r["physical_path"] for r in model_rows(snap2.files))
    assert paths1 == paths2
    for p, m in mtimes.items():
        assert os.path.getmtime(p) == m  # untouched on re-materialize


# ---------------------------------------------------------------------------
# CDC reads (read_hudi_cdc) — the Hudi member of the CDC-read triple
# ---------------------------------------------------------------------------


def _cdc(df):
    return sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in df.select("id", "v", "_change_type").collect()
    )


def test_cdc_derivation_from_log_commit(spark, mor_base):
    """A deltacommit's CDC derives from the effective-representation diff:
    upsert of an existing key = pre+post pair, new key = insert, delete
    block = delete."""
    from incubator_xtable_spark.sources.hudi_source import read_hudi_cdc

    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [
            avro_data_block(
                spark,
                "20240101000002000",
                AVRO_SCHEMA,
                [{"id": 2, "v": "updated"}, {"id": 10, "v": "new"}],
            ),
            delete_block(spark, "20240101000002000", ["0"]),
        ],
    )
    got = _cdc(read_hudi_cdc(spark, mor_base, "20240101000002000"))
    assert got == [
        (0, "x0", "delete"),
        (2, "updated", "update_postimage"),
        (2, "x2", "update_preimage"),
        (10, "new", "insert"),
    ]


def test_cdc_derivation_first_commit_all_inserts(spark, mor_base):
    from incubator_xtable_spark.sources.hudi_source import read_hudi_cdc

    got = _cdc(read_hudi_cdc(spark, mor_base, "20240101000001000"))
    assert got == [(i, f"x{i}", "insert") for i in range(5)]


def test_cdc_supplemental_block_tier(spark, mor_base):
    """cdcStats in the write stats route the read to CDC blocks, which
    override derivation entirely."""
    import os

    from .hudi_logtable import cdc_data_block
    from .test_hudi_log_merge import SPARK_SCHEMA_JSON, _commit
    from incubator_xtable_spark.sources.hudi_source import read_hudi_cdc

    cdc_name = ".g1_002.cdc.log.1_0-1-0"
    with open(os.path.join(mor_base, cdc_name), "wb") as fh:
        fh.write(
            cdc_data_block(
                spark,
                "20240101000005000",
                AVRO_SCHEMA,
                [
                    {"op": "u", "before": {"id": 1, "v": "x1"}, "after": {"id": 1, "v": "cdc"}},
                    {"op": "d", "before": {"id": 3, "v": "x3"}, "after": None},
                    {"op": "i", "before": None, "after": {"id": 42, "v": "fresh"}},
                ],
            )
        )
    _commit(
        mor_base,
        "20240101000005000",
        "deltacommit",
        [
            {
                "fileId": "g1",
                "path": "g1_0-0-0_001.parquet",
                "fileSizeInBytes": 1,
                "numWrites": 0,
                "cdcStats": {cdc_name: os.path.getsize(os.path.join(mor_base, cdc_name))},
            }
        ],
    )
    got = _cdc(read_hudi_cdc(spark, mor_base, "20240101000005000"))
    assert got == [
        (1, "cdc", "update_postimage"),
        (1, "x1", "update_preimage"),
        (3, "x3", "delete"),
        (42, "fresh", "insert"),
    ]


def test_as_of_shadows_exclude_later_blocks_in_same_file(spark, mor_base):
    """Hudi appends later commits' blocks to the SAME log file; an as-of
    view (and the prev-side of a CDC/commit diff) must not see them."""
    import os

    from incubator_xtable_spark.sources.hudi_source import read_hudi_cdc

    # T2: upsert id 1 in a new log file
    path = _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [avro_data_block(spark, "20240101000002000", AVRO_SCHEMA, [{"id": 1, "v": "t2"}])],
    )
    # T3: APPEND a block for the next commit to the SAME file
    with open(path, "ab") as fh:
        fh.write(
            avro_data_block(spark, "20240101000003000", AVRO_SCHEMA, [{"id": 1, "v": "t3"}])
        )
    _commit(
        mor_base,
        "20240101000003000",
        "deltacommit",
        [
            {
                "fileId": "g1",
                "path": os.path.basename(path),
                "fileSizeInBytes": os.path.getsize(path),
                "numWrites": 0,
            }
        ],
    )
    # as-of T2 sees t2, head sees t3
    at_t2 = dict(_rows(read_hudi_as_df(spark, mor_base, as_of_instant="20240101000002000", mode="snapshot")))
    at_t3 = dict(_rows(read_hudi_as_df(spark, mor_base, mode="snapshot")))
    assert at_t2[1] == "t2" and at_t3[1] == "t3"
    # and the T3 commit's CDC is exactly the t2->t3 update pair
    got = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in read_hudi_cdc(spark, mor_base, "20240101000003000").collect()
    )
    assert got == [(1, "t2", "update_preimage"), (1, "t3", "update_postimage")]


def test_clean_mor_shadows_keeps_current_boundary(spark, mor_base):
    """Appending commits to the same log file accumulates one shadow per
    boundary; the retention action removes the superseded ones and keeps
    the head's."""
    import glob
    import os

    from incubator_xtable_spark.sync.retention import hudi_clean_mor_shadows

    path = _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [avro_data_block(spark, "20240101000002000", AVRO_SCHEMA, [{"id": 1, "v": "a"}])],
    )
    src = HudiConversionSource(spark, mor_base, view="snapshot")
    src.get_current_snapshot()  # materializes boundary-T2 shadow
    with open(path, "ab") as fh:
        fh.write(
            avro_data_block(spark, "20240101000003000", AVRO_SCHEMA, [{"id": 1, "v": "b"}])
        )
    _commit(
        mor_base,
        "20240101000003000",
        "deltacommit",
        [
            {
                "fileId": "g1",
                "path": os.path.basename(path),
                "fileSizeInBytes": os.path.getsize(path),
                "numWrites": 0,
            }
        ],
    )
    src.get_current_snapshot()  # materializes boundary-T3 shadow
    shadows = glob.glob(os.path.join(mor_base, "*.compacted-*.parquet"))
    assert len(shadows) == 2
    removed = hudi_clean_mor_shadows(spark, mor_base)
    assert len(removed) == 1
    left = glob.glob(os.path.join(mor_base, "*.compacted-*.parquet"))
    assert len(left) == 1
    # the kept shadow is the head's: reads still work
    assert dict(_rows(read_hudi_as_df(spark, mor_base, mode="snapshot")))[1] == "b"


def test_typed_values_survive_shadow_materialization(spark, tmp_path):
    """ADVICE r5: parquet log blocks decode to typed Python values
    (bytes / Decimal / date) that JSON cannot carry — the shadow plan
    must serialize them losslessly (pickle), or snapshot-view sync
    crashes (and bytes could never round-trip)."""
    import datetime
    import decimal

    import pyarrow.parquet as pq

    from .hudi_logtable import parquet_data_block
    from .test_hudi_log_merge import _commit as _commit_simple  # noqa: F401

    base = str(tmp_path / "mor_typed")
    os.makedirs(os.path.join(base, ".hoodie"))
    props = {
        "hoodie.table.name": "mor_typed",
        "hoodie.table.type": "MERGE_ON_READ",
        "hoodie.table.version": "6",
        "hoodie.table.base.file.format": "PARQUET",
        "hoodie.populate.meta.fields": "false",
        "hoodie.table.partition.fields": "",
        "hoodie.table.recordkey.fields": "id",
    }
    with open(os.path.join(base, ".hoodie", "hoodie.properties"), "w") as fh:
        for k, v in props.items():
            fh.write(f"{k}={v}\n")
    schema_json = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": False, "metadata": {}},
                {"name": "payload", "type": "binary", "nullable": True, "metadata": {}},
                {"name": "amount", "type": "decimal(10,2)", "nullable": True, "metadata": {}},
                {"name": "day", "type": "date", "nullable": True, "metadata": {}},
            ],
        }
    )
    arrow_schema = pa.schema(
        [
            ("id", pa.int64()),
            ("payload", pa.binary()),
            ("amount", pa.decimal128(10, 2)),
            ("day", pa.date32()),
        ]
    )

    def row(i, tag):
        return {
            "id": i,
            "payload": bytes([i, 0xFF, 0x00]) + tag.encode(),
            "amount": decimal.Decimal(f"{i}.25"),
            "day": datetime.date(2024, 1, 1 + i),
        }

    base_tbl = pa.Table.from_pylist([row(i, "base") for i in range(3)], schema=arrow_schema)
    pq.write_table(base_tbl, os.path.join(base, "g1_0-0-0_001.parquet"))

    def _typed_commit(instant, stats):
        d = os.path.join(base, ".hoodie")
        meta = {
            "partitionToWriteStats": {"": stats},
            "extraMetadata": {"schema": schema_json},
            "operationType": "UPSERT",
        }
        for suffix in ("deltacommit.requested", "deltacommit.inflight"):
            open(os.path.join(d, f"{instant}.{suffix}"), "w").close()
        with open(os.path.join(d, f"{instant}.deltacommit"), "w", encoding="utf-8") as fh:
            json.dump(meta, fh)

    _typed_commit(
        "20240101000001000",
        [
            {
                "fileId": "g1",
                "path": "g1_0-0-0_001.parquet",
                "fileSizeInBytes": os.path.getsize(os.path.join(base, "g1_0-0-0_001.parquet")),
                "numWrites": 3,
            }
        ],
    )
    # log upsert of id=1 + a new id=7 via a PARQUET data block
    log_tbl = pa.Table.from_pylist([row(1, "upd"), row(7, "new")], schema=arrow_schema)
    log_name = ".g1_001.log.1_0-1-0"
    with open(os.path.join(base, log_name), "wb") as fh:
        fh.write(parquet_data_block("20240101000002000", log_tbl))
    _typed_commit(
        "20240101000002000",
        [
            {
                "fileId": "g1",
                "path": log_name,
                "fileSizeInBytes": os.path.getsize(os.path.join(base, log_name)),
                "numWrites": 0,
            }
        ],
    )

    delta_dir = str(tmp_path / "as_delta")
    _sync(spark, base, delta_dir, view="snapshot")
    got = sorted(
        (r["id"], bytes(r["payload"]), r["amount"], r["day"])
        for r in read_delta_as_df(spark, delta_dir).collect()
    )
    want = sorted(
        (r["id"], r["payload"], r["amount"], r["day"])
        for r in [row(0, "base"), row(1, "upd"), row(2, "base"), row(7, "new")]
    )
    assert got == want


def test_avro_block_bytes_round_trip(spark, mor_base):
    """r6: avro log blocks with bytes fields decode TYPED through the
    pure-python avro codec (the old Avro-JSON route mangled them and
    had to refuse)."""
    from incubator_xtable_spark.sources.hudi_log import merged_log_records

    schema = json.dumps(
        {
            "type": "record",
            "name": "rec",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "blob", "type": ["null", "bytes"], "default": None},
            ],
        }
    )
    payload = b"\x00\xff\x7fbin"
    _add_log(
        mor_base,
        ".g1_001.log.1_0-1-0",
        "20240101000002000",
        [
            avro_data_block(
                spark,
                "20240101000002000",
                schema,
                [
                    {"id": 1, "blob": payload},
                    {"id": 2, "blob": None},
                ],
            )
        ],
    )
    upserts, deleted = merged_log_records(
        spark, [os.path.join(mor_base, ".g1_001.log.1_0-1-0")], "id"
    )
    assert upserts["1"]["blob"] == payload and upserts["2"]["blob"] is None
