"""Delta deletion-vector differentials: the row-parity scenario of ref
delta/ITDeltaDeleteVectorConvert.java — after a DELETE that produces a DV,
the Delta read AND every converted target return the same (undeleted) rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

import pyarrow as pa
import pyarrow.parquet as pq

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_dv import (
    deserialize_dv_data,
    inline_dv_descriptor,
    purged_path,
    read_dv_positions,
    serialize_dv_data,
    write_dv_file,
    z85_decode,
    z85_encode,
)
from incubator_xtable_spark.sources.delta_source import (
    DeltaConversionSource,
    list_log_versions,
    read_delta_as_df,
)
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget
from .model_tables import model_rows


# ---------------------------------------------------------------------------
# codec unit tests
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "positions",
    [
        [],
        [0],
        [5, 7, 9, 65535, 65536, 70000],
        list(range(1000, 1200)),
        [2**33 + 5, 2**33 + 6, 12, 2**34],  # multiple 32-bit high keys
    ],
)
def test_dv_roundtrip(positions):
    got = deserialize_dv_data(serialize_dv_data(positions)).tolist()
    assert got == sorted(set(positions))


def test_dv_roundtrip_bitmap_container():
    rng = np.random.default_rng(7)
    positions = np.unique(rng.integers(0, 200_000, size=10_000))  # >4096/container
    got = deserialize_dv_data(serialize_dv_data(positions.tolist()))
    assert got.tolist() == positions.tolist()


def test_z85_roundtrip():
    rng = np.random.default_rng(3)
    for n in (0, 4, 16, 32):
        b = rng.integers(0, 256, size=n, dtype=np.uint8).tobytes()
        assert z85_decode(z85_encode(b)) == b


def test_dv_file_and_inline_descriptors(tmp_path):
    base = str(tmp_path)
    positions = [1, 4, 9, 70000]
    desc_u = write_dv_file(base, positions, prefix="ab")
    assert desc_u["cardinality"] == 4
    assert read_dv_positions(base, desc_u).tolist() == positions
    desc_i = inline_dv_descriptor(positions)
    assert read_dv_positions(base, desc_i).tolist() == positions


# ---------------------------------------------------------------------------
# hand-built DV'd Delta table (no delta-spark jars in env; the log layout
# follows delta-io PROTOCOL.md)
# ---------------------------------------------------------------------------

SCHEMA_STRING = json.dumps(
    {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": False, "metadata": {}},
            {"name": "label", "type": "string", "nullable": True, "metadata": {}},
        ],
    }
)


def _write_data_file(path: str, ids: list[int]) -> dict:
    table = pa.table(
        {"id": pa.array(ids, pa.int64()), "label": [f"row-{i}" for i in ids]}
    )
    pq.write_table(table, path)
    return {
        "numRecords": len(ids),
        "minValues": {"id": min(ids), "label": f"row-{min(ids)}"},
        "maxValues": {"id": max(ids), "label": f"row-{max(ids)}"},
        "nullCount": {"id": 0, "label": 0},
    }


def _log_write(base: str, version: int, actions: list[dict]) -> None:
    d = os.path.join(base, "_delta_log")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"{version:020d}.json"), "w", encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


@pytest.fixture()
def dv_table(tmp_path):
    """v0: two files (ids 0-9, 10-19). v1: DELETE ids {2,3,7} from file 1
    via a deletion vector (remove + re-add with DV, the Delta shape)."""
    base = str(tmp_path / "dv_table")
    os.makedirs(base, exist_ok=True)
    s1 = _write_data_file(os.path.join(base, "part-0001.parquet"), list(range(10)))
    s2 = _write_data_file(os.path.join(base, "part-0002.parquet"), list(range(10, 20)))
    meta = {
        "id": "dv-test",
        "name": "dvtab",
        "schemaString": SCHEMA_STRING,
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 1,
    }
    add = lambda p, s, dv=None: {
        "add": {
            "path": p,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(base, p)),
            "modificationTime": 1,
            "dataChange": True,
            "stats": json.dumps(s),
            **({"deletionVector": dv} if dv else {}),
        }
    }
    _log_write(
        base,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
            {"metaData": meta},
            add("part-0001.parquet", s1),
            add("part-0002.parquet", s2),
        ],
    )
    desc = write_dv_file(base, [2, 3, 7])
    _log_write(
        base,
        1,
        [
            {"remove": {"path": "part-0001.parquet", "deletionTimestamp": 2, "dataChange": True}},
            add("part-0001.parquet", s1, dv=desc),
        ],
    )
    return base


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


EXPECTED_IDS = [i for i in range(20) if i not in (2, 3, 7)]


def test_read_delta_applies_dv(spark, dv_table):
    assert _ids(read_delta_as_df(spark, dv_table)) == EXPECTED_IDS
    # time travel to v0 sees all rows
    assert _ids(read_delta_as_df(spark, dv_table, version=0)) == list(range(20))


def test_snapshot_inventory_uses_purged_shadow(spark, dv_table):
    src = DeltaConversionSource(spark, dv_table)
    snap = src.get_current_snapshot()
    rows = {os.path.basename(r["physical_path"]): r for r in model_rows(snap.files)}
    shadows = [n for n in rows if ".purged-" in n]
    assert len(shadows) == 1 and len(rows) == 2
    assert rows[shadows[0]]["record_count"] == 7  # 10 - 3 deleted
    assert rows["part-0002.parquet"]["record_count"] == 10
    # shadow stats reflect the surviving rows (min id is now 0 -> max 9 still)
    cs = rows[shadows[0]]["column_stats"]
    assert cs["id"]["min_json"] == "0" and cs["id"]["max_json"] == "9"


def test_row_parity_across_targets_after_dv_delete(spark, dv_table):
    """The verdict's done-criterion: full sync of a DV table to Hudi AND
    Iceberg; all read paths agree with the DV-applied Delta read."""
    src = DeltaConversionSource(spark, dv_table)
    targets = {
        TableFormat.HUDI: HudiConversionTarget(spark, dv_table, table_name="dvtab"),
        TableFormat.ICEBERG: IcebergConversionTarget(spark, dv_table, table_name="dvtab"),
    }
    results = ConversionController().sync(src, targets)
    for fmt, res in results.items():
        assert res.status == SyncStatusCode.SUCCESS, (fmt, res.error)

    via_delta = _ids(read_delta_as_df(spark, dv_table))
    via_hudi = _ids(read_hudi_as_df(spark, dv_table))
    via_iceberg = _ids(read_iceberg_as_df(spark, dv_table))
    assert via_delta == via_hudi == via_iceberg == EXPECTED_IDS


def test_incremental_dv_diff_swaps_shadow(spark, dv_table):
    """Incremental path: sync at v0, then replay the DV commit; the diff
    must remove the original file and add the purged shadow."""
    src = DeltaConversionSource(spark, dv_table)
    change = src.get_table_change_for_commit("1")
    added = [os.path.basename(r["physical_path"]) for r in model_rows(change.files_added)]
    removed = [os.path.basename(r["physical_path"]) for r in model_rows(change.files_removed)]
    assert added == [os.path.basename(purged_path("part-0001.parquet", _desc_of(dv_table)))]
    assert removed == ["part-0001.parquet"]

    # end-to-end: full sync from v0 state, then incremental to v1
    targets = {TableFormat.HUDI: HudiConversionTarget(spark, dv_table, table_name="dvtab")}
    res = ConversionController().sync(src, targets)
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    assert _ids(read_hudi_as_df(spark, dv_table)) == EXPECTED_IDS


def _desc_of(base):
    from incubator_xtable_spark.sources.delta_source import _dv_of, live_adds

    return next(_dv_of(a) for a in live_adds(base).values() if _dv_of(a))


def test_dv_update_on_dv_file(spark, dv_table):
    """Second DELETE on the same file: diff removes the OLD shadow and
    adds the new one (effective-path tracking across DV generations)."""
    old_desc = _desc_of(dv_table)
    desc2 = write_dv_file(dv_table, [2, 3, 7, 11 - 11, 5])  # {0,2,3,5,7}
    s1 = {
        "numRecords": 10,
        "minValues": {"id": 0, "label": "row-0"},
        "maxValues": {"id": 9, "label": "row-9"},
        "nullCount": {"id": 0, "label": 0},
    }
    _log_write(
        dv_table,
        2,
        [
            {"remove": {"path": "part-0001.parquet", "deletionTimestamp": 3, "dataChange": True}},
            {
                "add": {
                    "path": "part-0001.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(dv_table, "part-0001.parquet")),
                    "modificationTime": 3,
                    "dataChange": True,
                    "stats": json.dumps(s1),
                    "deletionVector": desc2,
                }
            },
        ],
    )
    src = DeltaConversionSource(spark, dv_table)
    change = src.get_table_change_for_commit("2")
    added = [os.path.basename(r["physical_path"]) for r in model_rows(change.files_added)]
    removed = [os.path.basename(r["physical_path"]) for r in model_rows(change.files_removed)]
    assert added == [os.path.basename(purged_path("part-0001.parquet", desc2))]
    assert removed == [os.path.basename(purged_path("part-0001.parquet", old_desc))]
    expected = [i for i in range(20) if i not in (0, 2, 3, 5, 7)]
    assert _ids(read_delta_as_df(spark, dv_table)) == expected


def test_inline_dv(spark, tmp_path):
    """'i' (inline) storage: DV payload Z85-embedded in the descriptor."""
    base = str(tmp_path / "inline_dv")
    os.makedirs(base, exist_ok=True)
    s1 = _write_data_file(os.path.join(base, "f.parquet"), list(range(8)))
    meta = {
        "id": "dv-inline",
        "name": "dvtab2",
        "schemaString": SCHEMA_STRING,
        "partitionColumns": [],
        "configuration": {},
        "createdTime": 1,
    }
    desc = inline_dv_descriptor([1, 6])
    _log_write(
        base,
        0,
        [
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}},
            {"metaData": meta},
            {
                "add": {
                    "path": "f.parquet",
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(base, "f.parquet")),
                    "modificationTime": 1,
                    "dataChange": True,
                    "stats": json.dumps(s1),
                    "deletionVector": desc,
                }
            },
        ],
    )
    assert _ids(read_delta_as_df(spark, base)) == [0, 2, 3, 4, 5, 7]
