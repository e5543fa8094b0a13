"""The readStream change feed (streaming/change_feed.py) against the
batch change readers: both consume one plan per commit, so a table read
through `readStream.format(<feed>)` and through `read_<fmt>_cdc` gives
the same rows, partition values included."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.core import InternalPartitionField, SyncMode, SyncStatusCode
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.streaming import register_stream_sources
from incubator_xtable_spark.sync.controller import ConversionController

from .test_file_scan import _TARGETS, _change_rows

_FEEDS = {"delta": "delta_cdf", "iceberg": "iceberg_cdc", "hudi": "hudi_cdc", "paimon": "paimon_changelog"}

# (directory value, value as read) per partition of the hive fixture
_VALUES = {
    "int": [("3", 3), ("7", 7)],
    "null": [("__HIVE_DEFAULT_PARTITION__", None), ("7", 7)],
    "timestamp": [
        ("2024-01-01 10%3A00%3A00", datetime.datetime(2024, 1, 1, 10)),
        ("2024-01-02 10%3A00%3A00", datetime.datetime(2024, 1, 2, 10)),
    ],
}


def _stream_rows(spark, fmt: str, d: str, cp: str, name: str):
    register_stream_sources(spark)
    q = (
        spark.readStream.format(_FEEDS[fmt])
        .option("path", d)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None, q.exception()
    return spark.sql(f"select * from {name}")


# "native": a Paimon table written natively, whose files store the
# partition column, one partition of it null
_CASES = [(k, f) for k in sorted(_VALUES) for f in sorted(_FEEDS)] + [("native", "paimon")]


def _native_paimon(spark, d: str) -> None:
    from .paimon_testtable import PaimonTestTable

    t = PaimonTestTable(spark, d, [("id", "BIGINT"), ("p", "INT")], partition_keys=["p"]).create()
    t.append([{"id": i, "p": None} for i in (1, 2)] + [{"id": i, "p": 7} for i in (11, 12)])


@pytest.mark.parametrize("kind,fmt", _CASES, ids=[f"{k}-{f}" for k, f in _CASES])
def test_stream_equals_batch(spark, tmp_path, kind, fmt):
    """A hive-partitioned parquet directory (the partition column lives
    only in the path) synced FULL, or a native Paimon table (its files
    store the column), then read through the stream and through the
    batch change reader: the same (id, p, _change_type) rows, with the
    partition values the paths name."""
    d = str(tmp_path / "hive")
    ids = ([1, 2], [11, 12])
    if kind == "native":
        _native_paimon(spark, d)
    else:
        for (raw, _), part_ids in zip(_VALUES[kind], ids):
            os.makedirs(os.path.join(d, f"p={raw}"))
            pq.write_table(
                pa.table({"id": pa.array(part_ids, pa.int64())}),
                os.path.join(d, f"p={raw}", f"part-{part_ids[0]}.parquet"),
            )
        table_format, make_target, _ = _TARGETS[fmt]
        res = ConversionController().sync(
            ParquetConversionSource(spark, d, name="t", partition_fields=[InternalPartitionField("p")]),
            {table_format: make_target(spark, d)},
        )[table_format]
        assert res.status == SyncStatusCode.SUCCESS, res.error
        assert res.mode == SyncMode.FULL

    def rows(df):
        return sorted((r["id"], r["p"], r["_change_type"]) for r in df.collect())

    want = sorted(
        (i, value, "insert")
        for (_, value), part_ids in zip(_VALUES["null" if kind == "native" else kind], ids)
        for i in part_ids
    )
    assert rows(_change_rows(spark, fmt, d)) == want
    got = _stream_rows(spark, fmt, d, str(tmp_path / "cp"), f"feed_{kind}_{fmt}")
    assert rows(got) == want


def test_stream_runs_one_partition_per_planned_file(spark, tmp_path):
    """The stream distributes its reads: each planned file is one input
    partition, read on an executor."""
    from incubator_xtable_spark.sources.delta_source import plan_changes
    from incubator_xtable_spark.streaming.change_feed import ChangeFeedStreamReader
    from incubator_xtable_spark.streaming.cdf_datasource import DeltaCDFDataSource

    d = str(tmp_path / "t")
    os.makedirs(d)
    for i in range(3):
        pq.write_table(pa.table({"id": pa.array([i], pa.int64())}), os.path.join(d, f"f{i}.parquet"))
    table_format, make_target, _ = _TARGETS["delta"]
    ConversionController().sync(
        ParquetConversionSource(spark, d, name="t"), {table_format: make_target(spark, d)}
    )
    source = DeltaCDFDataSource({"path": d})
    reader = ChangeFeedStreamReader("delta_cdf", source.schema(), {"path": d})
    parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    assert len(parts) == len(plan_changes(d, 0).files) == 3
    assert sorted(b.column(0).to_pylist()[0] for p in parts for b in reader.read(p)) == [0, 1, 2]
