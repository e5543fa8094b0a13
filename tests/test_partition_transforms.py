"""Partition-transform zoo tests, driven by the reference's matrix
(TestDeltaPartitionExtractor + ITConversionController.java:522-614
configurations re-expressed)."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.functions.partition_transforms import (
    apply_transform,
    from_iceberg_transform,
    generated_column_name,
    parse_generation_expression,
    parse_partition_value,
    serialize_partition_value,
    to_generation_expression,
    to_iceberg_transform,
)
from incubator_xtable_spark.model.core import InternalPartitionField, PartitionTransformType

from .conftest import SF_SMOKE


# -- generation-expression parsing (DeltaPartitionExtractor matrix) ----------


@pytest.mark.parametrize(
    "expr,field,transform,buckets",
    [
        ("CAST(ts AS DATE)", "ts", PartitionTransformType.DAY, None),
        ("DATE_FORMAT(ts, 'yyyy-MM-dd-HH')", "ts", PartitionTransformType.HOUR, None),
        ("DATE_FORMAT(ts, 'yyyy-MM-dd')", "ts", PartitionTransformType.DAY, None),
        ("DATE_FORMAT(ts, 'yyyy-MM')", "ts", PartitionTransformType.MONTH, None),
        ("DATE_FORMAT(ts, 'yyyy')", "ts", PartitionTransformType.YEAR, None),
        ("YEAR(ts)", "ts", PartitionTransformType.YEAR, None),
        ("MONTH(ts)", "ts", PartitionTransformType.MONTH, None),
        ("DAY(ts)", "ts", PartitionTransformType.DAY, None),
        ("HOUR(ts)", "ts", PartitionTransformType.HOUR, None),
        ("MOD((HASH(id) & 2147483647), 16)", "id", PartitionTransformType.BUCKET, 16),
        ("year(ts)", "ts", PartitionTransformType.YEAR, None),  # case-insensitive
    ],
)
def test_parse_generation_expression(expr, field, transform, buckets):
    pf = parse_generation_expression(expr)
    assert pf is not None, expr
    assert pf.source_field == field
    assert pf.transform == transform
    if buckets:
        assert pf.num_buckets == buckets


def test_parse_unrecognized_expression_returns_none():
    assert parse_generation_expression("UPPER(name)") is None
    assert parse_generation_expression("DATE_FORMAT(ts, 'MM/dd/yyyy')") is None


@pytest.mark.parametrize(
    "transform,buckets",
    [
        (PartitionTransformType.YEAR, None),
        (PartitionTransformType.MONTH, None),
        (PartitionTransformType.DAY, None),
        (PartitionTransformType.HOUR, None),
        (PartitionTransformType.BUCKET, 8),
    ],
)
def test_generation_expression_roundtrip(transform, buckets):
    pf = InternalPartitionField(source_field="c", transform=transform, num_buckets=buckets)
    expr = to_generation_expression(pf)
    back = parse_generation_expression(expr)
    assert back.transform == transform and back.source_field == "c"
    if buckets:
        assert back.num_buckets == buckets


def test_value_transform_has_no_expression():
    assert to_generation_expression(InternalPartitionField(source_field="c")) is None


# -- value serialization (Range epoch-millis encoding) -----------------------


def test_serialize_and_parse_time_values():
    ts = datetime.datetime(2024, 3, 5, 14, 30, tzinfo=datetime.timezone.utc)
    ms = int(ts.timestamp() * 1000)
    for transform, expected in [
        (PartitionTransformType.YEAR, "2024"),
        (PartitionTransformType.MONTH, "2024-03"),
        (PartitionTransformType.DAY, "2024-03-05"),
        (PartitionTransformType.HOUR, "2024-03-05-14"),
    ]:
        pf = InternalPartitionField(source_field="ts", transform=transform)
        assert serialize_partition_value(ms, pf) == expected
        assert serialize_partition_value(ts, pf) == expected
        # parse returns the truncated epoch-millis of the bucket start
        parsed = parse_partition_value(expected, pf)
        back = datetime.datetime.fromtimestamp(parsed / 1000, tz=datetime.timezone.utc)
        assert serialize_partition_value(back, pf) == expected


def test_bucket_and_value_serialization():
    bpf = InternalPartitionField(
        source_field="id", transform=PartitionTransformType.BUCKET, num_buckets=4
    )
    assert serialize_partition_value(3, bpf) == "3"
    assert parse_partition_value("3", bpf) == 3
    vpf = InternalPartitionField(source_field="level")
    assert serialize_partition_value("INFO", vpf) == "INFO"


# -- iceberg transform names --------------------------------------------------


def test_iceberg_transform_roundtrip():
    cases = [
        InternalPartitionField(source_field="a"),
        InternalPartitionField(source_field="a", transform=PartitionTransformType.YEAR),
        InternalPartitionField(source_field="a", transform=PartitionTransformType.HOUR),
        InternalPartitionField(
            source_field="a", transform=PartitionTransformType.BUCKET, num_buckets=32
        ),
    ]
    for pf in cases:
        name = to_iceberg_transform(pf)
        back = from_iceberg_transform(name, "a")
        assert back.transform == pf.transform
        assert back.num_buckets == pf.num_buckets


def test_generated_column_name():
    pf = InternalPartitionField(source_field="ts", transform=PartitionTransformType.DAY)
    assert generated_column_name(pf.transform, pf.source_field) == "xtable_partition_col_DAY_ts"


# -- column-level application (Spark expressions) ----------------------------


def test_apply_transform_columns(spark):
    events = (
        spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        .select("l_orderkey", "l_shipdate")
        .limit(100)
    )
    day_pf = InternalPartitionField(source_field="l_shipdate", transform=PartitionTransformType.DAY)
    bucket_pf = InternalPartitionField(
        source_field="l_orderkey", transform=PartitionTransformType.BUCKET, num_buckets=8
    )
    out = events.select(
        apply_transform(F.col("l_shipdate"), day_pf).alias("day_val"),
        apply_transform(F.col("l_orderkey"), bucket_pf).alias("bucket_val"),
        "l_shipdate",
    ).collect()
    for r in out:
        assert r["day_val"] == r["l_shipdate"].strftime("%Y-%m-%d")
        assert 0 <= r["bucket_val"] < 8


# -- end-to-end: transforms flow through targets and back --------------------


def test_transform_roundtrip_through_delta_and_iceberg(spark, tmp_path):
    import json as _json

    from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource, latest_action
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
    from incubator_xtable_spark.targets.iceberg_target import (
        IcebergConversionTarget,
        read_table_metadata,
    )

    d = str(tmp_path / "txn_table")
    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").limit(200).coalesce(1).write.parquet(d)

    day_pf = InternalPartitionField(
        source_field="o_orderdate", transform=PartitionTransformType.DAY
    )
    source = ParquetConversionSource(spark, d, name="orders", partition_fields=[day_pf])
    results = ConversionController().sync(
        source,
        {
            TableFormat.DELTA: DeltaConversionTarget(spark, d),
            TableFormat.ICEBERG: IcebergConversionTarget(spark, d, table_name="orders"),
        },
    )
    for fmt, res in results.items():
        assert res.status == SyncStatusCode.SUCCESS, (fmt, res.error)

    # Delta: generated column present with generationExpression + protocol v4
    meta = latest_action(d, "metaData")
    gen_name = generated_column_name(PartitionTransformType.DAY, "o_orderdate")
    assert meta["partitionColumns"] == [gen_name]
    fields = {f["name"]: f for f in _json.loads(meta["schemaString"])["fields"]}
    assert fields[gen_name]["metadata"]["delta.generationExpression"] == (
        "DATE_FORMAT(o_orderdate, 'yyyy-MM-dd')"
    )

    # Delta source extracts the transform back (generated col filtered out)
    table = DeltaConversionSource(spark, d).get_current_table()
    assert gen_name not in [f.name for f in table.read_schema.fields]
    assert table.partition_fields[0].transform == PartitionTransformType.DAY
    assert table.partition_fields[0].source_field == "o_orderdate"

    # Iceberg: spec records the day transform against the right source id
    imeta = read_table_metadata(d)
    spec_field = imeta["partition-specs"][0]["fields"][0]
    assert spec_field["transform"] == "day"
    src_field = next(
        f for f in imeta["schemas"][0]["fields"] if f["id"] == spec_field["source-id"]
    )
    assert src_field["name"] == "o_orderdate"


def test_negative_epoch_millis_partition_values():
    """Pre-1970 Range-codec values ("-86400000") must parse as epoch
    millis, not crash the dash-split date fallback (ADVICE r4)."""
    from incubator_xtable_spark.functions.partition_transforms import (
        from_iceberg_partition_value,
        to_iceberg_partition_value,
    )

    day = InternalPartitionField(source_field="ts", transform=PartitionTransformType.DAY)
    # 1969-12-31 00:00:00 UTC = -86400000 ms -> -1 days since epoch
    assert to_iceberg_partition_value("-86400000", day) == -1
    assert from_iceberg_partition_value(-1, day) == "1969-12-31"
    # small negative values also take the millis branch
    assert to_iceberg_partition_value("-9000", day) == -1
    year = InternalPartitionField(source_field="ts", transform=PartitionTransformType.YEAR)
    assert to_iceberg_partition_value("-86400000", year) == 1969 - 1970
    hour = InternalPartitionField(source_field="ts", transform=PartitionTransformType.HOUR)
    assert to_iceberg_partition_value("-86400000", hour) == -24
    # positive epoch-millis still works
    assert to_iceberg_partition_value("86400000", day) == 1
    # and date strings are untouched
    assert to_iceberg_partition_value("2024-03-01", day) == 19783
