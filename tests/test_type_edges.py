"""Type-edge round-trips (SURVEY §7 hard-part 4, FIXTURES.md F1 `basic`
schema): UUID/enum/fixed/timestamp-precision metadata conventions must
survive the Delta metaData schemaString round-trip, and the full wide-type
schema must survive target -> source extraction unchanged."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from incubator_xtable_spark.model.schema_meta import (
    ENUM_VALUES,
    FIELD_ID,
    FIXED_BYTES_SIZE,
    LOGICAL_TYPE,
    TIMESTAMP_PRECISION,
    assign_field_ids,
    find_field_by_path,
    schema_to_ddl_rows,
    with_meta,
)


def basic_schema() -> T.StructType:
    """FIXTURES.md F1 (reference basic_schema.avsc) re-expressed with the
    engine's metadata-key conventions."""
    nested = T.StructType(
        [
            T.StructField("nested_int", T.IntegerType(), True),
            T.StructField("level", T.StringType(), True),
        ]
    )
    return T.StructType(
        [
            T.StructField("key", T.StringType(), False),
            T.StructField("ts", T.LongType(), False),
            T.StructField("level", T.StringType(), False),
            T.StructField("severity", T.IntegerType(), True),
            T.StructField("double_field", T.DoubleType(), False),
            T.StructField("float_field", T.FloatType(), False),
            T.StructField("int_field", T.IntegerType(), False),
            T.StructField("long_field", T.LongType(), False),
            T.StructField("boolean_field", T.BooleanType(), False),
            T.StructField("string_field", T.StringType(), False),
            T.StructField("bytes_field", T.BinaryType(), True),
            with_meta(
                T.StructField("decimal_field", T.DecimalType(20, 2), True),
                **{FIXED_BYTES_SIZE: 10},
            ),
            T.StructField("nested_record", nested, True),
            T.StructField(
                "nullable_map_field", T.MapType(T.StringType(), nested, True), True
            ),
            T.StructField("array_field", T.ArrayType(nested, True), False),
            with_meta(
                T.StructField("enum_field", T.StringType(), False),
                **{ENUM_VALUES: ["FIRST", "SECOND"]},
            ),
            T.StructField("date_nullable_field", T.DateType(), True),
            with_meta(
                T.StructField("timestamp_millis_nullable_field", T.TimestampType(), True),
                **{TIMESTAMP_PRECISION: "MILLIS"},
            ),
            with_meta(
                T.StructField("timestamp_micros_nullable_field", T.TimestampType(), True),
                **{TIMESTAMP_PRECISION: "MICROS"},
            ),
            with_meta(
                T.StructField("timestamp_local_millis_nullable_field", T.TimestampNTZType(), True),
                **{TIMESTAMP_PRECISION: "MILLIS"},
            ),
            with_meta(
                T.StructField("timestamp_local_micros_nullable_field", T.TimestampNTZType(), True),
                **{TIMESTAMP_PRECISION: "MICROS"},
            ),
            with_meta(
                T.StructField("uuid_field", T.BinaryType(), True),
                **{LOGICAL_TYPE: "uuid", FIXED_BYTES_SIZE: 16},
            ),
        ]
    )


def test_schema_json_roundtrip_preserves_metadata():
    schema = assign_field_ids(basic_schema())
    back = T.StructType.fromJson(schema.jsonValue())
    assert back == schema
    assert back["enum_field"].metadata[ENUM_VALUES] == ["FIRST", "SECOND"]
    assert back["uuid_field"].metadata[LOGICAL_TYPE] == "uuid"
    assert back["uuid_field"].metadata[FIXED_BYTES_SIZE] == 16
    assert back["decimal_field"].metadata[FIXED_BYTES_SIZE] == 10
    assert back["timestamp_millis_nullable_field"].metadata[TIMESTAMP_PRECISION] == "MILLIS"
    # nested ids assigned and reachable by dot path
    assert find_field_by_path(back, "nested_record.nested_int").metadata[FIELD_ID] is not None


def test_wide_schema_through_delta_metadata(spark, tmp_path):
    """The full F1 schema survives target metaData -> source extraction."""
    import os

    from incubator_xtable_spark.model.core import InternalTable, TableFormat
    from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

    schema = assign_field_ids(basic_schema())
    d = str(tmp_path / "wide")
    os.makedirs(d)
    table = InternalTable(
        name="basic", table_format=TableFormat.PARQUET, base_path=d, read_schema=schema
    )
    target = DeltaConversionTarget(spark, d)
    target.begin_sync(table)
    target.sync_metadata(TableSyncMetadata(last_instant_synced="1"))
    target.sync_schema(schema)
    target.sync_partition_spec([])
    target.complete_sync()

    extracted = DeltaConversionSource(spark, d).get_current_table()
    assert extracted.read_schema == schema
    ddl = {path: t for path, t, _n, _i in schema_to_ddl_rows(extracted.read_schema)}
    assert ddl["decimal_field"] == "decimal(20,2)"
    assert ddl["nullable_map_field"].startswith("map<string,struct<")
    assert ddl["timestamp_local_micros_nullable_field"] == "timestamp_ntz"


@pytest.mark.parametrize(
    "dtype,expected",
    [
        (T.BinaryType(), "binary"),
        (T.DecimalType(20, 2), "decimal(20,2)"),
        (T.TimestampNTZType(), "timestamp_ntz"),
        (T.DateType(), "date"),
    ],
)
def test_type_simple_strings(dtype, expected):
    assert dtype.simpleString() == expected


# ---------------------------------------------------------------------------
# Iceberg nested-schema round-trips (IcebergSchemaExtractor.java:114-300)
# ---------------------------------------------------------------------------


def deep_schema() -> T.StructType:
    """Nesting shapes beyond F1: list<struct>, map<string,struct>,
    list<list<int>>, map<string,list<double>> — every nested component
    needs its own stable Iceberg field id."""
    inner = T.StructType(
        [
            T.StructField("a", T.IntegerType(), True),
            T.StructField("b", T.StringType(), False),
        ]
    )
    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("rec", inner, True),
            T.StructField("arr_of_struct", T.ArrayType(inner, True), True),
            T.StructField("map_of_struct", T.MapType(T.StringType(), inner, True), True),
            T.StructField(
                "arr_of_arr", T.ArrayType(T.ArrayType(T.IntegerType(), False), True), True
            ),
            T.StructField(
                "map_of_list",
                T.MapType(T.StringType(), T.ArrayType(T.DoubleType(), True), False),
                True,
            ),
        ]
    )


def _collect_ids(fields):
    """Every id in an iceberg schema JSON fields list (named + nested)."""
    out = []

    def from_type(t):
        if isinstance(t, dict):
            if t["type"] == "struct":
                for f in t["fields"]:
                    out.append(f["id"])
                    from_type(f["type"])
            elif t["type"] == "list":
                out.append(t["element-id"])
                from_type(t["element"])
            elif t["type"] == "map":
                out.append(t["key-id"])
                out.append(t["value-id"])
                from_type(t["key"])
                from_type(t["value"])

    from_type({"type": "struct", "fields": fields})
    return out


def test_iceberg_nested_schema_roundtrip_and_id_stability():
    from incubator_xtable_spark.targets.iceberg_target import (
        iceberg_fields_to_schema,
        schema_to_iceberg_fields,
    )

    fields1 = schema_to_iceberg_fields(deep_schema())
    ids = _collect_ids(fields1)
    assert len(ids) == len(set(ids)), "field ids must be unique"
    assert all(i is not None for i in ids)

    back = iceberg_fields_to_schema(fields1)
    # structural parity (names / types / nullability), ignoring metadata
    import json as _json

    strip = _json.loads(T.StructType.fromJson(back.jsonValue()).json())

    def no_meta(node):
        if isinstance(node, dict):
            return {k: no_meta(v) for k, v in node.items() if k != "metadata"}
        if isinstance(node, list):
            return [no_meta(v) for v in node]
        return node

    assert no_meta(strip) == no_meta(_json.loads(deep_schema().json()))

    # re-export keeps EVERY id verbatim (nested ids stashed in metadata)
    fields2 = schema_to_iceberg_fields(back)
    assert fields2 == fields1


def test_iceberg_wide_schema_target_to_source(spark, tmp_path):
    """F1 wide-type schema survives Iceberg target metadata -> source
    extraction (the Delta twin above), modulo the documented Iceberg
    collapses: enum->string, timestamps->microseconds."""
    import os

    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        InternalTable,
        TableFormat,
        arrow_table,
    )
    from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    schema = assign_field_ids(basic_schema())
    d = str(tmp_path / "wide_iceberg")
    os.makedirs(d)
    table = InternalTable(
        name="basic", table_format=TableFormat.PARQUET, base_path=d, read_schema=schema
    )
    target = IcebergConversionTarget(spark, d, table_name="basic")
    target.begin_sync(table)
    target.sync_metadata(TableSyncMetadata(last_instant_synced="1"))
    target.sync_schema(schema)
    target.sync_partition_spec([])
    target.sync_files_for_snapshot(arrow_table([], FILE_INVENTORY_ARROW))
    target.complete_sync()

    extracted = IcebergConversionSource(spark, d).get_current_table().read_schema
    by_name = {f.name: f for f in extracted.fields}
    # nested record round-trips with ids
    nr = by_name["nested_record"]
    assert isinstance(nr.dataType, T.StructType)
    assert [f.name for f in nr.dataType.fields] == ["nested_int", "level"]
    assert nr.dataType["nested_int"].metadata[FIELD_ID] is not None
    # map-of-struct and array-of-struct shapes
    assert isinstance(by_name["nullable_map_field"].dataType, T.MapType)
    assert isinstance(by_name["nullable_map_field"].dataType.valueType, T.StructType)
    assert isinstance(by_name["array_field"].dataType, T.ArrayType)
    # uuid maps to the native Iceberg uuid type and back
    assert by_name["uuid_field"].metadata[LOGICAL_TYPE] == "uuid"
    assert by_name["uuid_field"].metadata[FIXED_BYTES_SIZE] == 16
    # decimal precision/scale kept
    assert by_name["decimal_field"].dataType == T.DecimalType(20, 2)
    # top-level ids preserved verbatim
    for f in schema.fields:
        assert by_name[f.name].metadata[FIELD_ID] == f.metadata[FIELD_ID]
    # nullability preserved
    for f in schema.fields:
        assert by_name[f.name].nullable == f.nullable
