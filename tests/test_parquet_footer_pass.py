"""The Parquet-directory source's one driver footer pass: its schema, its
partition values and its per-file stats, each checked against Spark.

- Schema: differential against Spark's own ``mergeSchema`` read with
  ``basePath`` (the reference kept in ``_spark_schema``) over a corpus of
  Parquet logical types, writers and typed partition directories; a type
  conflict raises on both sides.
- Partition values: unescaped, ``__HIVE_DEFAULT_PARTITION__`` as null,
  equal to what ``spark.read.parquet`` gives, and read back the same from
  every target, also where a path holds a ``%``, a space or a ``+``, and
  through a Hudi table read as a source.
- Stats: only top-level primitive columns carry them, so nested columns
  and a top-level ``a.b`` next to ``a`` sync into every target.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from incubator_xtable_spark.model.core import InternalPartitionField
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

from .model_tables import model_rows
from .test_driver_fastpaths import _full_sync, _full_targets

_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _write(path: str, table: pa.Table, **kwargs) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **kwargs)
    return path


def _spark_schema(spark, root: str):
    """The reference: Spark's schema-merging read of the listed files."""
    files = sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True))
    return spark.read.option("mergeSchema", "true").option("basePath", root).parquet(*files).schema


def _source_schema(spark, root: str):
    return ParquetConversionSource(spark, root).get_current_table().read_schema


def _spark_written(spark, path: str, df) -> str:
    """``df`` written by Spark (its footer carries Spark's schema) as the
    single file ``path``."""
    tmp = path + ".spark"
    df.coalesce(1).write.parquet(tmp)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    shutil.move(glob.glob(os.path.join(tmp, "part-*.parquet"))[0], path)
    shutil.rmtree(tmp)
    return path


def _logical_types_table() -> pa.Table:
    dec = decimal.Decimal
    return pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "dec_flba": pa.array([dec("1.25"), None], pa.decimal128(12, 2)),
            "dec_wide": pa.array([dec("12345678901234567890.1234"), None], pa.decimal128(30, 4)),
            "ts_utc": pa.array([1_700_000_000_000_000, None], pa.timestamp("us", tz="UTC")),
            "ts_ntz": pa.array([1_700_000_000_000_000, None], pa.timestamp("us")),
            "ts_ms": pa.array([1_700_000_000_000, None], pa.timestamp("ms", tz="UTC")),
            "ts_ns": pa.array([1_700_000_000_000_000_123, None], pa.timestamp("ns", tz="UTC")),
            "ts_ns_ntz": pa.array([1, None], pa.timestamp("ns")),
            "u8": pa.array([1, 2], pa.uint8()),
            "u16": pa.array([1, 2], pa.uint16()),
            "u32": pa.array([1, 2], pa.uint32()),
            "u64": pa.array([1, 2], pa.uint64()),
            "i8": pa.array([1, 2], pa.int8()),
            "i16": pa.array([1, 2], pa.int16()),
            "f32": pa.array([1.5, None], pa.float32()),
            "flag": pa.array([True, None]),
            "raw": pa.array([b"x", None], pa.binary()),
            "fixed": pa.array([b"abcd", None], pa.binary(4)),
            "text": pa.array(["x", None], pa.large_string()),
            "cat": pa.array(["a", "b"]).dictionary_encode(),
            "day": pa.array([datetime.date(2024, 1, 2), None]),
            "nothing": pa.array([None, None], pa.null()),
            "st": pa.array([{"a": 1}, None], pa.struct([("a", pa.int32())])),
            "ints": pa.array([[1, 2], None], pa.list_(pa.int64())),
            "recs": pa.array([[{"x": 1}], []], pa.list_(pa.struct([("x", pa.int32())]))),
            "kv": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())),
            "deep": pa.array(
                [{"m": [("k", [1.0])]}, None],
                pa.struct([("m", pa.map_(pa.string(), pa.list_(pa.float64())))]),
            ),
        }
    )


def _corpus(spark, root: str) -> None:
    """Four writers' files under typed partition directories: pyarrow
    logical types, an INT96 file with an added column, DuckDB's int-backed
    decimals, and a Spark-written file with field metadata and a nested
    column that gained a field."""
    from pyspark.sql import types as T

    parts = [
        "i=1/l=12345678901/dc=123456789012345678901234/db=1.5/dt=2024-01-02/s=a%3Ab",
        "i=__HIVE_DEFAULT_PARTITION__/l=2/dc=7/db=2/dt=2024-01-03/s=__HIVE_DEFAULT_PARTITION__",
        "i=3/l=3/dc=8/db=-0.25/dt=__HIVE_DEFAULT_PARTITION__/s=plain",
        "i=4/l=4/dc=9/db=4/dt=2024-02-29/s=x%25y",
    ]
    _write(os.path.join(root, parts[0], "a.parquet"), _logical_types_table())
    _write(
        os.path.join(root, parts[1], "b.parquet"),
        pa.table(
            {
                "id": pa.array([3], pa.int64()),
                "t96": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
                "added": pa.array(["new"]),
            }
        ),
        use_deprecated_int96_timestamps=True,
    )
    import duckdb

    duck_path = os.path.join(root, parts[2], "c.parquet")
    os.makedirs(os.path.dirname(duck_path))
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT 4::BIGINT AS id, 1.23::DECIMAL(9,2) AS dec_i32, "
        "123456.789::DECIMAL(18,3) AS dec_i64, 'x'::VARCHAR AS dk) "
        f"TO '{duck_path}' (FORMAT PARQUET)"
    )
    con.close()
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False, {"comment": "row id"}),
            T.StructField(
                "st",
                T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]),
            ),
            T.StructField("ntz", T.TimestampNTZType(), True, {"note": {"nested": [1, 2]}}),
            T.StructField("dec_spark", T.DecimalType(10, 3)),
            T.StructField("arr", T.ArrayType(T.IntegerType(), False), False),
        ]
    )
    row = (5, (1, "b"), datetime.datetime(2024, 1, 1), decimal.Decimal("1.5"), [1])
    _spark_written(spark, os.path.join(root, parts[3], "d.parquet"), spark.createDataFrame([row], schema))


def test_schema_equals_spark_merge_schema_read(spark, tmp_path):
    root = str(tmp_path / "corpus")
    _corpus(spark, root)
    spark.conf.set(_NANOS_AS_LONG, "true")
    try:
        expected = _spark_schema(spark, root)
        got = _source_schema(spark, root)
    finally:
        spark.conf.unset(_NANOS_AS_LONG)
    assert json.loads(got.json()) == json.loads(expected.json())
    assert got == expected
    # the corpus exercises what it means to: typed partitions, INT96,
    # unsigned ints, NTZ inference, nanos as long, int-backed decimals
    types = {f.name: f.dataType.simpleString() for f in got.fields}
    assert [types[c] for c in ("i", "l", "dc", "db", "dt", "s")] == [
        "int", "bigint", "decimal(24,0)", "double", "date", "string",
    ]
    assert (types["t96"], types["u64"], types["ts_ntz"], types["ts_ns"]) == (
        "timestamp", "decimal(20,0)", "timestamp_ntz", "bigint",
    )
    assert (types["dec_i32"], types["dec_i64"]) == ("decimal(9,2)", "decimal(18,3)")


@pytest.mark.parametrize(
    "layout",
    [
        ["k=7", "k=2024-01-02 10%3A00%3A00"],  # int and timestamp: string
        ["k=2024-01-02", "k=2024-01-02 10%3A00%3A00.5"],  # date and timestamp
        ["k=1", "k=123456789012345678901234", "k=__HIVE_DEFAULT_PARTITION__"],
        ["k=1.5", "k=123456789012345678901234"],  # double and decimal: string
        ["k=__HIVE_DEFAULT_PARTITION__"],  # only nulls
        ["x=5"],  # a data column named like the partition column
        ["f.parquet", "k=1"],  # a file above the partition directories
        ["k=1/sub", "k=2"],  # a plain directory below a partition
    ],
)
def test_partition_schema_equals_spark_discovery(spark, tmp_path, layout):
    root = str(tmp_path / "t")
    for i, rel in enumerate(layout):
        path = os.path.join(root, rel) if rel.endswith(".parquet") else os.path.join(root, rel, "f.parquet")
        _write(path, pa.table({"x": pa.array(["v"]), "id": pa.array([i], pa.int32())}))
    assert _source_schema(spark, root) == _spark_schema(spark, root)


@pytest.mark.parametrize(
    "files",
    [
        [pa.array([1], pa.int32()), pa.array([1], pa.int64())],
        [
            pa.array([decimal.Decimal("1.2")], pa.decimal128(5, 1)),
            pa.array([decimal.Decimal("1.20")], pa.decimal128(5, 2)),
        ],
        [pa.array([1], pa.int32()), pa.array([[1]], pa.list_(pa.int32()))],
    ],
    ids=["int-long", "decimal-scale", "int-list"],
)
def test_type_conflict_raises_as_spark_does(spark, tmp_path, files):
    root = str(tmp_path / "t")
    for i, arr in enumerate(files):
        _write(os.path.join(root, f"{i}.parquet"), pa.table({"x": arr}))
    with pytest.raises(Exception):
        _spark_schema(spark, root)
    with pytest.raises(ValueError, match="incompatible"):
        _source_schema(spark, root)


def test_nanos_follow_the_session_setting(spark, tmp_path):
    root = str(tmp_path / "t")
    _write(os.path.join(root, "f.parquet"), pa.table({"ns": pa.array([1], pa.timestamp("ns", tz="UTC"))}))
    with pytest.raises(Exception):
        _spark_schema(spark, root)
    with pytest.raises(ValueError, match="Illegal Parquet type"):
        _source_schema(spark, root)
    spark.conf.set(_NANOS_AS_LONG, "true")
    try:
        assert _source_schema(spark, root) == _spark_schema(spark, root)
    finally:
        spark.conf.unset(_NANOS_AS_LONG)


def _partitioned_table(root: str, dirs: list[str]) -> dict[int, str]:
    """One single-row file per partition directory; returns {id: path}."""
    paths = {}
    for i, d in enumerate(dirs):
        paths[i] = _write(
            os.path.join(root, d, f"f{i}.parquet"),
            pa.table({"id": pa.array([i], pa.int64()), "v": pa.array([f"v{i}"])}),
        )
    return paths


@pytest.mark.parametrize(
    "dirs",
    [["k=__HIVE_DEFAULT_PARTITION__", "k=plain"], ["k=a%3Ab", "k=plain", "k=50%25"]],
    ids=["default", "escaped"],
)
def test_partition_values_equal_spark_read(spark, tmp_path, dirs):
    root = str(tmp_path / "t")
    paths = _partitioned_table(root, dirs)
    spark_k = {
        r["id"]: r["k"]
        for r in spark.read.option("basePath", root).parquet(*paths.values()).collect()
    }
    snap = ParquetConversionSource(
        spark, root, partition_fields=[InternalPartitionField("k")]
    ).get_current_snapshot()
    by_path = {r["physical_path"]: r["partition_values"] for r in model_rows(snap.files)}
    assert {i: by_path[p] for i, p in paths.items()} == {i: {"k": k} for i, k in spark_k.items()}


def _rows(df) -> list[str]:
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str) for r in df.collect())


def _readers(formats=("delta", "iceberg", "hudi")):
    from incubator_xtable_spark.sources.delta_source import read_delta_as_df
    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
    from incubator_xtable_spark.sources.paimon_source import read_paimon_as_df

    readers = {
        "delta": read_delta_as_df,
        "iceberg": read_iceberg_as_df,
        "hudi": read_hudi_as_df,
        "paimon": read_paimon_as_df,
    }
    return {f: readers[f] for f in formats}


def test_default_partition_reads_back_as_null_from_every_target(spark, tmp_path):
    root = str(tmp_path / "t")
    _partitioned_table(root, ["k=__HIVE_DEFAULT_PARTITION__", "k=plain", "k=other"])
    expected = _rows(spark.read.parquet(root).select("id", "v", "k"))
    assert '"k": null' in expected[0]
    source = ParquetConversionSource(spark, root, partition_fields=[InternalPartitionField("k")])
    _full_sync(spark, source, _full_targets(spark, root, tuple(_readers())))
    for fmt, read in _readers().items():
        assert _rows(read(spark, root).select("id", "v", "k")) == expected, fmt


def test_escaped_partition_values_read_back_from_every_target(spark, tmp_path):
    """Escaped hive values put a ``%`` or a space in the data file paths;
    each reader still joins its partition values onto the rows."""
    root = str(tmp_path / "t")
    _partitioned_table(root, ["k=a%3Ab", "k=50%25", "k=a b+c"])
    expected = _rows(spark.read.parquet(root).select("id", "v", "k"))
    assert '"k": "50%"' in "".join(expected)
    source = ParquetConversionSource(spark, root, partition_fields=[InternalPartitionField("k")])
    _full_sync(spark, source, _full_targets(spark, root, tuple(_readers())))
    for fmt, read in _readers().items():
        assert _rows(read(spark, root).select("id", "v", "k")) == expected, fmt


def test_hudi_source_partition_values_equal_spark_read(spark, tmp_path):
    """A Hudi table read as a source parses its hive partition paths as
    Spark does, and a Delta table synced from it reads back its rows."""
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource

    root = str(tmp_path / "t")
    paths = _partitioned_table(root, ["k=a%3Ab", "k=__HIVE_DEFAULT_PARTITION__"])
    expected = _rows(spark.read.parquet(root).select("id", "v", "k"))
    source = ParquetConversionSource(spark, root, partition_fields=[InternalPartitionField("k")])
    _full_sync(spark, source, _full_targets(spark, root, ("hudi",)))
    spark_k = {r["id"]: r["k"] for r in spark.read.parquet(root).collect()}
    hudi = HudiConversionSource(spark, root)
    files = model_rows(hudi.get_current_snapshot().files)
    by_path = {r["physical_path"]: r["partition_values"] for r in files}
    assert {i: by_path[p] for i, p in paths.items()} == {i: {"k": k} for i, k in spark_k.items()}
    _full_sync(spark, hudi, _full_targets(spark, root, ("delta",)))
    assert _rows(_readers()["delta"](spark, root).select("id", "v", "k")) == expected


def test_nested_and_dotted_columns_sync_into_every_target(spark, tmp_path):
    """Struct, list and map columns get no stats; a top-level ``a.b``
    keeps its own, never folded into the column ``a``."""
    root = str(tmp_path / "t")
    _write(
        os.path.join(root, "f.parquet"),
        pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "s": pa.array([{"a": 200, "b": 1}, {"a": 5, "b": 7}], pa.struct([("a", pa.int64()), ("b", pa.int64())])),
                "l": pa.array([[3, 4], None], pa.list_(pa.int64())),
                "m": pa.array([[("k", 9)], None], pa.map_(pa.string(), pa.int64())),
                "a": pa.array([10, 20], pa.int64()),
                "a.b": pa.array([-1, 99], pa.int64()),
            }
        ),
    )
    source = ParquetConversionSource(spark, root)
    (stats,) = [r["column_stats"] for r in model_rows(source.get_current_snapshot().files)]
    assert set(stats) == {"id", "a", "a.b"}
    assert (stats["a"]["min_json"], stats["a"]["max_json"]) == ("10", "20")
    assert (stats["a.b"]["min_json"], stats["a.b"]["max_json"]) == ("-1", "99")
    expected = _rows(spark.read.parquet(os.path.join(root, "f.parquet")))
    readers = _readers(("delta", "iceberg", "hudi", "paimon"))
    _full_sync(spark, source, _full_targets(spark, root, tuple(readers)))
    for fmt, read in readers.items():
        assert _rows(read(spark, root)) == expected, fmt
