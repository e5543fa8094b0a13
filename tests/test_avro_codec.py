"""Pure-python Avro codec (model/avro_codec): differential against the
JVM's official Avro library (the independent reference), logical-type
typing, and OCF container parsing incl. the deflate codec."""

from __future__ import annotations

import datetime
import decimal
import io
import json
import os
import struct
import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from incubator_xtable_spark.model.avro_codec import (
    decode_binary_record,
    decode_value,
    read_ocf,
)

from .hudi_logtable import avro_binary, jvm_write_ocf


def _zz_encode(n: int) -> bytes:
    """Reference zigzag-varint encoder (for JVM-free property tests)."""
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=300, deadline=None)
def test_long_zigzag_roundtrip(n):
    assert decode_value("long", io.BytesIO(_zz_encode(n))) == n


@given(st.text(max_size=40))
@settings(max_examples=100, deadline=None)
def test_string_roundtrip(s):
    raw = s.encode("utf-8")
    assert decode_value("string", io.BytesIO(_zz_encode(len(raw)) + raw)) == s


def test_differential_vs_jvm_encoder(spark):
    """A record produced by the JVM Avro encoder decodes value-identical."""
    schema = json.dumps(
        {
            "type": "record",
            "name": "rec",
            "fields": [
                {"name": "id", "type": "long"},
                {"name": "f", "type": "float"},
                {"name": "d", "type": "double"},
                {"name": "s", "type": ["null", "string"], "default": None},
                {"name": "b", "type": ["null", "bytes"], "default": None},
                {"name": "arr", "type": {"type": "array", "items": "long"}},
                {"name": "m", "type": {"type": "map", "values": "string"}},
                {
                    "name": "e",
                    "type": {"type": "enum", "name": "E", "symbols": ["A", "B"]},
                },
                {
                    "name": "inner",
                    "type": [
                        "null",
                        {
                            "type": "record",
                            "name": "inner_rec",
                            "fields": [{"name": "x", "type": "int"}],
                        },
                    ],
                    "default": None,
                },
            ],
        }
    )
    rec = {
        "id": -987654321012345,
        "f": 1.5,
        "d": -2.25,
        "s": "ünïcode",
        "b": b"\x00\x01\xfe\xff",
        "arr": [1, -2, 3],
        "m": {"k1": "v1", "k2": "v2"},
        "e": "B",
        "inner": {"x": 7},
    }
    out = decode_binary_record(schema, avro_binary(spark, schema, rec))
    assert out == {
        "id": -987654321012345,
        "f": 1.5,
        "d": -2.25,
        "s": "ünïcode",
        "b": b"\x00\x01\xfe\xff",
        "arr": [1, -2, 3],
        "m": {"k1": "v1", "k2": "v2"},
        "e": "B",
        "inner": {"x": 7},
    }


def test_logical_types_decode_typed(spark):
    """decimal/date/timestamp logical types come back as Decimal / date
    / naive datetime — not raw ints (the old Avro-JSON route's loss)."""
    schema = json.dumps(
        {
            "type": "record",
            "name": "rec",
            "fields": [
                {
                    "name": "amt",
                    "type": {
                        "type": "bytes",
                        "logicalType": "decimal",
                        "precision": 10,
                        "scale": 2,
                    },
                },
                {"name": "day", "type": {"type": "int", "logicalType": "date"}},
                {
                    "name": "ts",
                    "type": {"type": "long", "logicalType": "timestamp-micros"},
                },
            ],
        }
    )
    unscaled = (-12345).to_bytes(3, "big", signed=True)
    rec = {
        "amt": unscaled,
        "day": 19876,
        "ts": 1_700_000_000_123_456,
    }
    out = decode_binary_record(schema, avro_binary(spark, schema, rec))
    assert out["amt"] == decimal.Decimal("-123.45")
    assert out["day"] == datetime.date(1970, 1, 1) + datetime.timedelta(days=19876)
    assert out["ts"] == datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=1_700_000_000_123_456
    )


def test_ocf_roundtrip_with_jvm_writer(spark, tmp_path):
    schema = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "a", "type": ["null", "long"], "default": None},
                {"name": "b", "type": ["null", "string"], "default": None},
            ],
        }
    )
    p = str(tmp_path / "t.avro")
    jvm_write_ocf(spark, p, schema, [{"a": i, "b": f"s{i}"} for i in range(1000)], {"k": "v"})
    recs, meta = read_ocf(p)
    assert len(recs) == 1000
    assert recs[0] == {"a": 0, "b": "s0"} and recs[999] == {"a": 999, "b": "s999"}
    assert meta["k"] == b"v"


def test_ocf_deflate_codec(tmp_path):
    """Hand-built deflate-codec container (raw zlib per the spec)."""
    schema = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    body = b"".join(_zz_encode(i * 7) for i in range(100))
    block = zlib.compress(body, 6)[2:-4]  # raw deflate (strip zlib frame)
    sync = os.urandom(16)
    meta_entries = {
        "avro.schema": json.dumps(schema).encode(),
        "avro.codec": b"deflate",
    }
    buf = bytearray(b"Obj\x01")
    buf += _zz_encode(len(meta_entries))
    for k, v in meta_entries.items():
        kb = k.encode()
        buf += _zz_encode(len(kb)) + kb + _zz_encode(len(v)) + v
    buf += _zz_encode(0)  # end of map
    buf += sync
    buf += _zz_encode(100) + _zz_encode(len(block)) + block + sync
    p = str(tmp_path / "d.avro")
    open(p, "wb").write(bytes(buf))
    recs, _ = read_ocf(p)
    assert [r["x"] for r in recs] == [i * 7 for i in range(100)]


def test_ocf_sync_marker_mismatch_detected(spark, tmp_path):
    schema = json.dumps(
        {"type": "record", "name": "r", "fields": [{"name": "a", "type": "long"}]}
    )
    p = str(tmp_path / "t.avro")
    jvm_write_ocf(spark, p, schema, [{"a": 1}], {})
    raw = bytearray(open(p, "rb").read())
    raw[-1] ^= 0xFF  # flip a sync byte
    open(p, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="sync marker"):
        read_ocf(p)


# -- r7: pure-python binary ENCODER (the decoder's inverse) -------------------


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_encoder_long_roundtrip(n):
    from incubator_xtable_spark.model.avro_codec import (
        decode_binary_record,
        encode_binary_record,
    )

    sch = {"type": "record", "name": "R", "fields": [{"name": "v", "type": "long"}]}
    assert decode_binary_record(sch, encode_binary_record(sch, {"v": n})) == {"v": n}


@settings(max_examples=100, deadline=None)
@given(
    st.text(max_size=40),
    st.binary(max_size=40),
    st.booleans(),
    st.floats(allow_nan=False, width=64),
)
def test_encoder_record_roundtrip(s, b, flag, d):
    from incubator_xtable_spark.model.avro_codec import (
        decode_binary_record,
        encode_binary_record,
    )

    sch = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "flag", "type": "boolean"},
            {"name": "d", "type": "double"},
            {"name": "opt", "type": ["null", "string"]},
            {"name": "items", "type": {"type": "array", "items": "long"}},
            {"name": "kv", "type": {"type": "map", "values": ["null", "int"]}},
        ],
    }
    rec = {"s": s, "b": b, "flag": flag, "d": d, "opt": None, "items": [1, -2, 3], "kv": {"a": 1, "b": None}}
    assert decode_binary_record(sch, encode_binary_record(sch, rec)) == rec


def test_encoder_logical_types_roundtrip():
    from incubator_xtable_spark.model.avro_codec import (
        decode_binary_record,
        encode_binary_record,
    )

    sch = {
        "type": "record",
        "name": "L",
        "fields": [
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "m", "type": {"type": "bytes", "logicalType": "decimal", "precision": 20, "scale": 3}},
            {"name": "fx", "type": {"type": "fixed", "name": "F5", "size": 5, "logicalType": "decimal", "precision": 11, "scale": 2}},
        ],
    }
    rec = {
        "d": datetime.date(1969, 7, 20),
        "ts": datetime.datetime(2024, 2, 29, 12, 0, 0, 1),
        "m": decimal.Decimal("-12345.678"),
        "fx": decimal.Decimal("99.25"),
    }
    assert decode_binary_record(sch, encode_binary_record(sch, rec)) == rec


def test_encoder_named_union_branches():
    from incubator_xtable_spark.model.avro_codec import (
        Branch,
        decode_binary_record,
        encode_binary_record,
    )

    # same shape as Hudi's min/max wrappers: union of single-field records,
    # later referenced by NAME
    sch = {
        "type": "record",
        "name": "W",
        "fields": [
            {
                "name": "lo",
                "type": [
                    "null",
                    {"type": "record", "name": "IntW", "fields": [{"name": "value", "type": "int"}]},
                    {"type": "record", "name": "StrW", "fields": [{"name": "value", "type": "string"}]},
                ],
            },
            {"name": "hi", "type": ["null", "IntW", "StrW"]},
        ],
    }
    rec = {"lo": Branch("StrW", {"value": "zz"}), "hi": Branch("IntW", {"value": 7})}
    back = decode_binary_record(sch, encode_binary_record(sch, rec))
    assert back == {"lo": {"value": "zz"}, "hi": {"value": 7}}
    with pytest.raises(ValueError, match="no branch named"):
        encode_binary_record(sch, {"lo": Branch("Nope", {}), "hi": None})


def test_encoder_differential_vs_jvm_decoder(spark):
    """Encode pure-python, decode via the JVM Avro reader — cross-impl."""
    from incubator_xtable_spark.model.avro_codec import encode_binary_record

    sch = {
        "type": "record",
        "name": "X",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "o", "type": ["null", "double"]},
        ],
    }
    blob = encode_binary_record(sch, {"a": -987654321, "s": "héllo", "o": 2.5})
    jvm = spark.sparkContext._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(sch))
    reader = jvm.org.apache.avro.generic.GenericDatumReader(schema)
    dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytearray(blob), None)
    rec = reader.read(None, dec)
    assert rec.get("a") == -987654321
    assert str(rec.get("s")) == "héllo"
    assert rec.get("o") == 2.5


def test_write_ocf_jvm_datafilereader_differential(spark, tmp_path):
    """r8: OCFs written by ``write_ocf`` (both codecs) must open in the
    JVM's official DataFileReader with identical records — the engine's
    avro data files are real avro, not a dialect."""
    from incubator_xtable_spark.model.avro_codec import write_ocf

    jvm = spark._jvm
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "label", "type": ["null", "string"]},
        ],
    }
    recs = [{"id": i, "label": (f"x{i}" if i % 2 else None)} for i in range(7)]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"w_{codec}.avro")
        write_ocf(p, schema, recs, codec=codec)
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        got = []
        while dfr.hasNext():
            r = dfr.next()
            lab = r.get("label")
            got.append({"id": r.get("id"), "label": None if lab is None else str(lab)})
        dfr.close()
        assert got == recs, codec


def test_write_ocf_empty_and_iter_stream(tmp_path):
    from incubator_xtable_spark.model.avro_codec import iter_ocf, read_ocf, write_ocf

    schema = {"type": "record", "name": "e", "fields": [{"name": "v", "type": "int"}]}
    p = str(tmp_path / "empty.avro")
    write_ocf(p, schema, [])
    recs, meta = read_ocf(p)
    # the JVM writer's header: no avro.codec key for the null codec, and
    # the compact schema JSON its Schema.toString() prints
    assert recs == [] and "avro.codec" not in meta
    assert meta["avro.schema"] == json.dumps(schema, separators=(",", ":")).encode()
    write_ocf(p, schema, [{"v": i} for i in range(10)], codec="deflate")
    assert [r["v"] for r in iter_ocf(p)] == list(range(10))


def test_avro_scan_typed_columns(spark, tmp_path):
    """The distributed OCF scan round-trips timestamps, dates, decimals,
    arrays, and nested structs into the exact Spark read schema."""
    from pyspark.sql import types as T

    from incubator_xtable_spark.model.avro_codec import write_ocf
    from incubator_xtable_spark.sources.avro_scan import read_avro_rows

    schema = {
        "type": "record",
        "name": "t",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "amt",
                "type": {"type": "bytes", "logicalType": "decimal", "precision": 10, "scale": 2},
            },
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "n",
                    "fields": [{"name": "a", "type": "int"}, {"name": "b", "type": "string"}],
                },
            },
        ],
    }
    recs = [
        {
            "id": i,
            "ts": datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=i),
            "d": datetime.date(2024, 1, 1 + i),
            "amt": decimal.Decimal(f"12.3{i}"),
            "tags": ["a", f"b{i}"],
            "nested": {"a": i, "b": f"n{i}"},
        }
        for i in range(3)
    ]
    p = str(tmp_path / "typed.avro")
    write_ocf(p, schema, recs)
    fields = [
        T.StructField("id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("d", T.DateType()),
        T.StructField("amt", T.DecimalType(10, 2)),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField(
            "nested",
            T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]),
        ),
        # absent from the avro records entirely -> null (reader-schema defaulting)
        T.StructField("missing", T.StringType()),
    ]
    rows = read_avro_rows(spark, [p], fields, path_col="_sp").orderBy("id").collect()
    assert [r["ts"] for r in rows] == [datetime.datetime(2024, 1, 1, h) for h in range(3)]
    assert rows[2]["d"] == datetime.date(2024, 1, 3)
    assert rows[1]["amt"] == decimal.Decimal("12.31")
    assert rows[0]["tags"] == ["a", "b0"]
    assert rows[2]["nested"]["b"] == "n2"
    assert all(r["missing"] is None for r in rows)
    assert all(r["_sp"] == p for r in rows)


# -- every Avro schema the engine writes, read back by the JVM ----------------

_ENGINE_CASES = [
    "iceberg_manifest_v1",
    "iceberg_manifest_list_v1",
    "iceberg_manifest_v2",
    "iceberg_manifest_list_v2",
    "iceberg_manifest_v3",
    "iceberg_manifest_list_v3",
    "paimon_manifest",
    "paimon_manifest_list",
    "paimon_index_manifest",
    "hudi_cdc_record",
]


@pytest.fixture(scope="module")
def engine_avro_writes(spark, tmp_path_factory):
    """Small real syncs with every Avro write of the engine captured as
    {case: [(schema_json, records, path, extra_meta) | (schema, record, blob)]}.

    - partitioned parquet (identity partition, footer stats) -> Iceberg v2,
      Iceberg v3 and Paimon: partition structs and lower/upper bounds;
    - Delta with a deletion vector -> Iceberg v3 and Paimon: the v3 DV
      reference fields and the Paimon index manifest;
    - parquet -> Hudi with change_feed: a CDC block of typed rows.
    The engine writes no v1 manifests (targets are v2/v3), so the v1
    cases re-encode the v2 sync's records under the v1 schema functions.
    """
    import copy

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from incubator_xtable_spark.model import avro_codec
    from incubator_xtable_spark.model.core import (
        InternalPartitionField,
        SyncStatusCode,
        TableFormat,
    )
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource
    from incubator_xtable_spark.sources.paimon_source import (
        INDEX_MANIFEST_AVRO_SCHEMA,
        MANIFEST_AVRO_SCHEMA,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets import iceberg_target, paimon_target
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
    from incubator_xtable_spark.targets.iceberg_target import (
        IcebergConversionTarget,
        manifest_entry_schema,
        manifest_list_schema,
    )
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    from .test_row_delete_conversion import _base_table, _dv_commit

    tmp = tmp_path_factory.mktemp("engine_avro")
    calls: list = []

    def capture(write):
        def wrapper(path, schema_json, records, **kw):
            calls.append((schema_json, copy.deepcopy(records), path, kw.get("extra_meta") or {}))
            return write(path, schema_json, records, **kw)

        return wrapper

    def encode_capture(schema, record):
        blob = encode_binary_record(schema, record)
        calls.append((schema, copy.deepcopy(record), blob))
        return blob

    encode_binary_record = avro_codec.encode_binary_record

    def sync(source, targets):
        res = ConversionController().sync(source, targets)
        for fmt, r in res.items():
            assert r.status == SyncStatusCode.SUCCESS, (fmt, r.error)

    def iceberg_kind(schema_json):
        return "manifest" if json.loads(schema_json)["name"] == "manifest_entry" else "manifest_list"

    def partitioned_parquet(d):
        for part, ids in (("a", range(0, 5)), ("b", range(5, 9))):
            os.makedirs(os.path.join(d, f"p={part}"))
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(list(ids), pa.int64()),
                        "name": [f"n{i}" for i in ids],
                        "amount": [i * 1.5 for i in ids],
                    }
                ),
                os.path.join(d, f"p={part}", "f.parquet"),
            )
        return ParquetConversionSource(
            spark, d, name="pt", partition_fields=[InternalPartitionField("p")]
        )

    out: dict[str, list] = {c: [] for c in _ENGINE_CASES}
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(iceberg_target, "write_ocf", capture(iceberg_target.write_ocf))
        mp.setattr(paimon_target, "write_ocf", capture(paimon_target.write_ocf))
        mp.setattr(avro_codec, "encode_binary_record", encode_capture)

        for fv in (2, 3):
            d = str(tmp / f"pt_v{fv}")
            targets = {
                TableFormat.ICEBERG: IcebergConversionTarget(
                    spark, d, table_name="pt", format_version=fv
                )
            }
            if fv == 3:
                targets[TableFormat.PAIMON] = PaimonConversionTarget(
                    spark, str(tmp / "pt_paimon"), table_name="pt"
                )
            calls.clear()
            sync(partitioned_parquet(d), targets)
            for c in calls:
                if c[2].startswith(d):
                    out[f"iceberg_{iceberg_kind(c[0])}_v{fv}"].append(c)
                else:
                    kind = "manifest" if c[0] is MANIFEST_AVRO_SCHEMA else "manifest_list"
                    out[f"paimon_{kind}"].append(c)

        dv = tmp_path_factory.mktemp("engine_avro_dv")
        base, s1, _ = _base_table(dv)
        _dv_commit(base, 1, s1, [2, 3, 7])
        calls.clear()
        sync(
            DeltaConversionSource(spark, base, expose_row_deletes=True),
            {
                TableFormat.ICEBERG: IcebergConversionTarget(
                    spark, base, table_name="dvt", format_version=3
                ),
                TableFormat.PAIMON: PaimonConversionTarget(
                    spark, str(dv / "paimon"), table_name="dvt"
                ),
            },
        )
        for c in calls:
            if c[2].startswith(base):
                out[f"iceberg_{iceberg_kind(c[0])}_v3"].append(c)
            elif c[0] is INDEX_MANIFEST_AVRO_SCHEMA:
                out["paimon_index_manifest"].append(c)

        d = str(tmp / "cdc")
        spark.range(0, 3).select(
            F.col("id").cast("long"),
            F.lit("x").alias("name"),
            F.to_timestamp(F.lit("2024-03-01 10:00:00")).alias("ts"),
            F.to_date(F.lit("2024-03-01")).alias("day"),
            F.lit(decimal.Decimal("1.50")).cast("decimal(10,2)").alias("amt"),
        ).coalesce(1).write.parquet(d)
        src = ParquetConversionSource(spark, d, name="cdc")
        target = HudiConversionTarget(spark, d, table_name="cdc", change_feed=True)
        sync(src, {TableFormat.HUDI: target})
        spark.range(3, 4).select(
            F.col("id").cast("long"),
            F.lit("y").alias("name"),
            F.to_timestamp(F.lit("2024-03-02 12:30:45.123456")).alias("ts"),
            F.to_date(F.lit("2024-03-02")).alias("day"),
            F.lit(decimal.Decimal("-1.28")).cast("decimal(10,2)").alias("amt"),
        ).coalesce(1).write.mode("append").parquet(d)
        table = src.get_current_table()
        ts = datetime.datetime(2024, 3, 2, 12, 30, 45, 123456)
        changes = spark.createDataFrame(
            [
                (3, "y", ts, datetime.date(2024, 3, 2), decimal.Decimal("-1.28"), "insert"),
                (1, "x", ts, None, decimal.Decimal("1.50"), "delete"),
                (2, "x", ts, datetime.date(2024, 3, 1), decimal.Decimal("1.50"), "update_preimage"),
                (2, None, None, datetime.date(2024, 3, 2), None, "update_postimage"),
            ],
            T.StructType(
                list(table.read_schema.fields) + [T.StructField("_change_type", T.StringType())]
            ),
        )
        calls.clear()
        target.begin_sync(table)
        target.sync_schema(table.read_schema)
        target.sync_partition_spec([])
        target.sync_files_for_snapshot(src.get_current_snapshot().files)
        target.sync_row_changes(changes)
        out["hudi_cdc_table"] = (d, target.complete_sync())
        out["hudi_cdc_record"] = [
            c for c in calls if isinstance(c[0], dict) and c[0]["name"] == "HoodieCDCRecord"
        ]

    for case, schema_v1 in (
        ("iceberg_manifest", manifest_entry_schema(["p"], 1)),
        ("iceberg_manifest_list", manifest_list_schema(1)),
    ):
        for i, (_schema, records, _path, meta) in enumerate(out[f"{case}_v2"]):
            p = str(tmp / f"{case}_v1-{i}.avro")
            meta = dict(meta, **{"format-version": "1"})
            avro_codec.write_ocf(p, schema_v1, records, extra_meta=meta)
            out[f"{case}_v1"].append((schema_v1, records, p, meta))
    return out


@pytest.mark.parametrize("case", _ENGINE_CASES)
def test_engine_avro_writes_jvm_differential(spark, engine_avro_writes, case):
    """Every Avro schema the engine writes: the records handed to the
    engine's writer equal what the JVM's DataFileReader /
    GenericDatumReader reads back, compared JVM-side against the same
    records parsed by the JVM's own JsonDecoder; Iceberg file metadata
    keys read back unchanged."""
    from .hudi_logtable import jvm_record

    jvm = spark._jvm
    writes = engine_avro_writes[case]
    assert writes, f"no {case} write captured"
    n_records = 0
    for w in writes:
        if case == "hudi_cdc_record":
            schema, record, blob = w
            sch, ref = jvm_record(spark, json.dumps(schema), record)
            dec = jvm.org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytearray(blob), None)
            got = jvm.org.apache.avro.generic.GenericDatumReader(sch).read(None, dec)
            assert got.equals(ref), (str(got), str(ref))
            n_records += 1
            continue
        schema_json, records, path, meta = w
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        got = []
        while dfr.hasNext():
            got.append(dfr.next())
        file_meta = {k: dfr.getMetaString(k) for k in meta}
        dfr.close()
        assert file_meta == {k: str(v) for k, v in meta.items()}
        assert len(got) == len(records)
        for g, r in zip(got, records):
            _, ref = jvm_record(spark, schema_json, r)
            assert g.equals(ref), (str(g), str(ref))
        n_records += len(records)
        if case.startswith("iceberg_manifest_v") and records:
            dfile = records[0]["data_file"]
            if dfile["content"] == 0:
                assert dfile["lower_bounds"] and dfile["upper_bounds"]
    assert n_records
    if case.startswith("iceberg_manifest_v"):
        entries = [r for w in writes for r in w[1]]
        assert any(r["data_file"]["partition"] for r in entries)
        if case.endswith("v3"):
            assert any(r["data_file"].get("referenced_data_file") for r in entries)
    if case == "hudi_cdc_record":
        from incubator_xtable_spark.sources.hudi_source import read_hudi_cdc

        assert {w[1]["op"] for w in writes} == {"i", "d", "u"}
        # decimals ride the Avro decimal logical type and read back typed
        d, instant = engine_avro_writes["hudi_cdc_table"]
        got = {
            (r["id"], r["_change_type"]): r["amt"]
            for r in read_hudi_cdc(spark, d, instant).collect()
        }
        assert got == {
            (3, "insert"): decimal.Decimal("-1.28"),
            (1, "delete"): decimal.Decimal("1.50"),
            (2, "update_preimage"): decimal.Decimal("1.50"),
            (2, "update_postimage"): None,
        }
