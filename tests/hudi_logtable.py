"""Hudi log-file fixture writer: produces the public log block format
(magic/size/version/type/headers/content/footers/trailing-length) that
sources/hudi_log.py reads. Writer and reader share only the layout
documented in that module's docstring — byte production here is
independent code (the same posture as tests/paimon_testtable.py).

Avro binary record bytes are produced through the JVM's official Avro
library (JsonDecoder -> GenericRecord -> BinaryEncoder): an encoder
independent of the engine's pure-python codec, so fixtures built here
cross-check the engine's reader. Records travel as Avro-JSON because
py4j unboxes java.lang.Long, so GenericRecord.put cannot be fed a Long
for a ["null","long"] union from Python.
"""

from __future__ import annotations

import decimal
import io
import json
import struct

import pyarrow as pa
import pyarrow.parquet as pq

from incubator_xtable_spark.sources.hudi_log import (
    AVRO_DATA_BLOCK,
    COMMAND_BLOCK,
    DELETE_BLOCK,
    DELETE_RECORD_LIST_SCHEMA,
    H_COMMAND_BLOCK_TYPE,
    H_INSTANT_TIME,
    H_SCHEMA,
    H_TARGET_INSTANT_TIME,
    MAGIC,
    PARQUET_DATA_BLOCK,
    ROLLBACK_COMMAND,
)


def _named_types(schema, out: dict) -> dict:
    """Record definitions by short and full name (later references to a
    named type are plain strings)."""
    if isinstance(schema, list):
        for b in schema:
            _named_types(b, out)
    elif isinstance(schema, dict):
        t = schema.get("type")
        if t == "record":
            out[schema["name"]] = schema
            if schema.get("namespace"):
                out[schema["namespace"] + "." + schema["name"]] = schema
            for f in schema["fields"]:
                _named_types(f["type"], out)
        elif t == "array":
            _named_types(schema["items"], out)
        elif t == "map":
            _named_types(schema["values"], out)
    return out


def to_avro_json(value, schema, named: dict):
    """Python value -> the Avro-JSON shape the JVM JsonDecoder reads:
    union values wrapped as {"long": v}, records recursed, ``bytes``
    values as ISO-8859-1 strings (a ``str`` for a bytes field refuses),
    Decimals as their decimal logical type's unscaled bytes."""
    if isinstance(schema, str) and schema in named:
        schema = named[schema]
    if isinstance(schema, list):
        if value is None:
            return None
        branch = next(b for b in schema if b != "null")
        label = branch
        if isinstance(branch, dict) and branch.get("type") == "record":
            ns = branch.get("namespace")
            label = f"{ns}.{branch['name']}" if ns else branch["name"]
        elif isinstance(branch, dict):
            label = branch["type"]
        return {label: to_avro_json(value, branch, named)}
    t = schema.get("type") if isinstance(schema, dict) else schema
    if isinstance(value, decimal.Decimal) and isinstance(schema, dict):
        # unscaled value as minimal big-endian two's complement
        unscaled = int(value.scaleb(schema.get("scale", 0)))
        n = 1
        while not -(1 << (8 * n - 1)) <= unscaled < (1 << (8 * n - 1)):
            n += 1
        value = unscaled.to_bytes(n, "big", signed=True)
    if t == "record":
        return {
            f["name"]: to_avro_json(value.get(f["name"]), f["type"], named)
            for f in schema["fields"]
        }
    if t == "array":
        return [to_avro_json(v, schema["items"], named) for v in value or []]
    if t == "bytes":
        if not isinstance(value, (bytes, bytearray)):
            raise TypeError(f"avro bytes field needs bytes, got {type(value).__name__}")
        return bytes(value).decode("latin-1")
    if t in ("int", "long"):
        return int(value)
    if t in ("float", "double"):
        return float(value)
    return value


def jvm_record(spark, schema_json: str, record: dict):
    """(JVM Schema, GenericRecord) built from a Python record through the
    JVM's JsonDecoder."""
    jvm = spark._jvm
    sch = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    schema = json.loads(schema_json)
    decoder = jvm.org.apache.avro.io.DecoderFactory.get().jsonDecoder(
        sch, json.dumps(to_avro_json(record, schema, _named_types(schema, {})))
    )
    return sch, jvm.org.apache.avro.generic.GenericDatumReader(sch).read(None, decoder)


def jvm_write_ocf(spark, path: str, schema_json: str, records: list[dict], meta: dict) -> None:
    """An Avro object container file written by the JVM DataFileWriter."""
    jvm = spark._jvm
    sch = jvm.org.apache.avro.Schema.Parser().parse(schema_json)
    dfw = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    )
    for k, v in meta.items():
        dfw.setMeta(k, v)
    dfw.create(sch, jvm.java.io.File(path))
    for r in records:
        dfw.append(jvm_record(spark, schema_json, r)[1])
    dfw.close()


def avro_binary(spark, schema_json: str, record: dict) -> bytes:
    """One record's Avro binary bytes via the JVM Avro library."""
    jvm = spark._jvm
    sch, rec = jvm_record(spark, schema_json, record)
    efactory = jvm.org.apache.avro.io.EncoderFactory.get()
    writer = jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    baos = jvm.java.io.ByteArrayOutputStream()
    encoder = efactory.binaryEncoder(baos, None)
    writer.write(rec, encoder)
    encoder.flush()
    return bytes(baos.toByteArray())


def _meta_map(entries: dict[int, str]) -> bytes:
    out = struct.pack(">i", len(entries))
    for k, v in entries.items():
        vb = v.encode("utf-8")
        out += struct.pack(">ii", k, len(vb)) + vb
    return out


def block_bytes(btype: int, headers: dict[int, str], content: bytes) -> bytes:
    body = struct.pack(">ii", 1, btype)
    body += _meta_map(headers)
    body += struct.pack(">q", len(content)) + content
    body += _meta_map({})  # footers
    block_size = len(body) + 8  # + trailing total-length long
    total = 6 + 8 + block_size
    return MAGIC + struct.pack(">q", block_size) + body + struct.pack(">q", total)


def avro_data_block(spark, instant: str, schema_json: str, records: list[dict]) -> bytes:
    content = struct.pack(">ii", 3, len(records))
    for r in records:
        blob = avro_binary(spark, schema_json, r)
        content += struct.pack(">i", len(blob)) + blob
    return block_bytes(
        AVRO_DATA_BLOCK, {H_INSTANT_TIME: instant, H_SCHEMA: schema_json}, content
    )


def parquet_data_block(instant: str, table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return block_bytes(PARQUET_DATA_BLOCK, {H_INSTANT_TIME: instant}, buf.getvalue())


def delete_block(spark, instant: str, keys: list[str]) -> bytes:
    wrapper = {
        "deleteRecordList": [{"recordKey": k, "partitionPath": ""} for k in keys]
    }
    blob = avro_binary(spark, DELETE_RECORD_LIST_SCHEMA, wrapper)
    content = struct.pack(">ii", 3, len(blob)) + blob
    return block_bytes(
        DELETE_BLOCK,
        {H_INSTANT_TIME: instant, H_SCHEMA: DELETE_RECORD_LIST_SCHEMA},
        content,
    )


def rollback_block(instant: str, target_instant: str) -> bytes:
    return block_bytes(
        COMMAND_BLOCK,
        {
            H_INSTANT_TIME: instant,
            H_TARGET_INSTANT_TIME: target_instant,
            H_COMMAND_BLOCK_TYPE: str(ROLLBACK_COMMAND),
        },
        b"",
    )


def cdc_data_block(spark, instant: str, row_schema_json: str, changes: list[dict]) -> bytes:
    """CDC_DATA_BLOCK: avro-data framing with the CDC record schema
    (op i|u|d + nullable before/after of the row schema), logging mode
    data_before_after."""
    import json as _json

    from incubator_xtable_spark.sources.hudi_log import CDC_DATA_BLOCK

    row_schema = _json.loads(row_schema_json)
    before_schema = dict(row_schema, name="before_rec")
    after_schema = dict(row_schema, name="after_rec")
    cdc_schema = _json.dumps(
        {
            "type": "record",
            "name": "HoodieCDCRecord",
            "fields": [
                {"name": "op", "type": "string"},
                {"name": "before", "type": ["null", before_schema], "default": None},
                {"name": "after", "type": ["null", after_schema], "default": None},
            ],
        }
    )
    content = struct.pack(">ii", 3, len(changes))
    for r in changes:
        blob = avro_binary(spark, cdc_schema, r)
        content += struct.pack(">i", len(blob)) + blob
    return block_bytes(
        CDC_DATA_BLOCK, {H_INSTANT_TIME: instant, H_SCHEMA: cdc_schema}, content
    )
