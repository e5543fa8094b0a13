"""Field-id stability under schema EVOLUTION for id-less sources
(targets/iceberg_target._reuse_prev_schema_ids): dropping or inserting
a column must never recycle an id that carried manifests' bounds still
reference — surviving fields (nested members and collection
element/key/value slots included) keep their ids, new fields draw ids
above the previous last-column-id, and last-column-id counts EVERY id
in the schema."""

from __future__ import annotations

from pyspark.sql import types as T

from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget


def _commit(spark, base, schema):
    tgt = IcebergConversionTarget(spark, base, table_name="evo")
    tgt.begin_sync(None)
    tgt.sync_schema(schema)
    tgt.sync_partition_spec([])
    tgt.complete_sync()
    return IcebergConversionSource(spark, base)._meta()


def _ids(meta) -> dict:
    """{path: id} over the CURRENT schema, descending everything."""
    out = {}

    def walk(t, path):
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t.get("fields", []):
                    out[path + (f["name"],)] = f["id"]
                    walk(f["type"], path + (f["name"],))
            elif t.get("type") == "list":
                out[path + ("[]",)] = t["element-id"]
                walk(t["element"], path + ("[]",))
            elif t.get("type") == "map":
                out[path + ("[k]",)] = t["key-id"]
                out[path + ("[v]",)] = t["value-id"]
                walk(t["key"], path + ("[k]",))
                walk(t["value"], path + ("[v]",))

    schemas = {s["schema-id"]: s for s in meta["schemas"]}
    cur = schemas[meta["current-schema-id"]]
    walk({"type": "struct", "fields": cur["fields"]}, ())
    return out


def test_drop_and_add_never_recycles_ids(spark, tmp_path):
    base = str(tmp_path / "evo1")
    s1 = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DoubleType()),
        ]
    )
    m1 = _commit(spark, base, s1)
    ids1 = _ids(m1)
    # drop b, add d — d must NOT take b's id
    s2 = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("c", T.DoubleType()),
            T.StructField("d", T.StringType()),
        ]
    )
    m2 = _commit(spark, base, s2)
    ids2 = _ids(m2)
    assert ids2[("a",)] == ids1[("a",)]
    assert ids2[("c",)] == ids1[("c",)]
    assert ids2[("d",)] > m1["last-column-id"]
    assert ids2[("d",)] != ids1[("b",)]
    assert m2["last-column-id"] >= ids2[("d",)]


def test_nested_and_collection_ids_stable_on_append(spark, tmp_path):
    base = str(tmp_path / "evo2")
    s1 = T.StructType(
        [
            T.StructField(
                "s", T.StructType([T.StructField("x", T.LongType())])
            ),
            T.StructField("arr", T.ArrayType(T.LongType())),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    m1 = _commit(spark, base, s1)
    ids1 = _ids(m1)
    # last-column-id must already cover the collection slots
    assert m1["last-column-id"] >= max(ids1.values())
    s2 = T.StructType(list(s1.fields) + [T.StructField("z", T.StringType())])
    m2 = _commit(spark, base, s2)
    ids2 = _ids(m2)
    for p in (("s",), ("s", "x"), ("arr",), ("arr", "[]"), ("m",), ("m", "[k]"), ("m", "[v]")):
        assert ids2[p] == ids1[p], p
    assert ids2[("z",)] > m1["last-column-id"]


def test_mid_insert_keeps_existing_ids(spark, tmp_path):
    base = str(tmp_path / "evo3")
    s1 = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    m1 = _commit(spark, base, s1)
    ids1 = _ids(m1)
    # insert new column BETWEEN a and b — a pre-order reassignment would
    # have renumbered b
    s2 = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("mid", T.DoubleType()),
            T.StructField("b", T.StringType()),
        ]
    )
    m2 = _commit(spark, base, s2)
    ids2 = _ids(m2)
    assert ids2[("a",)] == ids1[("a",)]
    assert ids2[("b",)] == ids1[("b",)]
    assert ids2[("mid",)] > m1["last-column-id"]


def test_schema_history_tracked(spark, tmp_path):
    """Evolution appends a NEW schema-id instead of overwriting schema 0;
    each snapshot records the schema it was written under."""
    base = str(tmp_path / "evo4")
    s1 = T.StructType([T.StructField("a", T.LongType())])
    m1 = _commit(spark, base, s1)
    assert [s["schema-id"] for s in m1["schemas"]] == [0]
    assert m1["current-schema-id"] == 0

    s2 = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    m2 = _commit(spark, base, s2)
    assert [s["schema-id"] for s in m2["schemas"]] == [0, 1]
    assert m2["current-schema-id"] == 1
    by_id = {s["snapshot-id"]: s for s in m2["snapshots"]}
    old_snap, new_snap = sorted(m2["snapshots"], key=lambda s: s["sequence-number"])
    assert old_snap["schema-id"] == 0 and new_snap["schema-id"] == 1

    # an UNCHANGED third commit reuses schema-id 1, no new schema appended
    m3 = _commit(spark, base, s2)
    assert [s["schema-id"] for s in m3["schemas"]] == [0, 1]
    assert m3["current-schema-id"] == 1


def test_time_travel_reads_snapshot_schema(spark, tmp_path):
    """A snapshot written under an older schema reads WITH that schema:
    later-added columns absent at the old snapshot, present (null for
    old files) at head."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.model.core import (
        FILE_INVENTORY_ARROW,
        InternalTable,
        TableFormat,
        arrow_table,
    )
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df

    base = str(tmp_path / "evo_read")
    os.makedirs(base)
    f1 = os.path.join(base, "f1.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), f1)
    s1 = T.StructType([T.StructField("a", T.LongType())])

    def _sync(schema, inv_rows):
        tgt = IcebergConversionTarget(spark, base, table_name="evo")
        tgt.begin_sync(
            InternalTable(
                name="evo",
                table_format=TableFormat.ICEBERG,
                base_path=base,
                read_schema=schema,
            )
        )
        tgt.sync_schema(schema)
        tgt.sync_partition_spec([])
        tgt.sync_files_for_snapshot(arrow_table(inv_rows, FILE_INVENTORY_ARROW))
        return tgt.complete_sync()

    def _inv(path, n):
        return (path, "PARQUET", os.path.getsize(path), n, 1, None, None)

    sid1 = _sync(s1, [_inv(f1, 2)])

    f2 = os.path.join(base, "f2.parquet")
    pq.write_table(
        pa.table({"a": pa.array([3], pa.int64()), "b": pa.array(["x"])}), f2
    )
    s2 = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    _sync(s2, [_inv(f1, 2), _inv(f2, 1)])

    head = read_iceberg_as_df(spark, base)
    assert set(head.columns) == {"a", "b"}
    rows = {r["a"]: r["b"] for r in head.collect()}
    assert rows == {1: None, 2: None, 3: "x"}

    old = read_iceberg_as_df(spark, base, snapshot_id=sid1)
    assert set(old.columns) == {"a"}
    assert sorted(r["a"] for r in old.collect()) == [1, 2]
