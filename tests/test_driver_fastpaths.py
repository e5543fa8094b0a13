"""The Delta log replay on the driver, and the driver-side fast paths.

Delta log state comes from one session-free replay
(`delta_source.log_replay` and its folds). This file keeps the Spark
computation it replaced as a test-local REFERENCE: a `spark.read.json`
log read with a last-action-per-path window, and the intersect /
anti-join commit diff. The replay must equal it on tables exercising
adds, removes, same-version remove+re-add (the DV commit shape),
partition values, external paths, schema changes and time travel; with
a classic, multi-part or v2+sidecar checkpoint in range, and after the
log behind it expired.

The Spark pipeline that built Hudi index records is kept the same way,
as the reference for the pyarrow writers, and so is the Spark inventory
projection (the `add.stats` parse, path anchoring and format tag) as the
reference for the Delta source's Python stats parse. The sync tests pin
the zero-job, zero-py4j paths: sources hand their inventories over as
Arrow tables, and targets diff and commit those rows with no Spark job
and no py4j command, also when a source hands over URI-form paths, and
a Delta target commit that writes a checkpoint, DV files or a `.crc`
fallback writes them on the driver too.

The Spark forms of the row-delete resolvers are kept the same way
(Iceberg's delete scans under the `delete_seq >= data_seq` join, Delta's
and Paimon's executor-side DV decodes), as the reference for the driver
resolvers and for the positions files and shadows written from them;
and snapshots and changes of tables with row deletes run no Spark job
and send no py4j command."""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import re
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

import incubator_xtable_spark.sources.delta_source as DS
from incubator_xtable_spark.model.core import FILE_INVENTORY_SCHEMA
from incubator_xtable_spark.model.stat_codec import decode_stat

from .model_tables import model_rows


def _write_commit(log_dir: str, version: int, actions: list[dict]) -> None:
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, f"{version:020d}.json"), "w", encoding="utf-8") as fh:
        for a in actions:
            fh.write(json.dumps(a) + "\n")


def _schema_string(*names: str) -> str:
    types = {"id": "long", "name": "string", "p": "string"}
    return json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": types[n], "nullable": True, "metadata": {}} for n in names
            ],
        }
    )


def _stats(ids: list[int], names: list[str] | None = None) -> str:
    mins, maxs, nulls = {"id": min(ids)}, {"id": max(ids)}, {"id": 0}
    if names is not None:
        mins["name"], maxs["name"], nulls["name"] = min(names), max(names), 0
    return json.dumps(
        {"numRecords": len(ids), "minValues": mins, "maxValues": maxs, "nullCount": nulls}
    )


# the data files of the delta_table fixture: path -> columns
_FILES = {
    "a.parquet": {"id": [0, 1, 2]},
    "b.parquet": {"id": [3, 4]},
    "c.parquet": {"id": [5, 6]},
    "d.parquet": {"id": [7]},
    "f.parquet": {"id": [10, 11], "name": ["x", "y"]},
}


@pytest.fixture()
def delta_table(tmp_path):
    """A partitioned 10-version log over real data files:

    - v0 adds a, b; v1 removes b and adds c;
    - v2 removes a and re-adds it with a DV in the same version (the add
      must win the tie);
    - v3 adds d; v4 removes and re-adds d unchanged (a no-op pair);
    - v5 adds an external file by absolute path; v6 removes it;
    - v7 removes the DV'd a;
    - v8 changes the schema (adds `name`) and adds f with `name` stats;
    - v9 re-adds a with the same DV, so the live set is a, c, d, f."""
    from incubator_xtable_spark.sources.delta_dv import inline_dv_descriptor

    base = str(tmp_path / "tbl")
    log = os.path.join(base, "_delta_log")
    os.makedirs(base)
    for name, cols in _FILES.items():
        pq.write_table(pa.table(cols), os.path.join(base, name))
    external = str(tmp_path / "ext" / "e.parquet")
    os.makedirs(os.path.dirname(external))
    pq.write_table(pa.table({"id": [8, 9]}), external)

    def meta(*names):
        return {
            "metaData": {
                "id": "t",
                "name": "t",
                "schemaString": _schema_string(*names),
                "partitionColumns": ["p"],
                "configuration": {},
                "createdTime": 1,
                "format": {"provider": "parquet", "options": {}},
            }
        }

    def add(path, p, dv=None):
        name = os.path.basename(path)
        cols = _FILES.get(name, {"id": [8, 9]})
        a = {
            "path": path,
            "partitionValues": {"p": p},
            "size": os.path.getsize(path if path.startswith("/") else os.path.join(base, path)),
            "modificationTime": 1,
            "dataChange": True,
            "stats": _stats(cols["id"], cols.get("name")),
        }
        if dv:
            a["deletionVector"] = dv
        return {"add": a}

    def remove(path, data_change=True):
        return {"remove": {"path": path, "deletionTimestamp": 2, "dataChange": data_change}}

    dv = inline_dv_descriptor([1])
    _write_commit(log, 0, [{"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
                           meta("id", "p"), add("a.parquet", "1"), add("b.parquet", "2")])
    _write_commit(log, 1, [remove("b.parquet"), add("c.parquet", "1")])
    # the DV commit shape: remove + re-add of the SAME path in one version
    _write_commit(log, 2, [remove("a.parquet", False), add("a.parquet", "1", dv=dv)])
    _write_commit(log, 3, [add("d.parquet", "3")])
    _write_commit(log, 4, [remove("d.parquet", False), add("d.parquet", "3")])
    _write_commit(log, 5, [add(external, "2")])
    _write_commit(log, 6, [remove(external)])
    _write_commit(log, 7, [remove("a.parquet")])
    _write_commit(log, 8, [meta("id", "name", "p"), add("f.parquet", "4")])
    _write_commit(log, 9, [add("a.parquet", "1", dv=dv)])
    return base


_VERSIONS = list(range(10))


# ---------------------------------------------------------------------------
# The Spark reference: the distributed log computation the replay replaced
# ---------------------------------------------------------------------------


# the columns of a live file row: the version it was added at, then the
# add action's fields (dataChange is a change flag, not state)
_LIVE_FIELDS = ["version", "path"] + [
    f for f in DS._ACTION_TYPES["add"].fieldNames() if f not in ("path", "dataChange")
]


def _live_rows(base, version=None):
    """``live_adds`` at ``version`` as rows in _LIVE_FIELDS, by path."""
    live = DS.live_adds(base, version).values()
    return sorted(({k: a[k] for k in _LIVE_FIELDS} for a in live), key=lambda d: d["path"])


def _spark_actions(spark, base, version):
    """Every commit JSON up to ``version`` through Spark's JSON reader,
    tagged with the version in its file name."""
    files = sorted(glob.glob(os.path.join(base, "_delta_log", "*.json")))
    files = [f for f in files if int(os.path.basename(f)[:20]) <= version]
    version_col = F.regexp_extract(F.input_file_name(), r"(\d{20})\.json$", 1).cast("long")
    return spark.read.schema(DS._ACTION_SCHEMA).json(files).withColumn("version", version_col)


def _spark_live_files(spark, base, version):
    """Last action per path wins; within one version the add wins."""
    file_actions = _spark_actions(spark, base, version).select(
        "version",
        F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
        F.col("add.path").isNotNull().alias("is_add"),
        *[F.col(f"add.{c}").alias(c) for c in _LIVE_FIELDS[2:]],
    ).filter(F.col("path").isNotNull())
    w = Window.partitionBy("path").orderBy(F.desc("version"), F.desc("is_add"))
    latest = file_actions.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return latest.filter(F.col("is_add")).drop("rn", "is_add")


def _spark_purged_path(path_col, dv_col):
    """`delta_dv.purged_path` as a Spark expression."""
    uid = F.concat(
        dv_col["storageType"],
        dv_col["pathOrInlineDv"],
        F.when(
            dv_col["offset"].isNotNull(), F.concat(F.lit("@"), dv_col["offset"].cast("string"))
        ).otherwise(F.lit("")),
    )
    stem = F.regexp_replace(path_col, r"\.parquet$", "")
    return F.concat(stem, F.lit(".purged-"), F.substring(F.md5(uid), 1, 8), F.lit(".parquet"))


def _spark_commit_diff(spark, base, version, by_raw_path):
    """(surviving adds as `add.*` columns, removed effective paths as
    `eff_path`) of one commit, with intersect and anti-joins."""
    log = os.path.join(base, "_delta_log", f"{version:020d}.json")
    actions = spark.read.schema(DS._ACTION_SCHEMA).json(log)
    adds = actions.filter(F.col("add.path").isNotNull()).select("add.*")
    removes_raw = actions.filter(F.col("remove.path").isNotNull()).select("remove.path")
    if by_raw_path:
        noop = adds.select("path").intersect(removes_raw)
        pure_removes = removes_raw.join(noop, "path", "left_anti")
        return adds.join(noop, "path", "left_anti"), pure_removes.select(
            F.col("path").alias("eff_path")
        )

    def eff_expr(dv_col):
        return F.when(
            dv_col["storageType"].isNotNull(), _spark_purged_path(F.col("path"), dv_col)
        ).otherwise(F.col("path"))

    prev_dv = _spark_live_files(spark, base, version - 1).select(
        "path", F.col("deletionVector").alias("prev_dv")
    )
    removes_eff = removes_raw.join(prev_dv, "path", "left").select(
        eff_expr(F.col("prev_dv")).alias("eff_path")
    )
    adds = adds.withColumn("_eff", eff_expr(F.col("deletionVector")))
    noop = adds.select(F.col("_eff").alias("eff_path")).intersect(removes_eff)
    adds = adds.join(noop, adds["_eff"] == noop["eff_path"], "left_anti").drop("_eff")
    return adds, removes_eff.join(noop, "eff_path", "left_anti")


# The Spark inventory projection: `add.stats` parsed with `from_json`
# against a schema typed natively where the column is numeric or boolean
# (strings elsewhere), each min/max re-serialized as a JSON fragment.

_NATIVE_STAT_TYPES = (
    T.IntegerType,
    T.LongType,
    T.ShortType,
    T.ByteType,
    T.FloatType,
    T.DoubleType,
    T.BooleanType,
)


def _typed_stats_schema(schema: T.StructType) -> T.StructType:
    return T.StructType(
        [
            T.StructField(
                f.name, f.dataType if isinstance(f.dataType, _NATIVE_STAT_TYPES) else T.StringType()
            )
            for f in schema.fields
        ]
    )


def _json_fragment(col: Column) -> Column:
    """Scalar column -> standalone JSON fragment (the to_json(array(x))
    bracket-strip trick)."""
    frag = F.regexp_replace(F.to_json(F.array(col)), r"^\[|\]$", "")
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(frag)


def _parsed_stats_expr(schema: T.StructType) -> Column:
    typed = _typed_stats_schema(schema)
    return F.from_json(
        F.col("stats"),
        T.StructType(
            [
                T.StructField("numRecords", T.LongType()),
                T.StructField("minValues", typed),
                T.StructField("maxValues", typed),
                T.StructField("nullCount", T.MapType(T.StringType(), T.LongType())),
            ]
        ),
    )


def _column_stats_expr(schema: T.StructType, parsed: Column) -> Column:
    entries: list[Column] = []
    for f in schema.fields:
        entries.append(F.lit(f.name))
        entries.append(
            F.struct(
                _json_fragment(parsed["minValues"][f.name]).alias("min_json"),
                _json_fragment(parsed["maxValues"][f.name]).alias("max_json"),
                parsed["nullCount"][f.name].alias("null_count"),
            )
        )
    return F.create_map(*entries)


def _spark_anchored(path_col: str, base: str) -> Column:
    return F.when(F.col(path_col).startswith("/"), F.col(path_col)).otherwise(
        F.concat(F.lit(base), F.col(path_col))
    )


def _spark_inventory(src, adds, table):
    """`add.*` rows -> inventory rows through the Spark projection, DV'd
    adds (unless exposed) as their purged shadows with footer stats."""
    from incubator_xtable_spark.model.file_formats import format_expr
    from incubator_xtable_spark.sources.delta_dv import purged_path
    from incubator_xtable_spark.sources.parquet_source import footer_stat_rows

    base = src.base_path + "/"
    data_schema = src._data_schema(table)
    parsed = _parsed_stats_expr(data_schema)
    abs_path = _spark_anchored("path", base)
    projection = [
        abs_path.alias("physical_path"),
        format_expr(abs_path, default=src._default_file_format()).alias("file_format"),
        F.col("size").alias("size_bytes"),
        parsed["numRecords"].alias("record_count"),
        F.col("modificationTime").alias("last_modified_ms"),
        F.col("partitionValues").alias("partition_values"),
        _column_stats_expr(data_schema, parsed).alias("column_stats"),
    ]
    if src.expose_row_deletes:
        return _spark_rows(adds.select(*projection))
    has_dv = F.col("deletionVector.storageType").isNotNull()
    dv_list = adds.filter(has_dv).select(
        abs_path.alias("abs_path"), "deletionVector", "partitionValues", "modificationTime"
    ).collect()
    shadows = [purged_path(r["abs_path"], r["deletionVector"].asDict()) for r in dv_list]
    stats = {p: (n, cs) for p, n, cs in footer_stat_rows(shadows, data_schema)}
    dv_rows = [
        {
            "physical_path": sp,
            "file_format": "PARQUET",
            "size_bytes": os.path.getsize(sp),
            "record_count": stats[sp][0],
            "last_modified_ms": r["modificationTime"],
            "partition_values": dict(r["partitionValues"] or {}) or None,
            "column_stats": stats[sp][1],
        }
        for sp, r in zip(shadows, dv_list)
    ]
    return _spark_rows(adds.filter(~has_dv).select(*projection)) + dv_rows


def _spark_rows(df):
    return [r.asDict(recursive=True) for r in df.collect()]


def _spark_change_rows(spark, src, version):
    """`_change_rows` of the reference diff, through the Spark inventory
    projection."""
    table = src.get_table_at_version(version)
    adds, removes_eff = _spark_commit_diff(spark, src.base_path, version, src.expose_row_deletes)
    abs_removed = _spark_anchored("eff_path", src.base_path + "/")
    from incubator_xtable_spark.model.file_formats import format_expr

    removed = removes_eff.select(
        abs_removed.alias("physical_path"),
        format_expr(abs_removed, default=src._default_file_format()).alias("file_format"),
        F.lit(0).cast("long").alias("size_bytes"),
        F.lit(None).cast("long").alias("record_count"),
        F.lit(None).cast("long").alias("last_modified_ms"),
        F.lit(None).cast("map<string,string>").alias("partition_values"),
        F.lit(None).cast(FILE_INVENTORY_SCHEMA["column_stats"].dataType).alias("column_stats"),
    )
    live = _spark_rows(_spark_live_files(spark, src.base_path, version))
    return {
        "files_added": _normalized(_spark_inventory(src, adds, table), table),
        "files_removed": _normalized(_spark_rows(removed), table),
        "row_deletes": _normalized(model_rows(src._row_deletes_for(live)), table)
        if src.expose_row_deletes
        else None,
    }


def _decoded(raw, dtype):
    """A min/max JSON fragment as the value it encodes (NaN as a string,
    so that equal rows compare equal)."""
    value = decode_stat(raw, dtype)
    return "NaN" if isinstance(value, float) and math.isnan(value) else value


def _normalized(rows, table):
    """Inventory rows sorted, each min/max decoded with the column's type:
    two encoders may spell one value differently (1.0E10, 1e10)."""
    types = {f.name: f.dataType for f in table.read_schema.fields}
    out = []
    for r in rows:
        r = dict(r)
        if r.get("column_stats"):
            r["column_stats"] = {
                c: {
                    "min": _decoded(st["min_json"], types[c]),
                    "max": _decoded(st["max_json"], types[c]),
                    "null_count": st["null_count"],
                }
                for c, st in r["column_stats"].items()
            }
        out.append(r)
    return sorted(out, key=lambda d: json.dumps(d, sort_keys=True, default=repr))


@contextlib.contextmanager
def _spark_jobs(spark):
    """Count the Spark jobs started inside the block (read the returned
    list's single element after the block)."""
    sc = spark.sparkContext
    group = f"xt-test-{uuid.uuid4().hex}"
    out: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@contextlib.contextmanager
def _py4j_commands(spark):
    """Record the py4j commands sent inside the block (read the returned
    list after it), not counting the proxy releases (``m\nd\n``) py4j's
    finalizer sends for objects it collects on its own schedule."""
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent: list[str] = []

    def send(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return real(command, *args, **kwargs)

    client.send_command = send
    try:
        yield sent
    finally:
        del client.send_command


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda d: d["path"])


def test_live_files_match_spark_reference(spark, delta_table):
    for version in _VERSIONS:
        reference = _rows(_spark_live_files(spark, delta_table, version))
        assert _live_rows(delta_table, version) == reference, f"mismatch at version {version}"
    assert _live_rows(delta_table) == _live_rows(delta_table, _VERSIONS[-1])


def test_live_files_dv_tie_add_wins(spark, delta_table):
    live = DS.live_adds(delta_table, 3)
    assert set(live) == {"a.parquet", "c.parquet", "d.parquet"}
    # the re-added a.parquet carries its DV (the add won the same-version tie)
    assert live["a.parquet"]["deletionVector"]["cardinality"] == 1


@pytest.mark.parametrize("layout", ["classic", "multipart", "v2"])
def test_replay_with_checkpoint_in_range(spark, delta_table, monkeypatch, layout):
    """With a checkpoint at version 4 in range, and again once the log
    behind it has expired, every view from 4 on replays to the JSON-only
    reference. Writing the checkpoint runs no Spark job. Fragments and
    sidecars hold two actions each, so the multi-part and v2 layouts span
    several files."""
    from incubator_xtable_spark.sync.retention import delta_expire_log

    monkeypatch.setattr(DS, "_MULTIPART_ACTIONS_PER_FILE", 2)
    monkeypatch.setattr(DS, "_SIDECAR_ACTIONS_PER_FILE", 2)
    views = range(4, 10)

    def without_version(rows):
        return [{k: v for k, v in r.items() if k != "version"} for r in rows]

    def state(live, version):
        return (
            without_version(live),
            DS.latest_action(delta_table, "metaData", version),
            DS.latest_protocol(delta_table, version),
        )

    expected = {v: state(_rows(_spark_live_files(spark, delta_table, v)), v) for v in views}
    with _spark_jobs(spark) as jobs:
        DS.write_checkpoint(delta_table, 4, layout=layout)
    assert jobs == [0]
    log = os.path.join(delta_table, "_delta_log")
    if layout != "classic":
        parts = glob.glob(os.path.join(log, "*.checkpoint.*.parquet"))
        parts += glob.glob(os.path.join(log, "_sidecars", "*.parquet"))
        assert len(parts) > 2, parts
    for expired in (False, True):
        if expired:
            assert delta_expire_log(delta_table) == [0, 1, 2, 3]
        for v in views:
            live = _live_rows(delta_table, v)
            assert state(live, v) == expected[v], f"version {v}, expired={expired}"
            # state at or above the checkpoint is tagged with its version
            assert {r["version"] for r in live} <= set(range(4, v + 1))


def test_malformed_log_line_fails_loudly(spark, delta_table):
    """A log line that is not JSON, or whose action does not fit the
    action schema, raises a ValueError naming the log file."""
    log = os.path.join(delta_table, "_delta_log")
    _write_commit(log, 10, [{"add": {"path": "g.parquet", "size": "12"}}])
    with pytest.raises(ValueError, match=f"{10:020d}.json:1"):
        DS.live_adds(delta_table)
    with open(os.path.join(log, f"{10:020d}.json"), "w", encoding="utf-8") as fh:
        fh.write('{"commitInfo": {}}\n{"add": {"path": \n')
    with pytest.raises(ValueError, match=f"{10:020d}.json:2"):
        DS.live_adds(delta_table)
    # views that do not reach the bad commit still replay
    assert len(DS.live_adds(delta_table, 9)) == 4


def _change_rows(change):
    def rows(table):
        return None if table is None else _normalized(model_rows(table), change.table)

    return {
        "files_added": rows(change.files_added),
        "files_removed": rows(change.files_removed),
        "row_deletes": rows(change.row_deletes),
    }


@pytest.mark.parametrize("expose_row_deletes", [False, True])
def test_commit_diff_matches_spark_reference(spark, delta_table, expose_row_deletes):
    """The driver-side per-commit diff equals the Spark reference diff for
    every version of the fixture — the DV update, the same-version tie,
    the no-op pair, the external path, the DV'd-file removal and the
    schema change — with stats, in both delete representations."""
    src = DS.DeltaConversionSource(spark, delta_table, expose_row_deletes=expose_row_deletes)
    seen_removed = seen_added = 0
    for version in _VERSIONS:
        with _spark_jobs(spark) as jobs:
            fast_change = src._table_change_impl(str(version))
            fast = _change_rows(fast_change)
        # purged shadows and delete files included, every channel is
        # built and read with no Spark job at all
        assert jobs == [0], f"version {version} ran {jobs[0]} Spark jobs"
        reference = _spark_change_rows(spark, src, version)
        assert fast == reference, f"diff mismatch at version {version}"
        seen_added += len(fast["files_added"])
        seen_removed += len(fast["files_removed"])
    assert seen_added and seen_removed  # non-vacuous

    # spot-check the interesting commits
    def paths(version, side):
        return sorted(
            os.path.basename(r["physical_path"])
            for r in _change_rows(src._table_change_impl(str(version)))[side]
        )

    assert paths(4, "files_added") == [] and paths(4, "files_removed") == []
    assert paths(6, "files_removed") == ["e.parquet"]
    f_stats = model_rows(src._table_change_impl("8").files_added)[0]["column_stats"]
    assert f_stats["name"] == {"min_json": '"x"', "max_json": '"y"', "null_count": 0}
    if expose_row_deletes:
        # a DV update is a data-file no-op under row-delete exposure
        assert paths(2, "files_added") == [] and paths(2, "files_removed") == []
        assert paths(7, "files_removed") == ["a.parquet"]
    else:
        shadow = paths(2, "files_added")
        assert len(shadow) == 1 and shadow[0].startswith("a.purged-")
        assert paths(2, "files_removed") == ["a.parquet"]
        # removing the DV'd file removes the shadow it was synced as
        assert paths(7, "files_removed") == shadow


# A table whose adds carry stats of every type the inventory encodes,
# spelled the ways Delta writers spell them: bare and quoted non-finite
# floats, a decimal as a JSON number, quotes, backslashes and non-ASCII in
# strings, values that do not fit their column, and malformed stats.
_STAT_SCHEMA = {
    "b": "byte",
    "s": "short",
    "i": "integer",
    "l": "long",
    "f": "float",
    "d": "double",
    "dec": "decimal(10,3)",
    "dt": "date",
    "ts": "timestamp",
    "ntz": "timestamp_ntz",
    "bo": "boolean",
    "bin": "binary",
    "str": "string",
    "st": {
        "type": "struct",
        "fields": [{"name": "x", "type": "integer", "nullable": True, "metadata": {}}],
    },
}
_STATS = {
    "all.parquet": {
        "numRecords": 10,
        "minValues": {
            "b": -128, "s": -32768, "i": -(2**31), "l": -(2**63), "f": 1.100000023841858,
            "d": -1e-05, "dec": 12345.678, "dt": "2024-01-31", "ts": "2024-01-31T12:34:56.789Z",
            "ntz": "2024-01-31T12:34:56.789", "bo": False, "bin": "AAE=", "str": 'a"b\\c',
            "st": {"x": 1},
        },
        "maxValues": {
            "b": 127, "s": 32767, "i": 2**31 - 1, "l": 2**63 - 1, "f": 3.4028234663852886e38,
            "d": 1e308, "dec": 99999.999, "dt": "2024-12-31", "ts": "2024-12-31T23:59:59.999999Z",
            "ntz": "2024-12-31T23:59:59.999999", "bo": True, "bin": "/w==",
            "str": "z\u00e9\U0001F600\n",
            "st": {"x": 9},
        },
        "nullCount": {c: i for i, c in enumerate(_STAT_SCHEMA) if c != "st"},
    },
    "nonfinite.parquet": {
        "numRecords": 3,
        "minValues": {"f": "NaN", "d": float("-inf"), "dec": 5, "str": ""},
        "maxValues": {"f": float("inf"), "d": float("nan"), "dec": "7.250", "str": "\u00fc"},
        "nullCount": {"f": 0, "d": 1, "str": None},
    },
    "unfit.parquet": {
        "numRecords": "x",
        "minValues": {"b": 300, "s": 1.5, "i": "7", "bo": "true", "str": 5, "l": 2**63},
        "maxValues": {"f": "nan", "d": True, "str": False, "dec": "12.5"},
        "nullCount": {"b": 0, "st": {"x": 0}},
    },
    "nostats.parquet": None,
    "garbage.parquet": "not json",
    "counts.parquet": {"numRecords": 7},
}


def test_inventory_stats_match_spark_reference(spark, tmp_path):
    """The Delta source's Python stats parse equals the Spark reference
    projection (`from_json` against the typed stats schema, each value
    re-serialized by `to_json`) row for row, min and max compared as the
    values they encode."""
    base = str(tmp_path / "tbl")
    fields = [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in [*_STAT_SCHEMA.items(), ("p", "string")]
    ]
    adds = []
    for name, stats in _STATS.items():
        add = {
            "path": name,
            "partitionValues": {"p": "x"},
            "size": 1,
            "modificationTime": 1,
            "dataChange": True,
        }
        if stats is not None:
            add["stats"] = stats if isinstance(stats, str) else json.dumps(stats)
        adds.append({"add": add})
    _write_commit(
        os.path.join(base, "_delta_log"),
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "t",
                    "schemaString": json.dumps({"type": "struct", "fields": fields}),
                    "partitionColumns": ["p"],
                    "configuration": {},
                    "format": {"provider": "parquet", "options": {}},
                }
            },
            *adds,
        ],
    )
    src = DS.DeltaConversionSource(spark, base)
    snapshot = src.get_current_snapshot()
    log = os.path.join(base, "_delta_log", f"{0:020d}.json")
    actions = spark.read.schema(DS._ACTION_SCHEMA).json(log)
    reference_adds = actions.filter(F.col("add.path").isNotNull()).select("add.*")
    got = _normalized(model_rows(snapshot.files), snapshot.table)
    assert got == _normalized(_spark_inventory(src, reference_adds, snapshot.table), snapshot.table)
    by_name = {os.path.basename(r["physical_path"]): r for r in got}
    assert by_name["all.parquet"]["column_stats"]["f"]["min"] == pytest.approx(1.1)
    assert by_name["nonfinite.parquet"]["column_stats"]["d"]["max"] == "NaN"
    unfit = by_name["unfit.parquet"]["column_stats"]["b"]
    assert unfit == {"min": None, "max": None, "null_count": None}


def _spark_relativize(base_path, col):
    """Spark reference relativizer: an optional file: or file:// scheme,
    then the literal base prefix."""
    base = base_path.rstrip("/") + "/"
    p = F.regexp_replace(F.col(col), r"^file:(//)?", "")
    return F.when(p.startswith(base), p.substr(F.lit(len(base) + 1), F.length(p))).otherwise(p)


def _spark_dirname(col):
    # '' for root-partition files (Hudi's empty partitionPath)
    slash = F.length(col) - F.length(F.substring_index(col, "/", -1)) - 1
    return F.when(col.contains("/"), col.substr(F.lit(1), slash)).otherwise(F.lit(""))


def _spark_basename(col):
    return F.substring_index(col, "/", -1)


def _spark_index_records(spark, adds, removed, base_path, instant):
    """The Spark expression pipeline the Hudi target used to build one
    commit's (col-stats, files) index records from: one col-stats record
    per (added file x column), one files record per added file, and a
    tombstone per removed file in each."""
    adds_df = spark.createDataFrame(adds, FILE_INVENTORY_SCHEMA).select(
        _spark_relativize(base_path, "physical_path").alias("rel_path"),
        "size_bytes",
        "record_count",
        "column_stats",
    )
    rel = F.col("rel_path")
    stats = adds_df.select(
        "rel_path", "record_count", F.explode("column_stats").alias("column_name", "stat")
    ).select(
        F.lit(instant).alias("commit_instant"),
        _spark_dirname(rel).alias("partition_path"),
        _spark_basename(rel).alias("file_name"),
        "column_name",
        F.col("stat.min_json").alias("min_json"),
        F.col("stat.max_json").alias("max_json"),
        F.col("stat.null_count").alias("null_count"),
        # valueCount counts all values incl. nulls = file row count
        F.col("record_count").alias("value_count"),
        F.lit(False).alias("is_deleted"),
    )
    files = adds_df.select(
        F.lit(instant).alias("commit_instant"),
        _spark_dirname(rel).alias("partition_path"),
        _spark_basename(rel).alias("file_name"),
        F.col("size_bytes").alias("file_size"),
        F.lit(False).alias("is_deleted"),
    )
    gone = spark.createDataFrame([(p,) for p in removed], "path STRING").select(
        _spark_relativize(base_path, "path").alias("rel_path")
    )
    stats = stats.unionByName(
        gone.select(
            F.lit(instant).alias("commit_instant"),
            _spark_dirname(rel).alias("partition_path"),
            _spark_basename(rel).alias("file_name"),
            F.lit(None).cast("string").alias("column_name"),
            F.lit(None).cast("string").alias("min_json"),
            F.lit(None).cast("string").alias("max_json"),
            F.lit(None).cast("long").alias("null_count"),
            F.lit(None).cast("long").alias("value_count"),
            F.lit(True).alias("is_deleted"),
        )
    )
    files = files.unionByName(
        gone.select(
            F.lit(instant).alias("commit_instant"),
            _spark_dirname(rel).alias("partition_path"),
            _spark_basename(rel).alias("file_name"),
            F.lit(None).cast("long").alias("file_size"),
            F.lit(True).alias("is_deleted"),
        )
    )
    return stats, files


def test_hudi_index_delta_matches_spark_reference(spark, tmp_path, monkeypatch):
    """Every commit's col-stats and files index deltas, written with
    pyarrow from the rows the Hudi target built its write stats from,
    hold exactly the records the Spark reference pipeline builds from the
    same adds and removes: a first commit of adds, then a full rewrite
    (adds plus a tombstone per old file)."""
    import time

    from incubator_xtable_spark.model.core import FILE_INVENTORY_SCHEMA, TableFormat
    from incubator_xtable_spark.sources.hudi_metadata import (
        COL_STATS_RECORD_SCHEMA,
        FILES_RECORD_SCHEMA,
        col_stats_dir,
        files_dir,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    commits = []
    complete_sync = HudiConversionTarget.complete_sync

    def capture(self):
        adds, removed = list(self._adds or ()), list(self._replaced_paths)
        instant = complete_sync(self)
        commits.append((instant, adds, removed))
        return instant

    monkeypatch.setattr(HudiConversionTarget, "complete_sync", capture)

    sf = "/root/testdata/sf0.001"
    d = str(tmp_path / "nation")
    base = spark.read.parquet(f"{sf}/nation.parquet")
    base.filter(F.col("n_nationkey") >= 5).repartition(3).write.parquet(d)
    stage2 = str(tmp_path / "stage2")
    base.repartition(2).write.parquet(stage2)

    def sync():
        _full_sync(
            spark,
            ParquetConversionSource(spark, d, name="nation"),
            {TableFormat.HUDI: HudiConversionTarget(spark, d, table_name="nation")},
        )

    sync()  # commit 1: adds
    for f in os.listdir(d):
        if f.endswith(".parquet"):
            os.remove(os.path.join(d, f))
    # one shared mtime: the parquet source makes one commit per mtime
    now = time.time()
    for f in os.listdir(stage2):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(stage2, f), os.path.join(d, f))
            os.utime(os.path.join(d, f), (now, now))
    sync()  # commit 2: a FULL rewrite, so adds and removes

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert [(len(a), len(r)) for _, a, r in commits] == [(3, 0), (2, 3)]
    for instant, adds, removed in commits:
        assert list(adds[0]) == FILE_INVENTORY_SCHEMA.fieldNames()
        ref_stats, ref_files = _spark_index_records(spark, adds, removed, d, instant)
        for schema, where, reference in (
            (COL_STATS_RECORD_SCHEMA, col_stats_dir(d), ref_stats),
            (FILES_RECORD_SCHEMA, files_dir(d), ref_files),
        ):
            written = spark.read.schema(schema).parquet(os.path.join(where, f"{instant}.parquet"))
            assert rows(written) == rows(reference.select(*schema.fieldNames()))
            assert rows(written)  # non-vacuous


def test_commit_diff_reads_the_commit_not_the_checkpoint(spark, delta_table):
    """A checkpoint holds a table state, not a commit: after one is
    written at version 4, every commit's diff — at, below and above the
    checkpoint — still equals the checkpoint-free diff."""
    src = DS.DeltaConversionSource(spark, delta_table)
    expected = {v: _change_rows(src._table_change_impl(str(v))) for v in _VERSIONS}
    DS.write_checkpoint(delta_table, 4)
    for version in _VERSIONS:
        assert _change_rows(src._table_change_impl(str(version))) == expected[version], version


_INCR_FORMATS = {"iceberg": "metadata", "hudi": ".hoodie"}


def _write_data_files(root: str, first: int, n: int, mtime: int) -> list[str]:
    paths = []
    for i in range(first, first + n):
        path = os.path.join(root, f"p={i % 4}", f"f-{i:03d}.parquet")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.table({"id": pa.array(range(i * 10, i * 10 + 10), pa.int64())}), path)
        os.utime(path, (mtime, mtime))
        paths.append(path)
    return paths


@pytest.fixture()
def delta_backlog(spark, tmp_path):
    """A Delta table (built by the engine's Delta target, no checkpoint)
    whose Iceberg and Hudi targets are two commits of 2 files behind.
    Returns (table root, saved pre-backlog target metadata dir, every
    live data file)."""
    from incubator_xtable_spark.model.core import InternalPartitionField, TableFormat
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

    root = str(tmp_path / "table")
    ctrl = ConversionController()

    def to_delta():
        src = ParquetConversionSource(
            spark, root, name="t", partition_fields=[InternalPartitionField("p")]
        )
        res = ctrl.sync(src, {TableFormat.DELTA: DeltaConversionTarget(spark, root)})
        assert res[TableFormat.DELTA].status.value == "SUCCESS"

    files = _write_data_files(root, 0, 4, 1_700_000_000)
    to_delta()
    res = ctrl.sync(DS.DeltaConversionSource(spark, root), _targets(spark, root))
    assert {r.status.value for r in res.values()} == {"SUCCESS"}
    saved = str(tmp_path / "pre_backlog")
    for fmt, sub in _INCR_FORMATS.items():
        shutil.copytree(os.path.join(root, sub), os.path.join(saved, fmt))
    for c in (1, 2):
        files += _write_data_files(root, 2 + 2 * c, 2, 1_700_000_000 + c)
        to_delta()
    assert DS.read_last_checkpoint(root) is None
    return root, saved, {os.path.normpath(p) for p in files}


def _targets(spark, root, formats=("iceberg", "hudi")):
    from incubator_xtable_spark.model.core import TableFormat
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    build = {
        "iceberg": lambda: (TableFormat.ICEBERG, IcebergConversionTarget(spark, root, table_name="t")),
        "hudi": lambda: (TableFormat.HUDI, HudiConversionTarget(spark, root, table_name="t")),
    }
    return dict(build[f]() for f in formats)


def _restore_targets(root: str, saved: str) -> None:
    for fmt, sub in _INCR_FORMATS.items():
        shutil.rmtree(os.path.join(root, sub), ignore_errors=True)
        shutil.copytree(os.path.join(saved, fmt), os.path.join(root, sub))


def _incremental_sync(spark, root, formats=("iceberg", "hudi"), source_cls=DS.DeltaConversionSource):
    from incubator_xtable_spark.sync.controller import ConversionController

    res = ConversionController().sync(source_cls(spark, root), _targets(spark, root, formats))
    assert {(r.status.value, r.mode.value) for r in res.values()} == {("SUCCESS", "INCREMENTAL")}


@pytest.mark.parametrize("checkpoint", [False, True])
def test_incremental_sync_runs_no_spark_job(spark, delta_backlog, checkpoint):
    """Spark-job regression guard: replaying a small Delta backlog into
    Iceberg and Hudi is metadata work only — 0 Spark jobs, also with a
    checkpoint at the first backlog commit, which puts the second
    commit's pre-commit state on the checkpoint — and each reader then
    plans exactly the source's files."""
    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df

    root, saved, expected = delta_backlog
    if checkpoint:
        DS.write_checkpoint(root, 1)
    _restore_targets(root, saved)
    with _spark_jobs(spark) as jobs:
        _incremental_sync(spark, root)
    assert jobs == [0]

    def planned(df):
        return {os.path.normpath(p[len("file:"):] if p.startswith("file:") else p) for p in df.inputFiles()}

    assert planned(DS.read_delta_as_df(spark, root)) == expected
    assert planned(read_iceberg_as_df(spark, root)) == expected
    assert planned(read_hudi_as_df(spark, root)) == expected


@pytest.mark.parametrize("checkpoint", [False, True])
def test_incremental_sync_issues_no_py4j_command(spark, delta_backlog, checkpoint):
    """The Delta -> Iceberg + Hudi replay never calls into the JVM: the
    source builds its inventories from the log on the driver, and the
    targets read those Arrow tables and commit metadata files. Also with
    a checkpoint at the first backlog commit."""
    root, saved, _ = delta_backlog
    if checkpoint:
        DS.write_checkpoint(root, 1)
    _restore_targets(root, saved)
    with _py4j_commands(spark) as sent:
        _incremental_sync(spark, root)
    assert sent == []


_HUDI_SOURCE_LAYOUTS = {
    "lite": {},
    "hfile": {"metadata_index_format": "hfile"},
    "unindexed": {"metadata_indexes": False},
}


def _hudi_commit(spark, root, layout):
    """Sync the parquet files under ``root`` into its Hudi table (the
    engine's Hudi target with the ``layout`` index settings)."""
    from incubator_xtable_spark.model.core import InternalPartitionField, TableFormat
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    source = ParquetConversionSource(
        spark, root, name="t", partition_fields=[InternalPartitionField("p")]
    )
    target = HudiConversionTarget(spark, root, table_name="t", **_HUDI_SOURCE_LAYOUTS[layout])
    res = ConversionController().sync(source, {TableFormat.HUDI: target})
    assert res[TableFormat.HUDI].status.value == "SUCCESS", res[TableFormat.HUDI].error


@pytest.mark.parametrize("layout", list(_HUDI_SOURCE_LAYOUTS))
def test_hudi_source_issues_no_py4j_command(spark, tmp_path, layout):
    """The Hudi source builds its snapshot and change inventories on the
    driver, from the timeline or the HFile metadata index plus parquet
    footers: no Spark job and no py4j command, with the default LITE
    index, the HFile index (here with log-bearing slices and one base
    name in two partitions) and no index. A Hudi -> Delta + Iceberg FULL
    sync, then an INCREMENTAL one, sends py4j nothing either."""
    from incubator_xtable_spark.model.core import SyncMode, TableFormat
    from incubator_xtable_spark.sources.hudi_metadata import (
        HFILE_COL_STATS_SUBDIR,
        _hfile_partition_state,
        hfile_col_stats_available,
        hfile_files_head_instant,
    )
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource
    from incubator_xtable_spark.sources.parquet_source import footer_stat_rows
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
    from incubator_xtable_spark.targets.hudi_target import list_completed_instants
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    root = str(tmp_path / "table")
    files = _write_data_files(root, 0, 8, 1_700_000_000)
    for part in ("p=0", "p=1"):
        path = os.path.join(root, part, "dup.parquet")
        pq.write_table(pa.table({"id": pa.array([len(files)], pa.int64())}), path)
        os.utime(path, (1_700_000_000, 1_700_000_000))
        files.append(path)
    _hudi_commit(spark, root, layout)
    files += _write_data_files(root, 8, 4, 1_700_000_001)
    _hudi_commit(spark, root, layout)
    latest = list_completed_instants(root)[-1][0]
    if layout == "hfile":
        slices, ok = _hfile_partition_state(os.path.join(root, HFILE_COL_STATS_SUBDIR))
        assert ok and any(logs for _, logs in slices)
        assert hfile_col_stats_available(root) and hfile_files_head_instant(root) == latest

    source = HudiConversionSource(spark, root)
    with _spark_jobs(spark) as jobs, _py4j_commands(spark) as sent:
        snapshot = source.get_current_snapshot()
        change = source.get_table_change_for_commit(latest)
    assert (jobs, sent) == ([0], [])
    rows = model_rows(snapshot.files)
    assert sorted(r["physical_path"] for r in rows) == sorted(files)
    schema = T.StructType([T.StructField("id", T.LongType())])
    footers = {p: (n, cs) for p, n, cs in footer_stat_rows(files, schema)}
    assert {r["physical_path"]: (r["record_count"], r["column_stats"]) for r in rows} == footers
    assert sorted(r["physical_path"] for r in model_rows(change.files_added)) == sorted(files[-4:])

    mirror = str(tmp_path / "mirror")

    def to_delta_and_iceberg(mode):
        from incubator_xtable_spark.sync.controller import ConversionConfig, ConversionController

        targets = {
            TableFormat.DELTA: DeltaConversionTarget(spark, mirror),
            TableFormat.ICEBERG: IcebergConversionTarget(spark, mirror, table_name="t"),
        }
        with _py4j_commands(spark) as sent:
            res = ConversionController(ConversionConfig(sync_mode=mode)).sync(
                HudiConversionSource(spark, root), targets
            )
        assert {(r.status.value, r.mode.value) for r in res.values()} == {("SUCCESS", mode.value)}
        assert sent == []

    to_delta_and_iceberg(SyncMode.FULL)
    files += _write_data_files(root, 12, 2, 1_700_000_002)
    _hudi_commit(spark, root, layout)
    to_delta_and_iceberg(SyncMode.INCREMENTAL)
    expected = {os.path.normpath(p) for p in files}
    assert _planned_files(spark, mirror, "delta") == expected
    assert _planned_files(spark, mirror, "iceberg") == expected


_FULL_FORMATS = ("delta", "iceberg", "hudi", "paimon")


def _full_targets(spark, root, formats=_FULL_FORMATS):
    from incubator_xtable_spark.model.core import TableFormat
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    build = {
        "delta": lambda: (TableFormat.DELTA, DeltaConversionTarget(spark, root)),
        "iceberg": lambda: (TableFormat.ICEBERG, IcebergConversionTarget(spark, root, table_name="t")),
        "hudi": lambda: (TableFormat.HUDI, HudiConversionTarget(spark, root, table_name="t")),
        "paimon": lambda: (TableFormat.PAIMON, PaimonConversionTarget(spark, root, table_name="t")),
    }
    return dict(build[f]() for f in formats)


def _full_sync(spark, source, targets):
    from incubator_xtable_spark.model.core import SyncMode
    from incubator_xtable_spark.sync.controller import ConversionConfig, ConversionController

    res = ConversionController(ConversionConfig(sync_mode=SyncMode.FULL)).sync(source, targets)
    assert {(r.status.value, r.mode.value) for r in res.values()} == {("SUCCESS", "FULL")}, {
        f: r.error for f, r in res.items()
    }


def _planned_files(spark, root, fmt):
    from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
    from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
    from incubator_xtable_spark.sources.paimon_source import read_paimon_as_df

    reader = {
        "delta": DS.read_delta_as_df,
        "iceberg": read_iceberg_as_df,
        "hudi": read_hudi_as_df,
        "paimon": read_paimon_as_df,
    }[fmt]
    return {
        os.path.normpath(p[len("file:") :] if p.startswith("file:") else p)
        for p in reader(spark, root).inputFiles()
    }


def test_full_sync_targets_run_no_spark_job(spark, tmp_path):
    """A FULL sync of an 80-file table into Delta, Iceberg, Hudi and Paimon
    runs no Spark job at all: the source reads its footers on the driver,
    the controller materializes the snapshot once and every target diffs
    and commits driver-resident rows. A second FULL sync after one file is
    removed and one added also runs none, and leaves each target holding
    exactly the source's files."""
    from incubator_xtable_spark.model.core import InternalPartitionField
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    root = str(tmp_path / "table")
    files = _write_data_files(root, 0, 80, 1_700_000_000)

    def sync_jobs():
        source = ParquetConversionSource(
            spark, root, name="t", partition_fields=[InternalPartitionField("p")]
        )
        with _spark_jobs(spark) as n:
            _full_sync(spark, source, _full_targets(spark, root))
        return n[0]

    assert sync_jobs() == 0
    os.remove(files.pop(7))
    files += _write_data_files(root, 80, 1, 1_700_000_001)
    assert sync_jobs() == 0
    expected = {os.path.normpath(p) for p in files}
    for fmt in _FULL_FORMATS:
        assert _planned_files(spark, root, fmt) == expected, fmt


def test_full_sync_issues_only_session_conf_reads(spark, tmp_path):
    """A FULL sync of an 80-file table into Delta, Iceberg, Hudi and Paimon
    sends py4j nothing but the Parquet source's reads of the session
    settings its schema conversion follows."""
    from incubator_xtable_spark.model.core import InternalPartitionField
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    root = str(tmp_path / "table")
    _write_data_files(root, 0, 80, 1_700_000_000)
    source = ParquetConversionSource(
        spark, root, name="t", partition_fields=[InternalPartitionField("p")]
    )
    targets = _full_targets(spark, root)
    with _py4j_commands(spark) as sent:
        _full_sync(spark, source, targets)
    assert len(sent) <= 4, sent
    assert all(re.search(r"spark\.sql\.(legacy\.)?parquet\.", c) for c in sent), sent


def test_footer_stat_rows_run_no_spark_job(spark, tmp_path):
    """``footer_stat_rows`` reads each file's footer on the driver: no
    Spark job, one (path, record_count, column_stats) row per file."""
    from incubator_xtable_spark.sources.parquet_source import footer_stat_rows

    files = _write_data_files(str(tmp_path / "table"), 0, 80, 1_700_000_000)
    schema = T.StructType([T.StructField("id", T.LongType())])
    with _spark_jobs(spark) as n:
        rows = {p: (count, cs) for p, count, cs in footer_stat_rows(files, schema)}
    assert n[0] == 0
    assert set(rows) == set(files)
    count, cs = rows[files[3]]
    assert count == 10
    assert (cs["id"]["min_json"], cs["id"]["max_json"]) == ("30", "39")


def _parquet_snapshot_source(base_cls, files_of):
    """``base_cls`` with its snapshot's ``files`` table replaced by
    ``files_of(files)``."""

    class _Source(base_cls):
        def get_current_snapshot(self):
            snap = super().get_current_snapshot()
            snap.files = files_of(snap.files)
            return snap

    return _Source


def _live_relative_paths(spark, root, fmt):
    """The live files of the ``fmt`` table at ``root`` as its conversion
    source lists them, relative to ``root``."""
    from incubator_xtable_spark.sources.hudi_source import HudiConversionSource
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

    source = {
        "delta": DS.DeltaConversionSource,
        "iceberg": IcebergConversionSource,
        "hudi": HudiConversionSource,
        "paimon": PaimonConversionSource,
    }[fmt](spark, root)
    paths = (r["physical_path"] for r in model_rows(source.get_current_snapshot().files))
    return sorted(os.path.relpath(re.sub(r"^file:(//)?", "", p), root) for p in paths)


@pytest.mark.parametrize("scheme", ["file:", "file://"])
@pytest.mark.parametrize("fmt", _FULL_FORMATS)
def test_full_sync_of_uri_paths_is_a_no_op_diff(spark, tmp_path, fmt, scheme):
    """A source may hand its snapshot over with URI-form paths (the
    Iceberg source returns manifest paths as written). Syncing an
    unchanged table FULL twice must commit no add and no remove the
    second time, and every target records the files relative to its base
    (Delta add paths, Hudi write-stat paths and partitions, the Hudi
    index records)."""
    from incubator_xtable_spark.sources.hudi_metadata import files_dir
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.hudi_target import list_completed_instants, read_commit_metadata
    from incubator_xtable_spark.targets.iceberg_target import read_table_metadata
    from incubator_xtable_spark.targets.paimon_target import PaimonConversionTarget

    root = str(tmp_path / "table")
    os.makedirs(root)
    names = [f"f-{i}.parquet" for i in range(4)]
    for i, name in enumerate(names):
        pq.write_table(pa.table({"id": pa.array(range(i * 10, i * 10 + 10), pa.int64())}), os.path.join(root, name))
    uri_source = _parquet_snapshot_source(
        ParquetConversionSource,
        lambda files: files.set_column(
            0,
            files.schema.field("physical_path"),
            pa.array([scheme + p for p in files.column("physical_path").to_pylist()]),
        ),
    )
    for _ in range(2):
        _full_sync(spark, uri_source(spark, root, name="t"), _full_targets(spark, root, (fmt,)))

    assert _live_relative_paths(spark, root, fmt) == names
    if fmt == "delta":
        first, second = (
            [json.loads(line) for line in open(os.path.join(root, "_delta_log", f"{v:020d}.json"))]
            for v in (0, 1)
        )
        assert sorted(a["add"]["path"] for a in first if "add" in a) == names
        assert not [a for a in second if "add" in a or "remove" in a]
    elif fmt == "hudi":
        (i1, a1), (i2, a2) = list_completed_instants(root)
        assert (a1, a2) == ("commit", "commit")
        stats = read_commit_metadata(root, i1, a1)["partitionToWriteStats"]
        assert list(stats) == [""]
        assert sorted(s["path"] for s in stats[""]) == names
        assert read_commit_metadata(root, i2, a2)["partitionToWriteStats"] == {}
        index = [
            r
            for p in glob.glob(os.path.join(files_dir(root), "*.parquet"))
            for r in pq.read_table(p).to_pylist()
        ]
        assert sorted((r["partition_path"], r["file_name"]) for r in index) == [("", n) for n in names]
    elif fmt == "paimon":
        snap = PaimonConversionTarget(spark, root)._latest_snapshot()
        assert (snap["id"], snap["commitKind"], snap["deltaRecordCount"]) == (2, "APPEND", 0)
    else:
        meta = read_table_metadata(root)
        summary = next(
            s for s in meta["snapshots"] if s["snapshot-id"] == meta["current-snapshot-id"]
        )["summary"]
        assert (summary["added-data-files"], summary["deleted-data-files"]) == ("0", "0")


def _frozen(source):
    """``source`` handing over the snapshot it has now, taken once here,
    so that a sync around it measures the targets alone."""
    snapshot = source.get_current_snapshot()
    source.get_current_snapshot = lambda: snapshot
    return source


def _driver_only_delta_commit(spark, source, target):
    """FULL-sync ``source`` into the Delta ``target``, asserting that the
    commit runs no Spark job and sends py4j no command."""
    from incubator_xtable_spark.model.core import TableFormat

    source = _frozen(source)
    with _spark_jobs(spark) as jobs, _py4j_commands(spark) as sent:
        _full_sync(spark, source, {TableFormat.DELTA: target})
    assert (jobs, sent) == ([0], [])


def _parquet_source(spark, root):
    from incubator_xtable_spark.model.core import InternalPartitionField
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource

    return ParquetConversionSource(spark, root, name="t", partition_fields=[InternalPartitionField("p")])


@pytest.mark.parametrize("layout", ["classic", "multipart", "v2"])
def test_delta_checkpoint_commit_is_driver_only(spark, tmp_path, monkeypatch, layout):
    """A Delta target commit that reaches ``checkpoint_interval`` writes
    its checkpoint on the driver: no Spark job, no py4j command, in each
    layout (two actions per fragment or sidecar, so the split layouts
    write several files)."""
    from incubator_xtable_spark.model.conformance import check_delta_conformance
    from incubator_xtable_spark.model.core import TableFormat
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

    monkeypatch.setattr(DS, "_MULTIPART_ACTIONS_PER_FILE", 2)
    monkeypatch.setattr(DS, "_SIDECAR_ACTIONS_PER_FILE", 2)
    root = str(tmp_path / "table")

    def target():
        return DeltaConversionTarget(spark, root, checkpoint_interval=1, checkpoint_layout=layout)

    _write_data_files(root, 0, 4, 1_700_000_000)
    _full_sync(spark, _parquet_source(spark, root), {TableFormat.DELTA: target()})
    assert DS.read_last_checkpoint(root) is None
    files = _write_data_files(root, 4, 2, 1_700_000_001)
    _driver_only_delta_commit(spark, _parquet_source(spark, root), target())
    assert DS.read_last_checkpoint(root)["version"] == 1
    assert len(DS.live_adds(root)) == 6 and files[0][len(root) + 1 :] in DS.live_adds(root)
    assert check_delta_conformance(spark, root).passed


def test_delta_dv_commit_is_driver_only(spark, tmp_path):
    """Iceberg v2 position deletes reach a Delta target as row deletes;
    the commit writes their DV files on the driver: no Spark job, no py4j
    command, and the victim file's add carries a 3-row DV."""
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
    from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

    from .test_row_delete_conversion import _iceberg_deleted_table

    d, victim = _iceberg_deleted_table(spark, tmp_path)
    source = IcebergConversionSource(spark, d, name="icedel", expose_row_deletes=True)
    _driver_only_delta_commit(spark, source, DeltaConversionTarget(spark, d))
    dvs = [a["deletionVector"] for a in DS.live_adds(d).values() if DS._dv_of(a)]
    assert [(dv["storageType"], dv["cardinality"]) for dv in dvs] == [("u", 3)]
    assert DS.read_delta_as_df(spark, d).count() == 17


def test_delta_checksum_fallback_is_driver_only(spark, tmp_path):
    """Checksums enabled mid-table: the first `.crc` has no predecessor,
    so the commit sums the live state of one log replay, on the driver:
    no Spark job, no py4j command."""
    from incubator_xtable_spark.model.core import TableFormat
    from incubator_xtable_spark.targets.delta_target import (
        DeltaConversionTarget,
        read_version_checksum,
    )

    root = str(tmp_path / "table")
    _write_data_files(root, 0, 4, 1_700_000_000)
    _full_sync(spark, _parquet_source(spark, root), {TableFormat.DELTA: DeltaConversionTarget(spark, root)})
    assert read_version_checksum(root, 0) is None
    _write_data_files(root, 4, 2, 1_700_000_001)
    target = DeltaConversionTarget(spark, root, version_checksum=True)
    _driver_only_delta_commit(spark, _parquet_source(spark, root), target)
    live = DS.live_adds(root).values()
    crc = read_version_checksum(root, 1)
    assert (crc["numFiles"], crc["tableSizeBytes"]) == (6, sum(a["size"] for a in live))


# -- row deletes ---------------------------------------------------------------
# The Spark resolvers the driver ones replaced, kept as the reference:
# Iceberg's position-delete parquet scan tagged with each delete file's
# sequence number, its executor-side Puffin decode and its equality join,
# filtered with the `delete_seq >= data_seq` join; Delta's and Paimon's
# executor-side DV decodes.

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_puffin_positions(spark, items):
    """(puffin, offset, length, referenced file, seq) -> (file_path, pos,
    delete_seq), blobs decoded executor-side."""
    df = spark.createDataFrame(
        items, "puffin STRING, offset LONG, length LONG, file_path STRING, delete_seq LONG"
    )
    root = _PKG_ROOT

    def explode(batches):
        import sys

        if root not in sys.path:
            sys.path.insert(0, root)
        import pandas as pd

        from incubator_xtable_spark.model.puffin import read_dv_positions_from_puffin

        for pdf in batches:
            for puffin, offset, length, fp, seq in zip(
                pdf["puffin"], pdf["offset"], pdf["length"], pdf["file_path"], pdf["delete_seq"]
            ):
                positions = read_dv_positions_from_puffin(puffin, int(offset), int(length))
                yield pd.DataFrame({"file_path": fp, "pos": positions.astype("int64"), "delete_seq": int(seq)})

    return df.mapInPandas(explode, "file_path STRING, pos LONG, delete_seq LONG")


def _spark_equality_positions(spark, data_entries, eq_entries, column):
    """Equality deletes on one top-level data ``column`` as (file_path,
    pos, delete_seq): a null-safe join of the data rows against the delete
    rows under data_seq < delete_seq and the delete file's partition
    scope."""

    def scope(part):
        return json.dumps({k: str(v) for k, v in sorted(part.items())}, sort_keys=True) if part else None

    data = spark.createDataFrame(
        [
            (e["data_file"]["file_path"], e["sequence_number"], scope(e["data_file"].get("partition")))
            for e in data_entries
        ],
        "file_path STRING, data_seq LONG, data_scope STRING",
    )
    rows = (
        spark.read.parquet(*[e["data_file"]["file_path"] for e in data_entries])
        .select(
            column,
            F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "").alias("file_path"),
            F.col("_metadata.row_index").alias("pos"),
        )
        .join(F.broadcast(data), "file_path")
    )
    dels = None
    for e in eq_entries:
        part = (
            spark.read.parquet(e["data_file"]["file_path"])
            .select(F.col(column).alias("_del"))
            .withColumn("delete_seq", F.lit(e["sequence_number"]))
            .withColumn("del_scope", F.lit(scope(e["data_file"].get("partition"))).cast("string"))
        )
        dels = part if dels is None else dels.unionByName(part)
    cond = (
        (F.col("data_seq") < F.col("delete_seq"))
        & F.col(column).eqNullSafe(F.col("_del"))
        & (F.col("del_scope").isNull() | (F.col("del_scope") == F.col("data_scope")))
    )
    return rows.join(dels, cond).select("file_path", "pos", "delete_seq")


def _spark_iceberg_positions(spark, data_entries, delete_entries, eq_column=None):
    """The positions in force per data file, resolved with Spark jobs."""
    parts, dvs = [], []
    eq_entries = [e for e in delete_entries if e["data_file"].get("content") == 2]
    for e in delete_entries:
        df = e["data_file"]
        if df.get("content") == 2:
            continue
        if (df.get("file_format") or "").upper() == "PUFFIN":
            dvs.append(
                (
                    df["file_path"],
                    int(df["content_offset"]),
                    int(df["content_size_in_bytes"]),
                    df["referenced_data_file"],
                    e["sequence_number"],
                )
            )
        else:
            parts.append(
                spark.read.schema("file_path STRING, pos LONG")
                .parquet(df["file_path"])
                .withColumn("delete_seq", F.lit(e["sequence_number"]))
            )
    if dvs:
        parts.append(_spark_puffin_positions(spark, dvs))
    if eq_entries:
        parts.append(_spark_equality_positions(spark, data_entries, eq_entries, eq_column))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    seq = spark.createDataFrame(
        [(e["data_file"]["file_path"], e["sequence_number"]) for e in data_entries],
        "file_path STRING, data_seq LONG",
    )
    applicable = (
        out.join(F.broadcast(seq), "file_path")
        .filter(F.col("delete_seq") >= F.col("data_seq"))
        .select("file_path", "pos")
        .distinct()
    )
    return _positions_by_file(applicable)


def _spark_dv_positions(spark, rows, read):
    """(data path, *DV locator) rows -> {data path: positions}, each DV
    decoded executor-side by ``read(*locator)``."""
    root = _PKG_ROOT

    def explode(batches):
        import sys

        if root not in sys.path:
            sys.path.insert(0, root)
        import pandas as pd

        for pdf in batches:
            for row in pdf.itertuples(index=False):
                positions = read(*row[1:])
                yield pd.DataFrame({"file_path": row[0], "pos": positions.astype("int64")})

    n = len(rows[0]) - 1
    schema = "data_path STRING, " + ", ".join(f"a{i} STRING" for i in range(n))
    df = spark.createDataFrame([tuple(str(x) for x in r) for r in rows], schema)
    return _positions_by_file(df.mapInPandas(explode, "file_path STRING, pos LONG"))


def _positions_by_file(df):
    out: dict[str, list[int]] = {}
    for r in df.collect():
        out.setdefault(r["file_path"], []).append(r["pos"])
    return {p: sorted(v) for p, v in out.items()}


def _positions_file(path):
    """A positions parquet as {data path: positions}, checking it names
    one data file and is sorted by pos."""
    t = pq.read_table(path).to_pydict()
    assert sorted(t) == ["file_path", "pos"] and len(set(t["file_path"])) == 1
    assert t["pos"] == sorted(t["pos"])
    return {t["file_path"][0]: t["pos"]}


def _iceberg_case(spark, tmp_path, case):
    """An Iceberg table with deletes of one kind, and the equality column
    its equality deletes match on (None when it has none)."""
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource

    from .test_iceberg_deletes import _append_delete_snapshot, _data_files
    from .test_row_delete_conversion import _iceberg_deleted_table

    if case == "v3_puffin":
        return _iceberg_v3_dv_table(spark, tmp_path), None
    if case == "equality":
        from .test_iceberg_equality_deletes import _append_delete_snapshot as append_eq
        from .test_iceberg_equality_deletes import _eq_parquet, _field_id, _make_table

        d = _make_table(spark, tmp_path)
        eq = _eq_parquet(os.path.join(d, "eqdel.parquet"), {"id": pa.array([3, 12, 17], pa.int64())})
        append_eq(spark, d, [(eq, [_field_id(IcebergConversionSource(spark, d), "id")], {})])
        return d, "id"
    d, _ = _iceberg_deleted_table(spark, tmp_path)
    a, b = _data_files(d)
    if case == "v2_two_files":
        _append_delete_snapshot(d, [(a, 5), (b, 0), (b, 7), (a, 2)], 1000, 3)
    else:  # seq_boundary: equal sequence numbers apply, an older delete does not
        _append_delete_snapshot(d, [(a, 9)], 1000, 1)
        _append_delete_snapshot(d, [(b, 3)], 1001, 0)
    return d, None


def _iceberg_v3_dv_table(spark, tmp_path):
    """A Delta table with a DV on part-0001, converted into an Iceberg v3
    table (the DV becomes a Puffin blob) in the same directory."""
    from incubator_xtable_spark.model.core import TableFormat
    from incubator_xtable_spark.sync.controller import ConversionController
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    from .test_row_delete_conversion import _base_table, _dv_commit

    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])
    ConversionController().sync(
        DS.DeltaConversionSource(spark, base, expose_row_deletes=True),
        {TableFormat.ICEBERG: IcebergConversionTarget(spark, base, table_name="v3t", format_version=3)},
    )
    return base


@pytest.mark.parametrize("case", ["v2_two_files", "seq_boundary", "v3_puffin", "equality"])
def test_iceberg_delete_positions_match_spark_reference(spark, tmp_path, case):
    """The driver resolver's positions per data file equal the Spark
    resolution's, for a position parquet covering two data files, a
    delete at the data file's sequence number (applies) and one below it
    (does not), a v3 Puffin deletion vector and a lowered equality
    delete; each positions file holds exactly those positions."""
    from incubator_xtable_spark.model.iceberg_manifests import live_entries
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource

    d, eq_column = _iceberg_case(spark, tmp_path, case)
    src = IcebergConversionSource(spark, d, expose_row_deletes=True)
    meta = src._meta()
    data, deletes = live_entries(meta, src._head_snapshot_id(meta))
    reference = _spark_iceberg_positions(spark, data, deletes, eq_column)
    resolved = src._resolve_deletes(data, deletes)
    assert {p: pos.tolist() for p, pos in resolved.items()} == reference
    expected_counts = {
        "v2_two_files": [2, 4],
        "seq_boundary": [4],
        "v3_puffin": [3],
        "equality": [1, 2],
    }[case]
    assert sorted(len(v) for v in reference.values()) == sorted(expected_counts)
    written = {}
    for r in model_rows(src.get_current_snapshot().row_deletes):
        written.update(_positions_file(r["positions_path"]))
    assert written == reference


def _shadow_rows(shadow, data_path, positions):
    """Check that ``shadow`` holds ``data_path``'s rows without
    ``positions``."""
    data = pq.read_table(data_path).to_pylist()
    assert pq.read_table(shadow).to_pylist() == [r for i, r in enumerate(data) if i not in set(positions)]


def test_delta_dv_outputs_match_spark_reference(spark, tmp_path, monkeypatch):
    """Delta DVs decoded on the driver: the positions file and the purged
    shadow hold the Spark decode's positions under the names the
    DV's unique id gives them, and the shadow tier for big batches writes
    the same shadow."""
    import hashlib

    from incubator_xtable_spark.sources import row_deletes
    from incubator_xtable_spark.sources.delta_dv import read_dv_positions

    from .test_row_delete_conversion import _base_table, _dv_commit

    base, s1, _ = _base_table(tmp_path)
    _dv_commit(base, 1, s1, [2, 3, 7])
    dvs = {os.path.join(base, a["path"]): DS._dv_of(a) for a in DS.live_adds(base).values() if DS._dv_of(a)}
    reference = _spark_dv_positions(
        spark,
        [(p, json.dumps(d)) for p, d in dvs.items()],
        lambda desc: read_dv_positions(base, json.loads(desc)),
    )
    assert [len(v) for v in reference.values()] == [3]
    (path, desc), (positions,) = next(iter(dvs.items())), reference.values()
    uid = f"{desc['storageType']}{desc['pathOrInlineDv']}@{desc['offset']}"
    stem = path[: -len(".parquet")]
    h = hashlib.md5(uid.encode()).hexdigest()[:8]

    (row,) = model_rows(DS.DeltaConversionSource(spark, base, expose_row_deletes=True).get_current_snapshot().row_deletes)
    assert row["positions_path"] == f"{stem}.deletes-{h}.parquet"
    assert _positions_file(row["positions_path"]) == reference
    files = model_rows(DS.DeltaConversionSource(spark, base).get_current_snapshot().files)
    shadow = f"{stem}.purged-{h}.parquet"
    assert shadow in {r["physical_path"] for r in files}
    _shadow_rows(shadow, path, positions)

    os.remove(shadow)
    monkeypatch.setattr(row_deletes, "_DRIVER_PURGE_MAX_BYTES", 0)
    with _spark_jobs(spark) as jobs:
        DS.DeltaConversionSource(spark, base).get_current_snapshot()
    assert jobs[0] >= 1
    _shadow_rows(shadow, path, positions)


def _paimon_dv_table(spark, tmp_path):
    """The Paimon append table of ids 0..9 with a DV on positions 2, 3, 7
    (`test_paimon_depth.dv_table`)."""
    from .paimon_testtable import PaimonTestTable
    from .test_paimon_depth import FIELDS, _mkrows

    t = PaimonTestTable(spark, str(tmp_path / "dvt"), FIELDS, partition_keys=["level"]).create()
    _, entries = t.append(_mkrows(0, 10))
    t.set_deletion_vectors([({"level": "INFO"}, 0, {entries[0]["_FILE"]["_FILE_NAME"]: [2, 3, 7]})])
    return t.base


def test_paimon_dv_outputs_match_spark_reference(spark, tmp_path):
    """Paimon DVs decoded on the driver: the positions file and the purged
    shadow hold the Spark decode's positions under the names the index
    range gives them."""
    import hashlib

    from incubator_xtable_spark.sources.paimon_dv import INDEX_DIR, read_dv_from_index
    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

    base = _paimon_dv_table(spark, tmp_path)
    src = PaimonConversionSource(spark, base, name="p", expose_row_deletes=True)
    snap = src._latest()
    sch = src._schema(snap.get("schemaId", 0))
    dv = src._index_dv_map(snap, sch)
    reference = _spark_dv_positions(
        spark,
        [(p, os.path.join(base, INDEX_DIR, m["index_file"]), m["offset"], m["length"]) for p, m in dv.items()],
        lambda index, offset, length: read_dv_from_index(index, int(offset), int(length)),
    )
    assert [len(v) for v in reference.values()] == [3]
    (path, m), (positions,) = next(iter(dv.items())), reference.values()
    stem = path[: -len(".parquet")]
    h = hashlib.md5(f"{m['index_file']}:{m['offset']}:{m['length']}".encode()).hexdigest()[:8]

    (row,) = model_rows(src.get_current_snapshot().row_deletes)
    assert row["positions_path"] == f"{stem}.deletes-{h}.parquet"
    assert _positions_file(row["positions_path"]) == reference
    files = model_rows(PaimonConversionSource(spark, base, name="p").get_current_snapshot().files)
    shadow = f"{stem}.purged-{h}.parquet"
    assert shadow in {r["physical_path"] for r in files}
    _shadow_rows(shadow, path, positions)


def _row_delete_source(spark, tmp_path, table):
    """(make_source(expose_row_deletes), commit with deletes) of ``table``."""
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource
    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

    from .test_row_delete_conversion import _iceberg_deleted_table

    if table == "paimon_dv":
        base = _paimon_dv_table(spark, tmp_path)
        commit = str(PaimonConversionSource(spark, base).latest_snapshot_id())
        return (lambda expose: PaimonConversionSource(spark, base, name="p", expose_row_deletes=expose)), commit
    if table == "iceberg_v3_puffin":
        base = _iceberg_v3_dv_table(spark, tmp_path)
    else:
        base, _ = _iceberg_deleted_table(spark, tmp_path)
    commit = str(IcebergConversionSource(spark, base)._meta()["current-snapshot-id"])
    return (lambda expose: IcebergConversionSource(spark, base, name="i", expose_row_deletes=expose)), commit


@pytest.mark.parametrize("table", ["iceberg_deleted_table", "iceberg_v3_puffin", "paimon_dv"])
def test_row_delete_sources_are_driver_only(spark, tmp_path, table):
    """A snapshot and a commit's change of a table with position deletes,
    deletion vectors or Puffin blobs, with row deletes exposed and not,
    each cold (no positions file or shadow yet) and warm: no Spark job and
    no py4j command, the shadows being under the driver's byte gate.
    Equality deletes lowered to positions are exempt: they need one
    data-sized scan (`IcebergConversionSource._equality_positions_df`)."""
    make, commit = _row_delete_source(spark, tmp_path, table)
    calls = {
        "snapshot": lambda src: src.get_current_snapshot(),
        "change": lambda src: src.get_table_change_for_commit(commit),
    }
    for expose in (True, False):
        for name, call in calls.items():
            for kind in ("deletes", "purged"):
                for path in glob.glob(os.path.join(tmp_path, "**", f"*.{kind}-*.parquet"), recursive=True):
                    os.remove(path)
            for state in ("cold", "warm"):
                src = make(expose)
                with _spark_jobs(spark) as jobs, _py4j_commands(spark) as sent:
                    call(src)
                assert (jobs, sent) == ([0], []), (expose, name, state)
            kind = "deletes" if expose else "purged"
            assert glob.glob(os.path.join(tmp_path, "**", f"*.{kind}-*.parquet"), recursive=True)
