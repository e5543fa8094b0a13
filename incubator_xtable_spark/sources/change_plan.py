"""A commit's row changes, planned once per format.

The reference turns each source commit into a change set; here the row
level of that change set is planned by one function per format, with no
SparkSession: `delta_source.plan_changes`, `iceberg_source.plan_changes`,
`hudi_source.plan_changes` and `paimon_source.plan_changes`. A plan says
everything about the commit's row changes:

- which files contribute, and whether their change type is fixed
  (``insert`` / ``delete``) or read from the file (a stored
  ``_change_type`` or ``_VALUE_KIND`` column, Hudi CDC log records);
- position-diff files: a carried file whose deleted positions changed
  emits the newly deleted rows as deletes and the restored ones as
  inserts;
- the position sources each file's rows are read against (Delta DV
  descriptors, Iceberg delete-file references);
- how each file's columns resolve: the `file_scan.ScanGroup`s the
  format's own group builder makes (stored names, parquet field ids,
  renames to the logical names);
- partition values for the columns a file does not store;
- every refusal, raised while planning.

Two readers consume a plan, with one column rule: a column the file's
group stores reads from the file, any other from the file's partition
values, else null. `read_changes` is the batch one: it resolves
positions on the driver (each delete file read once) and hands the
plan's groups to `file_scan.scan_files`. The readStream sources
(`streaming/change_feed.py`) send each planned file with its group to an
executor and read it with pyarrow, resolving positions with the same
`read_positions`.
"""

from __future__ import annotations

import json
from typing import Callable, NamedTuple, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# the format of a Hudi CDC supplemental log file: its records decode to
# rows and their change types (`hudi_source.cdc_log_rows`), never a scan
HUDI_CDC_LOG = "HUDI_CDC_LOG"

# Paimon RowKind byte -> change type
CHANGE_TYPES = {0: "insert", 1: "update_preimage", 2: "update_postimage", 3: "delete"}

# the stored columns that carry each row's change type, and their types:
# Delta change files store `_change_type`, Paimon changelog files
# `_VALUE_KIND`
TYPE_COLUMNS = {"_change_type": T.StringType(), "_VALUE_KIND": T.ByteType()}


class ChangeFile(NamedTuple):
    """One file's part of a commit's row changes.

    ``change`` is ``insert`` or ``delete``, the column that holds each
    row's type (``_VALUE_KIND``, or ``_change_type`` for Delta change
    files and Hudi CDC logs), or None for a position diff. ``drop``
    lists the position sources whose rows are not read; a position diff
    (``restore`` set) instead emits the rows ``drop`` covers and
    ``restore`` does not as deletes, and the reverse as inserts. ``partition_values`` maps each
    column the file need not store to its value as a string."""

    path: str
    fmt: str
    change: Optional[str]
    partition_values: dict
    drop: tuple
    restore: Optional[tuple]


class ChangePlan(NamedTuple):
    """One commit's row changes. ``schema`` is the logical row schema;
    ``groups`` are the `file_scan.ScanGroup`s of every planned file that
    scans (all but Hudi CDC logs): the columns each file stores, under
    which names or field ids, and with which type column. ``derive`` is
    set when the row changes are not per file (a Hudi rewrite without CDC
    logging; the plan then has no files and an empty schema): the batch
    reader derives them by a join, and the stream refuses with this
    message."""

    schema: T.StructType
    files: list
    groups: list
    derive: Optional[str]


def read_positions(pairs: list[tuple[str, tuple]], cache: dict) -> dict[str, np.ndarray]:
    """{data path: sorted unique deleted positions} of (data path,
    position sources) pairs; files without positions drop out. Each
    source is read once per ``cache``: a Delta DV descriptor through
    `delta_dv.read_dv_positions`, an Iceberg position-delete file (a
    parquet naming many data files, or a Puffin DV) through
    `iceberg_source.delete_file_positions`. Equality sources are not
    positions and are skipped here."""
    out = {}
    for path, sources in pairs:
        parts = []
        for s in sources:
            if s["kind"] == "equality":
                continue
            key = json.dumps(s, sort_keys=True)
            if key not in cache:
                cache[key] = _source_positions(s)
            parts.append(cache[key].get(path, np.empty(0, np.int64)))
        if parts:
            pos = np.unique(np.concatenate(parts).astype(np.int64))
            if len(pos):
                out[path] = pos
    return out


def _source_positions(source: dict) -> dict[str, np.ndarray]:
    if source["kind"] == "delta_dv":
        from incubator_xtable_spark.sources.delta_dv import read_dv_positions

        return {source["path"]: np.asarray(read_dv_positions(source["base"], source["dv"]), np.int64)}
    from incubator_xtable_spark.sources.iceberg_source import delete_file_positions

    return delete_file_positions(source["file"])


def change_schema(schema: T.StructType, commit_column: T.StructField) -> T.StructType:
    """The rows of a change read: the table columns, `_change_type` and
    the commit column."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, f.nullable) for f in schema.fields]
        + [T.StructField("_change_type", T.StringType()), commit_column]
    )


def read_changes(
    spark: SparkSession,
    plan: ChangePlan,
    commit_column: T.StructField,
    commit,
    resolve: Optional[Callable[[list], dict]] = None,
) -> DataFrame:
    """The batch change read of ``plan``: ``resolve`` turns (data path,
    position sources) pairs into positions on the driver (by default
    `read_positions`, each source read once per read; Iceberg adds its
    equality lowering), and the files of one change type read in one
    `file_scan.scan_files` call over the plan's groups; position diffs
    read their newly deleted and restored rows with ``keep``. No data row
    reaches the driver."""
    from incubator_xtable_spark.sources.file_scan import scan_files

    if resolve is None:
        cache: dict = {}

        def resolve(pairs: list) -> dict:
            return read_positions(pairs, cache)

    def scan(files: list, extra: list, positions: dict, keep: bool) -> DataFrame:
        paths = {f.path for f in files}
        values = {f.path: f.partition_values for f in files if f.partition_values}
        return scan_files(
            spark,
            [g._replace(paths=[p for p in g.paths if p in paths]) for g in plan.groups],
            list(plan.schema.fields) + extra,
            partition_values=values or None,
            positions=list(positions.items()),
            keep=keep,
        )

    out = change_schema(plan.schema, commit_column)
    by_change: dict = {}
    diffs = []
    for f in plan.files:
        (diffs if f.restore is not None else by_change.setdefault(f.change, [])).append(f)
    parts = []
    for change, files in by_change.items():
        extra = [T.StructField(change, TYPE_COLUMNS[change])] if change in TYPE_COLUMNS else []
        df = scan(files, extra, resolve([(f.path, f.drop) for f in files]), False)
        if change == "_VALUE_KIND":
            kinds = F.create_map(*[x for k, v in CHANGE_TYPES.items() for x in (F.lit(k), F.lit(v))])
            df = df.withColumn("_change_type", kinds[F.col(change).cast("int")])
        else:
            df = df.withColumn("_change_type", F.col(change) if extra else F.lit(change))
        parts.append(df)
    if diffs:
        from incubator_xtable_spark.sources.row_deletes import positions_minus

        now = resolve([(f.path, f.drop) for f in diffs])
        before = resolve([(f.path, f.restore) for f in diffs])
        for change, positions in (
            ("delete", positions_minus(now, before)),
            ("insert", positions_minus(before, now)),
        ):
            if positions:
                files = [f for f in diffs if f.path in positions]
                df = scan(files, [], positions, True)
                parts.append(df.withColumn("_change_type", F.lit(change)))
    if not parts:
        return spark.createDataFrame([], out)
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    return df.select(
        *[f.name for f in plan.schema.fields],
        "_change_type",
        F.lit(commit).cast(commit_column.dataType).alias(commit_column.name),
    )
