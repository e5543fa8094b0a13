"""One file scan for every lake reader.

The reference proves a conversion by reading the source and every target
through Spark and comparing their rows (ref xtable-core
`ITConversionController.java:918-1026`); here those reads are the
engine's own readers, and every row-level read of a lake table ends in
the scan this module owns: `read_delta_as_df`, `read_delta_cdf`,
`read_iceberg_as_df`, `read_iceberg_cdc`, `read_hudi_as_df`,
`read_hudi_cdc`, `read_paimon_as_df`, `read_paimon_changelog`, the
Iceberg equality-delete lowering, and the rewrites in `sync/retention`.
A reader keeps only its metadata work (which files, how their columns
resolve, which rows are deleted, which partition values apply) and hands
it to `scan_files`, which does the rest once:

- scan: parquet, and ORC files that need no row index, through Spark's
  native scans; ORC files that do through `orc_scan`, AVRO through
  `avro_scan` (Spark's ORC reader has no ``_metadata.row_index``, and
  the environment ships no spark-avro);
- path and row index: one ``_fp`` per scan branch, the path the file
  was listed under (`files_diff.with_file_paths` inverts the URI quoting
  of ``_metadata.file_path``), and one ``_ri``;
- rename from stored to output names, and cast back to output types;
- partition values: an output column a group's files do not store comes
  from the file's partition values, joined from one broadcast
  (path, map, base row id) frame;
- deleted rows: an anti-join (a semi-join with ``keep``) on
  (``_fp``, ``_ri``) against `row_deletes.positions_frame`;
- row ids: ``_row_id`` = the file's base row id + ``_ri``;
- nothing to scan: an empty frame with the output schema.

Scale: one distributed scan per group, never a driver row; the files
frame is one row per file (broadcast) and the positions frame one Arrow
row per file with deletes (sort-merge joined).
"""

from __future__ import annotations

from typing import Iterable, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import column
from incubator_xtable_spark.model.file_formats import APACHE_AVRO, APACHE_ORC, PARQUET
from incubator_xtable_spark.model.files_diff import with_file_paths


class ScanGroup(NamedTuple):
    """Files of one format whose columns resolve the same way: ``fields``
    are the columns as these files store them (stored names; a
    ``parquet.field.id`` in a field's metadata makes Spark match it by
    id), ``renames`` maps a stored name to its output name."""

    fmt: str
    paths: list[str]
    fields: T.StructType
    renames: Optional[dict[str, str]] = None


def stored_column_groups(
    files: Iterable[tuple[str, str]], fields: T.StructType, columns: list[str]
) -> list[ScanGroup]:
    """Group (path, format) files by which of ``columns`` (partition
    columns) their footer stores: a table synced from several kinds of
    source mixes files that store them (Paimon-sourced files carry the
    full row) with files whose values live only in the path. Each group
    reads ``fields`` minus the columns its files lack, which `scan_files`
    then takes from the partition values. Footers are probed on the
    driver (a few KB each); AVRO files, which have no footer to probe,
    count as storing every column (native AVRO data files carry the full
    row)."""
    import pyarrow.orc as orc
    import pyarrow.parquet as pq

    by_key: dict[tuple, list[str]] = {}
    for path, fmt in files:
        stored = frozenset(columns)
        if columns and fmt == PARQUET:
            stored &= set(pq.read_schema(path).names)
        elif columns and fmt == APACHE_ORC:
            stored &= set(orc.ORCFile(path).schema.names)
        by_key.setdefault((fmt, stored), []).append(path)
    return [
        ScanGroup(
            fmt,
            paths,
            T.StructType([f for f in fields if f.name not in columns or f.name in stored]),
        )
        for (fmt, stored), paths in by_key.items()
    ]


def _rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """stored->output renames, collision-safe (a swap like a->b, b->a
    would corrupt with sequential renames): two phases through unique
    temporaries."""
    tmp_names = {stored: f"__xtable_rn_{i}" for i, stored in enumerate(mapping)}
    for stored, tmp in tmp_names.items():
        df = df.withColumnRenamed(stored, tmp)
    for stored, tmp in tmp_names.items():
        df = df.withColumnRenamed(tmp, mapping[stored])
    return df


def _native_scan(
    spark: SparkSession, group: ScanGroup, paths: list[str], need_fp: bool, need_ri: bool
) -> DataFrame:
    """Spark's own parquet or ORC scan of ``paths``, with ``_fp`` and
    ``_ri`` bound on the scan relation (``_metadata`` resolves nowhere
    else) and null where the caller needs neither."""
    reader = spark.read.schema(group.fields)
    df = reader.orc(list(paths)) if group.fmt == APACHE_ORC else reader.parquet(*paths)
    fp = F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "")
    df = df.withColumn("_fp", fp if need_fp else F.lit(None).cast("string")).withColumn(
        "_ri", F.col("_metadata.row_index") if need_ri else F.lit(None).cast("long")
    )
    return with_file_paths(df, "_fp") if need_fp else df


def _group_scans(
    spark: SparkSession, group: ScanGroup, positional: set[str], need_fp: bool, need_ri: bool
) -> list[DataFrame]:
    if group.fmt == APACHE_AVRO:
        from incubator_xtable_spark.sources.avro_scan import read_avro_rows

        return [
            read_avro_rows(
                spark, group.paths, list(group.fields), path_col="_fp", row_index_col="_ri"
            )
        ]
    if group.fmt != APACHE_ORC:
        return [_native_scan(spark, group, group.paths, need_fp, need_ri)]
    # ORC files that need row ordinals ride the pyarrow scan; the rest
    # stay on Spark's vectorized reader
    slow = [p for p in group.paths if p in positional]
    fast = [p for p in group.paths if p not in positional]
    scans = []
    if slow:
        from incubator_xtable_spark.sources.orc_scan import read_orc_rows

        scans.append(
            read_orc_rows(spark, slow, list(group.fields), path_col="_fp", row_index_col="_ri")
        )
    if fast:
        scans.append(_native_scan(spark, group, fast, need_fp, False))
    return scans


def scan_files(
    spark: SparkSession,
    groups: list[ScanGroup],
    out_fields: Iterable[T.StructField],
    *,
    partition_values: Optional[dict[str, dict]] = None,
    positions: Optional[list[tuple[str, "object"]]] = None,
    keep: bool = False,
    row_ids: Optional[dict[str, int]] = None,
    file_rows: bool = False,
) -> DataFrame:
    """Read ``groups`` as one DataFrame of ``out_fields``.

    - ``partition_values``: {listed path: {column: value}}; an output
      column a group does not store comes from here (cast from the
      value's string form), or is null without it.
    - ``positions``: (listed path, deleted row positions) pairs, consumed
      by `row_deletes.positions_frame`; their rows are dropped, or with
      ``keep`` the only ones kept. None or empty joins nothing.
    - ``row_ids``: {listed path: base row id}; appends ``_row_id`` = base
      + the row's position in its file.
    - ``file_rows``: appends ``_fp`` (listed path) and ``_ri`` (row
      position), for callers that key on the file row themselves.
    """
    out = T.StructType(list(out_fields))
    extra = [T.StructField("_row_id", T.LongType())] if row_ids is not None else []
    if file_rows:
        extra += [T.StructField("_fp", T.StringType()), T.StructField("_ri", T.LongType())]
    groups = [g for g in groups if g.paths]
    if not groups:
        return spark.createDataFrame([], T.StructType(list(out.fields) + extra))
    positions = positions or []
    need_ri = bool(positions) or row_ids is not None or file_rows
    # ORC row ordinals need the pyarrow scan: every ORC file when all
    # rows need one, else only the files with deleted positions
    positional = (
        {p for g in groups for p in g.paths}
        if row_ids is not None or file_rows
        else {p for p, _ in positions}
    )
    if any("parquet.field.id" in g.fields.json() for g in groups if g.fmt == PARQUET):
        # id resolution rides Spark's parquet field-id matching (runtime-
        # settable, so it works on a vanilla session); ignoreMissing is
        # the spec's schema evolution: a column added after a file was
        # written has no id there and reads as null
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
    files = None  # the (path, partition values, base row id) frame, built once if needed
    has_files = partition_values is not None or row_ids is not None
    branches = []
    for g in groups:
        renames = g.renames or {}
        stored = {renames.get(f.name, f.name): f.dataType for f in g.fields}
        missing = [f for f in out.fields if f.name not in stored]
        join_files = has_files and (bool(missing) or row_ids is not None)
        if join_files and files is None:
            pv, base = partition_values or {}, row_ids or {}
            files = F.broadcast(
                spark.createDataFrame(
                    [(p, pv.get(p), base.get(p)) for p in {*pv, *base}],
                    "_fp STRING, _pv MAP<STRING,STRING>, _base LONG",
                )
            )
        need_fp = need_ri or join_files
        for df in _group_scans(spark, g, positional, need_fp, need_ri):
            df = _rename(df, renames)
            if join_files:
                df = df.join(files, "_fp", "left")
            cols = []
            for f in out.fields:
                if f.name not in stored:
                    value = F.col("_pv").getItem(f.name) if join_files else F.lit(None)
                    cols.append(value.cast(f.dataType).alias(f.name))
                elif stored[f.name] != f.dataType:
                    cols.append(column(f.name).cast(f.dataType).alias(f.name))
                else:
                    cols.append(column(f.name))
            if row_ids is not None:
                cols.append((F.col("_base") + F.col("_ri")).alias("_row_id"))
            branches.append(df.select(*cols, "_fp", "_ri"))
    df = branches[0]
    for b in branches[1:]:
        df = df.unionByName(b)
    if positions:
        from incubator_xtable_spark.sources.row_deletes import positions_frame

        deleted = positions_frame(spark, positions)
        df = df.join(
            deleted,
            (F.col("_fp") == deleted.file_path) & (F.col("_ri") == deleted.pos),
            "left_semi" if keep else "left_anti",
        )
    return df.select(*[column(f.name) for f in out.fields], *[f.name for f in extra])

