"""Parquet-directory conversion source: treat a directory of parquet files
as a table (merged footer schema; file mtime = commit instant; stats
from footers).

Reference parity: parquet/ParquetConversionSource.java:88-260,
parquet/ParquetStatsExtractor.java:1-134, ParquetMetadataExtractor.java,
parquet/ParquetSchemaExtractor.java:88-160.

Footers are read once per listing, on the driver, as the reference does:
one ``pq.read_metadata`` per file gives its row count, its column stats
and its schema. A footer is a few KB, so the reads are metadata-sized
(about 0.03 s for 80 files and 5 s for 20,000), where a Spark job over
them paid seconds of fixed per-job cost at every size.

- schema: ``footer_schema`` merges the files' schemas and maps them to
  Spark types the way Spark's schema-merging Parquet read does, partition
  columns appended as Spark's partition discovery infers them;
- partition values: ``model/hive_partitions`` over each file's path; a
  source constructed without ``partition_fields`` takes the hive columns
  the paths name as VALUE partition fields;
- stats: ``_footer_stat_rows`` over the same ``FileMetaData``.
"""

from __future__ import annotations

import functools
import json
import os
from decimal import Decimal
from typing import Iterable, NamedTuple, Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import (
    CommitsBacklog,
    DataLayoutStrategy,
    FILE_INVENTORY_ARROW,
    InstantsForIncrementalSync,
    InternalPartitionField,
    InternalSnapshot,
    InternalTable,
    TableChange,
    TableFormat,
    arrow_table,
)
from incubator_xtable_spark.model.hive_partitions import infer_partitions
from incubator_xtable_spark.model.stat_codec import encode_stat

_METADATA_DIRS = {"metadata"}  # iceberg metadata tree


def _list_parquet_files(base_path: str) -> list[tuple[str, int, int]]:
    """Driver-side recursive listing (the reference also lists driver-side;
    object-store listing at scale would swap this for a manifest read).

    Metadata trees are pruned: `_delta_log` / `.hoodie` (underscore/dot
    prefixes, Spark's own hidden-dir convention) and iceberg's `metadata`
    dir — a Delta CHECKPOINT parquet must never be mistaken for data."""
    out = []
    for root, dirs, files in os.walk(base_path):
        dirs[:] = [
            d for d in dirs if not d.startswith(("_", ".")) and d not in _METADATA_DIRS
        ]
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                p = os.path.join(root, fn)
                st = os.stat(p)
                out.append((p, st.st_size, int(st.st_mtime * 1000)))
    return sorted(out)


class _Footers(NamedTuple):
    """What one pass over a listing's footers yields, keyed by path."""

    schema: T.StructType
    partition_values: dict
    stats: dict  # path -> (record_count, column_stats)
    hive_columns: list  # the columns the paths' col=value segments name


class ParquetConversionSource:
    """ConversionSource for raw parquet directories
    (spi/extractor/ConversionSource.java:37-105 surface)."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        name: Optional[str] = None,
        partition_fields: Optional[list[InternalPartitionField]] = None,
    ) -> None:
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.name = name or os.path.basename(self.base_path)
        self.partition_fields = partition_fields or []
        # footer results keyed by the EXACT listing (path, size, mtime):
        # one sync asks for the table, the snapshot and each change, and
        # reads each footer once; any file change (add/rewrite/touch)
        # changes the key and re-reads
        self._schema_cache: Optional[tuple] = None

    def _scan(self) -> tuple[list, InternalTable, _Footers]:
        """The listing, the table and the listing's footer results."""
        files = _list_parquet_files(self.base_path)
        key = tuple(files)
        if self._schema_cache is None or self._schema_cache[0] != key:
            self._schema_cache = (key, self._read_footers(files))
        footers = self._schema_cache[1]
        # undeclared partition fields: the hive columns the paths name,
        # as VALUE fields (a partition-shaped directory read flat would
        # convert its partition column as a data column no file stores)
        partition_fields = self.partition_fields or [
            InternalPartitionField(c) for c in footers.hive_columns
        ]
        table = InternalTable(
            name=self.name,
            table_format=TableFormat.PARQUET,
            base_path=self.base_path,
            read_schema=footers.schema,
            partition_fields=partition_fields,
            layout_strategy=DataLayoutStrategy.HIVE_STYLE_PARTITION
            if partition_fields
            else DataLayoutStrategy.FLAT,
            latest_commit_time_ms=max((mtime for _, _, mtime in files), default=None),
        )
        return files, table, footers

    def _read_footers(self, files: list) -> _Footers:
        paths = [p for p, _, _ in files]
        footers = [pq.read_metadata(p) for p in paths]
        part_schema, part_values = infer_partitions(paths, self.base_path)
        schema = footer_schema(footers, part_schema, _read_conf(self.spark))
        # partition values live in paths, also where a file holds a column
        # of the same name
        part_cols = {pf.output_name for pf in self.partition_fields} | set(part_schema.names)
        types_by_name = {f.name: f.dataType for f in schema.fields if f.name not in part_cols}
        stats = _footer_stat_rows(zip(paths, footers), types_by_name)
        return _Footers(
            schema,
            dict(zip(paths, part_values)),
            {p: (rc, cs) for p, rc, cs in stats},
            list(part_schema.names),
        )

    @property
    def sync_view(self) -> Optional[str]:
        """Tags a sync whose partition fields come from the paths
        (undeclared ``partition_fields`` on a hive-shaped directory): a
        target synced before that inference holds the directory FLAT, so
        the controller restates it FULL once instead of adding a
        partition spec its files carry no values for."""
        if self.partition_fields or not self._scan()[2].hive_columns:
            return None
        return "hive-partitions-from-paths"

    # -- table -------------------------------------------------------------

    def get_current_table(self) -> InternalTable:
        return self._scan()[1]

    # -- snapshot ----------------------------------------------------------

    def get_current_snapshot(self, with_stats: bool = True) -> InternalSnapshot:
        files, table, footers = self._scan()
        inventory = self._build_inventory(table, files, footers, with_stats)
        version = str(table.latest_commit_time_ms or 0)
        return InternalSnapshot(table=table, version=version, files=inventory)

    def _build_inventory(
        self, table: InternalTable, files: list, footers: _Footers, with_stats: bool
    ) -> pa.Table:
        """``files``: the driver-side [(path, size, mtime)] listing, built
        with its footer results into one inventory table."""
        rows = []
        for path, size, mtime in files:
            record_count, column_stats = footers.stats[path] if with_stats else (None, None)
            values = footers.partition_values[path]
            partition_values = {
                pf.output_name: values.get(pf.output_name) for pf in table.partition_fields
            }
            rows.append(
                (
                    path,
                    "PARQUET",
                    size,
                    record_count,
                    mtime,
                    partition_values or None,
                    column_stats,
                )
            )
        return arrow_table(rows, FILE_INVENTORY_ARROW)

    # -- commits (mtime-based, like the reference) -------------------------
    # NOTE: mtime commits only observe ADDITIONS. Deleted files are only
    # detected by a FULL sync (snapshot-as-diff), matching the reference's
    # parquet-dir semantics — run FULL periodically if files can vanish.

    def get_commits_backlog(self, instants: "InstantsForIncrementalSync") -> CommitsBacklog:
        """Commits after the bookmark + previously-pending commits that have
        since completed (sorted dedup merge, HudiConversionSource.java:311-338)."""
        last_ms = int(instants.last_sync_instant)
        all_mtimes = {mtime for _, _, mtime in _list_parquet_files(self.base_path)}
        new = {m for m in all_mtimes if m > last_ms}
        pending_done = {int(p) for p in instants.pending_commits if int(p) in all_mtimes}
        return CommitsBacklog(commits_to_process=[str(i) for i in sorted(new | pending_done)])

    def is_incremental_sync_safe_from(self, instant: str) -> bool:
        # parquet dirs never expire history: files are either there or not;
        # a file deleted since the bookmark makes replay unsafe only if the
        # bookmark predates all current files
        files = _list_parquet_files(self.base_path)
        return bool(files) and int(instant) >= 0

    def get_table_change_for_commit(self, commit: str) -> TableChange:
        commit_ms = int(commit)
        files, table, footers = self._scan()
        added_files = [f for f in files if f[2] == commit_ms]
        inventory = self._build_inventory(table, added_files, footers, with_stats=True)
        return TableChange(
            table=table,
            commit_id=commit,
            files_added=inventory,
            files_removed=FILE_INVENTORY_ARROW.empty_table(),
        )

    def get_commit_identifier(self, commit: str) -> str:
        return commit


def data_schema(table: InternalTable) -> T.StructType:
    """Schema of columns physically present in data files (partition
    columns live in paths, not footers)."""
    part_cols = {pf.output_name for pf in table.partition_fields}
    return T.StructType([f for f in table.read_schema.fields if f.name not in part_cols])


# ---------------------------------------------------------------------------
# Footer schema: Spark's Parquet schema conversion and schema merge
# ---------------------------------------------------------------------------

_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# (bitWidth, isSigned) of an INT annotation; unsigned ints widen one step
_INT_TYPES = {
    (8, True): T.ByteType(),
    (16, True): T.ShortType(),
    (32, True): T.IntegerType(),
    (64, True): T.LongType(),
    (8, False): T.ShortType(),
    (16, False): T.IntegerType(),
    (32, False): T.LongType(),
    (64, False): T.DecimalType(20, 0),
}


def _read_conf(spark: SparkSession) -> dict:
    """The session settings Spark's Parquet schema conversion reads."""

    def flag(key: str, default: str) -> bool:
        return spark.conf.get(key, default).lower() == "true"

    return {
        "nanos_as_long": flag("spark.sql.legacy.parquet.nanosAsLong", "false"),
        "infer_ntz": flag("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
        "binary_as_string": flag("spark.sql.parquet.binaryAsString", "false"),
        "int96_as_timestamp": flag("spark.sql.parquet.int96AsTimestamp", "true"),
    }


def _leaf_type(col, conf: dict) -> T.DataType:
    """Spark's type for one Parquet primitive column (``col`` is a
    pyarrow ``ColumnSchema``); raises on the types Spark refuses."""
    phys, kind = col.physical_type, col.logical_type.type
    ann = json.loads(col.logical_type.to_json()) if kind in ("INT", "TIMESTAMP") else {}
    if kind == "DECIMAL":
        limit = {"INT32": 9, "INT64": 18}.get(phys, 38)
        if phys == "FIXED_LEN_BYTE_ARRAY":
            limit = len(str(2 ** (8 * col.length - 1) - 1)) - 1
        if col.precision <= limit:
            return T.DecimalType(col.precision, col.scale)
    elif kind == "INT" and phys in ("INT32", "INT64"):
        if (phys == "INT64") == (ann["bitWidth"] == 64):
            return _INT_TYPES[(ann["bitWidth"], ann["isSigned"])]
    elif kind == "TIMESTAMP" and phys == "INT64":
        if ann["timeUnit"] != "nanoseconds":
            utc = ann["isAdjustedToUTC"] or not conf["infer_ntz"]
            return T.TimestampType() if utc else T.TimestampNTZType()
        if conf["nanos_as_long"]:
            return T.LongType()
    elif kind == "DATE" and phys == "INT32":
        return T.DateType()
    elif kind in ("STRING", "ENUM", "JSON") and phys == "BYTE_ARRAY":
        return T.StringType()
    elif kind == "BSON" and phys == "BYTE_ARRAY":
        return T.BinaryType()
    elif kind in ("NONE", "UNKNOWN"):
        plain = {
            "BOOLEAN": T.BooleanType(),
            "INT32": T.IntegerType(),
            "INT64": T.LongType(),
            "FLOAT": T.FloatType(),
            "DOUBLE": T.DoubleType(),
            "BYTE_ARRAY": T.StringType() if conf["binary_as_string"] else T.BinaryType(),
            "FIXED_LEN_BYTE_ARRAY": T.BinaryType(),
            "INT96": T.TimestampType() if conf["int96_as_timestamp"] else None,
        }.get(phys)
        if plain is not None:
            return plain
    raise ValueError(f"Illegal Parquet type: {phys} ({col.logical_type}) in column {col.path}")


def _spark_type(arrow_type: pa.DataType, leaves, conf: dict) -> T.DataType:
    """``arrow_type``'s nesting (struct, list, map) as Spark types, every
    leaf typed from the next Parquet column of ``leaves`` (both are in
    schema order). All fields and elements are nullable."""
    if isinstance(arrow_type, pa.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _spark_type(f.type, leaves, conf))
                for f in (arrow_type.field(i) for i in range(arrow_type.num_fields))
            ]
        )
    if isinstance(arrow_type, pa.MapType):
        key = _spark_type(arrow_type.key_type, leaves, conf)
        return T.MapType(key, _spark_type(arrow_type.item_type, leaves, conf))
    if isinstance(arrow_type, (pa.ListType, pa.LargeListType, pa.FixedSizeListType)):
        return T.ArrayType(_spark_type(arrow_type.value_type, leaves, conf))
    return _leaf_type(next(leaves), conf)


def _as_nullable(dt: T.DataType) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def _file_schema(md: pq.FileMetaData, row_metadata: Optional[bytes], conf: dict) -> T.StructType:
    """One file's Spark schema: the schema Spark wrote into the footer
    when there is one, else the Parquet schema converted."""
    if row_metadata is not None:
        try:
            return T.StructType.fromJson(json.loads(row_metadata))
        except (ValueError, KeyError, TypeError):
            pass  # not a JSON schema: Spark converts the Parquet schema then
    leaves = (md.schema.column(i) for i in range(md.num_columns))
    arrow = md.schema.to_arrow_schema()
    return T.StructType([T.StructField(f.name, _spark_type(f.type, leaves, conf)) for f in arrow])


def _merge(left: T.DataType, right: T.DataType) -> T.DataType:
    """Spark's ``StructType.merge``: fields by name, left order first,
    decimals widen at equal scale, any other difference raises."""
    if left == right:
        return left
    if isinstance(left, T.StructType) and isinstance(right, T.StructType):
        rights = {f.name: f for f in right.fields}
        fields = [
            T.StructField(f.name, _merge(f.dataType, rights[f.name].dataType), True, f.metadata)
            if f.name in rights
            else f
            for f in left.fields
        ]
        names = set(left.fieldNames())
        return T.StructType(fields + [f for f in right.fields if f.name not in names])
    if isinstance(left, T.ArrayType) and isinstance(right, T.ArrayType):
        return T.ArrayType(_merge(left.elementType, right.elementType), True)
    if isinstance(left, T.MapType) and isinstance(right, T.MapType):
        return T.MapType(_merge(left.keyType, right.keyType), _merge(left.valueType, right.valueType), True)
    if (
        isinstance(left, T.DecimalType)
        and isinstance(right, T.DecimalType)
        and left.scale == right.scale
    ):
        return T.DecimalType(max(left.precision, right.precision), left.scale)
    raise ValueError(
        f"Failed to merge incompatible data types {left.simpleString()} and {right.simpleString()}"
    )


def footer_schema(
    footers: Iterable[pq.FileMetaData], partition_schema: T.StructType, conf: dict
) -> T.StructType:
    """The schema Spark's schema-merging Parquet read of the files, with
    the table's base path as ``basePath``, gives: every file's
    schema (deduplicated, so a merge runs once per distinct schema),
    merged in listing order and made nullable; then the partition
    columns, a data column of the same name taking the partition type in
    place. ``conf`` is ``_read_conf(spark)``."""
    schemas: dict = {}
    for md in footers:
        row_metadata = (md.metadata or {}).get(_SPARK_ROW_METADATA)
        key = row_metadata or str(md.schema).partition("\n")[2]
        if key not in schemas:
            schemas[key] = _as_nullable(_file_schema(md, row_metadata, conf))
    if not schemas:
        raise ValueError("Unable to infer schema for Parquet: no data files")
    data = functools.reduce(_merge, schemas.values())
    partitions = {f.name.lower(): f for f in partition_schema.fields}
    fields = [partitions.pop(f.name.lower(), f) for f in data.fields]
    return T.StructType(fields + list(partitions.values()))


# ---------------------------------------------------------------------------
# Footer stats
# ---------------------------------------------------------------------------

_NESTED = (T.StructType, T.ArrayType, T.MapType)


def _min_max(st, dtype: T.DataType):
    if isinstance(dtype, T.LongType) and st.physical_type == "INT64":
        # a long column's stats are its physical values, also where the
        # Parquet type is a nanos timestamp read as long (nanosAsLong)
        return st.min_raw, st.max_raw
    # pyarrow raises ArrowNotImplementedError converting stats of
    # int-backed decimals (Spark writes DECIMAL(<=18) as INT32/64);
    # fall back to the raw physical values and unscale ourselves
    try:
        return st.min, st.max
    except Exception:
        if not isinstance(dtype, T.DecimalType):
            raise

    def conv(raw):
        if raw is None:
            return None
        unscaled = (
            int.from_bytes(bytes(raw), "big", signed=True)
            if isinstance(raw, (bytes, bytearray))
            else int(raw)
        )
        return Decimal(unscaled).scaleb(-dtype.scale)

    return conv(st.min_raw), conv(st.max_raw)


def _footer_stat_rows(footers: Iterable[tuple], types_by_name: dict) -> list:
    """(path, record_count, column_stats) per ``(path, FileMetaData)``; a
    footer of ``None`` (unreadable file) gives no count and no stats.

    Stats are kept only for leaves that ARE a top-level primitive column
    of ``types_by_name``, matched on the full leaf path: a nested column
    gets none (nothing can prune on it), and a top-level ``a.b`` is never
    folded into a column ``a``."""
    flat = {n for n, t in types_by_name.items() if not isinstance(t, _NESTED)}
    rows = []
    for path, md in footers:
        if md is None:
            rows.append((path, None, None))
            continue
        leaves = {}
        for ci in range(md.num_columns):
            col = md.schema.column(ci)
            if col.path == col.name and col.name in flat:
                leaves[ci] = col.name
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        nulls: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci, name in leaves.items():
                st = g.column(ci).statistics
                if st is None:
                    continue
                if st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                if st.has_min_max:
                    mn, mx = _min_max(st, types_by_name[name])
                    if mn is not None and (name not in mins or mn < mins[name]):
                        mins[name] = mn
                    if mx is not None and (name not in maxs or mx > maxs[name]):
                        maxs[name] = mx
        col_stats = {
            name: {
                "min_json": encode_stat(mins.get(name), types_by_name[name]),
                "max_json": encode_stat(maxs.get(name), types_by_name[name]),
                "null_count": nulls.get(name, 0),
            }
            for name in types_by_name
            if name in mins or name in maxs or name in nulls
        }
        rows.append((path, md.num_rows, col_stats))
    return rows


def _read_footer(path: str) -> Optional[pq.FileMetaData]:
    local = path[len("file:") :] if path.startswith("file:") else path
    try:
        return pq.read_metadata(local)
    except (OSError, pa.ArrowException):
        return None


def footer_stat_rows(paths: Iterable[str], schema: T.StructType) -> list:
    """(path, record_count, column_stats) per parquet file of ``paths``,
    its footer read on the driver; a file that cannot be read gets no
    count and no stats. ``schema`` types the stats (inventory encoding)."""
    types_by_name = {f.name: f.dataType for f in schema.fields}
    return _footer_stat_rows(((p, _read_footer(p)) for p in paths), types_by_name)
