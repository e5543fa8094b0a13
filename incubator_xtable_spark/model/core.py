"""Canonical model: the Spark-first equivalent of the reference's
xtable-api model classes.

Reference parity (file:line cites into /root/reference):
- InternalTable          model/InternalTable.java:38-55
- InternalPartitionField model/schema/InternalPartitionField.java:35-53
- PartitionTransformType model/schema/PartitionTransformType.java:28-38
- InternalDataFile       model/storage/InternalDataFile.java:45-54
- InternalSnapshot       model/InternalSnapshot.java:42-52
- TableChange            model/TableChange.java:34-42
- CommitsBacklog         model/CommitsBacklog.java:72-85
- SyncResult             model/sync/SyncResult.java

Design deltas from the reference (Spark-first, not a port):
- the schema is a plain ``pyspark.sql.types.StructType``; field-level
  extras (fieldId, enum values, fixed size, timestamp precision) ride in
  ``StructField.metadata`` (see model/schema_meta.py) — no custom schema
  class tree;
- the file inventory and the row-delete channel are ``pyarrow.Table``s
  (one row per data file, ``FILE_INVENTORY_ARROW`` /
  ``ROW_DELETES_ARROW``) held on the driver, as the reference holds its
  ``InternalDataFile`` lists; sources build them and targets read them
  with ``table_rows``, and snapshot diffs are ``model/files_diff`` dict
  work. No model channel crosses into the JVM. Only the CDC channel
  (``row_changes``) is a Spark DataFrame: its rows are data-sized.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import Any, Iterable, Optional

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


class TableFormat(str, enum.Enum):
    """model/storage/TableFormat.java:26-35."""

    DELTA = "DELTA"
    ICEBERG = "ICEBERG"
    HUDI = "HUDI"
    PARQUET = "PARQUET"
    PAIMON = "PAIMON"  # source AND target here (the reference is source-only)


class SyncMode(str, enum.Enum):
    """model/sync/SyncMode.java."""

    FULL = "FULL"
    INCREMENTAL = "INCREMENTAL"


class SyncStatusCode(str, enum.Enum):
    SUCCESS = "SUCCESS"
    ABORTED = "ABORTED"
    ERROR = "ERROR"


class PartitionTransformType(str, enum.Enum):
    """model/schema/PartitionTransformType.java:28-38."""

    YEAR = "YEAR"
    MONTH = "MONTH"
    DAY = "DAY"
    HOUR = "HOUR"
    VALUE = "VALUE"
    BUCKET = "BUCKET"

    @property
    def is_time_based(self) -> bool:
        return self in (self.YEAR, self.MONTH, self.DAY, self.HOUR)


class DataLayoutStrategy(str, enum.Enum):
    """model/storage/DataLayoutStrategy.java:29-32."""

    HIVE_STYLE_PARTITION = "HIVE_STYLE_PARTITION"
    DIR_HIERARCHY_PARTITION_VALUES = "DIR_HIERARCHY_PARTITION_VALUES"
    FLAT = "FLAT"


@dataclass
class InternalPartitionField:
    """Partition spec entry: source field + transform (+ options)."""

    source_field: str
    transform: PartitionTransformType = PartitionTransformType.VALUE
    # name of the derived/physical partition column when it differs from
    # the source field (Delta generated columns, Hudi path segments)
    partition_field_name: Optional[str] = None
    num_buckets: Optional[int] = None
    date_format: Optional[str] = None

    @property
    def output_name(self) -> str:
        return self.partition_field_name or self.source_field


@dataclass
class InternalSortField:
    """One member of a table's DECLARED write sort order (Iceberg spec
    "Sort Orders"): the source column by name (dot path for nested
    struct members), an Iceberg transform string, sort direction and
    null ordering. Metadata-plane only — the engine never re-sorts data
    files; the declaration is carried source -> target so downstream
    writers/readers keep the clustering contract."""

    source_field: str
    transform: str = "identity"
    direction: str = "asc"  # "asc" | "desc"
    null_order: str = "nulls-first"  # "nulls-first" | "nulls-last"


@dataclass
class InternalTable:
    name: str
    table_format: TableFormat
    base_path: str
    read_schema: T.StructType
    partition_fields: list[InternalPartitionField] = field(default_factory=list)
    layout_strategy: DataLayoutStrategy = DataLayoutStrategy.FLAT
    latest_commit_time_ms: Optional[int] = None
    latest_metadata_path: Optional[str] = None
    # declared write sort order (Iceberg "Sort Orders"); [] = unsorted
    sort_order: list[InternalSortField] = field(default_factory=list)


# ---------------------------------------------------------------------------
# File inventory: the schema shared by all sources/targets.
# One row per live data file — the engine's InternalDataFile.
# ---------------------------------------------------------------------------

FILE_INVENTORY_SCHEMA = T.StructType(
    [
        T.StructField("physical_path", T.StringType(), False),
        T.StructField("file_format", T.StringType(), False),
        T.StructField("size_bytes", T.LongType(), False),
        T.StructField("record_count", T.LongType(), True),
        T.StructField("last_modified_ms", T.LongType(), True),
        # partition column name -> serialized partition value
        T.StructField("partition_values", T.MapType(T.StringType(), T.StringType()), True),
        # per-column stats: name -> struct(min/max JSON-encoded, null_count)
        T.StructField(
            "column_stats",
            T.MapType(
                T.StringType(),
                T.StructType(
                    [
                        T.StructField("min_json", T.StringType(), True),
                        T.StructField("max_json", T.StringType(), True),
                        T.StructField("null_count", T.LongType(), True),
                    ]
                ),
            ),
            True,
        ),
    ]
)


# Row-level delete channel (sources with expose_row_deletes=True): one
# row per (data file, complete delete set). positions_path is an
# Iceberg-shaped parquet of (file_path, pos) sorted by pos.
ROW_DELETES_SCHEMA = T.StructType(
    [
        T.StructField("data_file_path", T.StringType(), False),
        T.StructField("positions_path", T.StringType(), False),
        T.StructField("delete_count", T.LongType(), True),
        T.StructField("partition_values", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# the Arrow forms every model channel is carried in
FILE_INVENTORY_ARROW = to_arrow_schema(FILE_INVENTORY_SCHEMA)
ROW_DELETES_ARROW = to_arrow_schema(ROW_DELETES_SCHEMA)


@dataclass
class InternalSnapshot:
    """version + table + live-file inventory (pyarrow.Table)."""

    table: InternalTable
    version: str
    # pyarrow.Table in FILE_INVENTORY_ARROW
    files: Any
    pending_commits: list[str] = field(default_factory=list)
    source_identifier: Optional[str] = None
    # pyarrow.Table in ROW_DELETES_ARROW when the source exposes row-level
    # deletes instead of purging shadow files (None otherwise)
    row_deletes: Any = None
    # equality-delete channel (Iceberg expose_equality_deletes=True):
    # {"files": [{file_path, file_size, record_count, sequence_number,
    # equality_columns, partition}], "data_sequences": {path: seq}} —
    # metadata-sized; targets that can express content=2 deletes
    # re-register the SAME files with preserved sequence ordering
    equality_deletes: Any = None
    # row-lineage channel: {physical_path: first row id} for every LIVE
    # data file (see TableChange.row_lineage)
    row_lineage: Any = None


@dataclass
class TableChange:
    """Per-commit change set: adds/removes as inventory tables."""

    table: InternalTable
    commit_id: str
    files_added: Any  # pyarrow.Table in FILE_INVENTORY_ARROW
    files_removed: Any  # pyarrow.Table in FILE_INVENTORY_ARROW
    source_identifier: Optional[str] = None
    row_deletes: Any = None  # pyarrow.Table in ROW_DELETES_ARROW, or None
    equality_deletes: Any = None  # see InternalSnapshot.equality_deletes
    # CDC channel (sources with emit_row_changes=True): the commit's
    # row-level changes — table columns + `_change_type` (insert /
    # update_preimage / update_postimage / delete). Targets that can
    # express a change feed (Delta CDF) persist them.
    row_changes: Any = None  # DataFrame or None
    # row-lineage channel (sources with expose_row_lineage=True):
    # {physical_path: first row id} for this commit's ADDED files —
    # Delta Row Tracking baseRowId / Iceberg v3 first_row_id. Targets
    # with sync_row_lineage preserve the ids instead of assigning fresh
    # ranges, so stable row ids SURVIVE format conversion. Metadata-
    # sized: one long per added file (same posture as equality_deletes).
    row_lineage: Any = None  # dict[str, int] or None


@dataclass
class CommitsBacklog:
    """Commits ready to process + still-in-flight instants
    (model/CommitsBacklog.java:29-85)."""

    commits_to_process: list[str] = field(default_factory=list)
    in_flight_instants: list[str] = field(default_factory=list)


@dataclass
class InstantsForIncrementalSync:
    last_sync_instant: str
    pending_commits: list[str] = field(default_factory=list)


@dataclass
class ErrorDetails:
    error_message: str
    internal_error: bool = False


@dataclass
class CatalogSyncStatus:
    """Per-catalog registration outcome, carried on the format's
    SyncResult (model/sync/SyncResult.java CatalogSyncStatus)."""

    catalog_id: str
    status: SyncStatusCode
    error: Optional[ErrorDetails] = None


@dataclass
class SyncResult:
    mode: SyncMode
    status: SyncStatusCode
    target_format: TableFormat
    last_instant_synced: Optional[str] = None
    sync_duration_sec: float = 0.0
    error: Optional[ErrorDetails] = None
    # populated by sync_table_across_catalogs (ConversionController.java:389-400
    # mergeSyncResults analog)
    catalog_sync_statuses: list = field(default_factory=list)


def arrow_table(rows: Iterable[Any], schema: pa.Schema) -> pa.Table:
    """``rows`` (dicts, or tuples in ``schema`` field order; map values as
    dicts) as a ``pyarrow.Table`` in ``schema``: how every model channel
    is built."""
    names = schema.names
    return pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(names, r)) for r in rows], schema=schema
    )


def table_rows(table: pa.Table) -> list[dict]:
    """The rows of a model table as dicts, its top-level map columns as
    dicts too (``to_pylist`` gives a map as (key, value) pairs): how
    every consumer reads a model channel."""
    rows = table.to_pylist()
    maps = [f.name for f in table.schema if pa.types.is_map(f.type)]
    for r in rows:
        for name in maps:
            if r[name] is not None:
                r[name] = dict(r[name])
    return rows


def column(name: str) -> Any:
    """The top-level column ``name``, quoted: a name such as ``a.b`` is
    one column, not field ``b`` of a struct ``a``."""
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")
