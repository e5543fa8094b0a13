"""The one readStream change feed: `spark.readStream.format(<name>)` for
`delta_cdf`, `iceberg_cdc`, `hudi_cdc` and `paimon_changelog`, built on
the Python Data Source API (pyspark.sql.datasource, Spark 4).

The Python data-source runners execute in worker processes with no
SparkSession, so the batch change readers cannot run there. This reader
consumes the same per-commit plan they do (`sources/change_plan.py`: each
format's `plan_changes`) and splits the work the way Spark wants:

- offsets: one commit order per format, `cdc_stream._commits_after`
  (Delta versions, Iceberg's parent chain, Hudi's completed instants,
  Paimon snapshot ids), with its refusal of a cursor whose next commits
  have expired; an offset is ``{<key>: <last planned commit>}``;
- pacing: ``maxCommitsPerTrigger`` / ``maxBytesPerTrigger`` through
  `pacing.py`, sized from commit metadata by each format's sizer. Best
  effort per the Python API's limits (latestOffset carries no start):
  the floor advances from each batch's own planning, and Spark replans
  the last committed batch's empty range on restart, which restores it.
  With Trigger.AvailableNow, Spark samples latestOffset ONCE per run, so
  the options bound the RUN — repeated availableNow runs against one
  checkpoint drain a backlog in bounded steps;
- `partitions()` is the plan: one input partition per planned file,
  carrying the file's scan group, so a stream of N planned files runs N
  partitions;
- `read()` runs on executors: it reads the file with pyarrow and takes
  its columns by the batch rule (a column the file's group stores reads
  from the file, matched by field id or stored name and renamed to its
  logical name; any other from the partition values, typed with one
  cast from their string form; a column the plan does not know, such as
  a Hudi meta field, under its own name or null), resolves deleted
  positions with `change_plan.read_positions` (the batch readers'
  function), and adds `_change_type` and the commit column. No data row
  passes through the driver.

Kept apart from the batch readers on purpose, and only these: Iceberg
equality deletes match here per file in pyarrow (null-safe value
tuples), where the batch reader joins in Spark; and a Hudi commit that
rewrites state without CDC logging, which the batch reader derives by a
Spark join, is refused here with the plan's message.

Spark contributes exactly-once offset tracking, checkpointing and
triggers (processingTime and availableNow).
"""

from __future__ import annotations

import datetime
from typing import Callable, NamedTuple, Optional

import numpy as np
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition
from pyspark.sql.pandas.types import to_arrow_type

from incubator_xtable_spark.sources.change_plan import (
    CHANGE_TYPES,
    HUDI_CDC_LOG,
    ChangePlan,
    change_schema,
    read_positions,
)


def _option(options: dict, name: str):
    """An option by name; the Python Data Source lowercases option keys."""
    return options.get(name.lower(), options.get(name))


# -- the four formats ----------------------------------------------------------


def _delta_schema(base_path: str) -> T.StructType:
    import json

    from incubator_xtable_spark.sources.delta_source import latest_action

    meta = latest_action(base_path, "metaData")
    if meta is None:
        raise ValueError(f"not a delta table (no metaData): {base_path}")
    return T.StructType.fromJson(json.loads(meta["schemaString"]))


def _delta_start(base_path: str, options: dict) -> int:
    """The cursor before the first version to emit: ``startingVersion``
    (default 0), or with ``startingTimestamp`` (ISO date/datetime or
    epoch millis) the first version whose commit timestamp
    (`delta_source.commit_timestamps`: in-commit timestamps, else
    adjusted mtimes) is at or after it; past the end if none is, so only
    future commits stream."""
    from incubator_xtable_spark.sources.delta_source import commit_timestamps

    raw_ts = _option(options, "startingTimestamp")
    if raw_ts is None:
        return int(_option(options, "startingVersion") or 0) - 1
    raw = raw_ts.strip()
    if raw.isdigit():
        bound = int(raw)
    else:
        dt = datetime.datetime.fromisoformat(raw)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        bound = int(dt.timestamp() * 1000)
    stamps = commit_timestamps(base_path)
    first = next((v for v, ts in stamps if ts >= bound), stamps[-1][0] + 1 if stamps else 0)
    return first - 1


def _delta_bytes(base_path: str, commit: str) -> int:
    from incubator_xtable_spark.sources.delta_source import commit_data_bytes

    return commit_data_bytes(base_path, int(commit))


def _delta_plan(base_path: str, commit: str) -> ChangePlan:
    from incubator_xtable_spark.sources.delta_source import plan_changes

    return plan_changes(base_path, int(commit))


def _iceberg_schema(base_path: str) -> T.StructType:
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource

    return IcebergConversionSource(None, base_path).get_current_table().read_schema


def _iceberg_bytes(base_path: str, commit: str) -> int:
    from incubator_xtable_spark.model.iceberg_manifests import snapshot_by_id
    from incubator_xtable_spark.sources.iceberg_source import snapshot_data_bytes
    from incubator_xtable_spark.targets.iceberg_target import read_table_metadata

    return snapshot_data_bytes(snapshot_by_id(read_table_metadata(base_path), int(commit)) or {})


def _iceberg_plan(base_path: str, commit: str) -> ChangePlan:
    from incubator_xtable_spark.sources.iceberg_source import plan_changes

    return plan_changes(base_path, int(commit))


def _hudi_schema(base_path: str) -> T.StructType:
    """The newest commit's schema as written, meta fields included."""
    from incubator_xtable_spark.sources.hudi_source import commit_schema

    schema = commit_schema(base_path)
    if schema is None:
        raise ValueError(f"no commit schema found in {base_path}/.hoodie")
    return schema


def _hudi_bytes(base_path: str, commit: str) -> int:
    from incubator_xtable_spark.sources.hudi_source import instant_data_bytes
    from incubator_xtable_spark.targets.hudi_target import list_completed_instants

    action = dict(list_completed_instants(base_path)).get(commit)
    return instant_data_bytes(base_path, commit, action) if action else 0


def _hudi_plan(base_path: str, commit: str) -> ChangePlan:
    from incubator_xtable_spark.sources.hudi_source import plan_changes

    return plan_changes(base_path, commit)


def _paimon_schema(base_path: str) -> T.StructType:
    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

    src = PaimonConversionSource(None, base_path)
    latest = src.latest_snapshot_id()
    if latest is None:
        raise ValueError(f"not a paimon table (no snapshots): {base_path}")
    return src.get_table(latest).read_schema


def _paimon_bytes(base_path: str, commit: str) -> int:
    from incubator_xtable_spark.sources.paimon_source import snapshot_data_bytes

    return snapshot_data_bytes(base_path, int(commit))


def _paimon_plan(base_path: str, commit: str) -> ChangePlan:
    from incubator_xtable_spark.sources.paimon_source import plan_changes

    return plan_changes(base_path, int(commit))


class _Feed(NamedTuple):
    """One format's change feed: its commit order (the `cdc_stream` format
    name), offset key and commit id type, the cursor its start option
    names, its table schema, and its planner and byte sizer."""

    table_format: str
    offset_key: str
    commit_type: type
    start: Callable[[str, dict], object]
    schema: Callable[[str], T.StructType]
    plan: Callable[[str, str], ChangePlan]
    commit_bytes: Callable[[str, str], int]


def _starting(name: str, cast: type, default) -> Callable[[str, dict], object]:
    def start(base_path: str, options: dict):
        raw = _option(options, name)
        return cast(raw) if raw is not None else default

    return start


FEEDS = {
    "delta_cdf": _Feed("DELTA", "version", int, _delta_start, _delta_schema, _delta_plan, _delta_bytes),
    "iceberg_cdc": _Feed(
        "ICEBERG", "snapshot", int, _starting("startingSnapshot", int, None),
        _iceberg_schema, _iceberg_plan, _iceberg_bytes,
    ),
    "hudi_cdc": _Feed(
        "HUDI", "instant", str, _starting("startingInstant", str, None),
        _hudi_schema, _hudi_plan, _hudi_bytes,
    ),
    "paimon_changelog": _Feed(
        "PAIMON", "snapshot", int, _starting("startingSnapshot", int, 0),
        _paimon_schema, _paimon_plan, _paimon_bytes,
    ),
}


def plan_commit(name: str, base_path: str, commit: str) -> ChangePlan:
    """A commit's plan as the stream reads it: the format's plan, refused
    where its rows are not per file (``derive``)."""
    plan = FEEDS[name].plan(base_path, commit)
    if plan.derive:
        raise ValueError(plan.derive)
    return plan


# -- executor read ---------------------------------------------------------------


def _constant(value: Optional[str], dtype: T.DataType, n: int):
    """A partition value's string form as ``n`` rows of ``dtype``: one
    cast to its Arrow type (through a zoneless timestamp for a zoned one,
    as partition strings carry no offset; values are UTC)."""
    import pyarrow as pa

    target = to_arrow_type(dtype)
    arr = pa.array([value] * n, pa.string())
    if pa.types.is_timestamp(target) and target.tz is not None:
        return arr.cast(pa.timestamp(target.unit)).cast(target)
    return arr.cast(target)


def _column(tbl, name: Optional[str], dtype: T.DataType, n: int):
    """A stored column as ``dtype``'s Arrow type, or nulls when the file
    does not store it; nested columns pass as stored."""
    import pyarrow as pa

    target = to_arrow_type(dtype)
    if name is None:
        return pa.nulls(n, target)
    col = tbl.column(name).combine_chunks()
    if col.type != target and not isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
        col = col.cast(target)
    return col


def _stored_columns(file_schema, group) -> dict:
    """{logical column: the name this file stores it under, or None} for
    the columns ``group`` (a `file_scan.ScanGroup`) stores: by parquet
    field id where the group carries one (a missing id reads null, as
    Spark's ignoreMissing does), else by stored name."""
    by_fid = {
        int(f.metadata[b"PARQUET:field_id"]): f.name
        for f in file_schema
        if f.metadata and b"PARQUET:field_id" in f.metadata
    }
    names = set(file_schema.names)
    renames = group.renames or {}
    out = {}
    for g in group.fields:
        fid = (g.metadata or {}).get("parquet.field.id")
        if fid is not None:
            out[renames.get(g.name, g.name)] = by_fid.get(int(fid))
        else:
            out[renames.get(g.name, g.name)] = g.name if g.name in names else None
    return out


def _equality_positions(sources: list, values: dict, schema: T.StructType, n: int) -> np.ndarray:
    """Row positions whose values equal a row of any equality-delete
    file: a per-file pyarrow match, null-safe (None == None matches, the
    spec rule). ``values`` holds the file's resolved columns."""
    import pyarrow.parquet as pq

    from incubator_xtable_spark.sources.iceberg_source import equality_fields

    out: set[int] = set()
    for s in sources:
        fields = equality_fields(schema, s["eq_ids"])
        deleted = pq.read_table(s["path"], columns=[f.name for f in fields])
        if len(deleted) == 0:
            continue
        keys = set(zip(*[deleted.column(f.name).to_pylist() for f in fields]))
        rows = zip(*[values[f.name].to_pylist() for f in fields])
        out.update(i for i, row in enumerate(rows) if row in keys)
    return np.array(sorted(out), np.int64)


class _ChangePartition(InputPartition):
    """One planned file of one commit with its scan group (None for a
    Hudi CDC log; ``file`` None: nothing to read)."""

    def __init__(self, file, commit, schema: T.StructType, group) -> None:
        self.file = file
        self.commit = commit
        self.schema = schema
        self.group = group


class ChangeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, name: str, schema: T.StructType, options: dict) -> None:
        self.name = name
        self.feed = FEEDS[name]
        self.base_path = (options.get("path") or "").rstrip("/")
        if not self.base_path:
            raise ValueError(f"{name} requires .option('path', <table dir>)")
        self.fields = schema.fields[:-2]  # the table columns
        self.commit_name = schema.fields[-1].name
        from incubator_xtable_spark.streaming.pacing import read_pacing_options

        self.max_commits, self.max_bytes = read_pacing_options(options)
        self._size_cache: dict = {}  # completed-commit bytes are immutable
        self.start = self.feed.start(self.base_path, options)
        self._floor = self.start

    def _after(self, cursor) -> list[str]:
        from incubator_xtable_spark.streaming.cdc_stream import _commits_after

        return _commits_after(
            None, self.feed.table_format, self.base_path, None if cursor is None else str(cursor)
        )

    # -- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        return {self.feed.offset_key: self.start}

    def latestOffset(self) -> dict:
        from incubator_xtable_spark.streaming.pacing import memoized_sizer, paced_head

        head = paced_head(
            self._after(self._floor),
            memoized_sizer(self._size_cache, lambda c: self.feed.commit_bytes(self.base_path, c)),
            self.max_commits,
            self.max_bytes,
        )
        if head is not None:
            self._floor = self.feed.commit_type(head)
        return {self.feed.offset_key: self._floor}

    def partitions(self, start: dict, end: dict):
        key = self.feed.offset_key
        # on restart Spark replans the last committed batch's (empty)
        # range first: that restores the pacing floor a new reader lacks
        if end.get(key) is not None:
            self._floor = end[key]
        commits = []
        if end.get(key) is not None and end[key] != start.get(key):
            after = self._after(start.get(key))
            if str(end[key]) in after:
                commits = after[: after.index(str(end[key])) + 1]
        parts = []
        for c in commits:
            plan = plan_commit(self.name, self.base_path, c)
            commit = self.feed.commit_type(c)
            groups = {p: g._replace(paths=[p]) for g in plan.groups for p in g.paths}
            parts.extend(
                _ChangePartition(f, commit, plan.schema, groups.get(f.path)) for f in plan.files
            )
        return parts or [_ChangePartition(None, None, T.StructType([]), None)]

    def commit(self, end: dict) -> None:
        pass

    # -- executor read ----------------------------------------------------

    def read(self, partition: _ChangePartition):
        import pyarrow as pa

        f = partition.file
        if f is None:
            return
        if f.fmt == HUDI_CDC_LOG:
            from incubator_xtable_spark.sources.hudi_source import cdc_log_batch

            batch = cdc_log_batch(
                f.path, T.StructType(list(self.fields)), self.commit_name, partition.commit
            )
            if batch.num_rows:
                yield batch
            return
        if f.fmt != "PARQUET":
            # the executor read parses files with pyarrow.parquet; refuse
            # naming the file, never mis-parse
            raise NotImplementedError(
                f"{self.name} stream: file {f.path!r} has format {f.fmt}; "
                "row-level stream reads are parquet-only"
            )
        import pyarrow.parquet as pq

        tbl = pq.read_table(f.path)
        n = len(tbl)
        stored = _stored_columns(tbl.schema, partition.group)
        values = {}
        for field in self.fields:
            if field.name in stored:
                values[field.name] = _column(tbl, stored[field.name], field.dataType, n)
            elif field.name in f.partition_values:
                values[field.name] = _constant(f.partition_values[field.name], field.dataType, n)
            else:
                own = field.name if field.name in tbl.column_names else None
                values[field.name] = _column(tbl, own, field.dataType, n)

        def deleted(sources: tuple) -> np.ndarray:
            pos = read_positions([(f.path, sources)], {}).get(f.path, np.empty(0, np.int64))
            eq = [s for s in sources if s["kind"] == "equality"]
            if eq:
                pos = np.union1d(pos, _equality_positions(eq, values, partition.schema, n))
            return pos

        if f.restore is not None:
            now, before = deleted(f.drop), deleted(f.restore)
            gone, back = np.setdiff1d(now, before), np.setdiff1d(before, now)
            keep = np.concatenate([gone, back])
            change = pa.array(["delete"] * len(gone) + ["insert"] * len(back), pa.string())
        else:
            keep = np.setdiff1d(np.arange(n, dtype=np.int64), deleted(f.drop))
            if f.change == "_VALUE_KIND":
                kinds = tbl.column("_VALUE_KIND").to_pylist()
                change = pa.array([CHANGE_TYPES.get(int(k), "insert") for k in kinds], pa.string())
            elif f.change == "_change_type":
                change = tbl.column("_change_type").combine_chunks()
            else:
                change = pa.array([f.change] * n, pa.string())
            change = change.take(pa.array(keep))
        if not len(keep):
            return
        idx = pa.array(keep, pa.int64())
        yield self._batch([values[field.name].take(idx) for field in self.fields], change, partition.commit)

    def _batch(self, arrays: list, change, commit):
        import pyarrow as pa

        commit_type = to_arrow_type(T.LongType() if self.feed.commit_type is int else T.StringType())
        return pa.RecordBatch.from_arrays(
            arrays + [change, pa.array([commit] * len(change), commit_type)],
            [field.name for field in self.fields] + ["_change_type", self.commit_name],
        )


class ChangeFeedSource(DataSource):
    """A readStream change feed; subclasses give the format name and the
    commit column. spark.readStream.format(<name>).option("path", dir)"""

    commit_column: T.StructField

    def schema(self) -> T.StructType:
        base_path = (self.options.get("path") or "").rstrip("/")
        return change_schema(FEEDS[self.name()].schema(base_path), self.commit_column)

    def streamReader(self, schema: T.StructType) -> ChangeFeedStreamReader:
        return ChangeFeedStreamReader(self.name(), schema, dict(self.options))
