"""`spark.readStream.format("delta_cdf")` — a REAL Structured-Streaming
source for Delta Change Data Feeds, built on the Python Data Source API
(pyspark.sql.datasource, Spark 4).

Why this exists next to streaming/cdc_stream.py's checkpointed driver:
the Python data-source runners execute in dedicated worker processes
with NO SparkSession, so the engine's DataFrame-based CDC reads cannot
run there. This source instead re-implements the Delta CDF read in
PURE PYTHON on top of the same public spec, split the way Spark wants:

- driver side (offsets + planning): the engine's one Delta log replay
  (`delta_source.log_replay` and its folds: checkpoint parquet(s) via
  pyarrow plus the JSON tail, no SparkSession needed); each new commit
  plans into partition descriptors
  (file path, partition values, change type, DV descriptors). Payloads
  stay metadata-sized — positions are NOT expanded at planning time.
- executor side (read): each partition reads its parquet with pyarrow,
  applies deletion-vector position sets (sources/delta_dv's pure-python
  Z85+roaring codec), attaches typed partition columns and the CDF
  metadata columns, and yields ARROW batches. Reads distribute across
  Spark's python workers — this is a scalable source, not a
  driver-funnel.

Spark contributes exactly-once offset tracking, checkpointing and
triggers (processingTime and availableNow) for free — the properties
the foreachBatch driver had to re-implement.

Semantics mirror sources/delta_source.read_delta_cdf (the spec's CDF
read rules): explicit cdc actions win; otherwise add/remove/DV-diff
derivation. Column mapping: mode=name resolves physical names,
mode=id resolves parquet field ids (pyarrow footer metadata). Offsets
are `{"version": <last planned commit>}`; option `startingVersion`
(default 0) picks the first commit to emit.

Register per-session:  spark.dataSource.register(DeltaCDFDataSource)
then  spark.readStream.format("delta_cdf").option("path", p).load().
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _log_dir(base_path: str) -> str:
    return os.path.join(base_path, "_delta_log")


# ---------------------------------------------------------------------------
# Commit planning -> partition payloads
# ---------------------------------------------------------------------------


def _plan_commit(base_path: str, version: int) -> list[dict]:
    """One commit's CDF as partition payloads (metadata-sized; DV
    positions stay as descriptors, decoded executor-side). Mirrors the
    derivation in delta_source.read_delta_cdf."""
    commit_file = os.path.join(_log_dir(base_path), f"{version:020d}.json")
    if not os.path.exists(commit_file):
        raise ValueError(
            f"commit {version} has no retained JSON file (expired or "
            "compacted); CDF streaming needs the commit's own actions"
        )
    actions = [json.loads(l) for l in open(commit_file, encoding="utf-8") if l.strip()]
    units: list[dict] = []

    cdc = [a["cdc"] for a in actions if a.get("cdc")]
    if cdc:
        for c in cdc:
            units.append(
                {
                    "kind": "cdc",
                    "path": c["path"],
                    "pv": c.get("partitionValues") or {},
                }
            )
        return units

    adds = {
        a["add"]["path"]: a["add"]
        for a in actions
        if a.get("add") and a["add"].get("dataChange", True)
    }
    removes = {
        a["remove"]["path"]: a["remove"]
        for a in actions
        if a.get("remove") and a["remove"].get("dataChange", True)
    }
    pair_paths = sorted(set(adds) & set(removes))
    prev: dict[str, dict] = {}
    if (pair_paths or removes) and version > 0:
        from incubator_xtable_spark.sources.delta_source import live_adds

        prev = live_adds(base_path, version - 1)

    for p in pair_paths:  # DV-update shape: row-level diff
        new_dv = adds[p].get("deletionVector")
        old_dv = (prev.get(p) or {}).get("deletionVector")
        pv = adds[p].get("partitionValues") or {}
        units.append(
            {
                "kind": "dv_diff",
                "path": p,
                "pv": pv,
                "new_dv": new_dv,
                "old_dv": old_dv,
            }
        )
    for p, a in adds.items():
        if p in removes:
            continue
        units.append(
            {
                "kind": "rows",
                "path": p,
                "pv": a.get("partitionValues") or {},
                "change": "insert",
                "drop_dv": a.get("deletionVector"),
            }
        )
    for p, r in removes.items():
        if p in adds:
            continue
        st = prev.get(p) or {}
        units.append(
            {
                "kind": "rows",
                "path": p,
                "pv": r.get("partitionValues") or st.get("partitionValues") or {},
                "change": "delete",
                "drop_dv": st.get("deletionVector"),
            }
        )
    return units


# ---------------------------------------------------------------------------
# Executor-side arrow read
# ---------------------------------------------------------------------------


def _positions(base_path: str, desc: Optional[dict]):
    if not desc or not desc.get("storageType"):
        return set()
    from incubator_xtable_spark.sources.delta_dv import read_dv_positions

    return set(int(x) for x in read_dv_positions(base_path, desc))


def _pv_value(raw: Optional[str], dt: T.DataType):
    """Hive-string partition value -> python value of the logical type."""
    import datetime

    if raw is None:
        return None
    if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
        return int(raw)
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(raw)
    if isinstance(dt, T.BooleanType):
        return raw.lower() == "true"
    if isinstance(dt, T.DateType):
        return datetime.date.fromisoformat(raw)
    return raw


def _arrow_type(dt: T.DataType):
    import pyarrow as pa

    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.ShortType):
        return pa.int16()
    if isinstance(dt, T.ByteType):
        return pa.int8()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.DateType):
        return pa.date32()
    if isinstance(dt, (T.TimestampType,)):
        return pa.timestamp("us", tz="UTC")
    if isinstance(dt, T.TimestampNTZType):
        return pa.timestamp("us")
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    if isinstance(dt, T.DecimalType):
        return pa.decimal128(dt.precision, dt.scale)
    return pa.string()


def _version_at_or_after(base_path: str, ts: str) -> int:
    """startingTimestamp -> the first commit version whose
    commitInfo.timestamp (fallback: commit-file mtime) is >= ts
    (ISO date/datetime or epoch millis); past-the-end if none qualify —
    only future commits stream."""
    import datetime

    from incubator_xtable_spark.sources.delta_source import list_log_versions

    raw = ts.strip()
    if raw.isdigit():
        target_ms = int(raw)
    else:
        dt = datetime.datetime.fromisoformat(raw)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=datetime.timezone.utc)
        target_ms = int(dt.timestamp() * 1000)
    versions = list_log_versions(base_path)
    for v in versions:
        p = os.path.join(_log_dir(base_path), f"{v:020d}.json")
        commit_ms = None
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                a = json.loads(line)
                if a.get("commitInfo") and a["commitInfo"].get("timestamp") is not None:
                    commit_ms = int(a["commitInfo"]["timestamp"])
                    break
        if commit_ms is None:
            commit_ms = int(os.path.getmtime(p) * 1000)
        if commit_ms >= target_ms:
            return v
    return (versions[-1] + 1) if versions else 0


def _commit_data_bytes(base_path: str, version: int) -> int:
    """Planned data bytes of one commit from its OWN json: dataChange add
    sizes + CDC file sizes (metadata read only — no file stats)."""
    commit_file = os.path.join(_log_dir(base_path), f"{version:020d}.json")
    if not os.path.exists(commit_file):
        return 0
    total = 0
    with open(commit_file, encoding="utf-8") as fh:
        for line in fh:
            if not line.strip():
                continue
            a = json.loads(line)
            if a.get("add") and a["add"].get("dataChange", True):
                total += int(a["add"].get("size") or 0)
            elif a.get("cdc"):
                total += int(a["cdc"].get("size") or 0)
    return total


class _CDFPartition(InputPartition):
    def __init__(self, payload: str) -> None:
        self.payload = payload


class DeltaCDFStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict) -> None:
        self.base_path = (options.get("path") or "").rstrip("/")
        if not self.base_path:
            raise ValueError("delta_cdf requires .option('path', <table dir>)")
        self.starting = int(options.get("startingversion", options.get("startingVersion", 0)))
        raw_ts = options.get("startingtimestamp", options.get("startingTimestamp"))
        if raw_ts is not None:
            self.starting = _version_at_or_after(self.base_path, raw_ts)
        # maxCommitsPerTrigger: bound each micro-batch to N commits —
        # the scale lever for draining a large backlog in paced batches
        # instead of one giant one. Best-effort per the Python API's
        # limits (latestOffset carries no start): the floor advances
        # from each batch's own planning, so the first batch after a
        # RESTART with a fully-committed checkpoint is unpaced, then
        # pacing resumes. With Trigger.AvailableNow, Spark samples
        # latestOffset ONCE per run, so the option bounds the RUN to N
        # commits — repeated availableNow runs against one checkpoint
        # drain the backlog N commits at a time (bounded catch-up).
        from incubator_xtable_spark.streaming.pacing import read_pacing_options

        self.max_per_trigger, self.max_bytes_per_trigger = read_pacing_options(options)
        self._size_cache: dict = {}  # completed-commit bytes are immutable
        self._floor = self.starting - 1
        self.schema = schema
        from incubator_xtable_spark.sources.delta_source import latest_action

        meta = latest_action(self.base_path, "metaData")
        if meta is None:
            raise ValueError(f"not a delta table (no metaData): {self.base_path}")
        self.table_schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        self.cm_mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        self.part_cols = list(meta.get("partitionColumns") or [])

    # -- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"version": self.starting - 1}

    def latestOffset(self) -> dict:
        from incubator_xtable_spark.sources.delta_source import list_log_versions
        from incubator_xtable_spark.streaming.pacing import memoized_sizer, paced_head

        versions = list_log_versions(self.base_path)
        latest = versions[-1] if versions else self.starting - 1
        ahead = [v for v in versions if v > self._floor]
        head = paced_head(
            ahead,
            memoized_sizer(self._size_cache, lambda v: _commit_data_bytes(self.base_path, v)),
            self.max_per_trigger,
            self.max_bytes_per_trigger,
        )
        if head is not None:
            latest = min(latest, head)
        self._floor = max(self._floor, latest)
        return {"version": latest}

    def partitions(self, start: dict, end: dict):
        self._floor = max(self._floor, int(end["version"]))
        parts = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            for unit in _plan_commit(self.base_path, v):
                payload = dict(
                    unit,
                    version=v,
                    base=self.base_path,
                    cm_mode=self.cm_mode,
                    part_cols=self.part_cols,
                    schema_json=self.table_schema.jsonValue(),
                )
                parts.append(_CDFPartition(json.dumps(payload)))
        return parts or [_CDFPartition(json.dumps({"kind": "empty"}))]

    def commit(self, end: dict) -> None:
        pass

    # -- executor read ----------------------------------------------------

    def read(self, partition: _CDFPartition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        u = json.loads(partition.payload)
        if u.get("kind") == "empty":
            return iter(())
        base = u["base"]
        schema = T.StructType.fromJson(u["schema_json"])
        part_cols = u["part_cols"]
        version = u["version"]
        data_fields = [f for f in schema.fields if f.name not in part_cols]
        tbl = pq.read_table(os.path.join(base, u["path"]))

        # column-mapping resolution: physical name (mode=name/id) or
        # parquet field id (mode=id when the footer stores ids)
        file_schema = tbl.schema
        by_fid = {}
        for f in file_schema:
            if f.metadata and b"PARQUET:field_id" in f.metadata:
                by_fid[int(f.metadata[b"PARQUET:field_id"])] = f.name
        cols = {}
        for f in data_fields:
            meta = f.metadata or {}
            stored = None
            if u["cm_mode"] == "id" and meta.get("delta.columnMapping.id") in by_fid:
                stored = by_fid[meta["delta.columnMapping.id"]]
            elif u["cm_mode"] in ("name", "id"):
                phys = meta.get("delta.columnMapping.physicalName", f.name)
                if phys in file_schema.names:
                    stored = phys
            elif f.name in file_schema.names:
                stored = f.name
            if stored is not None:
                cols[f.name] = tbl.column(stored)
            else:
                cols[f.name] = pa.nulls(len(tbl), _arrow_type(f.dataType))

        n = len(tbl)
        if u["kind"] == "cdc":
            change = tbl.column("_change_type").to_pylist()
            keep = list(range(n))
        elif u["kind"] == "dv_diff":
            new_set = _positions(base, u.get("new_dv"))
            old_set = _positions(base, u.get("old_dv"))
            deleted = sorted(new_set - old_set)
            restored = sorted(old_set - new_set)
            keep = deleted + restored
            change = ["delete"] * len(deleted) + ["insert"] * len(restored)
        else:
            drop = _positions(base, u.get("drop_dv"))
            keep = [i for i in range(n) if i not in drop]
            change = [u["change"]] * len(keep)
        if not keep:
            return iter(())
        idx = pa.array(keep, type=pa.int64())
        out_arrays = []
        out_names = []
        for f in schema.fields:
            if f.name in part_cols:
                # spec: partitionValues key by the PHYSICAL name under
                # column mapping — logical lookup reads null
                pv_key = (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                val = _pv_value(u["pv"].get(pv_key), f.dataType)
                out_arrays.append(
                    pa.array([val] * len(keep), type=_arrow_type(f.dataType))
                )
            else:
                out_arrays.append(cols[f.name].take(idx).combine_chunks())
            out_names.append(f.name)
        out_arrays.append(pa.array(change, type=pa.string()))
        out_names.append("_change_type")
        out_arrays.append(pa.array([version] * len(keep), type=pa.int64()))
        out_names.append("_commit_version")
        yield pa.RecordBatch.from_arrays(out_arrays, out_names)


class DeltaCDFDataSource(DataSource):
    """spark.readStream.format("delta_cdf").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "delta_cdf"

    def schema(self) -> T.StructType:
        base = (self.options.get("path") or "").rstrip("/")
        from incubator_xtable_spark.sources.delta_source import latest_action

        meta = latest_action(base, "metaData")
        if meta is None:
            raise ValueError(f"not a delta table (no metaData): {base}")
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        # strip column-mapping metadata: the OUTPUT schema is logical
        fields = [
            T.StructField(f.name, f.dataType, f.nullable) for f in schema.fields
        ]
        return T.StructType(
            fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
        )

    def streamReader(self, schema: T.StructType) -> DeltaCDFStreamReader:
        return DeltaCDFStreamReader(schema, dict(self.options))
