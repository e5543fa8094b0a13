"""`spark.readStream.format("paimon_changelog")` — Structured-Streaming
changelog source for Paimon tables (Python Data Source API).

Fourth member of the readStream family (delta_cdf / iceberg_cdc /
hudi_cdc). Offsets are Paimon's sequential snapshot ids; planning
replays snapshot JSON + avro manifests entirely in python (the pure OCF
codec in model/avro_codec, BinaryRow partitions via
model/paimon_binary), and each partition reads its changelog/data
parquet executor-side with pyarrow.

Semantics mirror sources/paimon_source.read_paimon_changelog:
1. the snapshot's changelogManifestList files (changelog-producer
   input/lookup/full-compaction) — rows carry RowKind as the leading
   `_VALUE_KIND` tinyint (0 insert / 1 update_preimage /
   2 update_postimage / 3 delete);
2. append-only APPEND commits without changelog manifests stream their
   delta files as inserts (Paimon's own changelog-producer=none
   fallback);
3. PK deltas without a changelog producer refuse loudly — those files
   are compaction artifacts, not row changes.

An expired snapshot range after the cursor refuses (same contract as
cdc_stream); Paimon data files store every column including partition
keys, so no partition-value attach is needed.

Register per-session: spark.dataSource.register(PaimonChangelogDataSource)
then spark.readStream.format("paimon_changelog").option("path", p).load().
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


def _src(base_path: str):
    """Read-only PaimonConversionSource (spark=None — metadata methods
    are pure python: manifests read through model/avro_codec)."""
    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

    return PaimonConversionSource(None, base_path)


def _plan_snapshot(base_path: str, snapshot_id: int) -> list[dict]:
    from incubator_xtable_spark.sources.paimon_source import FILE_KIND_ADD

    src = _src(base_path)
    snap = src._snapshot(snapshot_id)
    sch = src._schema(snap.get("schemaId", 0))
    cl_list = snap.get("changelogManifestList")
    cl_entries = [
        e
        for e in (src._entries_for_lists([cl_list]) if cl_list else [])
        if e["_KIND"] == FILE_KIND_ADD
    ]
    if cl_entries:
        return [
            {"kind": "cl", "path": src._entry_abs_path(e, sch)} for e in cl_entries
        ]
    if snap.get("commitKind") == "COMPACT":
        # layout-only rewrite: an empty changelog, never an error
        return []
    if sch.get("primaryKeys") or snap.get("commitKind") != "APPEND":
        raise ValueError(
            f"snapshot {snapshot_id} has no changelog manifests and its "
            "delta files are not row changes (PK table or non-APPEND "
            "commit); enable a changelog producer on the source table"
        )
    entries = [
        e
        for e in src._entries_for_lists([snap.get("deltaManifestList") or ""])
        if e["_KIND"] == FILE_KIND_ADD
    ]
    return [{"kind": "rows", "path": src._entry_abs_path(e, sch)} for e in entries]


def _snapshot_data_bytes(base_path: str, snapshot_id: int) -> int:
    """Planned data bytes of one snapshot: _FILE_SIZE over its changelog
    (or delta) manifests' ADD entries — metadata-sized avro reads only.
    Missing/expired snapshots count 0 (partitions() raises the real
    expiry error with context)."""
    from incubator_xtable_spark.sources.paimon_source import FILE_KIND_ADD

    src = _src(base_path)
    try:
        snap = src._snapshot(snapshot_id)
    except (OSError, ValueError):
        return 0
    lists = [snap.get("changelogManifestList") or snap.get("deltaManifestList") or ""]
    total = 0
    for e in src._entries_for_lists([l for l in lists if l]):
        if e["_KIND"] == FILE_KIND_ADD:
            total += int(e["_FILE"]["_FILE_SIZE"] or 0)
    return total


class _Part(InputPartition):
    def __init__(self, payload: str) -> None:
        self.payload = payload


class PaimonChangelogStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict) -> None:
        self.base_path = (options.get("path") or "").rstrip("/")
        if not self.base_path:
            raise ValueError("paimon_changelog requires .option('path', <table dir>)")
        raw = options.get("startingsnapshot", options.get("startingSnapshot"))
        src = _src(self.base_path)
        latest = src.latest_snapshot_id()
        if latest is None:
            raise ValueError(f"not a paimon table (no snapshots): {self.base_path}")
        self.starting = int(raw) if raw is not None else 0
        # best-effort micro-batch pacing; see cdf_datasource for the
        # floor-tracking contract and its restart caveat
        from incubator_xtable_spark.streaming.pacing import read_pacing_options

        self.max_per_trigger, self.max_bytes_per_trigger = read_pacing_options(options)
        self._size_cache: dict = {}  # completed-commit bytes are immutable
        self._floor = self.starting
        self.table_schema = src.get_table(latest).read_schema

    def initialOffset(self) -> dict:
        return {"snapshot": self.starting}

    def latestOffset(self) -> dict:
        from incubator_xtable_spark.streaming.pacing import memoized_sizer, paced_head

        latest = _src(self.base_path).latest_snapshot_id()
        latest = latest if latest is not None else self.starting
        if self.max_per_trigger is not None or self.max_bytes_per_trigger is not None:
            ahead = list(range(self._floor + 1, latest + 1))
            head = paced_head(
                ahead,
                memoized_sizer(self._size_cache, lambda sid: _snapshot_data_bytes(self.base_path, sid)),
                self.max_per_trigger,
                self.max_bytes_per_trigger,
            )
            latest = head if head is not None else min(latest, self._floor)
        self._floor = max(self._floor, latest)
        return {"snapshot": latest}

    def partitions(self, start: dict, end: dict):
        self._floor = max(self._floor, int(end.get("snapshot") or 0))
        src = _src(self.base_path)
        floor = int(start.get("snapshot") or 0)
        ceil = int(end.get("snapshot") or 0)
        earliest = src.earliest_snapshot_id()
        if earliest is not None and floor + 1 < earliest and floor + 1 <= ceil:
            raise ValueError(
                f"snapshots {floor + 1}..{earliest - 1} after the cursor have "
                "expired; restart the stream without a cursor"
            )
        parts = []
        for sid in range(max(floor + 1, earliest or 1), ceil + 1):
            for u in _plan_snapshot(self.base_path, sid):
                payload = dict(
                    u, snapshot=sid, schema_json=self.table_schema.jsonValue()
                )
                parts.append(_Part(json.dumps(payload)))
        return parts or [_Part(json.dumps({"kind": "empty"}))]

    def commit(self, end: dict) -> None:
        pass

    def read(self, partition: _Part):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from incubator_xtable_spark.streaming.cdf_datasource import _arrow_type

        u = json.loads(partition.payload)
        if u.get("kind") == "empty":
            return iter(())
        schema = T.StructType.fromJson(u["schema_json"])
        tbl = pq.read_table(u["path"])
        n = len(tbl)
        if u["kind"] == "cl":
            kinds = tbl.column("_VALUE_KIND").to_pylist()
            mapping = {0: "insert", 1: "update_preimage", 2: "update_postimage", 3: "delete"}
            change = [mapping.get(int(k), "insert") for k in kinds]
        else:
            change = ["insert"] * n
        out_arrays, out_names = [], []
        for f in schema.fields:
            if f.name in tbl.column_names:
                out_arrays.append(tbl.column(f.name).combine_chunks())
            else:
                out_arrays.append(pa.nulls(n, _arrow_type(f.dataType)))
            out_names.append(f.name)
        out_arrays.append(pa.array(change, type=pa.string()))
        out_names.append("_change_type")
        out_arrays.append(pa.array([int(u["snapshot"])] * n, type=pa.int64()))
        out_names.append("_commit_snapshot_id")
        yield pa.RecordBatch.from_arrays(out_arrays, out_names)


class PaimonChangelogDataSource(DataSource):
    """spark.readStream.format("paimon_changelog").option("path", d).load()"""

    @classmethod
    def name(cls) -> str:
        return "paimon_changelog"

    def schema(self) -> T.StructType:
        base = (self.options.get("path") or "").rstrip("/")
        src = _src(base)
        latest = src.latest_snapshot_id()
        if latest is None:
            raise ValueError(f"not a paimon table (no snapshots): {base}")
        schema = src.get_table(latest).read_schema
        fields = [T.StructField(f.name, f.dataType, f.nullable) for f in schema.fields]
        return T.StructType(
            fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_snapshot_id", T.LongType()),
            ]
        )

    def streamReader(self, schema: T.StructType) -> PaimonChangelogStreamReader:
        return PaimonChangelogStreamReader(schema, dict(self.options))
