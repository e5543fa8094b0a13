"""`spark.readStream.format("iceberg_cdc")` — Structured-Streaming
changelog source for Iceberg tables (Python Data Source API).

The delta_cdf source's sibling, enabled by r6's pure-python Avro OCF
codec: offsets and per-snapshot planning replay the HadoopTables
metadata tree (version-hint -> metadata.json -> manifest-list ->
manifests) entirely in python in the data-source driver worker — live
entries, their inherited sequence numbers and row ids and the
partition-spec mapping all come from model/iceberg_manifests, as for
the batch source — and each planned partition reads
its parquet executor-side with pyarrow, applying position-delete
sources through the batch source's `delete_file_positions`
(position-delete parquets split per data file, v3 puffin
deletion-vector blobs via model/puffin).

Semantics mirror sources/iceberg_source.read_iceberg_cdc (the
changelog-scan derivation): added data files -> inserts of their
visible rows; removed files -> deletes of rows visible under the
PARENT's delete state; carried files whose applicable position-set
changed -> deletes of newly covered positions / inserts of restored
ones. Iceberg logs updates as delete+insert pairs, so `update_*` types
never occur. Offsets follow the PARENT CHAIN ({"snapshot": id} —
snapshot ids are random and must never be ordered numerically); an
expired parent refuses rather than restating the table as inserts.

Which delete files apply to which data file is decided by the batch
source's rules (`position_delete_applies`, and `equality_delete_applies`:
the spec's STRICT data_seq < delete_seq rule with partition scoping, a
partition-less delete file applying globally). EQUALITY deletes then
resolve per file with a pure-python, null-safe value match against the
file's resolved columns — the per-file-bounded twin of the batch
reader's distributed null-safe join. Nested equality columns refuse
loudly (same as batch).

Register per-session:  spark.dataSource.register(IcebergCDCDataSource)
then  spark.readStream.format("iceberg_cdc").option("path", p).load().
"""

from __future__ import annotations

import json
from typing import Optional

import numpy as np

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from incubator_xtable_spark.model.iceberg_manifests import live_entries, snapshot_by_id
from incubator_xtable_spark.sources.iceberg_source import (
    delete_file_positions,
    dv_reference,
    equality_delete_applies,
    is_equality_delete,
    position_delete_applies,
)
from incubator_xtable_spark.streaming.cdf_datasource import _arrow_type, _pv_value

# ---------------------------------------------------------------------------
# Pure-python metadata replay
# ---------------------------------------------------------------------------


# the delete-file fields `delete_file_positions` reads, carried in a plan
_POSITION_FILE_KEYS = (
    "file_path",
    "file_format",
    "referenced_data_file",
    "content_offset",
    "content_size_in_bytes",
)


def _py_meta(base_path: str) -> dict:
    from incubator_xtable_spark.targets.iceberg_target import read_table_metadata

    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    return meta


def _delete_sources(
    deletes: list[dict], file_path: str, data_seq: int, file_partition: Optional[dict] = None
) -> list[dict]:
    """Metadata-sized descriptors of every delete source applicable to
    ``file_path`` at ``data_seq``, under the batch source's rules
    (`position_delete_applies`, `equality_delete_applies`)."""
    out = []
    for e in deletes:
        df = e["data_file"]
        if is_equality_delete(e):
            if not equality_delete_applies(e, data_seq, file_partition):
                continue
            ids = sorted(df.get("equality_ids") or [])
            if not ids:
                raise ValueError(
                    f"equality delete file {df['file_path']} has no equality_ids"
                )
            out.append({"kind": "eqfile", "path": df["file_path"], "eq_ids": ids})
        elif position_delete_applies(e, data_seq) and dv_reference(df) in (None, file_path):
            out.append({"kind": "position", "file": {k: df.get(k) for k in _POSITION_FILE_KEYS}})
    return out


def _plan_snapshot(meta: dict, snapshot_id: int) -> list[dict]:
    snap = snapshot_by_id(meta, snapshot_id)
    if snap is None:
        raise ValueError(f"no snapshot {snapshot_id}")
    if (snap.get("summary") or {}).get("operation") == "replace":
        # replace = layout-only rewrite (compaction): no logical changes
        return []
    parent = snap.get("parent-snapshot-id")
    if parent is not None and snapshot_by_id(meta, parent) is None:
        raise ValueError(
            f"snapshot {snapshot_id}'s parent {parent} has been expired; "
            "its changelog can no longer be derived"
        )
    cur_data, cur_dels = live_entries(meta, snapshot_id)
    prev_data, prev_dels = live_entries(meta, parent) if parent is not None else ([], [])
    cur_by_path = {e["data_file"]["file_path"]: e for e in cur_data}
    prev_by_path = {e["data_file"]["file_path"]: e for e in prev_data}

    def unit(e, kind_extra) -> dict:
        df = e["data_file"]
        fmt = (df.get("file_format") or "PARQUET").upper()
        if fmt != "PARQUET":
            # partition readers parse data files with pyarrow.parquet;
            # refuse at PLAN time naming the file, never mis-parse
            raise NotImplementedError(
                f"iceberg_cdc stream: data file {df['file_path']!r} has "
                f"format {fmt}; row-level reads are parquet-only"
            )
        return dict(
            path=df["file_path"],
            pv={
                k: (v if v is None else str(v))
                for k, v in (df.get("partition") or {}).items()
            },
            **kind_extra,
        )

    units: list[dict] = []
    for p, e in cur_by_path.items():
        seq = e["sequence_number"]
        part = e["data_file"].get("partition")
        if p not in prev_by_path:
            units.append(
                unit(
                    e,
                    {
                        "kind": "rows",
                        "change": "insert",
                        "drop": _delete_sources(cur_dels, p, seq, part),
                    },
                )
            )
    for p, e in prev_by_path.items():
        seq = e["sequence_number"]
        part = e["data_file"].get("partition")
        if p not in cur_by_path:
            units.append(
                unit(
                    e,
                    {
                        "kind": "rows",
                        "change": "delete",
                        "drop": _delete_sources(prev_dels, p, seq, part),
                    },
                )
            )
        else:
            cur_e = cur_by_path[p]
            cur_seq = cur_e["sequence_number"]
            cur_part = cur_e["data_file"].get("partition")
            cur_src = _delete_sources(cur_dels, p, cur_seq, cur_part)
            prev_src = _delete_sources(prev_dels, p, seq, part)
            if cur_src != prev_src:
                units.append(
                    unit(cur_e, {"kind": "pos_diff", "cur": cur_src, "prev": prev_src})
                )
    return units


# ---------------------------------------------------------------------------
# The data source
# ---------------------------------------------------------------------------


class _Part(InputPartition):
    def __init__(self, payload: str) -> None:
        self.payload = payload


def _eq_positions(
    sources: list[dict],
    cols: dict,
    schema: T.StructType,
    part_cols: list[str],
    pv: dict,
    n: int,
) -> set:
    """Row indices matching any equality-delete tuple: per-file
    pure-python value match, null-safe (None == None matches, the spec
    rule), identity partition columns compared against the file's
    constant partition value. ``cols`` holds the file's RESOLVED column
    arrays (field-id / name-mapping resolution already applied)."""
    import pyarrow.parquet as pq

    from incubator_xtable_spark.streaming.cdf_datasource import _pv_value

    by_fid = {(f.metadata or {}).get("xtable.fieldId"): f for f in schema.fields}
    out: set[int] = set()
    for s in sources:
        fields = []
        for fid in s["eq_ids"]:
            f = by_fid.get(fid)
            if f is None:
                raise ValueError(
                    f"equality delete references field id {fid} that is not "
                    "a top-level column; nested equality columns are not "
                    "supported"
                )
            fields.append(f)
        dtbl = pq.read_table(s["path"], columns=[f.name for f in fields])
        if len(dtbl) == 0:
            continue
        del_set = set(zip(*[dtbl.column(f.name).to_pylist() for f in fields]))
        data_cols = []
        for f in fields:
            if f.name in part_cols:
                data_cols.append([_pv_value(pv.get(f.name), f.dataType)] * n)
            else:
                data_cols.append(cols[f.name].to_pylist())
        for i, tup in enumerate(zip(*data_cols)):
            if tup in del_set:
                out.add(i)
    return out


def _positions_from(sources: list[dict], file_path: str) -> set:
    out: set[int] = set()
    for s in sources:
        if s["kind"] == "position":  # eqfile: resolved by _eq_positions
            out.update(delete_file_positions(s["file"]).get(file_path, np.empty(0)).tolist())
    return out


def _snapshot_data_bytes(snapshot: dict) -> int:
    """Planned data bytes of one snapshot from its summary
    (added-files-size + removed-files-size, the standard Iceberg summary
    keys — the engine's own target writes them since r8). Snapshots
    without size summaries count 0 (best-effort pacing)."""
    summary = snapshot.get("summary") or {}
    total = 0
    for key in ("added-files-size", "removed-files-size"):
        try:
            total += int(summary.get(key) or 0)
        except (TypeError, ValueError):
            pass
    return total


class IcebergCDCStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict) -> None:
        self.base_path = (options.get("path") or "").rstrip("/")
        if not self.base_path:
            raise ValueError("iceberg_cdc requires .option('path', <table dir>)")
        meta = _py_meta(self.base_path)
        raw = options.get("startingsnapshot", options.get("startingSnapshot"))
        self.starting = int(raw) if raw is not None else None
        # best-effort micro-batch pacing; see cdf_datasource for the
        # floor-tracking contract and its restart caveat
        from incubator_xtable_spark.streaming.pacing import read_pacing_options

        self.max_per_trigger, self.max_bytes_per_trigger = read_pacing_options(options)
        self._floor = self.starting
        from incubator_xtable_spark.model.core import PartitionTransformType
        from incubator_xtable_spark.sources.iceberg_source import (
            iceberg_fields_to_schema,
        )
        from incubator_xtable_spark.functions.partition_transforms import (
            from_iceberg_transform,
        )

        schema_json = next(
            s
            for s in meta["schemas"]
            if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
        )
        self.table_schema = iceberg_fields_to_schema(schema_json["fields"])
        spec = next(
            s
            for s in meta["partition-specs"]
            if s.get("spec-id", 0) == meta.get("default-spec-id", 0)
        )
        id_to_name = {f["id"]: f["name"] for f in schema_json["fields"]}
        self.part_cols = [
            f["name"]
            for f in spec.get("fields", [])
            if from_iceberg_transform(
                f.get("transform", "identity"), id_to_name.get(f.get("source-id"), f["name"])
            ).transform
            == PartitionTransformType.VALUE
        ]
        self.name_mapping = (meta.get("properties") or {}).get(
            "schema.name-mapping.default"
        )

    # -- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        return {"snapshot": self.starting}

    def latestOffset(self) -> dict:
        from incubator_xtable_spark.streaming.pacing import paced_head

        meta = _py_meta(self.base_path)
        cur = meta.get("current-snapshot-id")
        latest = cur if cur is not None else self.starting
        if (
            self.max_per_trigger is not None or self.max_bytes_per_trigger is not None
        ) and cur is not None:
            by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
            chain, c = [], cur
            while c is not None and c != self._floor:
                chain.append(c)
                c = (by_id.get(c) or {}).get("parent-snapshot-id")
            if c == self._floor or self._floor is None:
                ordered = list(reversed(chain))
                head = paced_head(
                    ordered,
                    lambda sid: _snapshot_data_bytes(by_id.get(sid) or {}),
                    self.max_per_trigger,
                    self.max_bytes_per_trigger,
                )
                if head is not None:
                    latest = head
                elif self._floor is not None:
                    latest = self._floor
            # else: floor no longer on the chain — no pacing this round;
            # partitions() raises the expiry error with the full context
        if latest is not None:
            self._floor = latest
        return {"snapshot": latest}

    def partitions(self, start: dict, end: dict):
        if end.get("snapshot") is not None:
            self._floor = end["snapshot"]
        meta = _py_meta(self.base_path)
        stop = start.get("snapshot")
        chain: list[int] = []
        cur = end.get("snapshot")
        by_id = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
        while cur is not None and cur != stop:
            snap = by_id.get(cur)
            if snap is None:
                raise ValueError(
                    f"cursor snapshot {stop} is no longer in the chain (expired); "
                    "restart the stream without a cursor"
                )
            chain.append(cur)
            cur = snap.get("parent-snapshot-id")
        parts = []
        for sid in reversed(chain):
            for u in _plan_snapshot(meta, sid):
                payload = dict(
                    u,
                    snapshot=sid,
                    part_cols=self.part_cols,
                    name_mapping=self.name_mapping,
                    schema_json=self.table_schema.jsonValue(),
                )
                parts.append(_Part(json.dumps(payload)))
        return parts or [_Part(json.dumps({"kind": "empty"}))]

    def commit(self, end: dict) -> None:
        pass

    # -- executor read ----------------------------------------------------

    def read(self, partition: _Part):
        import pyarrow as pa
        import pyarrow.parquet as pq

        u = json.loads(partition.payload)
        if u.get("kind") == "empty":
            return iter(())
        schema = T.StructType.fromJson(u["schema_json"])
        part_cols = u["part_cols"]
        data_fields = [f for f in schema.fields if f.name not in part_cols]
        tbl = pq.read_table(u["path"])
        file_schema = tbl.schema
        by_fid = {}
        for f in file_schema:
            if f.metadata and b"PARQUET:field_id" in f.metadata:
                by_fid[int(f.metadata[b"PARQUET:field_id"])] = f.name
        nm_candidates: dict[int, list[str]] = {}
        if u.get("name_mapping"):
            for m in json.loads(u["name_mapping"]):
                nm_candidates[m.get("field-id")] = m.get("names") or []
        cols = {}
        for f in data_fields:
            fid = (f.metadata or {}).get("xtable.fieldId")
            stored = None
            if by_fid and fid in by_fid:  # field-id resolution (spec rule 1)
                stored = by_fid[fid]
            else:  # name mapping, then logical name
                for cand in nm_candidates.get(fid, []) + [f.name]:
                    if cand in file_schema.names:
                        stored = cand
                        break
            if stored is not None:
                cols[f.name] = tbl.column(stored)
            else:
                cols[f.name] = pa.nulls(len(tbl), _arrow_type(f.dataType))

        n = len(tbl)

        def resolved(sources) -> set:
            out = _positions_from(sources, u["path"])
            eqs = [s for s in sources if s["kind"] == "eqfile"]
            if eqs:
                out |= _eq_positions(eqs, cols, schema, part_cols, u["pv"], n)
            return out

        if u["kind"] == "rows":
            drop = resolved(u.get("drop") or [])
            keep = [i for i in range(n) if i not in drop]
            change = [u["change"]] * len(keep)
        else:  # pos_diff
            cur = resolved(u.get("cur") or [])
            prev = resolved(u.get("prev") or [])
            deleted = sorted(cur - prev)
            restored = sorted(prev - cur)
            keep = deleted + restored
            change = ["delete"] * len(deleted) + ["insert"] * len(restored)
        if not keep:
            return iter(())
        idx = pa.array(keep, type=pa.int64())
        out_arrays = []
        out_names = []
        for f in schema.fields:
            if f.name in part_cols:
                val = _pv_value(u["pv"].get(f.name), f.dataType)
                out_arrays.append(
                    pa.array([val] * len(keep), type=_arrow_type(f.dataType))
                )
            else:
                out_arrays.append(cols[f.name].take(idx).combine_chunks())
            out_names.append(f.name)
        out_arrays.append(pa.array(change, type=pa.string()))
        out_names.append("_change_type")
        out_arrays.append(
            pa.array([int(u["snapshot"])] * len(keep), type=pa.int64())
        )
        out_names.append("_commit_snapshot_id")
        yield pa.RecordBatch.from_arrays(out_arrays, out_names)


class IcebergCDCDataSource(DataSource):
    """spark.readStream.format("iceberg_cdc").option("path", dir).load()"""

    @classmethod
    def name(cls) -> str:
        return "iceberg_cdc"

    def schema(self) -> T.StructType:
        from incubator_xtable_spark.sources.iceberg_source import (
            iceberg_fields_to_schema,
        )

        meta = _py_meta((self.options.get("path") or "").rstrip("/"))
        schema_json = next(
            s
            for s in meta["schemas"]
            if s.get("schema-id", 0) == meta.get("current-schema-id", 0)
        )
        schema = iceberg_fields_to_schema(schema_json["fields"])
        fields = [T.StructField(f.name, f.dataType, f.nullable) for f in schema.fields]
        return T.StructType(
            fields
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_snapshot_id", T.LongType()),
            ]
        )

    def streamReader(self, schema: T.StructType) -> IcebergCDCStreamReader:
        return IcebergCDCStreamReader(schema, dict(self.options))
