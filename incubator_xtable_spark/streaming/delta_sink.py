"""Streaming SINK: ``writeStream.format("delta_sink")`` — every
micro-batch's rows land as parquet data files plus ONE real Delta
commit, exactly-once.

This is the WRITE half of the engine's streaming story (the four
readStream CDC sources are the read half): a Python Data Source
``DataSourceStreamWriter`` whose executors write this batch's rows as
parquet files and whose driver ``commit(messages, batchId)`` appends a
single Delta commit holding the add actions PLUS the spec's
SetTransaction action (PROTOCOL.md "Transaction Identifiers"):
``{"txn": {"appId", "version": batchId, "lastUpdated"}}``. On restart,
Spark replays the last uncommitted micro-batch; the driver reads the
latest txn version for its appId from the log (checkpoint-aware —
checkpoints carry the latest txn per appId, see
delta_source.write_checkpoint) and a replayed ``batchId <= watermark``
deletes its freshly written orphan files and commits NOTHING — the
exactly-once contract real Delta streaming sinks implement with the
same action.

Options:
  path       target table directory (required)
  txnAppId   SetTransaction application id (default
             ``delta_sink:<basename(path)>``). Restarts of the same
             query MUST reuse the appId (the query checkpoint already
             pins batchIds); give each distinct query its own appId if
             several stream into one table.

Boundaries (loud, documented): unpartitioned appends with a fixed
schema — a batch whose schema differs from the table's refuses; stats
are numRecords (+ per-column min/max/nullCount for flat primitive
columns). Schema evolution, partitioned layouts and DV-producing
updates belong to the conversion engine, not the ingest sink.

Scale: executors stream Arrow batches to parquet (one file per
non-empty task — size tasks via the upstream trigger/partitioning);
the driver writes ONE commit json per batch (O(files-in-batch) lines)
with the put-if-absent hard-link contract (concurrent writers conflict
loudly, never corrupt). Nothing ever re-lists the table.

Reference behavior anchor: the reference's XTableSyncTool re-lists and
re-syncs metadata after files land (mirrored by streaming/pipeline
.streaming_sync); this sink instead COMMITS the arriving files
directly — no re-listing — which is what a native lakehouse ingest
path does at 100 TB.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _FilesMessage(WriterCommitMessage):
    def __init__(self, files: list) -> None:
        # (file name, size bytes, stats json string)
        self.files = files


class DeltaSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "delta_sink"

    def schema(self) -> str:
        # write-only data source: the schema is the input DataFrame's
        return "placeholder STRING"

    def streamWriter(self, schema: T.StructType, overwrite: bool) -> "DeltaSinkWriter":
        return DeltaSinkWriter(schema, dict(self.options))


def _stats_json(table) -> str:
    """Delta stats for one written file: numRecords + min/max/nullCount
    over FLAT primitive columns (nested/binary skipped — same posture as
    the conversion engine's footer tier for unsupported types)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    for i, field in enumerate(table.schema):
        t = field.type
        col = table.column(i)
        nulls[field.name] = col.null_count
        ok = (
            pa.types.is_integer(t)
            or pa.types.is_floating(t)
            or pa.types.is_string(t)
            or pa.types.is_timestamp(t)
            or pa.types.is_date(t)
            or pa.types.is_boolean(t)
        )
        if not ok:
            del nulls[field.name]  # unsupported type: no stats at all
            continue
        if col.null_count == len(col):
            continue  # all-null: nullCount only, no bounds
        mn = pc.min(col).as_py()
        mx = pc.max(col).as_py()
        if pa.types.is_timestamp(t) or pa.types.is_date(t):
            mn, mx = mn.isoformat(), mx.isoformat()
        mins[field.name] = mn
        maxs[field.name] = mx
    return json.dumps(
        {
            "numRecords": table.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


class DeltaSinkWriter(DataSourceStreamWriter):
    def __init__(self, schema: T.StructType, options: dict) -> None:
        if "path" not in options:
            raise ValueError("delta_sink requires the 'path' option (table directory)")
        self.schema = schema
        self.base_path = options["path"]
        self.app_id = options.get(
            "txnappid", options.get("txnAppId", f"delta_sink:{os.path.basename(self.base_path.rstrip('/'))}")
        )

    # -- executors -----------------------------------------------------
    def write(self, iterator: Iterator) -> WriterCommitMessage:
        import sys as _sys

        if _PKG_ROOT not in _sys.path:
            _sys.path.insert(0, _PKG_ROOT)
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        rows = [tuple(r) for r in iterator]
        if not rows:
            return _FilesMessage([])
        arrow_schema = to_arrow_schema(self.schema)
        pdf = pd.DataFrame.from_records(rows, columns=[f.name for f in self.schema.fields])
        table = pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False)
        name = f"part-{uuid.uuid4().hex}.snappy.parquet"
        dest = os.path.join(self.base_path, name)
        os.makedirs(self.base_path, exist_ok=True)
        pq.write_table(table, dest, compression="snappy")
        return _FilesMessage([(name, os.stat(dest).st_size, _stats_json(table))])

    # -- driver ----------------------------------------------------------
    def _latest_txn_version(self) -> int:
        """The appId's committed watermark: its latest txn.version in the
        log replay (checkpoint included), -1 before its first commit."""
        tx = self._replay().latest_actions(self.base_path, "txn", "appId").get(self.app_id)
        return -1 if tx is None else tx["version"]

    def _existing_metadata(self) -> dict | None:
        return self._replay().latest_action(self.base_path, "metaData")

    @staticmethod
    def _replay():
        """The Delta log replay module, importable from a Python worker."""
        import sys as _sys

        if _PKG_ROOT not in _sys.path:
            _sys.path.insert(0, _PKG_ROOT)
        from incubator_xtable_spark.sources import delta_source

        return delta_source

    def commit(self, messages, batchId: int) -> None:
        files = [f for m in messages if m is not None for f in m.files]
        if batchId <= self._latest_txn_version():
            # replayed micro-batch: the commit already exists — drop the
            # freshly written duplicates and commit nothing (exactly-once)
            for name, _size, _stats in files:
                try:
                    os.unlink(os.path.join(self.base_path, name))
                except FileNotFoundError:
                    pass
            return
        from incubator_xtable_spark.targets.delta_target import current_log_version

        cur = current_log_version(self.base_path)
        version = 0 if cur is None else cur + 1
        now_ms = int(time.time() * 1000)
        meta = self._existing_metadata()
        lines: list[str] = [
            json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now_ms,
                        "operation": "STREAMING UPDATE",
                        "operationParameters": {"queryAppId": self.app_id},
                    }
                }
            )
        ]
        if meta is None:
            lines.append(
                json.dumps({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
            )
            lines.append(
                json.dumps(
                    {
                        "metaData": {
                            "id": str(uuid.uuid4()),
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": self.schema.json(),
                            "partitionColumns": [],
                            "configuration": {},
                            "createdTime": now_ms,
                        }
                    }
                )
            )
        else:
            existing = json.loads(meta["schemaString"])
            incoming = json.loads(self.schema.json())
            if existing != incoming:
                raise ValueError(
                    "delta_sink: micro-batch schema differs from the table's "
                    f"(table {meta['schemaString'][:120]}... vs batch "
                    f"{self.schema.json()[:120]}...); schema evolution is not "
                    "an ingest-sink concern — migrate the table first"
                )
        lines.append(
            json.dumps(
                {"txn": {"appId": self.app_id, "version": batchId, "lastUpdated": now_ms}}
            )
        )
        for name, size, stats in files:
            lines.append(
                json.dumps(
                    {
                        "add": {
                            "path": name,
                            "partitionValues": {},
                            "size": size,
                            "modificationTime": now_ms,
                            "dataChange": True,
                            "stats": stats,
                        }
                    }
                )
            )
        log_dir = os.path.join(self.base_path, "_delta_log")
        os.makedirs(log_dir, exist_ok=True)
        final = os.path.join(log_dir, f"{version:020d}.json")
        tmp = final + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise RuntimeError(
                f"delta_sink: concurrent commit detected for version {version}"
            ) from exc
        finally:
            os.unlink(tmp)

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is None:
                continue
            for name, _size, _stats in m.files:
                try:
                    os.unlink(os.path.join(self.base_path, name))
                except FileNotFoundError:
                    pass
