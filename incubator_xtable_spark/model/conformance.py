"""Spec-conformance checks for converted targets.

The reference validates every converted table by reading it back through
the OFFICIAL format readers (ITConversionController.java:948-1026 reads
targets with the real Delta/Iceberg/Hudi Spark connectors). This
environment has no format jars, so self-reads can mask symmetric
encode/decode bugs. This module is the stand-in gate: structural checks
written directly from the PUBLIC format specifications, parsing the raw
metadata files with independent code paths (own JSON walking, own Z85
decoder, own DV frame reader, own single-value binary decoder) rather
than the engine's writer/reader helpers.

Spec sources (public):
- Delta: delta-io/delta PROTOCOL.md (actions, protocol versions/features,
  deletion vector descriptors and file format, checkpoints, stats).
- Iceberg: the Apache Iceberg table spec v2 (metadata.json fields,
  manifest list + manifest entry fields, sequence-number rules,
  single-value binary serialization for bounds).
- Hudi: the Apache Hudi timeline/commit layout (hoodie.properties,
  requested -> inflight -> completed state machine, commit JSON shape).

Every check appends ConformanceIssue rows instead of raising, so one
corrupt file reports all its problems. Avro container files are read via
the JVM's official Apache Avro library (itself spec-conformant, so it is
an independent decode of files this engine wrote through its own path).

Scale note: conformance walks the metadata plane only (log JSON,
manifests, footers-not-data) — cost is proportional to commit/manifest
count, never to data size; the expensive per-file existence checks are
os.path probes over the bounded live-file list, same posture as
model/validation.py.
"""

from __future__ import annotations

import json
import os
import struct
import uuid as _uuidlib
import zlib
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Result model
# ---------------------------------------------------------------------------


@dataclass
class ConformanceIssue:
    code: str  # stable machine code, e.g. "DELTA_PROTOCOL_MISSING"
    where: str  # file or file:line-ish locator
    detail: str


@dataclass
class ConformanceReport:
    base_path: str
    table_format: str
    issues: list[ConformanceIssue] = field(default_factory=list)
    checked_files: int = 0

    @property
    def passed(self) -> bool:
        return not self.issues

    def add(self, code: str, where: str, detail: str) -> None:
        self.issues.append(ConformanceIssue(code, where, detail))


# ---------------------------------------------------------------------------
# Independent helpers (deliberately NOT imported from sources/targets)
# ---------------------------------------------------------------------------

_Z85 = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
_Z85_REV = {c: i for i, c in enumerate(_Z85)}


def _z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError("Z85 length must be a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        n = 0
        for c in s[i : i + 5]:
            n = n * 85 + _Z85_REV[c]
        out += n.to_bytes(4, "big")
    return bytes(out)


_DV_MAGIC = 1681511377  # PROTOCOL.md portable deletion-vector magic


def _check_dv_frame(path: str, offset: int, size_in_bytes: int, report: ConformanceReport) -> None:
    """PROTOCOL.md DV file layout at offset: int32-BE size, <size> bytes of
    data beginning with int32-LE magic, int32-BE CRC32(data)."""
    try:
        with open(path, "rb") as fh:
            fh.seek(offset)
            frame = fh.read(4 + size_in_bytes + 4)
    except OSError as exc:
        report.add("DELTA_DV_FILE_UNREADABLE", path, str(exc))
        return
    if len(frame) < 4 + size_in_bytes + 4:
        report.add(
            "DELTA_DV_FRAME_TRUNCATED",
            path,
            f"offset={offset} wanted {4 + size_in_bytes + 4} bytes, file has {len(frame)}",
        )
        return
    (stored_size,) = struct.unpack_from(">i", frame, 0)
    if stored_size != size_in_bytes:
        report.add(
            "DELTA_DV_SIZE_MISMATCH",
            path,
            f"frame size field {stored_size} != descriptor sizeInBytes {size_in_bytes}",
        )
    data = frame[4 : 4 + size_in_bytes]
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != _DV_MAGIC:
        report.add("DELTA_DV_BAD_MAGIC", path, f"magic {magic} != {_DV_MAGIC}")
    (crc,) = struct.unpack_from(">I", frame, 4 + size_in_bytes)
    if crc != (zlib.crc32(data) & 0xFFFFFFFF):
        report.add("DELTA_DV_BAD_CRC", path, "CRC32 of frame data does not match trailer")


def _decode_iceberg_single_value(type_str: str, raw: bytes) -> Any:
    """Iceberg spec 'Binary single-value serialization' (independent
    decoder; returns None for types this checker does not compare)."""
    try:
        if type_str == "int" or type_str == "date":
            return struct.unpack("<i", raw)[0]
        if type_str == "long" or type_str.startswith("timestamp") or type_str == "time":
            return struct.unpack("<q", raw)[0]
        if type_str == "float":
            return struct.unpack("<f", raw)[0]
        if type_str == "double":
            return struct.unpack("<d", raw)[0]
        if type_str == "string":
            return raw.decode("utf-8")
        if type_str == "boolean":
            return raw != b"\x00"
        if type_str.startswith("decimal"):
            return int.from_bytes(raw, "big", signed=True)
    except (struct.error, UnicodeDecodeError):
        return ("__undecodable__", raw)
    return None


def _read_avro_with_meta(spark: SparkSession, path: str, meta_keys: list[str]):
    """(records, metadata) via the INDEPENDENT pure-python OCF reader
    (model/avro_codec) — r6: the conformance layer no longer shares the
    JVM Avro stack the engine writes manifests with, so an engine-side
    encode bug cannot cancel out in its own validation. ``spark`` kept
    for signature stability."""
    from incubator_xtable_spark.model.avro_codec import read_ocf

    records, raw_meta = read_ocf(path)
    meta = {
        k: raw_meta[k].decode("utf-8") for k in meta_keys if k in raw_meta
    }
    return records, meta


def _abs_path(p: str, base_path: str) -> str:
    p = p[len("file:") :] if p.startswith("file:") else p
    return p if p.startswith("/") else os.path.join(base_path, p)


# ---------------------------------------------------------------------------
# Delta (PROTOCOL.md)
# ---------------------------------------------------------------------------

_DELTA_ACTIONS = {
    "commitInfo",
    "protocol",
    "metaData",
    "add",
    "remove",
    "txn",
    "cdc",
    "domainMetadata",
    "checkpointMetadata",
    "sidecar",
}


def check_delta_conformance(spark: SparkSession, base_path: str) -> ConformanceReport:
    report = ConformanceReport(base_path=base_path, table_format="DELTA")
    log_dir = os.path.join(base_path, "_delta_log")
    if not os.path.isdir(log_dir):
        report.add("DELTA_NO_LOG", log_dir, "_delta_log directory missing")
        return report

    versions = sorted(
        int(fn[:-5]) for fn in os.listdir(log_dir) if fn.endswith(".json") and fn[:-5].isdigit()
    )
    if not versions:
        report.add("DELTA_NO_COMMITS", log_dir, "no %020d.json commit files")
        return report

    # commit files must be zero-padded to 20 digits and contiguous from
    # the oldest retained version (checkpoints allow pruning the head)
    for v in versions:
        if not os.path.exists(os.path.join(log_dir, f"{v:020d}.json")):
            report.add("DELTA_BAD_FILENAME", log_dir, f"version {v} not %020d-padded")
    gaps = [b for a, b in zip(versions, versions[1:]) if b != a + 1]
    if gaps:
        report.add("DELTA_VERSION_GAP", log_dir, f"non-contiguous versions at {gaps[:3]}")
    if versions[0] != 0:
        # acceptable ONLY if a checkpoint at or before versions[0]-1 exists
        lc = os.path.join(log_dir, "_last_checkpoint")
        if not os.path.exists(lc):
            report.add(
                "DELTA_TRUNCATED_NO_CHECKPOINT",
                log_dir,
                f"log starts at {versions[0]} with no _last_checkpoint",
            )

    protocol_seen: Optional[dict] = None
    metadata_seen: Optional[dict] = None
    cdc_seen = False
    domain_seen = False
    live_dv_uses = []  # (file, descriptor)
    schema_fields: set[str] = set()
    partition_columns: list[str] = []
    # In-Commit Timestamps bookkeeping: the FIRST action key of each commit
    # and its commitInfo.inCommitTimestamp (None when absent)
    first_action_key: dict[int, str] = {}
    ict_by_version: dict[int, Optional[int]] = {}
    # Row Tracking bookkeeping: last add per path -> (baseRowId,
    # defaultRowCommitVersion, numRecords, where); latest domain configs
    rt_adds: dict[str, tuple] = {}
    domain_latest: dict[str, dict] = {}
    # Version-checksum bookkeeping: live path -> size from the replay
    # (sound only when the log is retained from version 0)
    live_sizes: dict[str, int] = {}

    for v in versions:
        fname = os.path.join(log_dir, f"{v:020d}.json")
        report.checked_files += 1
        with open(fname, encoding="utf-8") as fh:
            for ln, line in enumerate(fh, 1):
                line = line.strip()
                if not line:
                    continue
                where = f"{fname}:{ln}"
                try:
                    action = json.loads(line)
                except json.JSONDecodeError as exc:
                    report.add("DELTA_ACTION_NOT_JSON", where, str(exc))
                    continue
                if not isinstance(action, dict) or len(action) != 1:
                    report.add(
                        "DELTA_ACTION_SHAPE",
                        where,
                        "each log line must be an object with exactly one action key",
                    )
                    continue
                key = next(iter(action))
                if key not in _DELTA_ACTIONS:
                    report.add("DELTA_UNKNOWN_ACTION", where, f"unknown action {key!r}")
                    continue
                body = action[key]
                if v not in first_action_key:
                    first_action_key[v] = key
                    raw_ict = body.get("inCommitTimestamp") if key == "commitInfo" else None
                    ict_by_version[v] = int(raw_ict) if isinstance(raw_ict, int) else None
                if key == "protocol":
                    protocol_seen = body
                    _check_delta_protocol(body, where, report)
                elif key == "metaData":
                    metadata_seen = body
                    schema_fields, partition_columns = _check_delta_metadata(body, where, report)
                elif key == "add":
                    _check_delta_add(
                        body, where, base_path, schema_fields, partition_columns, report
                    )
                    if body.get("deletionVector"):
                        live_dv_uses.append((where, body["deletionVector"]))
                    if "path" in body:
                        n_records = None
                        try:
                            n_records = json.loads(body.get("stats") or "{}").get(
                                "numRecords"
                            )
                        except json.JSONDecodeError:
                            pass
                        rt_adds[body["path"]] = (
                            body.get("baseRowId"),
                            body.get("defaultRowCommitVersion"),
                            n_records,
                            where,
                        )
                        live_sizes[body["path"]] = int(body.get("size") or 0)
                elif key == "remove":
                    if "path" not in body:
                        report.add("DELTA_REMOVE_NO_PATH", where, "remove.path required")
                    else:
                        # row-tracking checks apply to LIVE files only: a
                        # real table enabled mid-life legitimately has
                        # removed-before-enablement adds without baseRowId
                        rt_adds.pop(body["path"], None)
                        live_sizes.pop(body["path"], None)
                elif key == "domainMetadata":
                    domain_seen = True
                    if isinstance(body.get("domain"), str):
                        domain_latest[body["domain"]] = body
                    if not isinstance(body.get("domain"), str) or not body["domain"]:
                        report.add(
                            "DELTA_DOMAIN_FIELDS", where, "domainMetadata.domain required"
                        )
                    if not isinstance(body.get("configuration"), str):
                        report.add(
                            "DELTA_DOMAIN_FIELDS",
                            where,
                            "domainMetadata.configuration must be a string",
                        )
                    if not isinstance(body.get("removed"), bool):
                        report.add(
                            "DELTA_DOMAIN_FIELDS",
                            where,
                            "domainMetadata.removed must be a boolean",
                        )
                elif key == "cdc":
                    cdc_seen = True
                    if "path" not in body:
                        report.add("DELTA_CDC_NO_PATH", where, "cdc.path required")
                    elif not os.path.exists(_abs_path(body["path"], base_path)):
                        report.add("DELTA_CDC_FILE_MISSING", where, body["path"])
                    if body.get("dataChange") is not False:
                        report.add(
                            "DELTA_CDC_DATACHANGE",
                            where,
                            "cdc actions must carry dataChange=false (they "
                            "supplement the file actions, never replace them)",
                        )
        if v == versions[0] and versions[0] == 0:
            if protocol_seen is None:
                report.add("DELTA_V0_NO_PROTOCOL", fname, "version 0 must contain protocol")
            if metadata_seen is None:
                report.add("DELTA_V0_NO_METADATA", fname, "version 0 must contain metaData")

        # version checksum sidecar (<v>.crc): post-commit state summary —
        # counts/bytes must equal the replayed live-file state (checkable
        # only on logs retained from version 0), and the embedded
        # protocol/metaData must be the commit's effective ones
        crc_path = os.path.join(log_dir, f"{v:020d}.crc")
        if os.path.exists(crc_path):
            report.checked_files += 1
            try:
                with open(crc_path, encoding="utf-8") as fh:
                    crc = json.loads(fh.read())
            except (OSError, json.JSONDecodeError) as exc:
                report.add("DELTA_CRC_NOT_JSON", crc_path, str(exc))
                crc = None
            if crc is not None:
                if not isinstance(crc.get("numFiles"), int) or not isinstance(
                    crc.get("tableSizeBytes"), int
                ):
                    report.add(
                        "DELTA_CRC_FIELDS",
                        crc_path,
                        "numFiles and tableSizeBytes must be integers",
                    )
                elif versions[0] == 0:
                    if crc["numFiles"] != len(live_sizes):
                        report.add(
                            "DELTA_CRC_STATE",
                            crc_path,
                            f"numFiles {crc['numFiles']} != replayed live "
                            f"file count {len(live_sizes)}",
                        )
                    if crc["tableSizeBytes"] != sum(live_sizes.values()):
                        report.add(
                            "DELTA_CRC_STATE",
                            crc_path,
                            f"tableSizeBytes {crc['tableSizeBytes']} != replayed "
                            f"live byte total {sum(live_sizes.values())}",
                        )
                if protocol_seen is not None and crc.get("protocol") != protocol_seen:
                    report.add(
                        "DELTA_CRC_PROTOCOL",
                        crc_path,
                        "embedded protocol differs from the commit's effective protocol",
                    )
                if metadata_seen is not None and crc.get("metadata") != metadata_seen:
                    report.add(
                        "DELTA_CRC_METADATA",
                        crc_path,
                        "embedded metaData differs from the commit's effective metaData",
                    )

    # feature gating: cdc actions require change data feed to be enabled
    # (property) and a writer that understands it (protocol 4+ legacy or
    # the changeDataFeed table feature)
    if cdc_seen:
        cfg = (metadata_seen or {}).get("configuration") or {}
        if cfg.get("delta.enableChangeDataFeed") != "true":
            report.add(
                "DELTA_CDF_NOT_ENABLED",
                log_dir,
                "cdc actions present but delta.enableChangeDataFeed is not 'true'",
            )
        if protocol_seen is not None:
            wv = protocol_seen.get("minWriterVersion", 1)
            wf = set(protocol_seen.get("writerFeatures") or [])
            # legacy 4-6 implies CDF; a table-features writer (7) enables
            # ONLY listed features; below 4 nothing implies it
            if wv < 4 or (wv >= 7 and "changeDataFeed" not in wf):
                report.add(
                    "DELTA_CDF_PROTOCOL",
                    log_dir,
                    "cdc actions require minWriterVersion 4-6 (legacy) or "
                    "the changeDataFeed writer feature on version 7",
                )

    # feature gating: domainMetadata actions require the writer feature
    if domain_seen and protocol_seen is not None:
        wv = protocol_seen.get("minWriterVersion", 1)
        wf = set(protocol_seen.get("writerFeatures") or [])
        if wv < 7 or "domainMetadata" not in wf:
            report.add(
                "DELTA_DOMAIN_FEATURE_MISSING",
                log_dir,
                "domainMetadata actions require minWriterVersion 7 with the "
                "domainMetadata writer feature",
            )

    # feature gating: a schema carrying TIMESTAMP_NTZ anywhere requires the
    # timestampNtz reader-writer feature (legacy readers would interpret
    # the physical values as UTC-adjusted and silently shift them)
    if (
        metadata_seen is not None
        and protocol_seen is not None
        and '"timestamp_ntz"' in (metadata_seen.get("schemaString") or "")
    ):
        rf = set(protocol_seen.get("readerFeatures") or [])
        wf = set(protocol_seen.get("writerFeatures") or [])
        if (
            protocol_seen.get("minReaderVersion", 1) < 3
            or "timestampNtz" not in rf
            or "timestampNtz" not in wf
        ):
            report.add(
                "DELTA_NTZ_FEATURE_MISSING",
                log_dir,
                "schema contains timestamp_ntz but the protocol does not "
                "declare the timestampNtz feature (reader 3 + both lists)",
            )

    # same gating for VARIANT: legacy readers cannot decode the physical
    # (metadata, value) binary pair at all
    if (
        metadata_seen is not None
        and protocol_seen is not None
        and '"variant"' in (metadata_seen.get("schemaString") or "")
    ):
        rf = set(protocol_seen.get("readerFeatures") or [])
        wf = set(protocol_seen.get("writerFeatures") or [])
        if (
            protocol_seen.get("minReaderVersion", 1) < 3
            or "variantType" not in rf
            or "variantType" not in wf
        ):
            report.add(
                "DELTA_VARIANT_FEATURE_MISSING",
                log_dir,
                "schema contains variant but the protocol does not declare "
                "the variantType feature (reader 3 + both lists)",
            )

    # feature gating: any DV use requires the deletionVectors feature
    if live_dv_uses and protocol_seen is not None:
        rf = set(protocol_seen.get("readerFeatures") or [])
        wf = set(protocol_seen.get("writerFeatures") or [])
        if "deletionVectors" not in rf or "deletionVectors" not in wf:
            report.add(
                "DELTA_DV_FEATURE_MISSING",
                log_dir,
                "deletionVector present but deletionVectors not in reader+writer features",
            )

    _check_delta_ict(
        log_dir, versions, first_action_key, ict_by_version,
        metadata_seen, protocol_seen, report,
    )
    _check_delta_row_tracking(
        log_dir, metadata_seen, protocol_seen, rt_adds, domain_latest, report
    )
    _check_delta_checkpoint(spark, log_dir, report, protocol_seen)
    return report


def _check_delta_row_tracking(
    log_dir: str,
    metadata_seen: Optional[dict],
    protocol_seen: Optional[dict],
    rt_adds: dict[str, tuple],
    domain_latest: dict[str, dict],
    report: ConformanceReport,
) -> None:
    """Row Tracking (PROTOCOL.md): with delta.enableRowTracking, the
    protocol must list rowTracking + domainMetadata (writer 7), every add
    carries baseRowId/defaultRowCommitVersion, live fresh-row ranges
    [base, base+numRecords-1] are pairwise disjoint across paths, and the
    delta.rowTracking domain's rowIdHighWaterMark covers every assigned
    id."""
    cfg = (metadata_seen or {}).get("configuration") or {}
    if cfg.get("delta.enableRowTracking") != "true":
        return
    if protocol_seen is not None:
        wv = protocol_seen.get("minWriterVersion", 1)
        wf = set(protocol_seen.get("writerFeatures") or [])
        if wv < 7 or "rowTracking" not in wf or "domainMetadata" not in wf:
            report.add(
                "DELTA_ROW_TRACKING_PROTOCOL",
                log_dir,
                "delta.enableRowTracking requires minWriterVersion 7 with the "
                "rowTracking AND domainMetadata writer features",
            )
    ranges: list[tuple[int, int, str]] = []  # (base, end_exclusive, where)
    max_id = -1
    for path, (base, dcv, n, where) in rt_adds.items():
        if base is None or dcv is None:
            report.add(
                "DELTA_ROW_TRACKING_BASE_ID",
                where,
                "add must carry baseRowId and defaultRowCommitVersion on a "
                "row-tracking table",
            )
            continue
        n = int(n or 0)
        ranges.append((int(base), int(base) + n, where))
        max_id = max(max_id, int(base) + n - 1)
    # running-max sweep (adjacent-pair comparison would let an interposed
    # EMPTY range — a 0-record add at base=hwm+1 — mask a real overlap)
    ranges.sort()
    max_end: Optional[int] = None
    max_where: Optional[str] = None
    for b, e, w in ranges:
        if e <= b:
            continue  # empty range (0-record file) cannot overlap anything
        if max_end is not None and b < max_end:
            report.add(
                "DELTA_ROW_TRACKING_OVERLAP",
                w,
                f"fresh row-id range [{b},{e}) overlaps one ending at "
                f"{max_end} ({max_where})",
            )
        if max_end is None or e > max_end:
            max_end, max_where = e, w
    dm = domain_latest.get("delta.rowTracking")
    if dm is None or dm.get("removed"):
        report.add(
            "DELTA_ROW_TRACKING_DOMAIN",
            log_dir,
            "row-tracking table has no live delta.rowTracking domain metadata",
        )
        return
    try:
        hwm = int(json.loads(dm.get("configuration") or "{}").get("rowIdHighWaterMark"))
    except (json.JSONDecodeError, TypeError, ValueError):
        report.add(
            "DELTA_ROW_TRACKING_DOMAIN",
            log_dir,
            f"delta.rowTracking configuration not parseable: {dm.get('configuration')!r}",
        )
        return
    if max_id > hwm:
        report.add(
            "DELTA_ROW_TRACKING_HWM",
            log_dir,
            f"assigned row id {max_id} exceeds rowIdHighWaterMark {hwm}",
        )


def _check_delta_ict(
    log_dir: str,
    versions: list[int],
    first_action_key: dict[int, str],
    ict_by_version: dict[int, Optional[int]],
    metadata_seen: Optional[dict],
    protocol_seen: Optional[dict],
    report: ConformanceReport,
) -> None:
    """In-Commit Timestamps (PROTOCOL.md): when
    delta.enableInCommitTimestamps is true, every commit at/after the
    enablement version must START with a commitInfo action carrying a
    strictly monotonically increasing inCommitTimestamp; enabling on an
    existing table must record the enablement version/timestamp properties;
    and the protocol must declare the inCommitTimestamp writer feature."""
    cfg = (metadata_seen or {}).get("configuration") or {}
    if cfg.get("delta.enableInCommitTimestamps") != "true":
        return
    ever = cfg.get("delta.inCommitTimestampEnablementVersion")
    ets = cfg.get("delta.inCommitTimestampEnablementTimestamp")
    if (ever is None) != (ets is None):
        report.add(
            "DELTA_ICT_ENABLEMENT_PROPS",
            log_dir,
            "inCommitTimestampEnablementVersion and ...EnablementTimestamp "
            "must be set together",
        )
    try:
        # absent props = ICT-from-creation: authority starts at the first
        # retained commit
        enable_v = int(ever) if ever is not None else versions[0]
    except (TypeError, ValueError):
        report.add(
            "DELTA_ICT_ENABLEMENT_PROPS", log_dir,
            f"enablement version not an int: {ever!r}",
        )
        return
    if protocol_seen is not None:
        wv = protocol_seen.get("minWriterVersion", 1)
        wf = set(protocol_seen.get("writerFeatures") or [])
        if wv < 7 or "inCommitTimestamp" not in wf:
            report.add(
                "DELTA_ICT_PROTOCOL",
                log_dir,
                "delta.enableInCommitTimestamps requires minWriterVersion 7 "
                "with the inCommitTimestamp writer feature",
            )
    prev_ict: Optional[int] = None
    for v in versions:
        if v < enable_v:
            continue
        if first_action_key.get(v) != "commitInfo" or ict_by_version.get(v) is None:
            report.add(
                "DELTA_ICT_MISSING",
                os.path.join(log_dir, f"{v:020d}.json"),
                "commit at/after ICT enablement must start with commitInfo "
                "carrying inCommitTimestamp",
            )
            continue
        cur = ict_by_version[v]
        if prev_ict is not None and cur <= prev_ict:
            report.add(
                "DELTA_ICT_NOT_MONOTONIC",
                os.path.join(log_dir, f"{v:020d}.json"),
                f"inCommitTimestamp {cur} not > previous commit's {prev_ict}",
            )
        prev_ict = cur
        if ets is not None and ever is not None and str(v) == str(ever):
            try:
                if int(ets) != cur:
                    report.add(
                        "DELTA_ICT_ENABLEMENT_TS",
                        log_dir,
                        f"enablement timestamp property {ets} != the "
                        f"enablement commit's inCommitTimestamp {cur}",
                    )
            except ValueError:
                report.add(
                    "DELTA_ICT_ENABLEMENT_PROPS", log_dir,
                    f"enablement timestamp not an int: {ets!r}",
                )


def _check_delta_protocol(p: dict, where: str, report: ConformanceReport) -> None:
    mr, mw = p.get("minReaderVersion"), p.get("minWriterVersion")
    if not isinstance(mr, int) or not isinstance(mw, int):
        report.add("DELTA_PROTOCOL_VERSIONS", where, "minReaderVersion/minWriterVersion must be ints")
        return
    if (mr >= 3) != ("readerFeatures" in p):
        report.add(
            "DELTA_READER_FEATURES",
            where,
            f"readerFeatures must be present iff minReaderVersion>=3 (got {mr})",
        )
    if (mw >= 7) != ("writerFeatures" in p):
        report.add(
            "DELTA_WRITER_FEATURES",
            where,
            f"writerFeatures must be present iff minWriterVersion>=7 (got {mw})",
        )
    if mr >= 3 and mw < 7:
        report.add("DELTA_FEATURE_VERSIONS", where, "reader features require minWriterVersion 7")


def _check_delta_metadata(m: dict, where: str, report: ConformanceReport):
    for req in ("id", "format", "schemaString", "partitionColumns"):
        if req not in m:
            report.add("DELTA_METADATA_FIELD", where, f"metaData.{req} required")
    if (m.get("format") or {}).get("provider") != "parquet":
        report.add("DELTA_METADATA_FORMAT", where, "format.provider must be 'parquet'")
    fields: set[str] = set()
    mapping_mode = (m.get("configuration") or {}).get("delta.columnMapping.mode")
    try:
        schema = json.loads(m["schemaString"])
        if schema.get("type") != "struct":
            report.add("DELTA_SCHEMA_TYPE", where, "schemaString root must be struct")
        for f in schema.get("fields", []):
            fields.add(f["name"])
            if mapping_mode in ("name", "id"):
                md = f.get("metadata") or {}
                if "delta.columnMapping.id" not in md or "delta.columnMapping.physicalName" not in md:
                    report.add(
                        "DELTA_COLUMN_MAPPING_IDS",
                        where,
                        f"columnMapping.mode={mapping_mode} but field {f['name']!r} lacks id/physicalName",
                    )
    except (KeyError, TypeError, json.JSONDecodeError) as exc:
        report.add("DELTA_SCHEMA_PARSE", where, f"schemaString not parseable: {exc}")
    pcols = m.get("partitionColumns") or []
    missing = [c for c in pcols if c not in fields]
    if fields and missing:
        report.add(
            "DELTA_PARTITION_COLS", where, f"partitionColumns {missing} not in schema fields"
        )
    if mapping_mode in ("name", "id"):
        if "delta.columnMapping.maxColumnId" not in (m.get("configuration") or {}):
            report.add("DELTA_MAX_COLUMN_ID", where, "columnMapping requires maxColumnId config")
    return fields, pcols


def _check_delta_add(
    a: dict,
    where: str,
    base_path: str,
    schema_fields: set[str],
    partition_columns: list[str],
    report: ConformanceReport,
) -> None:
    for req in ("path", "partitionValues", "size", "modificationTime", "dataChange"):
        if req not in a:
            report.add("DELTA_ADD_FIELD", where, f"add.{req} required")
    path = a.get("path")
    if path:
        ap = _abs_path(path, base_path)
        if not os.path.exists(ap):
            report.add("DELTA_ADD_FILE_MISSING", where, f"data file does not exist: {ap}")
        elif "size" in a and os.path.getsize(ap) != a["size"]:
            report.add(
                "DELTA_ADD_SIZE",
                where,
                f"size {a['size']} != actual {os.path.getsize(ap)} for {path}",
            )
    pv = a.get("partitionValues")
    # keys must be EXACTLY metaData.partitionColumns (spec: "A map from
    # partition column to value") — an unpartitioned table requires {}
    if isinstance(pv, dict) and schema_fields and set(pv) != set(partition_columns):
        report.add(
            "DELTA_ADD_PARTITION_KEYS",
            where,
            f"partitionValues keys {sorted(pv)} != metaData.partitionColumns {partition_columns}",
        )
    stats = a.get("stats")
    if stats is not None:
        try:
            s = json.loads(stats)
            if "numRecords" not in s:
                report.add("DELTA_STATS_NUMRECORDS", where, "stats must carry numRecords")
            else:
                for col, nc in (s.get("nullCount") or {}).items():
                    if isinstance(nc, int) and nc > s["numRecords"]:
                        report.add(
                            "DELTA_STATS_NULLCOUNT",
                            where,
                            f"nullCount[{col}]={nc} > numRecords={s['numRecords']}",
                        )
                # stats keys must reference schema (physical or logical) names
                if schema_fields:
                    for sect in ("minValues", "maxValues", "nullCount"):
                        for col in s.get(sect) or {}:
                            if col not in schema_fields and not col.startswith("col-"):
                                report.add(
                                    "DELTA_STATS_UNKNOWN_COLUMN",
                                    where,
                                    f"stats.{sect} references unknown column {col!r}",
                                )
        except json.JSONDecodeError as exc:
            report.add("DELTA_STATS_NOT_JSON", where, str(exc))
    dv = a.get("deletionVector")
    if dv is not None:
        _check_delta_dv_descriptor(dv, where, base_path, report)


def _check_delta_dv_descriptor(
    dv: dict, where: str, base_path: str, report: ConformanceReport
) -> None:
    st = dv.get("storageType")
    if st not in ("u", "i", "p"):
        report.add("DELTA_DV_STORAGE_TYPE", where, f"storageType must be u/i/p, got {st!r}")
        return
    for req in ("pathOrInlineDv", "sizeInBytes", "cardinality"):
        if req not in dv:
            report.add("DELTA_DV_FIELD", where, f"deletionVector.{req} required")
            return
    if dv["cardinality"] <= 0:
        report.add("DELTA_DV_CARDINALITY", where, "a stored DV must have cardinality > 0")
    if st == "u":
        enc = dv["pathOrInlineDv"]
        prefix, uuid_part = enc[:-20], enc[-20:]
        try:
            uid = _uuidlib.UUID(bytes=_z85_decode(uuid_part))
        except (ValueError, KeyError) as exc:
            report.add("DELTA_DV_UUID", where, f"Z85 uuid decode failed: {exc}")
            return
        if "offset" not in dv:
            report.add("DELTA_DV_OFFSET", where, "'u' storage requires offset")
            return
        dv_path = os.path.join(base_path, prefix, f"deletion_vector_{uid}.bin")
        if not os.path.exists(dv_path):
            report.add("DELTA_DV_FILE_MISSING", where, dv_path)
            return
        _check_dv_frame(dv_path, dv["offset"], dv["sizeInBytes"], report)
    elif st == "p":
        if not os.path.exists(_abs_path(dv["pathOrInlineDv"], base_path)):
            report.add("DELTA_DV_FILE_MISSING", where, dv["pathOrInlineDv"])


def _check_delta_checkpoint(
    spark: SparkSession,
    log_dir: str,
    report: ConformanceReport,
    protocol_seen: Optional[dict] = None,
) -> None:
    lc = os.path.join(log_dir, "_last_checkpoint")
    if not os.path.exists(lc):
        return
    report.checked_files += 1
    try:
        with open(lc, encoding="utf-8") as fh:
            meta = json.load(fh)
    except json.JSONDecodeError as exc:
        report.add("DELTA_LAST_CHECKPOINT_JSON", lc, str(exc))
        return
    if "version" not in meta or "size" not in meta:
        report.add("DELTA_LAST_CHECKPOINT_FIELDS", lc, "version and size are required")
        return
    import glob as _glob

    v = meta["version"]
    classic = os.path.join(log_dir, f"{v:020d}.checkpoint.parquet")
    candidates = (
        [classic]
        if os.path.exists(classic)
        else _glob.glob(os.path.join(log_dir, f"{v:020d}.checkpoint.*.parquet"))
    )
    if not candidates:
        report.add("DELTA_CHECKPOINT_MISSING", lc, f"no checkpoint parquet for version {v}")
        return
    # v2 layout = UUID-named single-token suffix (<v>.checkpoint.<uuid>.parquet);
    # v1 multi-part has two numeric tokens (<v>.checkpoint.<i>.<n>.parquet)
    is_v2 = candidates != [classic] and all(
        len(os.path.basename(p).split(".")) == 4 for p in candidates
    )
    try:
        # action-count equality is only defined for the classic
        # single-file layout; multi-part/v2 layouts spread actions across
        # parts and sidecars
        if candidates == [classic]:
            n = spark.read.parquet(classic).count()
            if n != meta["size"]:
                report.add(
                    "DELTA_CHECKPOINT_SIZE",
                    classic,
                    f"checkpoint rows {n} != _last_checkpoint.size {meta['size']}",
                )
        elif is_v2:
            _check_delta_v2_checkpoint(spark, log_dir, candidates, v, protocol_seen, report)
        else:
            _check_delta_multipart_checkpoint(spark, candidates, meta, lc, report)
    except Exception as exc:  # noqa: BLE001
        report.add("DELTA_CHECKPOINT_UNREADABLE", candidates[0], str(exc))


def _check_delta_multipart_checkpoint(
    spark: SparkSession,
    candidates: list,
    meta: dict,
    lc: str,
    report: ConformanceReport,
) -> None:
    """V1 multi-part checkpoint invariants: every fragment declares the
    same total <n>, the 1-based fragment indices form a complete
    1..n set, `_last_checkpoint` carries the required ``parts`` field
    matching <n>, and the total action count across fragments equals
    ``size``."""
    tokens = [os.path.basename(p).split(".") for p in candidates]
    declared_n = {int(t[-2]) for t in tokens}
    if len(declared_n) != 1:
        report.add(
            "DELTA_CHECKPOINT_MULTIPART_N",
            candidates[0],
            f"fragments disagree on total part count: {sorted(declared_n)}",
        )
        return
    n = declared_n.pop()
    indices = sorted(int(t[-3]) for t in tokens)
    if indices != list(range(1, n + 1)):
        report.add(
            "DELTA_CHECKPOINT_MULTIPART_PARTS",
            candidates[0],
            f"fragment indices {indices} are not the complete 1..{n} set",
        )
        return
    # spec: `parts` is optional in _last_checkpoint, but when present it
    # must agree with the fragments' declared count (the engine's own
    # multipart writer always records it)
    if "parts" in meta and meta["parts"] != n:
        report.add(
            "DELTA_CHECKPOINT_MULTIPART_POINTER",
            lc,
            f"_last_checkpoint.parts {meta.get('parts')!r} != fragment count {n}",
        )
    total = spark.read.parquet(*candidates).count()
    if total != meta["size"]:
        report.add(
            "DELTA_CHECKPOINT_SIZE",
            candidates[0],
            f"multi-part checkpoint rows {total} != _last_checkpoint.size {meta['size']}",
        )


def _check_delta_v2_checkpoint(
    spark: SparkSession,
    log_dir: str,
    candidates: list,
    version: int,
    protocol_seen: Optional[dict],
    report: ConformanceReport,
) -> None:
    """V2 checkpoint invariants (PROTOCOL.md V2 Checkpoints): the
    top-level file carries exactly one checkpointMetadata action whose
    version matches the file name; every referenced sidecar parquet
    exists under _delta_log/_sidecars/; and the table protocol must
    declare the v2Checkpoint reader+writer feature."""
    # writer retries may leave several complete UUID candidates; each one
    # must independently satisfy the invariants, so check the one a
    # reader would pick (lexicographically last, same as our source)
    top = sorted(candidates)[-1]
    report.checked_files += 1
    probe = T.StructType(
        [
            T.StructField(
                "checkpointMetadata",
                T.StructType([T.StructField("version", T.LongType())]),
            ),
            T.StructField(
                "sidecar",
                T.StructType(
                    [T.StructField("path", T.StringType()), T.StructField("sizeInBytes", T.LongType())]
                ),
            ),
        ]
    )
    rows = spark.read.schema(probe).parquet(top).collect()
    cpm = [r["checkpointMetadata"] for r in rows if r["checkpointMetadata"] is not None]
    if len(cpm) != 1:
        report.add(
            "DELTA_V2_CHECKPOINT_METADATA",
            top,
            f"expected exactly one checkpointMetadata action, found {len(cpm)}",
        )
    elif cpm[0]["version"] != version:
        report.add(
            "DELTA_V2_CHECKPOINT_VERSION",
            top,
            f"checkpointMetadata.version {cpm[0]['version']} != file version {version}",
        )
    sidecar_dir = os.path.join(log_dir, "_sidecars")
    for r in rows:
        sc = r["sidecar"]
        if sc is None or sc["path"] is None:
            continue
        p = sc["path"] if sc["path"].startswith("/") else os.path.join(sidecar_dir, sc["path"])
        if not os.path.exists(p):
            report.add("DELTA_V2_SIDECAR_MISSING", top, f"sidecar {sc['path']} not found")
        elif sc["sizeInBytes"] is not None and os.path.getsize(p) != sc["sizeInBytes"]:
            report.add(
                "DELTA_V2_SIDECAR_SIZE",
                p,
                f"sizeInBytes {sc['sizeInBytes']} != actual {os.path.getsize(p)}",
            )
    if protocol_seen is not None:
        rf = set(protocol_seen.get("readerFeatures") or [])
        wf = set(protocol_seen.get("writerFeatures") or [])
        if "v2Checkpoint" not in rf or "v2Checkpoint" not in wf:
            report.add(
                "DELTA_V2_FEATURE_MISSING",
                log_dir,
                "v2 checkpoint present but v2Checkpoint not in reader+writer features",
            )


# ---------------------------------------------------------------------------
# Iceberg (table spec v2)
# ---------------------------------------------------------------------------


def _check_puffin_file(path: str, blob_metadata: list[dict], report: ConformanceReport) -> None:
    """Puffin container invariants, parsed independently (spec: 4-byte
    magic PFA1 at start and framing the FooterPayload; footer JSON lists
    the blobs): magics, parseable footer, and every metadata-referenced
    blob range inside the file and covered by a footer blob entry."""
    magic = b"PFA\x31"
    size = os.path.getsize(path)
    with open(path, "rb") as fh:
        if fh.read(4) != magic:
            report.add("PUFFIN_LEAD_MAGIC", path, "bad leading magic")
            return
        fh.seek(size - 12)
        (payload_size,) = struct.unpack("<i", fh.read(4))
        flags = fh.read(4)
        if fh.read(4) != magic:
            report.add("PUFFIN_TRAIL_MAGIC", path, "bad trailing magic")
            return
        if flags[0] & 0x01:
            return  # compressed footer: out of scope for the check
        footer_start = size - 12 - payload_size
        fh.seek(footer_start - 4)
        if fh.read(4) != magic:
            report.add("PUFFIN_FOOTER_MAGIC", path, "bad footer-start magic")
            return
        try:
            footer = json.loads(fh.read(payload_size).decode("utf-8"))
        except (ValueError, UnicodeDecodeError) as exc:
            report.add("PUFFIN_FOOTER_JSON", path, str(exc))
            return
    footer_blobs = footer.get("blobs") or []
    covered = {(b.get("offset"), b.get("length")) for b in footer_blobs}
    for bm in blob_metadata:
        off, ln = bm.get("offset"), bm.get("length")
        if off is None or ln is None or off < 4 or off + ln > footer_start - 4:
            report.add(
                "PUFFIN_BLOB_RANGE",
                path,
                f"blob range ({off}, {ln}) outside the payload region",
            )
        elif (off, ln) not in covered:
            report.add(
                "PUFFIN_BLOB_UNLISTED",
                path,
                f"metadata blob at ({off}, {ln}) not in the puffin footer",
            )


def check_iceberg_conformance(spark: SparkSession, base_path: str) -> ConformanceReport:
    report = ConformanceReport(base_path=base_path, table_format="ICEBERG")
    meta_dir = os.path.join(base_path, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if not os.path.isdir(meta_dir):
        report.add("ICE_NO_METADATA_DIR", meta_dir, "metadata/ directory missing")
        return report
    meta_files = sorted(fn for fn in os.listdir(meta_dir) if fn.endswith(".metadata.json"))
    if not meta_files:
        report.add("ICE_NO_METADATA_JSON", meta_dir, "no *.metadata.json")
        return report
    # hint-less trees (catalog layout, 00001-<uuid> names): resolve the
    # head by the metadata-log chain + embedded sequence, not name order
    from incubator_xtable_spark.targets.iceberg_target import (
        resolve_current_metadata_path,
    )

    latest = resolve_current_metadata_path(base_path) or os.path.join(
        meta_dir, meta_files[-1]
    )
    if os.path.exists(hint):
        with open(hint, encoding="utf-8") as fh:
            h = fh.read().strip()
        if h and f"v{h}.metadata.json" not in meta_files:
            report.add("ICE_VERSION_HINT", hint, f"hint {h!r} has no matching metadata.json")
        elif h:
            latest = os.path.join(meta_dir, f"v{h}.metadata.json")
    report.checked_files += 1
    from incubator_xtable_spark.targets.iceberg_target import read_metadata_json_file

    try:
        meta = read_metadata_json_file(latest)
    except ValueError as exc:  # covers JSONDecodeError + bad gzip payloads
        report.add("ICE_METADATA_JSON", latest, str(exc))
        return report

    for req in (
        "format-version",
        "table-uuid",
        "location",
        "last-sequence-number",
        "last-updated-ms",
        "last-column-id",
        "schemas",
        "current-schema-id",
        "partition-specs",
        "default-spec-id",
        "last-partition-id",
        "sort-orders",
        "default-sort-order-id",
    ):
        if req not in meta:
            report.add("ICE_METADATA_FIELD", latest, f"{req} required in v2 metadata")
    if meta.get("format-version") not in (2, 3):
        report.add("ICE_FORMAT_VERSION", latest, f"format-version must be 2 or 3, got {meta.get('format-version')}")

    # schema: unique ids, current-schema-id resolvable, last-column-id bound
    schemas = {s.get("schema-id"): s for s in meta.get("schemas", [])}
    cur_schema = schemas.get(meta.get("current-schema-id"))
    field_types: dict[int, str] = {}
    if cur_schema is None:
        report.add("ICE_CURRENT_SCHEMA", latest, "current-schema-id not in schemas")
    else:
        ids: list[int] = []

        def walk(t: Any) -> None:
            if isinstance(t, dict):
                if t.get("type") == "struct":
                    for f in t.get("fields", []):
                        ids.append(f["id"])
                        field_types[f["id"]] = f["type"] if isinstance(f["type"], str) else "nested"
                        walk(f["type"])
                elif t.get("type") == "list":
                    ids.append(t["element-id"])
                    walk(t["element"])
                elif t.get("type") == "map":
                    ids.extend([t["key-id"], t["value-id"]])
                    walk(t["key"])
                    walk(t["value"])

        walk(cur_schema)
        if len(ids) != len(set(ids)):
            report.add("ICE_DUP_FIELD_IDS", latest, "schema field ids are not unique")
        if ids and meta.get("last-column-id", -1) < max(ids):
            report.add(
                "ICE_LAST_COLUMN_ID",
                latest,
                f"last-column-id {meta.get('last-column-id')} < max field id {max(ids)}",
            )
        # partition spec source ids must resolve to schema fields
        for spec in meta.get("partition-specs", []):
            for pf in spec.get("fields", []):
                if pf.get("source-id") not in ids:
                    report.add(
                        "ICE_SPEC_SOURCE_ID",
                        latest,
                        f"partition field {pf.get('name')} source-id {pf.get('source-id')} not in schema",
                    )
                if pf.get("field-id", 1000) < 1000:
                    report.add(
                        "ICE_SPEC_FIELD_ID",
                        latest,
                        f"partition field-id {pf.get('field-id')} < 1000",
                    )
        # sort orders: default-sort-order-id must resolve, every sort
        # field's source-id must be a schema field, direction/null-order
        # must be spec values
        order_ids = {o.get("order-id") for o in meta.get("sort-orders", [])}
        if meta.get("default-sort-order-id") not in order_ids:
            report.add(
                "ICE_SORT_ORDER_DEFAULT",
                latest,
                f"default-sort-order-id {meta.get('default-sort-order-id')!r} "
                f"not in sort-orders {sorted(order_ids, key=str)}",
            )
        for order in meta.get("sort-orders", []):
            for sf in order.get("fields", []):
                if sf.get("source-id") not in ids:
                    report.add(
                        "ICE_SORT_SOURCE_ID",
                        latest,
                        f"sort order {order.get('order-id')} source-id "
                        f"{sf.get('source-id')} not in schema",
                    )
                if sf.get("direction") not in ("asc", "desc"):
                    report.add(
                        "ICE_SORT_DIRECTION",
                        latest,
                        f"sort direction {sf.get('direction')!r} invalid",
                    )
                if sf.get("null-order") not in ("nulls-first", "nulls-last"):
                    report.add(
                        "ICE_SORT_NULL_ORDER",
                        latest,
                        f"sort null-order {sf.get('null-order')!r} invalid",
                    )

    snapshots = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    cur_id = meta.get("current-snapshot-id")
    if cur_id is not None and cur_id != -1 and cur_id not in snapshots:
        report.add("ICE_CURRENT_SNAPSHOT", latest, f"current-snapshot-id {cur_id} not in snapshots")
    # refs: every branch/tag must resolve to a live snapshot, main (when
    # present) must match the current head, types constrained by spec
    for name, r in (meta.get("refs") or {}).items():
        if r.get("type") not in ("branch", "tag"):
            report.add("ICE_REF_TYPE", latest, f"ref {name!r} type {r.get('type')!r}")
        if r.get("snapshot-id") not in snapshots:
            report.add(
                "ICE_REF_DANGLING",
                latest,
                f"ref {name!r} points at missing snapshot {r.get('snapshot-id')}",
            )
        if name == "main" and cur_id is not None and r.get("snapshot-id") != cur_id:
            report.add(
                "ICE_MAIN_REF_MISMATCH",
                latest,
                f"main ref {r.get('snapshot-id')} != current-snapshot-id {cur_id}",
            )
    # statistics: entries must reference live snapshots and existing,
    # well-formed puffin files whose sizes match
    for st in meta.get("statistics") or []:
        where = f"{latest} statistics[{st.get('snapshot-id')}]"
        if st.get("snapshot-id") not in snapshots:
            report.add("ICE_STATS_SNAPSHOT", where, "statistics entry for missing snapshot")
        # spec paths are URIs — normalize like the manifest checks do
        p = _abs_path(st.get("statistics-path") or "", base_path)
        if not p or not os.path.exists(p):
            report.add("ICE_STATS_FILE_MISSING", where, str(st.get("statistics-path")))
            continue
        report.checked_files += 1
        if st.get("file-size-in-bytes") != os.path.getsize(p):
            report.add(
                "ICE_STATS_FILE_SIZE",
                p,
                f"file-size-in-bytes {st.get('file-size-in-bytes')} != actual {os.path.getsize(p)}",
            )
        try:
            _check_puffin_file(p, st.get("blob-metadata") or [], report)
        except Exception as exc:  # noqa: BLE001
            report.add("ICE_STATS_PUFFIN", p, str(exc))
    # partition-statistics: same liveness/existence/size rules, parquet
    # payload (table spec "Partition Statistics")
    for st in meta.get("partition-statistics") or []:
        where = f"{latest} partition-statistics[{st.get('snapshot-id')}]"
        if st.get("snapshot-id") not in snapshots:
            report.add(
                "ICE_PART_STATS_SNAPSHOT", where, "partition-statistics entry for missing snapshot"
            )
        p = _abs_path(st.get("statistics-path") or "", base_path)
        if not p or not os.path.exists(p):
            report.add("ICE_PART_STATS_FILE_MISSING", where, str(st.get("statistics-path")))
            continue
        report.checked_files += 1
        if st.get("file-size-in-bytes") != os.path.getsize(p):
            report.add(
                "ICE_PART_STATS_FILE_SIZE",
                p,
                f"file-size-in-bytes {st.get('file-size-in-bytes')} != actual {os.path.getsize(p)}",
            )
    last_seq = meta.get("last-sequence-number", 0)
    for s in snapshots.values():
        if s.get("sequence-number", 0) > last_seq:
            report.add(
                "ICE_SEQUENCE_BOUND",
                latest,
                f"snapshot {s['snapshot-id']} sequence {s.get('sequence-number')} > last-sequence-number {last_seq}",
            )
        if "summary" not in s or "operation" not in (s.get("summary") or {}):
            report.add("ICE_SNAPSHOT_SUMMARY", latest, f"snapshot {s['snapshot-id']} lacks summary.operation")
    for entry in meta.get("snapshot-log", []):
        if entry.get("snapshot-id") not in snapshots:
            report.add(
                "ICE_SNAPSHOT_LOG",
                latest,
                f"snapshot-log references expired/unknown snapshot {entry.get('snapshot-id')}",
            )

    # v3 row lineage (spec "Row Lineage"): next-row-id required; every
    # snapshot's first-row-id bounded by it; the current snapshot's live
    # data files must carry resolvable, DISJOINT row-id ranges whose max
    # end never exceeds next-row-id
    if meta.get("format-version") == 3 and snapshots:
        next_row_id = meta.get("next-row-id")
        if not isinstance(next_row_id, int) or next_row_id < 0:
            report.add(
                "ICE_NEXT_ROW_ID_MISSING",
                latest,
                f"v3 metadata requires next-row-id, got {next_row_id!r}",
            )
        else:
            for s in snapshots.values():
                fri = s.get("first-row-id")
                if fri is not None and fri > next_row_id:
                    report.add(
                        "ICE_SNAP_FIRST_ROW_ID_BOUND",
                        latest,
                        f"snapshot {s['snapshot-id']} first-row-id {fri} > next-row-id {next_row_id}",
                    )
            if cur_id in snapshots:
                ml = _abs_path(snapshots[cur_id].get("manifest-list", ""), base_path)
                ranges: list[tuple[int, int, str]] = []
                if os.path.exists(ml):
                    try:
                        mf_entries, _ = _read_avro_with_meta(spark, ml, [])
                        for mf in mf_entries:
                            if (mf.get("content") or 0) != 0:
                                continue
                            mp = _abs_path(mf.get("manifest_path") or "", base_path)
                            if not os.path.exists(mp):
                                continue
                            recs, _m = _read_avro_with_meta(spark, mp, [])
                            running = mf.get("first_row_id")
                            for entry in recs:
                                if entry.get("status") == 2:
                                    continue
                                df = entry.get("data_file")
                                if not isinstance(df, dict):
                                    continue
                                if (df.get("content") or 0) != 0:
                                    continue
                                fid = df.get("first_row_id")
                                n = int(df.get("record_count") or 0)
                                if fid is None and running is not None:
                                    fid = running
                                    running += n
                                if fid is None:
                                    report.add(
                                        "ICE_ROW_ID_UNASSIGNED",
                                        mp,
                                        f"v3 data file {df.get('file_path')} has no "
                                        "first_row_id and no manifest inheritance base",
                                    )
                                    continue
                                ranges.append((int(fid), int(fid) + n, df.get("file_path") or ""))
                    except Exception as exc:  # noqa: BLE001
                        report.add("ICE_ROW_ID_WALK", ml, str(exc))
                ranges.sort()
                for (a_start, a_end, a_path), (b_start, _b_end, b_path) in zip(
                    ranges, ranges[1:]
                ):
                    if b_start < a_end:
                        report.add(
                            "ICE_ROW_ID_OVERLAP",
                            latest,
                            f"row-id ranges overlap: {a_path} [{a_start},{a_end}) vs "
                            f"{b_path} starting {b_start}",
                        )
                if ranges and ranges[-1][1] > next_row_id:
                    report.add(
                        "ICE_ROW_ID_BOUND",
                        latest,
                        f"max assigned row id {ranges[-1][1]} > next-row-id {next_row_id}",
                    )

    # manifest list + manifests of the current snapshot
    if cur_id in snapshots:
        _check_iceberg_manifests(
            spark, base_path, snapshots[cur_id], snapshots, field_types, report
        )
    return report


def _check_iceberg_manifests(
    spark: SparkSession,
    base_path: str,
    snapshot: dict,
    snapshots: dict,
    field_types: dict[int, str],
    report: ConformanceReport,
) -> None:
    ml_path = _abs_path(snapshot.get("manifest-list", ""), base_path)
    if not os.path.exists(ml_path):
        report.add("ICE_MANIFEST_LIST_MISSING", str(snapshot.get("snapshot-id")), ml_path)
        return
    report.checked_files += 1
    try:
        entries, _ = _read_avro_with_meta(spark, ml_path, [])
    except Exception as exc:  # noqa: BLE001
        report.add("ICE_MANIFEST_LIST_UNREADABLE", ml_path, str(exc))
        return
    snap_seq = snapshot.get("sequence-number", 0)
    for e in entries:
        for req in ("manifest_path", "manifest_length", "partition_spec_id", "content", "sequence_number", "min_sequence_number", "added_snapshot_id"):
            if e.get(req) is None:
                report.add("ICE_MANIFEST_LIST_FIELD", ml_path, f"{req} required in v2, entry {e.get('manifest_path')}")
        if not any(
            e.get(k) is not None
            for k in ("added_files_count", "added_data_files_count")
        ):
            report.add("ICE_MANIFEST_LIST_COUNTS", ml_path, "added/existing/deleted file counts required in v2")
        mp = _abs_path(e.get("manifest_path") or "", base_path)
        if not os.path.exists(mp):
            report.add("ICE_MANIFEST_MISSING", ml_path, mp)
            continue
        if e.get("manifest_length") is not None and os.path.getsize(mp) != e["manifest_length"]:
            report.add(
                "ICE_MANIFEST_LENGTH",
                mp,
                f"manifest_length {e['manifest_length']} != actual {os.path.getsize(mp)}",
            )
        if e.get("sequence_number") is not None and e["sequence_number"] > snap_seq:
            report.add(
                "ICE_MANIFEST_SEQ",
                mp,
                f"manifest sequence {e['sequence_number']} > snapshot sequence {snap_seq}",
            )
        if e.get("added_snapshot_id") is not None and e["added_snapshot_id"] not in snapshots:
            report.add("ICE_MANIFEST_SNAPSHOT", mp, f"added_snapshot_id {e['added_snapshot_id']} unknown")
        _check_iceberg_manifest_file(
            spark, base_path, mp, e.get("content") or 0, field_types, report, snap_seq
        )


def _check_iceberg_manifest_file(
    spark: SparkSession,
    base_path: str,
    path: str,
    list_content: int,
    field_types: dict[int, str],
    report: ConformanceReport,
    snap_seq: int = 0,
) -> None:
    report.checked_files += 1
    try:
        records, meta = _read_avro_with_meta(
            spark, path, ["schema", "partition-spec", "format-version", "content"]
        )
    except Exception as exc:  # noqa: BLE001
        report.add("ICE_MANIFEST_UNREADABLE", path, str(exc))
        return
    for key in ("schema", "partition-spec", "format-version"):
        if key not in meta:
            report.add("ICE_MANIFEST_META", path, f"avro key-value metadata {key!r} required")
    if meta.get("format-version") not in (None, "2", "3"):
        report.add("ICE_MANIFEST_FORMAT_VERSION", path, f"format-version {meta.get('format-version')}")
    expected_content = "deletes" if list_content == 1 else "data"
    if meta.get("content") not in (None, expected_content):
        report.add(
            "ICE_MANIFEST_CONTENT",
            path,
            f"manifest metadata content={meta.get('content')!r} but list says {expected_content!r}",
        )
    for rec in records:
        status = rec.get("status")
        if status not in (0, 1, 2):
            report.add("ICE_ENTRY_STATUS", path, f"status must be 0/1/2, got {status}")
        # only ADDED entries may leave sequence numbers to the manifest
        # (spec "Sequence Number Inheritance"); a reader has nothing to
        # give an EXISTING or DELETED entry written with nulls
        for key in ("sequence_number", "file_sequence_number"):
            if status in (0, 2) and rec.get(key) is None:
                report.add("ICE_ENTRY_SEQ_NULL", path, f"status {status} entry with null {key}")
        df = rec.get("data_file")
        if not isinstance(df, dict):
            report.add("ICE_ENTRY_DATA_FILE", path, "data_file required")
            continue
        content = df.get("content") or 0
        if list_content == 1 and content not in (1, 2):
            report.add("ICE_DELETE_CONTENT", path, "delete manifest entries must have content 1/2")
        if content == 2:
            # v2 equality-delete shape + sequence rule: the ids must name
            # real schema fields, and the entry's explicit sequence number
            # must not exceed the snapshot's (the strict `delete_seq >
            # data_seq` application rule relies on honest sequencing)
            eq_ids = list(df.get("equality_ids") or [])
            if not eq_ids:
                report.add("ICE_EQ_IDS", path, "content=2 entry without equality_ids")
            for fid in eq_ids:
                if fid not in field_types:
                    report.add("ICE_EQ_FIELD", path, f"equality id {fid} not in schema")
            entry_seq = rec.get("sequence_number")
            if entry_seq is not None and snap_seq and entry_seq > snap_seq:
                report.add(
                    "ICE_EQ_SEQ",
                    path,
                    f"equality delete sequence {entry_seq} > snapshot sequence {snap_seq}",
                )
        if list_content == 0 and content != 0:
            report.add("ICE_DATA_CONTENT", path, "data manifest entries must have content 0")
        fp = _abs_path(df.get("file_path") or "", base_path)
        if status != 2 and not os.path.exists(fp):
            report.add("ICE_DATA_FILE_MISSING", path, fp)
        elif (
            status != 2
            and df.get("file_size_in_bytes") is not None
            and os.path.getsize(fp) != df["file_size_in_bytes"]
        ):
            report.add(
                "ICE_DATA_FILE_SIZE",
                path,
                f"file_size_in_bytes {df['file_size_in_bytes']} != actual {os.path.getsize(fp)}",
            )
        if (df.get("record_count") or 0) < 0:
            report.add("ICE_RECORD_COUNT", path, "record_count must be >= 0")
        # bounds: independent single-value decode, lower <= upper
        lowers = {b["key"]: b["value"] for b in (df.get("lower_bounds") or [])}
        uppers = {b["key"]: b["value"] for b in (df.get("upper_bounds") or [])}
        for fid, raw_lo in lowers.items():
            raw_hi = uppers.get(fid)
            t = field_types.get(fid)
            if raw_hi is None or t is None:
                continue
            lo, hi = (
                _decode_iceberg_single_value(t, raw_lo),
                _decode_iceberg_single_value(t, raw_hi),
            )
            if isinstance(lo, tuple) or isinstance(hi, tuple):
                report.add("ICE_BOUND_DECODE", path, f"field {fid} ({t}) bound not decodable")
            elif lo is not None and hi is not None and not (isinstance(lo, float) and lo != lo) and not (isinstance(hi, float) and hi != hi) and lo > hi:
                report.add("ICE_BOUND_ORDER", path, f"field {fid} lower {lo!r} > upper {hi!r}")


# ---------------------------------------------------------------------------
# Hudi (timeline + commit JSON)
# ---------------------------------------------------------------------------


def _check_hudi_hfile_partition(pdir: str, part: str, report: ConformanceReport) -> None:
    """REAL-layout metadata partition (r8 HFile writes): every latest base
    HFile must decode cleanly — checksums verified — and every cell's avro
    payload must parse as a HoodieMetadataRecord against the embedded
    writer schema. A flipped byte anywhere in a block trips the CRC chain
    (red-proven by tests/test_hfile_index_writes.py). The metadata table
    must also carry its own timeline (hoodie.properties + a deltacommit
    per index write), the shape real Hudi requires to open it."""
    from incubator_xtable_spark.model.avro_codec import decode_binary_record
    from incubator_xtable_spark.model.hfile import HFileError, read_hfile
    from incubator_xtable_spark.sources.hudi_metadata import _latest_hfile_slices

    for p in _latest_hfile_slices(pdir):
        try:
            hf = read_hfile(p, verify_checksums=True)
            avsc = hf.file_info.get("schema")
            if avsc is None:
                report.add(
                    "HUDI_META_HFILE_NO_SCHEMA", p, "no avro schema in HFile file info"
                )
                continue
            avsc = avsc.decode("utf-8")
            for cell in hf.cells:
                decode_binary_record(avsc, cell.value)
        except (HFileError, ValueError, KeyError, IndexError, struct.error) as exc:
            report.add("HUDI_META_HFILE_CORRUPT", p, f"{part}: {exc}")
    meta_hoodie = os.path.join(os.path.dirname(pdir), ".hoodie")
    if not os.path.isfile(os.path.join(meta_hoodie, "hoodie.properties")):
        report.add(
            "HUDI_META_TABLE_NO_PROPERTIES",
            meta_hoodie,
            "HFile metadata partitions present but the metadata table has no "
            "hoodie.properties",
        )
    elif not any(
        fn.endswith(".deltacommit") for fn in os.listdir(meta_hoodie)
    ):
        report.add(
            "HUDI_META_TABLE_NO_COMMITS",
            meta_hoodie,
            "metadata table timeline has no completed deltacommit",
        )


def check_hudi_conformance(base_path: str) -> ConformanceReport:
    report = ConformanceReport(base_path=base_path, table_format="HUDI")
    hoodie = os.path.join(base_path, ".hoodie")
    if not os.path.isdir(hoodie):
        report.add("HUDI_NO_HOODIE_DIR", hoodie, ".hoodie directory missing")
        return report
    props_path = os.path.join(hoodie, "hoodie.properties")
    props: dict = {}
    if not os.path.exists(props_path):
        report.add("HUDI_NO_PROPERTIES", props_path, "hoodie.properties missing")
    else:
        report.checked_files += 1
        with open(props_path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line and not line.startswith("#") and "=" in line:
                    k, _, v = line.partition("=")
                    props[k] = v
        for req in ("hoodie.table.name", "hoodie.table.type", "hoodie.table.version"):
            if req not in props:
                report.add("HUDI_PROPERTY", props_path, f"{req} required")
        if props.get("hoodie.table.type") not in (None, "COPY_ON_WRITE", "MERGE_ON_READ"):
            report.add("HUDI_TABLE_TYPE", props_path, props.get("hoodie.table.type", ""))
        # LITE metadata-index contract (README "Hudi metadata-index
        # interop boundary"): every ADVERTISED metadata partition must be
        # a directory of per-commit PARQUET delta files — the shape this
        # engine claims and its own source reads. An advertised partition
        # that is missing or holds non-parquet entries breaks the claim.
        adv = [p for p in (props.get("hoodie.table.metadata.partitions") or "").split(",") if p]
        for part in adv:
            lite_sub = "col_stats" if part == "column_stats" else part
            lite_dir = os.path.join(hoodie, "metadata", lite_sub)
            real_dir = os.path.join(hoodie, "metadata", part)
            lite_has_parquet = os.path.isdir(lite_dir) and any(
                fn.endswith(".parquet") for fn in os.listdir(lite_dir)
            )
            real_has_hfiles = os.path.isdir(real_dir) and any(
                fn.endswith(".hfile") for fn in os.listdir(real_dir)
            )
            if lite_has_parquet:
                for fn in os.listdir(lite_dir):
                    if fn.startswith("."):
                        continue
                    if not fn.endswith(".parquet"):
                        report.add(
                            "HUDI_META_INDEX_SHAPE",
                            os.path.join(lite_dir, fn),
                            "LITE index partitions hold per-commit parquet deltas only",
                        )
            elif real_has_hfiles:
                _check_hudi_hfile_partition(real_dir, part, report)
            else:
                report.add(
                    "HUDI_META_INDEX_MISSING",
                    real_dir,
                    f"metadata partition {part} advertised but neither a LITE "
                    "parquet index nor an HFile partition is present",
                )

    # active timeline: `.hoodie/timeline` (Hudi 1.0 / table version 8,
    # completed files named {requested}_{completion}.{action}) or
    # `.hoodie` itself (<= v6). The dir and the declared table version
    # must agree.
    tdir = os.path.join(hoodie, "timeline")
    v8_layout = os.path.isdir(tdir)
    active_dir = tdir if v8_layout else hoodie
    declared_version = props.get("hoodie.table.version")
    if v8_layout and declared_version not in (None, "8"):
        report.add(
            "HUDI_TIMELINE_VERSION",
            tdir,
            f".hoodie/timeline present but hoodie.table.version={declared_version}",
        )
    if not v8_layout and declared_version == "8":
        report.add(
            "HUDI_TIMELINE_VERSION",
            hoodie,
            "hoodie.table.version=8 but no .hoodie/timeline directory",
        )
    completed: list[tuple[str, str, str, Optional[str]]] = []
    names = set(os.listdir(active_dir))
    for fn in sorted(names):
        parts = fn.split(".")
        if len(parts) != 2 or parts[1] not in ("commit", "replacecommit", "deltacommit"):
            continue
        stem = parts[0]
        if stem.isdigit():
            completed.append((stem, parts[1], fn, None))
        else:
            req, sep, comp = stem.partition("_")
            if sep and req.isdigit() and comp.isdigit():
                completed.append((req, parts[1], fn, comp))
    seen_instants = [i for i, _, _, _ in completed]
    if len(seen_instants) != len(set(seen_instants)):
        report.add("HUDI_DUP_INSTANT", active_dir, "two completed actions share one instant")
    # completed CLEAN actions legitimately delete files still referenced
    # by pre-boundary commit metadata (the cleaner contract: readers may
    # not time-travel past earliestCommitToRetain) — exempt exactly the
    # files each clean payload declares deleted, nothing else
    cleaned_files: set = set()
    for fn in names:
        if not fn.endswith(".clean"):
            continue
        try:
            with open(os.path.join(active_dir, fn), encoding="utf-8") as fh:
                cleaned_files.update(json.load(fh).get("filesDeleted") or [])
        except (OSError, json.JSONDecodeError):
            report.add("HUDI_CLEAN_NOT_JSON", fn, "completed clean payload unreadable")
    for instant, action, fn, completion in completed:
        if len(instant) not in (14, 17):
            report.add(
                "HUDI_INSTANT_FORMAT",
                fn,
                "instant must be yyyyMMddHHmmss or yyyyMMddHHmmssSSS",
            )
        if completion is not None:
            # v8: the embedded completion time must be a valid instant
            # that does not precede the request time
            if len(completion) not in (14, 17):
                report.add(
                    "HUDI_INSTANT_FORMAT", fn, "completion time malformed"
                )
            elif completion < instant:
                report.add(
                    "HUDI_COMPLETION_ORDER",
                    fn,
                    f"completion {completion} precedes request {instant}",
                )
        # state machine: completed requires requested + inflight markers.
        # Real-Hudi naming: the commit action's inflight marker is the
        # bare "<instant>.inflight"; other actions embed the action name.
        requested = f"{instant}.{action}.requested"
        inflight = f"{instant}.inflight" if action == "commit" else f"{instant}.{action}.inflight"
        if requested not in names:
            report.add("HUDI_NO_REQUESTED", fn, f"missing {requested}")
        if inflight not in names:
            report.add("HUDI_NO_INFLIGHT", fn, f"missing {inflight}")
        report.checked_files += 1
        with open(os.path.join(active_dir, fn), encoding="utf-8") as fh:
            try:
                cm = json.load(fh)
            except json.JSONDecodeError as exc:
                report.add("HUDI_COMMIT_NOT_JSON", f"{instant}.{action}", str(exc))
                continue
        ptws = cm.get("partitionToWriteStats")
        if not isinstance(ptws, dict):
            report.add("HUDI_COMMIT_SHAPE", f"{instant}.{action}", "partitionToWriteStats map required")
            continue
        for partition, stats in ptws.items():
            for st in stats:
                for req in ("fileId", "path", "fileSizeInBytes"):
                    if req not in st:
                        report.add(
                            "HUDI_WRITE_STAT",
                            f"{instant}.{action}:{partition}",
                            f"writeStat.{req} required",
                        )
                p = st.get("path")
                if (
                    p
                    and p not in cleaned_files
                    and not os.path.exists(os.path.join(base_path, p))
                ):
                    report.add(
                        "HUDI_STAT_FILE_MISSING", f"{instant}.{action}:{partition}", p
                    )
                if p and st.get("fileId") and st["fileId"] not in os.path.basename(p):
                    report.add(
                        "HUDI_FILE_ID",
                        f"{instant}.{action}:{partition}",
                        f"fileId {st['fileId']} not part of file name {os.path.basename(p)}",
                    )
        if action == "replacecommit" and not isinstance(cm.get("partitionToReplaceFileIds"), dict):
            report.add(
                "HUDI_REPLACE_SHAPE",
                f"{instant}.{action}",
                "replacecommit requires partitionToReplaceFileIds map",
            )
    return report


# ---------------------------------------------------------------------------
# Paimon (FileStore layout; checked because this engine WRITES it too)
# ---------------------------------------------------------------------------


def check_paimon_conformance(spark: SparkSession, base_path: str) -> ConformanceReport:
    report = ConformanceReport(base_path=base_path, table_format="PAIMON")
    snap_dir = os.path.join(base_path, "snapshot")
    schema_dir = os.path.join(base_path, "schema")
    if not os.path.isdir(snap_dir) or not os.path.isdir(schema_dir):
        report.add("PAI_NO_LAYOUT", base_path, "snapshot/ or schema/ directory missing")
        return report

    schema_ids = sorted(
        int(n[len("schema-") :])
        for n in os.listdir(schema_dir)
        if n.startswith("schema-") and n[len("schema-") :].isdigit()
    )
    if not schema_ids or schema_ids[0] != 0:
        report.add("PAI_SCHEMA_CHAIN", schema_dir, f"schema ids must start at 0, got {schema_ids[:3]}")
    for sid in schema_ids:
        p = os.path.join(schema_dir, f"schema-{sid}")
        report.checked_files += 1
        try:
            with open(p) as fh:
                sch = json.load(fh)
        except json.JSONDecodeError as exc:
            report.add("PAI_SCHEMA_JSON", p, str(exc))
            continue
        for req in ("id", "fields", "partitionKeys", "primaryKeys", "options", "highestFieldId"):
            if req not in sch:
                report.add("PAI_SCHEMA_FIELD", p, f"{req} required")
        if sch.get("id") != sid:
            report.add("PAI_SCHEMA_ID", p, f"embedded id {sch.get('id')} != file id {sid}")
        ids = [f.get("id") for f in sch.get("fields", [])]
        if ids and sch.get("highestFieldId", -1) < max(ids):
            report.add("PAI_HIGHEST_FIELD_ID", p, "highestFieldId below max field id")
        names = {f.get("name") for f in sch.get("fields", [])}
        for k in sch.get("partitionKeys", []):
            if k not in names:
                report.add("PAI_PARTITION_KEY", p, f"partition key {k!r} not a field")

    snap_ids = sorted(
        int(n[len("snapshot-") :])
        for n in os.listdir(snap_dir)
        if n.startswith("snapshot-") and n[len("snapshot-") :].isdigit()
    )
    if not snap_ids:
        report.add("PAI_NO_SNAPSHOTS", snap_dir, "no snapshot-N files")
        return report
    gaps = [b for a, b in zip(snap_ids, snap_ids[1:]) if b != a + 1]
    if gaps:
        report.add("PAI_SNAPSHOT_GAP", snap_dir, f"non-contiguous snapshots at {gaps[:3]}")
    hint = os.path.join(snap_dir, "LATEST")
    if os.path.exists(hint):
        with open(hint) as fh:
            h = int(fh.read().strip())
        if h != snap_ids[-1]:
            report.add("PAI_LATEST_HINT", hint, f"LATEST={h} but newest snapshot is {snap_ids[-1]}")

    latest = os.path.join(snap_dir, f"snapshot-{snap_ids[-1]}")
    report.checked_files += 1
    with open(latest) as fh:
        snap = json.load(fh)
    for req in ("id", "schemaId", "baseManifestList", "deltaManifestList", "commitKind", "commitIdentifier"):
        if req not in snap:
            report.add("PAI_SNAPSHOT_FIELD", latest, f"{req} required")
    if snap.get("schemaId") not in schema_ids:
        report.add("PAI_SNAPSHOT_SCHEMA", latest, f"schemaId {snap.get('schemaId')} has no schema file")

    # manifest tree of the latest snapshot: every listed manifest exists
    # with the recorded size; every live entry's data file exists.
    # The changelog list (when a producer wrote one) is held to the same
    # existence/size rules — a broken changelog silently starves CDC
    # consumers of OVERWRITE commits.
    mdir = os.path.join(base_path, "manifest")
    for list_name in (
        snap.get("baseManifestList"),
        snap.get("deltaManifestList"),
        snap.get("changelogManifestList"),
    ):
        if not list_name:
            continue
        lp = os.path.join(mdir, list_name)
        if not os.path.exists(lp):
            report.add("PAI_MANIFEST_LIST_MISSING", latest, lp)
            continue
        report.checked_files += 1
        try:
            metas, _ = _read_avro_with_meta(spark, lp, [])
        except Exception as exc:  # noqa: BLE001
            report.add("PAI_MANIFEST_LIST_UNREADABLE", lp, str(exc))
            continue
        for m in metas:
            mp = os.path.join(mdir, m.get("_FILE_NAME") or "")
            if not os.path.exists(mp):
                report.add("PAI_MANIFEST_MISSING", lp, mp)
                continue
            if m.get("_FILE_SIZE") is not None and os.path.getsize(mp) != m["_FILE_SIZE"]:
                report.add(
                    "PAI_MANIFEST_SIZE",
                    mp,
                    f"_FILE_SIZE {m['_FILE_SIZE']} != actual {os.path.getsize(mp)}",
                )

    from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

    try:
        src = PaimonConversionSource(spark, base_path)
        sch = src._schema(snap.get("schemaId", 0))
        for e in src._merged_live_entries(snap):
            fp = src._entry_abs_path(e, sch)
            report.checked_files += 1
            if not os.path.exists(fp):
                report.add("PAI_DATA_FILE_MISSING", latest, fp)
            elif os.path.getsize(fp) != e["_FILE"]["_FILE_SIZE"]:
                report.add(
                    "PAI_DATA_FILE_SIZE",
                    fp,
                    f"_FILE_SIZE {e['_FILE']['_FILE_SIZE']} != actual {os.path.getsize(fp)}",
                )
    except Exception as exc:  # noqa: BLE001
        report.add("PAI_ENTRIES_UNREADABLE", latest, str(exc))
    # changelog data files (CDC consumers read them long after commit)
    cl = snap.get("changelogManifestList")
    if cl:
        try:
            src = PaimonConversionSource(spark, base_path)
            sch = src._schema(snap.get("schemaId", 0))
            for e in src._entries_for_lists([cl]):
                fp = src._entry_abs_path(e, sch)
                report.checked_files += 1
                if not os.path.exists(fp):
                    report.add("PAI_CHANGELOG_FILE_MISSING", latest, fp)
        except Exception as exc:  # noqa: BLE001
            report.add("PAI_CHANGELOG_UNREADABLE", latest, str(exc))
    return report


# ---------------------------------------------------------------------------
# Facade
# ---------------------------------------------------------------------------


def check_conformance(spark: SparkSession, base_path: str, table_format: str) -> ConformanceReport:
    fmt = table_format.upper()
    if fmt == "DELTA":
        return check_delta_conformance(spark, base_path)
    if fmt == "ICEBERG":
        return check_iceberg_conformance(spark, base_path)
    if fmt == "HUDI":
        return check_hudi_conformance(base_path)
    if fmt == "PAIMON":
        return check_paimon_conformance(spark, base_path)
    raise ValueError(f"no conformance checker for format {table_format}")
