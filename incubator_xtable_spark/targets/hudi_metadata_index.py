"""REAL-layout Hudi metadata-table index writes (HFile base + log files).

Opt-in via ``HudiConversionTarget(metadata_index_format="hfile")``: the
``column_stats`` and ``files`` metadata partitions are written the way
real Hudi's write client maintains them (ref
hudi/HudiConversionTarget.java:267-470 drives that client; container
layout verified against an actual Hudi-written metadata table, see
tests/test_hfile.py::test_reads_actual_hudi_written_hfile):

- the FIRST commit writes an HBase HFile base file per metadata file
  group (``<fileId>_<writeToken>_<instant>.hfile``) holding
  HoodieMetadataRecord avro payloads;
- every LATER commit appends one metadata log file per file group
  (``.<fileId>_<baseInstant>.log.<version>_<writeToken>``) whose single
  HFILE_DATA_BLOCK carries ONLY that commit's delta records — fresh
  column stats per added file, ``isDeleted`` tombstones per replaced
  file, per-partition file-list mutations — real Hudi's deltacommit
  shape (r9; r8 rewrote a full-state base per commit, ~1 min/commit at
  100k files);
- after ``compact_every`` log files accrue on a slice, the commit
  COMPACTS: base + logs merge (HoodieMetadataPayload semantics) into a
  new full-state base at the commit instant, and subsequent logs attach
  to the new base.  Column-stats records carry over as RAW avro bytes
  (latest-wins per key needs no decode/re-encode — wrapper-union branch
  choices stay byte-stable); file-list records merge decoded (their
  schema has no ambiguous unions).

Record keys (r9): column_stats records key by real Hudi's hashed
``ColumnIndexID+PartitionIndexID+FileIndexID`` scheme by default
(``model/hudi_hash.py``), so a real Hudi reader's point lookups
(HoodieMetadataPayload.getColumnStatsIndexKey →
hudi/HudiFileStatsExtractor.java:99-186 via getColumnStats) resolve
against the written index; ``files`` records keep real Hudi's plain
partition-path keys.  ``key_mode="readable"`` keeps the engine's legacy
``<column>;;<file>`` convention.

Plus the metadata table's OWN ``.hoodie`` timeline (hoodie.properties +
per-commit deltacommit lifecycle).

Scale: index writes are driver-side pure python over METADATA-sized
state; per-commit cost is now O(files touched x columns) — the commit's
delta — not O(table files) as in r8; the compaction every N commits
amortizes the full rewrite to 1/N of commits (see loadtest numbers in
STATUS.md).  Data rows never route through here.
"""

from __future__ import annotations

import io
import json
import logging
import os
import struct
import uuid

from pyspark.sql import types as T

log = logging.getLogger(__name__)

from incubator_xtable_spark.model.hfile import hfile_bytes, read_hfile, write_hfile
from incubator_xtable_spark.model.hudi_metadata_records import (
    HUDI_METADATA_RECORD_SCHEMA,
    col_stats_record,
    files_partition_mutation_records,
    files_partition_records,
    merge_metadata_records,
)
from incubator_xtable_spark.model.stat_codec import decode_stat

COL_STATS_FILE_ID = "col-stats-0000-0"
FILES_FILE_ID = "files-0000-0"
WRITE_TOKEN = "0-0-0"
COLUMN_STATS_PARTITION = "column_stats"
FILES_PARTITION = "files"
DEFAULT_COMPACT_EVERY = 10


def metadata_table_dir(base_path: str) -> str:
    return os.path.join(base_path, ".hoodie", "metadata")


def _partition_dir(base_path: str, partition: str) -> str:
    return os.path.join(metadata_table_dir(base_path), partition)


def _slice_state(d: str, file_id: str) -> tuple[str | None, list[str]]:
    """-> (latest base hfile for the file group or None, its ordered logs)."""
    from incubator_xtable_spark.sources.hudi_metadata import (
        _latest_hfile_slices,
        slice_log_files,
    )

    for p in _latest_hfile_slices(d):
        if os.path.basename(p).startswith(file_id + "_"):
            return p, slice_log_files(d, p)
    return None, []


def _write_base(
    d: str,
    file_id: str,
    instant: str,
    records: list[tuple[bytes, bytes]],
) -> tuple[str, int]:
    """Write one full-state base HFile; -> (rel path inside the metadata
    table, file size). Atomic via write_hfile's tmp+replace.

    Every base carries real Hudi's HFile-INTERNAL bloom over its record
    keys — a ``bloomFilter`` META block + ``bloomFilterTypeCode`` file
    info (HoodieAvroHFileWriter's close() shape) — so point lookups
    short-circuit definite misses without decoding any data block (the
    engine writes SIMPLE; the read tier also decodes real Hudi's default
    DYNAMIC_V0, model/hudi_bloom.py)."""
    from incubator_xtable_spark.model.hudi_bloom import SimpleBloomFilter

    os.makedirs(d, exist_ok=True)
    records = sorted(records, key=lambda kv: kv[0])
    path = os.path.join(d, f"{file_id}_{WRITE_TOKEN}_{instant}.hfile")
    info = {"schema": json.dumps(HUDI_METADATA_RECORD_SCHEMA).encode("utf-8")}
    meta_blocks = None
    if records:
        info["minRecordKey"] = records[0][0]
        info["maxRecordKey"] = records[-1][0]
        bf = SimpleBloomFilter.for_entries(len(records), fpp=0.001)
        for row, _v in records:
            bf.add(row)
        info["bloomFilterTypeCode"] = SimpleBloomFilter.TYPE_CODE.encode("utf-8")
        meta_blocks = {"bloomFilter": bf.serialize_to_string().encode("utf-8")}
    write_hfile(path, records, info, meta_blocks=meta_blocks)
    return os.path.join(os.path.basename(d), os.path.basename(path)), os.path.getsize(path)


def _append_log(
    d: str,
    base_path_of_slice: str,
    instant: str,
    records: list[tuple[bytes, bytes]],
    delete_keys: list[str] | None = None,
) -> tuple[str, int]:
    """Append one metadata log file carrying this commit's delta records as
    a single HFILE_DATA_BLOCK (real Hudi's metadata log block format —
    keyed+sorted so readers can seek inside blocks too), plus an optional
    DELETE_BLOCK tombstoning ``delete_keys``; -> (rel path, size).
    Put-if-absent via hard link, same posture as the timeline."""
    from incubator_xtable_spark.model.avro_codec import encode_binary_record
    from incubator_xtable_spark.sources.hudi_log import (
        DELETE_BLOCK,
        DELETE_RECORD_LIST_SCHEMA,
        HFILE_DATA_BLOCK,
        H_INSTANT_TIME,
        H_SCHEMA,
        _block_bytes,
    )
    from incubator_xtable_spark.sources.hudi_metadata import slice_log_files

    schema = json.dumps(HUDI_METADATA_RECORD_SCHEMA)
    name = os.path.basename(base_path_of_slice)[: -len(".hfile")]
    file_id, _token, base_instant = name.split("_")[0], None, name.split("_")[2]
    # idempotence: the write token IS the commit instant, the content
    # is deterministic (key-sorted records, order-free bloom bits), and
    # one commit writes at most one log per file group — so a log whose
    # token matches this instant is THIS append already done
    existing = slice_log_files(d, base_path_of_slice)
    for lp in existing:
        if os.path.basename(lp).rpartition("_")[2] == instant:
            return (
                os.path.join(os.path.basename(d), os.path.basename(lp)),
                os.path.getsize(lp),
            )
    version = len(existing) + 1
    records = sorted(records, key=lambda kv: kv[0])
    # DELETE block FIRST: blocks replay in file order, so a key both
    # tombstoned and re-written this commit (a file rewritten in place —
    # one HFile mini-block cannot hold two cells for one key) resolves
    # delete-then-fresh = REPLACED, never combined with its old stats
    # and never dropped
    block = b""
    if delete_keys:
        wrapper = {
            "deleteRecordList": [
                {"recordKey": k, "partitionPath": None} for k in sorted(delete_keys)
            ]
        }
        blob = encode_binary_record(DELETE_RECORD_LIST_SCHEMA, wrapper)
        block += _block_bytes(
            DELETE_BLOCK,
            {H_INSTANT_TIME: instant, H_SCHEMA: DELETE_RECORD_LIST_SCHEMA},
            struct.pack(">ii", 1, len(blob)) + blob,
        )
    if records or not delete_keys:
        content = hfile_bytes(records, {"schema": schema.encode("utf-8")})
        block += _block_bytes(
            HFILE_DATA_BLOCK,
            {H_INSTANT_TIME: instant, H_SCHEMA: schema},
            content,
        )
    path = os.path.join(d, f".{file_id}_{base_instant}.log.{version}_{instant}")
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "wb") as fh:
        fh.write(block)
    try:
        os.link(tmp, path)
    except FileExistsError as exc:
        # a speculative duplicate attempt of the SAME commit lost the
        # race to IDENTICAL bytes — success; different content at the
        # same path means a true concurrent writer — refuse (content
        # compare, not name compare: the colliding name always carries
        # this instant by construction)
        with open(path, "rb") as fh:
            existing = fh.read()
        if existing == block:
            return os.path.join(os.path.basename(d), os.path.basename(path)), len(block)
        raise RuntimeError(
            f"concurrent Hudi metadata-index log append at {path}"
        ) from exc
    finally:
        os.unlink(tmp)
    return os.path.join(os.path.basename(d), os.path.basename(path)), len(block)


def _iter_raw_slice(hfile_path: str, log_paths: list[str]):
    """Replay-ordered (key str, raw avro value bytes | None, decoded rec)
    triples of a metadata file slice — base cells first, then the shared
    log decoder (model/hudi_metadata_records.iter_log_records_raw; raw
    bytes ride along so compaction can carry winning records without
    re-encoding — decode drops union branch names)."""
    from incubator_xtable_spark.model.avro_codec import decode_value
    from incubator_xtable_spark.model.hudi_metadata_records import (
        iter_log_records_raw,
    )

    hf = read_hfile(hfile_path)
    avsc = hf.file_info.get("schema")
    if avsc is None:
        raise ValueError(f"{hfile_path}: HFile carries no avro schema in file info")
    schema = json.loads(avsc.decode("utf-8"))
    for cell in hf.cells:
        rec = decode_value(schema, io.BytesIO(cell.value))
        yield (rec.get("key") or cell.row.decode("utf-8"), cell.value, rec)
    yield from iter_log_records_raw(log_paths)


def _compacted_records(
    hfile_path: str, log_paths: list[str], combine_type3: bool = False
) -> list[tuple[bytes, bytes]]:
    """Full-state records of a slice for the compaction write.

    Column-stats records (type 3) compact at the RAW byte level —
    latest-wins per key, isDeleted payloads and tombstones drop the key —
    so the winning record's wrapper bytes carry over untouched.  File-list
    records (types 1/2) go through the decoded map-combine
    (merge_metadata_records) and re-encode: their schema has no ambiguous
    unions, so the roundtrip is lossless.

    Boundary: raw latest-wins equals the read tier's real-Hudi stat
    COMBINE (model/hudi_metadata_records._combine_col_stats) because the
    engine only compacts slices it wrote itself, and those never carry
    two live records for one key (files are immutable; replacements
    tombstone first).  Real-Hudi metadata tables are read-only sources —
    they merge through the read tier, never through this compactor.
    EXCEPTION: ``combine_type3=True`` (the partition_stats file group,
    whose records accumulate per key by design) folds same-key type-3
    records through the real stat combine via a branch-preserving
    decode/re-encode (combine_col_stats_raw)."""
    from incubator_xtable_spark.model.avro_codec import encode_binary_record
    from incubator_xtable_spark.model.hudi_metadata_records import (
        combine_col_stats_raw,
    )

    raw_state: dict[str, list[bytes]] = {}
    fs_ordered: list[tuple[str, dict]] = []
    for key, raw, rec in _iter_raw_slice(hfile_path, log_paths):
        if rec.get("_tombstone"):
            raw_state.pop(key, None)
            fs_ordered.append((key, rec))
            continue
        rtype = rec.get("type")
        if rtype in (1, 2):
            fs_ordered.append((key, rec))
            continue
        cs = rec.get("ColumnStatsMetadata") or {}
        if rtype == 3 and cs.get("isDeleted"):
            raw_state.pop(key, None)
        elif combine_type3 and rtype == 3:
            raw_state.setdefault(key, []).append(raw)
        else:
            raw_state[key] = [raw]
    out = [
        (k.encode("utf-8"), vs[0] if len(vs) == 1 else combine_col_stats_raw(vs))
        for k, vs in raw_state.items()
    ]
    for key, rec in merge_metadata_records(fs_ordered).items():
        out.append(
            (key.encode("utf-8"), encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, rec))
        )
    return out


def _commit_partition(
    d: str,
    file_id: str,
    instant: str,
    delta_records: list[tuple[bytes, bytes]],
    compact_every: int,
    delete_keys: list[str] | None = None,
    combine_type3: bool = False,
    full_state_fn=None,
) -> tuple[str, int, int]:
    """One metadata file group's write for one commit: first commit -> base
    HFile; later commits -> one delta log file (+DELETE_BLOCK tombstones);
    every ``compact_every`` logs -> merge base+logs (including this
    commit's delta) into a new full-state base.
    ``full_state_fn`` (optional, no-arg): called ONLY at compaction; a
    non-None return replaces the fold entirely — the hook partition_stats
    uses to re-tighten its accumulated aggregates from live col_stats
    (falling back to the fold when it returns None).
    -> (rel path written, size, record count)."""
    base, logs = _slice_state(d, file_id)
    if base is None:
        # fresh index: tombstones have nothing to drop
        rel, size = _write_base(d, file_id, instant, delta_records)
        return rel, size, len(delta_records)
    rel, size = _append_log(d, base, instant, delta_records, delete_keys)
    # re-list instead of appending: _append_log's idempotent early-return
    # must not double-count a log toward compact_every or
    # feed compaction the same delta twice
    from incubator_xtable_spark.sources.hudi_metadata import slice_log_files

    logs_after = slice_log_files(d, base)
    if len(logs_after) >= compact_every:
        merged = full_state_fn() if full_state_fn is not None else None
        if merged is None:
            merged = _compacted_records(base, logs_after, combine_type3=combine_type3)
        rel, size = _write_base(d, file_id, instant, merged)
        return rel, size, len(merged)
    return rel, size, len(delta_records)


PARTITION_STATS_PARTITION = "partition_stats"
PARTITION_STATS_FILE_ID = "partition-stats-0000-0"


def _rebuilt_partition_stats_state(
    base_path: str,
    adds: list[dict],
    removed_rel_paths: list[str],
    schema: T.StructType,
    key_mode: str,
) -> list[tuple[bytes, bytes]] | None:
    """EXACT full-state partition_stats records recomputed from the live
    ``files`` + ``column_stats`` indexes (state as of the previous
    commit — both tombstone correctly on rewrites) plus THIS commit's
    in-hand delta — the compaction-time re-tightening that undoes the
    delta path's conservative drift (deletes leave stale contributions,
    in-place rewrites double-count; see write_partition_stats_commit).
    Returns None whenever an exact rebuild cannot be guaranteed (index
    base missing/undecodable, readable keys with ambiguous duplicate
    base names, or ANY exception from decoding/folding foreign index
    state — e.g. a real-Hudi log whose coerced min/max type doesn't
    compare against this commit's decoded values) — the caller then
    falls back to the plain combine fold, which is conservative but
    never wrong for pruning. A compaction must never fail the sync
    commit over a re-tightening OPTIMIZATION.

    Scale: driver-side over METADATA state (live files x columns), the
    same order as one files-index compaction; no data file opens."""
    try:
        return _rebuild_partition_stats_exact(
            base_path, adds, removed_rel_paths, schema, key_mode
        )
    except Exception:  # noqa: BLE001 — fold fallback is always safe
        log.warning(
            "partition_stats exact rebuild failed for %s; compacting via "
            "the conservative combine fold instead",
            base_path,
            exc_info=True,
        )
        return None


def _rebuild_partition_stats_exact(
    base_path: str,
    adds: list[dict],
    removed_rel_paths: list[str],
    schema: T.StructType,
    key_mode: str,
) -> list[tuple[bytes, bytes]] | None:
    from incubator_xtable_spark.model.hudi_metadata_records import (
        ALL_PARTITIONS_KEY,
        NON_PARTITIONED_NAME,
        _unwrap_stat,
        col_stats_key,
        merged_metadata_slice_records,
        partition_stats_record,
    )
    from incubator_xtable_spark.sources.hudi_metadata import (
        coerce_hudi_wrapper_value,
    )

    if key_mode not in ("hashed", "readable"):
        return None
    cs_base, cs_logs = _slice_state(
        _partition_dir(base_path, COLUMN_STATS_PARTITION), COL_STATS_FILE_ID
    )
    f_base, f_logs = _slice_state(
        _partition_dir(base_path, FILES_PARTITION), FILES_FILE_ID
    )
    if cs_base is None or f_base is None:
        return None
    try:
        files_state = merged_metadata_slice_records(f_base, f_logs)
        cs_state = {
            k: rec.get("ColumnStatsMetadata") or {}
            for k, rec in merged_metadata_slice_records(cs_base, cs_logs)
            if rec.get("type") == 3
            and not (rec.get("ColumnStatsMetadata") or {}).get("isDeleted")
        }
    except Exception:  # foreign/undecodable slice: fold instead
        return None

    removed = set(removed_rel_paths)
    add_paths = {a["rel_path"] for a in adds}
    # (partition, file name) pairs live as of AFTER this commit: the
    # index's live files minus this commit's removes, adds layered on
    # top from the in-hand stats (re-adds therefore REPLACE)
    live: list[tuple[str, str]] = []
    for key, rec in files_state:
        if key == ALL_PARTITIONS_KEY or rec.get("type") not in (1, 2):
            continue
        part = "" if key == NON_PARTITIONED_NAME else key
        for fname in (rec.get("filesystemMetadata") or {}):
            rel = f"{part}/{fname}" if part else fname
            if rel in removed or rel in add_paths:
                continue
            live.append((part, fname))
    if key_mode == "readable":
        # readable col_stats keys carry no partition: duplicate base
        # names across partitions would cross-serve stats — bail
        names = [fname for _, fname in live]
        if len(names) != len(set(names)):
            return None

    dtypes = {f.name: f.dataType for f in schema.fields}
    # (partition, column) -> [min, max, value_count, null_count]
    agg: dict[tuple[str, str], list] = {}

    def _fold(part: str, col: str, mn, mx, vc: int, nc: int) -> None:
        cur = agg.setdefault((part, col), [None, None, 0, 0])
        if mn is not None and (cur[0] is None or mn < cur[0]):
            cur[0] = mn
        if mx is not None and (cur[1] is None or mx > cur[1]):
            cur[1] = mx
        cur[2] += vc
        cur[3] += nc

    for part, fname in live:
        for col, dtype in dtypes.items():
            if key_mode == "hashed":
                from incubator_xtable_spark.model.hudi_hash import col_stats_index_key

                key = col_stats_index_key(part, fname, col)
            else:
                key = col_stats_key(col, fname)
            cs = cs_state.get(key)
            if cs is None:
                # no stats for this (file, column) — same as the delta
                # path, which only aggregates columns the add carried
                continue
            _fold(
                part,
                col,
                coerce_hudi_wrapper_value(_unwrap_stat(cs.get("minValue")), dtype),
                coerce_hudi_wrapper_value(_unwrap_stat(cs.get("maxValue")), dtype),
                int(cs.get("valueCount") or 0),
                int(cs.get("nullCount") or 0),
            )
    for a in adds:
        part = os.path.dirname(a["rel_path"])
        n = int(a.get("record_count") or 0)
        for col, st in (a.get("column_stats") or {}).items():
            dtype = dtypes.get(col)
            if dtype is None:
                continue
            _fold(
                part,
                col,
                decode_stat(st["min_json"], dtype),
                decode_stat(st["max_json"], dtype),
                n,
                int(st["null_count"] or 0),
            )
    return [
        partition_stats_record(part, col, mn, mx, dtypes[col], vc, nc)
        for (part, col), (mn, mx, vc, nc) in sorted(agg.items())
    ]


def write_partition_stats_commit(
    base_path: str,
    instant: str,
    adds: list[dict],
    removed_rel_paths: list[str],
    schema: T.StructType,
    *,
    compact_every: int = DEFAULT_COMPACT_EVERY,
    key_mode: str = "hashed",
) -> list[tuple[str, str, str, int, int]]:
    """Maintain the ``partition_stats`` metadata partition (Hudi 1.0's
    partition-pruning index, beyond the reference) for one commit: ONE
    type-3 record per (touched partition, column) carrying only THIS
    commit's aggregate over its added files — real Hudi's shape, where
    the HoodieMetadataPayload stat COMBINE accumulates records for the
    same key across commits (min of mins, max of maxes, summed counts).

    Deltas drift CONSERVATIVE between compactions (real Hudi's
    pre-compaction isTightBound=false posture): deletes
    (``removed_rel_paths``) leave the dead files' bounds/counts in the
    aggregate, and an IN-PLACE REWRITE of an existing rel path adds the
    new version's stats while the old contribution stays — counts
    over-state and bounds widen. Pruning on a superset range is always
    safe. COMPACTION re-tightens: every ``compact_every`` commits the
    full state is REBUILT exactly from the live files + col_stats
    indexes (which do tombstone rewrites) via
    _rebuilt_partition_stats_state, falling back to the plain combine
    fold (conservative, combine_type3=True) when an exact rebuild
    cannot be guaranteed.

    Scale: driver-side pure python over the commit's OWN adds (metadata
    delta, never table state); per-commit cost O(touched partitions x
    columns)."""
    from incubator_xtable_spark.model.hudi_metadata_records import (
        partition_stats_record,
    )

    dtypes = {f.name: f.dataType for f in schema.fields}
    # (partition, column) -> [min, max, value_count, null_count]
    agg: dict[tuple[str, str], list] = {}
    for a in adds:
        part = os.path.dirname(a["rel_path"])
        n = int(a.get("record_count") or 0)
        for col, st in (a.get("column_stats") or {}).items():
            dtype = dtypes.get(col)
            if dtype is None:
                continue
            mn = decode_stat(st["min_json"], dtype)
            mx = decode_stat(st["max_json"], dtype)
            cur = agg.setdefault((part, col), [None, None, 0, 0])
            if mn is not None and (cur[0] is None or mn < cur[0]):
                cur[0] = mn
            if mx is not None and (cur[1] is None or mx > cur[1]):
                cur[1] = mx
            cur[2] += n
            # st may be a pyspark Row (no .get) — subscript only
            cur[3] += int(st["null_count"] or 0)
    records = [
        partition_stats_record(part, col, mn, mx, dtypes[col], vc, nc)
        for (part, col), (mn, mx, vc, nc) in sorted(agg.items())
    ]
    if not records:
        return []
    d = _partition_dir(base_path, PARTITION_STATS_PARTITION)
    rel, size, n = _commit_partition(
        d,
        PARTITION_STATS_FILE_ID,
        instant,
        records,
        compact_every,
        combine_type3=True,
        full_state_fn=lambda: _rebuilt_partition_stats_state(
            base_path, adds, removed_rel_paths, schema, key_mode
        ),
    )
    return [(PARTITION_STATS_PARTITION, PARTITION_STATS_FILE_ID, rel, size, n)]


def write_hfile_index_commit(
    base_path: str,
    instant: str,
    adds: list[dict],
    removed_rel_paths: list[str],
    schema: T.StructType,
    table_name: str,
    *,
    key_mode: str = "hashed",
    compact_every: int = DEFAULT_COMPACT_EVERY,
    extra_stats: list[tuple[str, str, str, int, int]] | None = None,
) -> None:
    """Maintain both HFile index partitions + the metadata timeline for one
    completed data-table commit.

    ``adds``: per added file — {"rel_path", "size_bytes", "record_count",
    "column_stats": {col: {"min_json", "max_json", "null_count"}}}.
    ``removed_rel_paths``: files replaced/removed at this commit.
    """
    dtypes = {f.name: f.dataType for f in schema.fields}

    # a file removed AND re-added at the same rel path in one commit is
    # live: its stats must REPLACE the old file's (not combine with them
    # under the type-3 stat merge, not drop). One HFile mini-block cannot
    # hold a tombstone cell AND a fresh cell for the same key, so re-added
    # paths tombstone through the log's DELETE block, which _append_log
    # writes BEFORE the data block (delete-then-fresh replay = replace).
    # The files partition keeps the plain filter: its per-partition map
    # has one entry per file name, and the fresh add entry IS the
    # replacement.
    added_paths = {a["rel_path"] for a in adds}
    re_added = [r for r in removed_rel_paths if r in added_paths]
    removed_rel_paths = [r for r in removed_rel_paths if r not in added_paths]
    cs_delete_keys: list[str] = []
    for rel in re_added:
        part, fname = os.path.dirname(rel), os.path.basename(rel)
        for col in dtypes:
            if key_mode == "hashed":
                from incubator_xtable_spark.model.hudi_hash import col_stats_index_key

                cs_delete_keys.append(col_stats_index_key(part, fname, col))
            else:
                from incubator_xtable_spark.model.hudi_metadata_records import (
                    col_stats_key,
                )

                cs_delete_keys.append(col_stats_key(col, fname))

    # -- column_stats delta: tombstones per removed file, then fresh
    # records per add (tombstone-first also keeps any foreign same-key
    # pairing add-wins under ordered replay) --
    cs_records: list[tuple[bytes, bytes]] = []
    for rel in removed_rel_paths:
        part, fname = os.path.dirname(rel), os.path.basename(rel)
        # a replaced file tombstones on every indexed column (the current
        # schema's columns — the same set real Hudi's delete-record
        # generation walks). A record under a column dropped from the
        # schema would survive, but stats reads join on LIVE files only,
        # so a dead file's orphan record can never serve.
        for col, dtype in dtypes.items():
            cs_records.append(
                col_stats_record(
                    fname,
                    col,
                    None,
                    None,
                    dtype,
                    value_count=0,
                    null_count=0,
                    is_deleted=True,
                    key_mode=key_mode,
                    partition_path=part,
                )
            )
    for a in adds:
        rel = a["rel_path"]
        part, fname = os.path.dirname(rel), os.path.basename(rel)
        for col, st in (a.get("column_stats") or {}).items():
            dtype = dtypes.get(col)
            if dtype is None:
                continue
            cs_records.append(
                col_stats_record(
                    fname,
                    col,
                    decode_stat(st["min_json"], dtype),
                    decode_stat(st["max_json"], dtype),
                    dtype,
                    value_count=a.get("record_count") or 0,
                    null_count=st["null_count"],
                    key_mode=key_mode,
                    partition_path=part,
                )
            )
    cs_dir = _partition_dir(base_path, COLUMN_STATS_PARTITION)
    cs_rel, cs_size, cs_n = _commit_partition(
        cs_dir,
        COL_STATS_FILE_ID,
        instant,
        cs_records,
        compact_every,
        delete_keys=cs_delete_keys or None,
    )

    # -- files delta: per-partition mutation records --------------------
    f_adds: dict[str, dict[str, int]] = {}
    for a in adds:
        part, fname = os.path.dirname(a["rel_path"]), os.path.basename(a["rel_path"])
        f_adds.setdefault(part, {})[fname] = int(a["size_bytes"])
    f_removes: dict[str, list[str]] = {}
    for rel in removed_rel_paths:
        part, fname = os.path.dirname(rel), os.path.basename(rel)
        f_removes.setdefault(part, []).append(fname)
    f_dir = _partition_dir(base_path, FILES_PARTITION)
    f_base, _f_logs = _slice_state(f_dir, FILES_FILE_ID)
    if f_base is None:
        # first commit: the delta IS the full state — write it in the
        # base-file shape (full per-partition maps + all-partitions head)
        state = {p: dict(files) for p, files in f_adds.items()}
        f_records = files_partition_records(state)
    else:
        f_records = files_partition_mutation_records(f_adds, f_removes)
    f_rel, f_size, f_n = _commit_partition(
        f_dir, FILES_FILE_ID, instant, f_records, compact_every
    )

    _ensure_metadata_table_properties(base_path, table_name)
    _write_metadata_deltacommit(
        base_path,
        instant,
        [
            (COLUMN_STATS_PARTITION, COL_STATS_FILE_ID, cs_rel, cs_size, cs_n),
            (FILES_PARTITION, FILES_FILE_ID, f_rel, f_size, f_n),
        ]
        + list(extra_stats or []),  # e.g. partition_stats writes
    )


def _ensure_metadata_table_properties(base_path: str, table_name: str) -> None:
    """The metadata table's own hoodie.properties (MOR, HFILE base format,
    HoodieMetadataPayload merge — the config real Hudi writes for
    <table>_metadata; field-for-field shape of the real artifact)."""
    d = os.path.join(metadata_table_dir(base_path), ".hoodie")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, "hoodie.properties")
    if os.path.exists(p):
        return
    props = {
        "hoodie.table.name": f"{table_name}_metadata",
        "hoodie.table.type": "MERGE_ON_READ",
        "hoodie.table.version": "6",
        "hoodie.timeline.layout.version": "1",
        "hoodie.table.base.file.format": "HFILE",
        "hoodie.table.recordkey.fields": "key",
        "hoodie.populate.meta.fields": "false",
        "hoodie.compaction.payload.class": "org.apache.hudi.metadata.HoodieMetadataPayload",
        "hoodie.table.keygenerator.class": "org.apache.hudi.metadata.HoodieTableMetadataKeyGenerator",
        "hoodie.archivelog.folder": "archived",
        "hoodie.datasource.write.drop.partition.columns": "false",
        "hoodie.table.checksum": "0",
    }
    with open(p, "w", encoding="utf-8") as fh:
        fh.write("#Updated at " + instant_now_str() + "\n")
        for k, v in sorted(props.items()):
            fh.write(f"{k}={v}\n")


def instant_now_str() -> str:
    from incubator_xtable_spark.targets.hudi_target import instant_now

    return instant_now()


def _write_metadata_deltacommit(
    base_path: str,
    instant: str,
    written: list[tuple[str, str, str, int, int]],
) -> None:
    """requested -> inflight -> completed deltacommit on the metadata
    table's timeline, same put-if-absent posture as the data timeline.
    ``written``: (partition, fileId, rel_path, size, n_records)."""
    d = os.path.join(metadata_table_dir(base_path), ".hoodie")
    os.makedirs(d, exist_ok=True)
    for suffix in ("deltacommit.requested", "deltacommit.inflight"):
        open(os.path.join(d, f"{instant}.{suffix}"), "w", encoding="utf-8").close()
    stats: dict[str, list[dict]] = {}
    for partition, file_id, rel, size, n in written:
        stats.setdefault(partition, []).append(
            {
                "fileId": file_id,
                "path": rel,
                "prevCommit": "null",
                "numWrites": n,
                "numInserts": n,
                "totalWriteBytes": size,
                "fileSizeInBytes": size,
                "partitionPath": partition,
            }
        )
    meta = {
        "partitionToWriteStats": stats,
        "compacted": False,
        "operationType": "UPSERT_PREPPED",
        "extraMetadata": {"schema": json.dumps(HUDI_METADATA_RECORD_SCHEMA)},
    }
    final = os.path.join(d, f"{instant}.deltacommit")
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh, sort_keys=True)
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise RuntimeError(
            f"concurrent Hudi metadata-table commit at instant {instant}"
        ) from exc
    finally:
        os.unlink(tmp)
