"""Hudi metadata-table indexes: the source-side readers and the engine's
LITE index writer.

Reference parity (what, not how):
- col_stats-first stats tier with per-file parquet-footer fallback and a
  warning for uncovered files      hudi/HudiFileStatsExtractor.java:99-186
- listing from the metadata table's `files` partition
                                   hudi/HudiDataFileExtractor.java:102-126
- availability gated on the table config listing the metadata partition
                                   hudi/HudiFileStatsExtractor.java:101-105
  (``hoodie.table.metadata.partitions`` — the real Hudi config key read by
  ``isMetadataPartitionAvailable``)
- record count = max valueCount across top-level columns
                                   hudi/HudiFileStatsExtractor.java:204-214
- target-side index maintenance on every commit (the write-client's
  metadata-table update)           hudi/HudiConversionTarget.java:267-470

The readers decode the real layout: the metadata table is an MOR Hudi
table whose partitions hold HFile base files plus unmerged log files,
merged with the HoodieMetadataPayload rules (``model/hfile``,
``model/hudi_metadata_records``). A table without decodable HFile slices
gets its listing from the timeline and its stats from parquet footers.

The engine's LITE index (the target's default ``metadata_index_format``)
is a directory of per-commit parquet delta files
``.hoodie/metadata/{col_stats,files}/<instant>.parquet`` carrying the
logical HoodieMetadataColumnStats / file-list records; nothing in the
engine reads it back, so a LITE-indexed table syncs from the timeline
and footers like an unindexed one.

Scale notes: the stats, listing and point-lookup readers run on the
driver. The indexes are metadata-sized (files x columns records), and a
Spark job over them paid seconds of fixed per-job cost where the decode
takes milliseconds. The bulk record-index and secondary-index reads
return DataFrames for Spark consumers, one task per file slice.
Each LITE delta is one pyarrow file written from the rows the target
already holds, then renamed into place.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import uuid
from struct import error as struct_error

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

log = logging.getLogger(__name__)

COL_STATS_SUBDIR = os.path.join(".hoodie", "metadata", "col_stats")
FILES_SUBDIR = os.path.join(".hoodie", "metadata", "files")
METADATA_PARTITIONS_KEY = "hoodie.table.metadata.partitions"
COLUMN_STATS_PARTITION = "column_stats"
FILES_PARTITION = "files"

# logical HoodieMetadataColumnStats record (column_name NULL = file-level
# tombstone written when a file group is replaced)
COL_STATS_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("commit_instant", T.StringType(), False),
        T.StructField("partition_path", T.StringType(), True),
        T.StructField("file_name", T.StringType(), False),
        T.StructField("column_name", T.StringType(), True),
        T.StructField("min_json", T.StringType(), True),
        T.StructField("max_json", T.StringType(), True),
        T.StructField("null_count", T.LongType(), True),
        T.StructField("value_count", T.LongType(), True),
        T.StructField("is_deleted", T.BooleanType(), False),
    ]
)


# logical HoodieMetadataFileInfo record for the `files` partition: one
# row per (partition, file) mutation; is_deleted=True when the file group
# was replaced/removed at commit_instant
FILES_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("commit_instant", T.StringType(), False),
        T.StructField("partition_path", T.StringType(), True),
        T.StructField("file_name", T.StringType(), False),
        T.StructField("file_size", T.LongType(), True),
        T.StructField("is_deleted", T.BooleanType(), False),
    ]
)


# real Hudi metadata-table layout: .hoodie/metadata is itself an MOR Hudi
# table whose column_stats partition holds HFile base files
HFILE_COL_STATS_SUBDIR = os.path.join(".hoodie", "metadata", "column_stats")


def col_stats_dir(base_path: str) -> str:
    return os.path.join(base_path, COL_STATS_SUBDIR)


def files_dir(base_path: str) -> str:
    return os.path.join(base_path, FILES_SUBDIR)


def _latest_hfile_slices(d: str, as_of_instant: str | None = None) -> list[str]:
    """Latest base .hfile per metadata file group. Base file names are
    ``<fileId>_<writeToken>_<instant>.hfile``; the latest instant per
    fileId is the current slice's base file. ``as_of_instant`` replays
    the index AS OF a data-table instant: only bases written at or
    before it qualify (a group with no such base simply drops out — its
    keys go unresolved, which every consumer treats as "keep/fall
    back", the safe direction).

    Known limitation (documented): real Hudi can be configured to write
    metadata partitions with PARQUET base files; this probe globs .hfile
    only, so such tables fall to the footer/timeline tiers — the safe
    (slower, never wrong) direction."""
    best: dict[str, tuple[str, str]] = {}
    for p in glob.glob(os.path.join(d, "*.hfile")):
        name = os.path.basename(p)[: -len(".hfile")]
        parts = name.split("_")
        if len(parts) < 3:
            continue
        file_id, instant = parts[0], parts[2]
        if as_of_instant is not None and instant > as_of_instant:
            continue
        cur = best.get(file_id)
        if cur is None or instant > cur[0]:
            best[file_id] = (instant, p)
    return sorted(p for _, p in best.values())


def slice_log_files(d: str, hfile_path: str) -> list[str]:
    """Unmerged log files of the slice whose base file is ``hfile_path``:
    names ``.<fileId>_<baseInstant>.log.<version>_<writeToken>`` matching
    the base's fileId and instant, ordered by log version (the merge
    order real Hudi's MOR view applies)."""
    name = os.path.basename(hfile_path)[: -len(".hfile")]
    parts = name.split("_")
    if len(parts) < 3:
        return []
    file_id, instant = parts[0], parts[2]
    prefix = f".{file_id}_{instant}.log."
    out = []
    for p in glob.glob(os.path.join(d, f"{prefix}*")):
        tail = os.path.basename(p)[len(prefix):]
        try:
            version = int(tail.split("_")[0])
        except ValueError:
            continue
        out.append((version, p))
    return [p for _, p in sorted(out)]


def _base_supported(path: str) -> bool:
    """Cheap probe (trailer-only read): the base HFile's codec and index
    depth are within the pure-python reader's support — a multi-level
    data index or foreign codec must drop the TIER (footers/timeline),
    not crash a lookup mid-read."""
    from incubator_xtable_spark.model.hfile import (
        COMPRESSION_GZ,
        COMPRESSION_NONE,
        HEADER_SIZE,
        TRAILER_SIZE,
        _parse_trailer,
    )

    try:
        with open(path, "rb") as fh:
            fh.seek(0, os.SEEK_END)
            size = fh.tell()
            # _parse_trailer slices the trailer off the END of the buffer
            # and enforces a TRAILER_SIZE+HEADER_SIZE minimum
            fh.seek(max(0, size - TRAILER_SIZE - HEADER_SIZE))
            tail = fh.read()
        trailer = _parse_trailer(tail, path)
        if trailer.get("num_data_index_levels", 1) > 1:
            return False
        return trailer.get("compression_codec", COMPRESSION_NONE) in (
            COMPRESSION_GZ,
            COMPRESSION_NONE,
        )
    except Exception:
        return False


def _hfile_partition_state(
    d: str, probe: bool = True, as_of_instant: str | None = None
) -> tuple[list[tuple[str, list[str]]], bool]:
    """-> ([(latest base hfile, its ordered logs)], ok). ok is False when
    any slice carries a log file the merge cannot decode OR a base file
    beyond the reader's support (multi-level index / foreign codec) — the
    caller warns and falls back instead of serving stale/partial state or
    crashing mid-read. ``probe=False`` skips the (full-log-parse) probe
    for POINT lookups, which instead catch decode errors per slice.
    ``as_of_instant`` replays the index as of a data-table instant (base
    selection here; log BLOCKS filter by their INSTANT_TIME header in
    the record merge)."""
    from incubator_xtable_spark.model.hudi_metadata_records import (
        metadata_logs_supported,
    )

    slices = []
    for base in _latest_hfile_slices(d, as_of_instant):
        logs = slice_log_files(d, base)
        if probe:
            if not _base_supported(base):
                return [], False
            if logs and not metadata_logs_supported(logs):
                return [], False
        slices.append((base, logs))
    return slices, True


def hfile_col_stats_available(base_path: str, as_of_instant: str | None = None) -> bool:
    """REAL-Hudi col-stats tier availability: the table config advertises
    the partition and HFile base files exist. Log-bearing slices are
    MERGED (AVRO/HFILE/DELETE log blocks via the pure-python codecs);
    only an undecodable log file drops the tier to parquet footers, with
    a warning."""
    from incubator_xtable_spark.sources.hudi_source import read_properties

    props = read_properties(base_path)
    parts = (props.get(METADATA_PARTITIONS_KEY) or "").split(",")
    if COLUMN_STATS_PARTITION not in parts:
        return False
    d = os.path.join(base_path, HFILE_COL_STATS_SUBDIR)
    slices, logs_ok = _hfile_partition_state(d, as_of_instant=as_of_instant)
    if not logs_ok:
        log.warning(
            "column_stats metadata partition of %s has undecodable log "
            "file(s); falling back to parquet footers",
            base_path,
        )
        return False
    return bool(slices)


def lookup_col_stats_record(
    base_path: str, partition_path: str, file_name: str, column: str
) -> dict | None:
    """REAL-Hudi hashed-key POINT lookup into the column_stats metadata
    partition — the read shape HoodieTableMetadata.getColumnStats uses
    (ref hudi/HudiFileStatsExtractor.java:99-186 keys its probes by
    HoodieMetadataPayload.getColumnStatsIndexKey): compute the hashed
    ColumnIndexID+PartitionIndexID+FileIndexID key, HFile-seek the base
    file of each metadata file group (O(one block) decode), replay the
    slice's log records for that key only. -> the merged
    HoodieMetadataRecord dict, or None when absent/tombstoned.

    A point probe decodes one block; the full-partition decode
    (hfile_stats_records) is the bulk-stats path."""
    from incubator_xtable_spark.model.hudi_hash import col_stats_index_key
    from incubator_xtable_spark.model.hudi_metadata_records import (
        point_lookup_slice_record,
    )

    key = col_stats_index_key(partition_path, file_name, column)
    d = os.path.join(base_path, HFILE_COL_STATS_SUBDIR)
    # probe=False: a point probe must not pre-parse every log of every
    # slice (that doubles the work the lookup itself does); decode
    # failures on unsupported content answer None = no information
    slices, _ = _hfile_partition_state(d, probe=False)
    for base, logs in slices:
        rec = _safe_point_lookup(base, logs, key)
        if rec is not None:
            return rec
    return None


def _safe_point_lookup(base: str, logs: list[str], key: str) -> dict | None:
    from incubator_xtable_spark.model.hfile import HFileError
    from incubator_xtable_spark.model.hudi_metadata_records import (
        point_lookup_slice_record,
    )

    try:
        return point_lookup_slice_record(base, logs, key)
    except (HFileError, ValueError, KeyError, EOFError, struct_error):
        return None


def hfile_stats_records(
    base_path: str, schema: T.StructType, as_of_instant: str | None = None
) -> list[dict]:
    """Decode a REAL Hudi column_stats partition (HFile base files plus
    their unmerged logs) into the engine's stat records: one dict per live
    (file, column) record with ``record_key``, ``file_name``,
    ``column_name``, ``min_json`` / ``max_json`` (re-encoded by the data
    schema's column types; None for a column the schema lacks),
    ``null_count`` and ``value_count``. Tombstoned records drop out.
    ``as_of_instant`` replays the index AS OF a data-table instant (base
    selection by embedded instant + log blocks by INSTANT_TIME header) —
    the state a time-travel read may trust."""
    from incubator_xtable_spark.model.hudi_metadata_records import (
        merged_metadata_slice_records,
    )
    from incubator_xtable_spark.model.stat_codec import encode_stat

    dtypes = {f.name: f.dataType for f in schema.fields}

    def encode(wrapper, dtype):
        if dtype is None:
            return None
        return encode_stat(coerce_hudi_wrapper_value((wrapper or {}).get("value"), dtype), dtype)

    slices, _ = _hfile_partition_state(
        os.path.join(base_path, HFILE_COL_STATS_SUBDIR), as_of_instant=as_of_instant
    )
    out = []
    for base, logs in slices:
        for key, rec in merged_metadata_slice_records(base, logs, as_of_instant):
            cs = rec.get("ColumnStatsMetadata")
            if cs is None or cs.get("isDeleted"):
                continue
            dtype = dtypes.get(cs.get("columnName"))
            out.append(
                {
                    "record_key": key,
                    "file_name": cs.get("fileName"),
                    "column_name": cs.get("columnName"),
                    "min_json": encode(cs.get("minValue"), dtype),
                    "max_json": encode(cs.get("maxValue"), dtype),
                    "null_count": cs.get("nullCount"),
                    "value_count": cs.get("valueCount"),
                }
            )
    return out


def file_stats_from_hfile_index(base_path: str, schema: T.StructType) -> dict[str, tuple]:
    """The decoded HFile records pivoted per file NAME (Hudi-native file
    names are uuid-unique; the payload carries no partition path) ->
    {file_name: (record_count, column_stats)}. record_count is the max
    valueCount across columns; column_stats maps each column, in name
    order, to its (min_json, max_json, null_count). A name holding two
    records for one column (the same base name in two partitions of the
    index) is ambiguous and left out."""
    by_name: dict[str, dict[str, dict]] = {}
    counts: dict[str, list[int]] = {}
    clashing: set[str] = set()
    for r in hfile_stats_records(base_path, schema):
        name, col = r["file_name"], r["column_name"]
        stats = by_name.setdefault(name, {})
        if col in stats:
            clashing.add(name)
        stats[col] = {k: r[k] for k in ("min_json", "max_json", "null_count")}
        if r["value_count"] is not None:
            counts.setdefault(name, []).append(r["value_count"])
    return {
        name: (
            max(counts[name]) if name in counts else None,
            {c: stats[c] for c in sorted(stats)},
        )
        for name, stats in by_name.items()
        if name not in clashing
    }


def stats_with_hfile_tier(
    base_path: str, paths: list[str], schema: T.StructType
) -> list[tuple]:
    """Index-first stats over a REAL Hudi metadata table (HFile base
    files), parquet-footer recompute with a warning for uncovered files
    (ref hudi/HudiFileStatsExtractor.java:99-186, which reads these HFiles
    via the Hudi client; this engine decodes them directly). -> (path,
    record_count, column_stats) per path of ``paths``, the shape of
    ``parquet_source.footer_stat_rows``.

    The index is keyed by base name, so a name that several listed paths
    share (possible on converted parquet-dir layouts) is ambiguous: those
    files take footer stats, so one partition's stats never serve
    another's."""
    from collections import Counter

    from incubator_xtable_spark.sources.parquet_source import footer_stat_rows

    names = [os.path.basename(p) for p in paths]
    dup_names = {n for n, k in Counter(names).items() if k > 1}
    if dup_names:
        log.warning(
            "%d duplicate file base name(s) across partitions in %s; the "
            "name-keyed HFile stats tier serves footer stats for those files",
            len(dup_names),
            base_path,
        )
    index = file_stats_from_hfile_index(base_path, schema)
    out, missing = [], []
    for path, name in zip(paths, names):
        hit = None if name in dup_names else index.get(name)
        if hit is None:
            missing.append(path)
        else:
            out.append((path, *hit))
    if missing:
        log.warning(
            "%d file(s) had no column stats in the HFile metadata index for table %s; "
            "falling back to parquet footers",
            len(missing),
            base_path,
        )
        out.extend(footer_stat_rows(missing, schema))
    return out


def hfile_files_available(base_path: str) -> bool:
    """REAL-Hudi `files`-partition listing tier (r8): the config advertises
    the partition and HFile base files exist in it. Log-bearing slices are
    merged like the col-stats tier; only undecodable logs drop to timeline
    replay, with a warning. Ref hudi/HudiDataFileExtractor.java:102-126 —
    the reference's primary listing path via the metadata table."""
    from incubator_xtable_spark.sources.hudi_source import read_properties

    props = read_properties(base_path)
    parts = (props.get(METADATA_PARTITIONS_KEY) or "").split(",")
    if FILES_PARTITION not in parts:
        return False
    slices, logs_ok = _hfile_partition_state(files_dir(base_path))
    if not logs_ok:
        log.warning(
            "files metadata partition of %s has undecodable log file(s); "
            "falling back to timeline replay",
            base_path,
        )
        return False
    return bool(slices)


def hfile_files_head_instant(base_path: str) -> str | None:
    """Freshness mark of the `files` HFile index: the newest base-file
    instant, advanced by any unmerged log blocks' INSTANT_TIME headers
    (a log-bearing slice is as fresh as its newest applied delta) — a
    lagging index must not serve a stale listing."""
    from incubator_xtable_spark.sources.hudi_log import H_INSTANT_TIME, read_log_blocks

    d = files_dir(base_path)
    best = None
    for p in _latest_hfile_slices(d):
        name = os.path.basename(p)[: -len(".hfile")]
        parts = name.split("_")
        if len(parts) >= 3 and (best is None or parts[2] > best):
            best = parts[2]
        for lp in slice_log_files(d, p):
            try:
                for block in read_log_blocks(lp):
                    inst = block.headers.get(H_INSTANT_TIME)
                    if inst and (best is None or inst > best):
                        best = inst
            except Exception:  # undecodable logs already disable the tier
                continue
    return best


def hfile_files_listing(base_path: str) -> list[tuple[str, str, int]]:
    """Decode a REAL Hudi `files` partition (HFile base files + unmerged
    log files) into (partition_path, file_name, file_size) rows, on the
    driver. Tombstoned files drop out in the HoodieMetadataPayload map
    merge."""
    from incubator_xtable_spark.model.hudi_metadata_records import (
        NON_PARTITIONED_NAME,
        merged_metadata_slice_records,
    )

    slices, _ = _hfile_partition_state(files_dir(base_path))
    out = []
    for base, logs in slices:
        for key, rec in merged_metadata_slice_records(base, logs):
            if rec.get("type") != 2:
                continue
            part = "" if key == NON_PARTITIONED_NAME else key
            for name, info in (rec.get("filesystemMetadata") or {}).items():
                if not info.get("isDeleted"):
                    out.append((part, name, int(info["size"])))
    return out


RECORD_INDEX_PARTITION = "record_index"
HFILE_RECORD_INDEX_SUBDIR = os.path.join(".hoodie", "metadata", "record_index")


def record_index_available(base_path: str) -> bool:
    """isMetadataPartitionAvailable(RECORD_INDEX) analog: the table config
    advertises the partition and decodable HFile slices exist in it."""
    from incubator_xtable_spark.sources.hudi_source import read_properties

    props = read_properties(base_path)
    parts = (props.get(METADATA_PARTITIONS_KEY) or "").split(",")
    if RECORD_INDEX_PARTITION not in parts:
        return False
    d = os.path.join(base_path, HFILE_RECORD_INDEX_SUBDIR)
    slices, logs_ok = _hfile_partition_state(d)
    if not logs_ok:
        log.warning(
            "record_index metadata partition of %s has undecodable log "
            "file(s); key lookups unavailable",
            base_path,
        )
        return False
    return bool(slices)


def record_index_num_shards(base_path: str) -> int:
    """Shard count = number of record-index file groups on disk (the
    writer names them record-index-<i:04d>-0; real Hudi likewise fixes
    the file-group count at index build time)."""
    d = os.path.join(base_path, HFILE_RECORD_INDEX_SUBDIR)
    slices, _ = _hfile_partition_state(d)
    return len(slices)


def read_record_index(spark: SparkSession, base_path: str) -> DataFrame:
    """Decode the record_index partition into (record_key, partition_path,
    file_id, instant_ms) — one task per shard slice, pure-python
    HFile/log/avro codecs in Arrow batch workers (the same distribution
    as the col-stats and files tiers); tombstoned keys drop in the
    merge. Beyond the reference (it consumes files/col_stats only)."""
    slices, _ = _hfile_partition_state(os.path.join(base_path, HFILE_RECORD_INDEX_SUBDIR))
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out_schema = T.StructType(
        [
            T.StructField("record_key", T.StringType(), False),
            T.StructField("partition_path", T.StringType(), True),
            T.StructField("file_id", T.StringType(), True),
            T.StructField("instant_ms", T.LongType(), True),
        ]
    )

    def _decode(batches):
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        import json as _json

        import pandas as pd

        from incubator_xtable_spark.model.hudi_metadata_records import (
            NON_PARTITIONED_NAME,
            merged_metadata_slice_records,
        )

        for pdf in batches:
            rows = []
            for p, logs_json in zip(pdf["hfile_path"], pdf["log_paths"]):
                for key, rec in merged_metadata_slice_records(p, _json.loads(logs_json)):
                    ri = rec.get("recordIndexMetadata")
                    if ri is None:
                        continue
                    part = ri.get("partitionName")
                    rows.append(
                        (
                            key,
                            "" if part == NON_PARTITIONED_NAME else part,
                            ri.get("fileId"),
                            ri.get("instantTime"),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["record_key", "partition_path", "file_id", "instant_ms"]
            )

    listing = spark.createDataFrame(
        [(p, json.dumps(logs)) for p, logs in slices],
        "hfile_path STRING, log_paths STRING",
    )
    if listing.rdd.getNumPartitions() < len(slices):
        listing = listing.repartition(len(slices))
    return listing.mapInPandas(_decode, out_schema)


def lookup_record_key(base_path: str, record_key: str) -> dict | None:
    """POINT lookup of one record key — the RLI read shape real Hudi's
    key-based file pruning uses: shard by
    mapRecordKeyToFileGroupIndex (Java hashCode semantics), HFile-seek
    that one shard's base, replay its logs for the key. -> decoded
    HoodieRecordIndexInfo dict (partitionName/fileId/instantTime), or
    None when the key is absent/tombstoned. Driver-side by design —
    metadata-cheap probes; bulk reads go through read_record_index."""
    from incubator_xtable_spark.model.hudi_hash import (
        map_record_key_to_file_group_index,
    )

    d = os.path.join(base_path, HFILE_RECORD_INDEX_SUBDIR)
    slices, _ = _hfile_partition_state(d, probe=False)
    if not slices:
        return None
    by_group = {os.path.basename(p).split("_")[0]: (p, logs) for p, logs in slices}
    shard = map_record_key_to_file_group_index(record_key, len(slices))
    hit = by_group.get(f"record-index-{shard:04d}-0")
    if hit is None:
        return None
    rec = _safe_point_lookup(hit[0], hit[1], record_key)
    # None means NOT INDEXED, not proven-absent: a crashed commit may
    # leave tombstones for files the timeline still lists (the same
    # orphan-index posture as col_stats, where the footer tier covers the
    # gap) — consumers needing proof must fall back to a data scan.
    return (rec or {}).get("recordIndexMetadata")


def _secondary_index_dir(base_path: str, field: str) -> str:
    return os.path.join(
        base_path, ".hoodie", "metadata", f"secondary_index_idx_{field}"
    )


def secondary_index_available(base_path: str, field: str) -> bool:
    """isMetadataPartitionAvailable(SECONDARY_INDEX) analog for the
    ``secondary_index_idx_<field>`` partition."""
    from incubator_xtable_spark.sources.hudi_source import read_properties

    props = read_properties(base_path)
    parts = (props.get(METADATA_PARTITIONS_KEY) or "").split(",")
    if f"secondary_index_idx_{field}" not in parts:
        return False
    slices, logs_ok = _hfile_partition_state(_secondary_index_dir(base_path, field))
    if not logs_ok:
        log.warning(
            "secondary_index_idx_%s partition of %s has undecodable log "
            "file(s); secondary lookups unavailable",
            field,
            base_path,
        )
        return False
    return bool(slices)


def read_secondary_index(spark: SparkSession, base_path: str, field: str) -> DataFrame:
    """Decode a secondary-index partition into (secondary_key, record_key)
    mappings — one task per shard slice, pure-python codecs in Arrow
    batch workers; isDeleted mappings drop in the type-7 merge. Beyond
    the reference (Hudi 1.0 feature; the reference consumes
    files/col_stats only)."""
    slices, _ = _hfile_partition_state(_secondary_index_dir(base_path, field))
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    out_schema = T.StructType(
        [
            T.StructField("secondary_key", T.StringType(), False),
            T.StructField("record_key", T.StringType(), False),
        ]
    )

    def _decode(batches):
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        import json as _json

        import pandas as pd

        from incubator_xtable_spark.model.hudi_metadata_records import (
            merged_metadata_slice_records,
            split_secondary_index_key,
        )

        for pdf in batches:
            rows = []
            for p, logs_json in zip(pdf["hfile_path"], pdf["log_paths"]):
                for key, rec in merged_metadata_slice_records(p, _json.loads(logs_json)):
                    if rec.get("type") != 7:
                        continue
                    rows.append(split_secondary_index_key(key))
            yield pd.DataFrame(rows, columns=["secondary_key", "record_key"])

    listing = spark.createDataFrame(
        [(p, json.dumps(logs)) for p, logs in slices],
        "hfile_path STRING, log_paths STRING",
    )
    if listing.rdd.getNumPartitions() < len(slices):
        listing = listing.repartition(len(slices))
    return listing.mapInPandas(_decode, out_schema)


def lookup_secondary_key(base_path: str, field: str, value: str) -> list[str]:
    """POINT lookup: record keys whose ``field`` equals ``value``,
    resolved from ONE shard (mappings shard by Java hashCode of the
    escaped secondary part — see
    targets/hudi_metadata_index.write_secondary_index_commit; an engine
    routing decision, documented there). Prefix-scans the pinned shard's
    merged records for ``escape(value)$`` — bounded by that shard's index
    size, metadata-cheap by construction; bulk reads go through
    read_secondary_index. Returns [] when the value is absent (or its
    mappings are all tombstoned)."""
    from incubator_xtable_spark.model.hudi_hash import (
        map_record_key_to_file_group_index,
    )
    from incubator_xtable_spark.model.hudi_metadata_records import (
        escape_secondary_key_part,
        merged_metadata_slice_records,
        split_secondary_index_key,
    )

    d = _secondary_index_dir(base_path, field)
    slices, _ = _hfile_partition_state(d, probe=False)
    if not slices:
        return []
    by_group = {os.path.basename(p).split("_")[0]: (p, logs) for p, logs in slices}
    shard = map_record_key_to_file_group_index(
        escape_secondary_key_part(value), len(slices)
    )
    hit = by_group.get(f"secondary-index-{shard:04d}-0")
    if hit is None:
        return []
    prefix = escape_secondary_key_part(value) + "$"
    out = []
    for key, rec in merged_metadata_slice_records(hit[0], list(hit[1])):
        if rec.get("type") == 7 and key.startswith(prefix):
            sec, rk = split_secondary_index_key(key)
            if sec == value:
                out.append(rk)
    return sorted(out)


BLOOM_FILTERS_PARTITION = "bloom_filters"
HFILE_BLOOM_FILTERS_SUBDIR = os.path.join(".hoodie", "metadata", "bloom_filters")


def bloom_filters_available(base_path: str) -> bool:
    """isMetadataPartitionAvailable(BLOOM_FILTERS) analog."""
    from incubator_xtable_spark.sources.hudi_source import read_properties

    props = read_properties(base_path)
    parts = (props.get(METADATA_PARTITIONS_KEY) or "").split(",")
    if BLOOM_FILTERS_PARTITION not in parts:
        return False
    d = os.path.join(base_path, HFILE_BLOOM_FILTERS_SUBDIR)
    slices, logs_ok = _hfile_partition_state(d)
    return logs_ok and bool(slices)


def lookup_bloom_filter(base_path: str, partition_path: str, file_name: str):
    """POINT lookup of one file's bloom filter — the read shape real
    Hudi's bloom-index file pruning uses: compute the hashed
    getBloomFilterIndexKey, HFile-seek the base, replay logs for the key.
    -> model/hudi_bloom.SimpleBloomFilter, or None when absent/deleted.
    Probe keys with .might_contain(record_key). None means NO
    INFORMATION (skip pruning), never proof of emptiness — e.g. a
    crashed commit can tombstone a bloom for a file the timeline still
    lists."""
    from incubator_xtable_spark.model.hudi_bloom import SimpleBloomFilter
    from incubator_xtable_spark.model.hudi_hash import bloom_filter_index_key

    key = bloom_filter_index_key(partition_path, file_name)
    d = os.path.join(base_path, HFILE_BLOOM_FILTERS_SUBDIR)
    slices, _ = _hfile_partition_state(d, probe=False)
    for base, logs in slices:
        rec = _safe_point_lookup(base, logs, key)
        if rec is not None:
            bf = rec.get("BloomFilterMetadata") or {}
            if bf.get("isDeleted") or not bf.get("bloomFilter"):
                return None
            return SimpleBloomFilter.deserialize_from_string(
                bytes(bf["bloomFilter"]).decode("utf-8")
            )
    return None


def coerce_hudi_wrapper_value(v, dtype):
    """Hudi's typed wrappers store dates as plain epoch DAYS ints,
    timestamps as plain epoch MICROS longs (no avro logicalType), and
    decimals rescaled to the fixed (30,15) wrapper scale — normalize to
    the column's Spark type (byte-identical to the footer tier's
    encoding when re-encoded)."""
    import datetime as _dt
    import decimal as _decimal

    from pyspark.sql import types as _T

    if v is None:
        return None
    if isinstance(dtype, _T.DateType) and isinstance(v, int):
        return _dt.date(1970, 1, 1) + _dt.timedelta(days=v)
    if isinstance(dtype, _T.TimestampType) and isinstance(v, int):
        # LTZ columns: footer tier encodes pyarrow's tz-aware UTC
        # stats — stay aware here or min/max bytes diverge
        return _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc) + _dt.timedelta(
            microseconds=v
        )
    if isinstance(dtype, _T.TimestampNTZType) and isinstance(v, int):
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=v)
    if isinstance(dtype, _T.DecimalType) and isinstance(v, _decimal.Decimal):
        return v.quantize(_decimal.Decimal(1).scaleb(-dtype.scale))
    return v


def prune_files_by_col_stats(
    base_path: str,
    rel_paths: list[str],
    schema: T.StructType,
    bounds: dict[str, tuple],
    as_of_instant: str | None = None,
) -> set[str]:
    """Index-driven FILE pruning (the data-skipping consumer of the
    column_stats metadata partition — what real Hudi's
    ColumnStatsIndexSupport does at scan planning): -> the subset of
    ``rel_paths`` that can intersect ``bounds`` ({column: (lower,
    upper)}, either bound None = unbounded, both inclusive).

    SAFE, never wrong: a file is dropped only when the index PROVES its
    [min,max] excludes the requested range on some predicate column.
    Files without index coverage (or with null mins/maxes, or when the
    hfile col-stats partition is absent/undecodable) are KEPT, and the
    match keys on the RECORD KEY — hashed
    ColumnIndexID+PartitionIndexID+FileIndexID (or, for UNPARTITIONED
    listings only, the readable ``<col>;;<file>`` spelling: readable
    keys carry no partition, so on partitioned tables a same-named file
    OUTSIDE this listing — another partition, another as-of version —
    could own the matched record; hashed keys are trusted everywhere) —
    never on the bare file name, so two partitions carrying the same
    base name can never serve each other's stats. Pruning is a
    plan-time optimization — callers still apply the real row filter.

    The partition_stats index is deliberately NOT used to drop whole
    partitions here: its aggregate only covers files whose footers
    carried stats for the column, so a partition-level drop could
    discard an uncovered file that holds matching rows. (Point
    consumers with external coverage knowledge can call
    lookup_partition_stats directly.)

    Scale: the index decode is hfile_stats_records on the driver, where
    the file list already lives; the index is metadata-sized (files x
    columns records)."""
    if not bounds or not rel_paths:
        return set(rel_paths)
    if not hfile_col_stats_available(base_path, as_of_instant):
        return set(rel_paths)
    from incubator_xtable_spark.model.hudi_metadata_records import col_stats_key
    from incubator_xtable_spark.model.stat_codec import decode_stat, stat_range_keeps

    dtypes = {f.name: f.dataType for f in schema.fields}
    cols = [c for c in bounds if c in dtypes]
    if not cols:
        return set(rel_paths)
    # expected record keys per (file, column) under BOTH key modes (the
    # index was written with one; foreign expected keys simply never
    # match). Hashed keys carry the partition and are always safe;
    # READABLE keys (<col>;;<file>) carry no partition, so they are only
    # trusted on UNPARTITIONED listings — on a partitioned table a
    # same-named file outside this listing (other partition, other
    # as-of version) could own the matched record.
    from incubator_xtable_spark.model.hudi_hash import (
        column_index_id,
        file_index_id,
        partition_identifier,
        partition_index_id,
    )

    col_ids = {c: column_index_id(c) for c in cols}
    part_ids: dict[str, str] = {}
    unpartitioned = all(os.path.dirname(rel) == "" for rel in rel_paths)
    expect: dict[str, tuple[str, str]] = {}
    for rel in rel_paths:
        part, fname = os.path.dirname(rel), os.path.basename(rel)
        if part not in part_ids:
            part_ids[part] = partition_index_id(partition_identifier(part))
        fid = file_index_id(fname)
        for c in cols:
            expect[col_ids[c] + part_ids[part] + fid] = (rel, c)
            if unpartitioned:
                expect[col_stats_key(c, fname)] = (rel, c)
    drop: set[str] = set()
    for r in hfile_stats_records(base_path, schema, as_of_instant):
        hit = expect.get(r["record_key"])
        if not hit:
            continue  # foreign or ambiguous key: no usable information
        rel, c = hit
        lo, hi = bounds[c]
        mn = decode_stat(r["min_json"], dtypes[c])
        mx = decode_stat(r["max_json"], dtypes[c])
        if not stat_range_keeps(mn, mx, lo, hi):
            drop.add(rel)
    return set(rel_paths) - drop


PARTITION_STATS_PARTITION = "partition_stats"
HFILE_PARTITION_STATS_SUBDIR = os.path.join(".hoodie", "metadata", "partition_stats")


def partition_stats_available(base_path: str) -> bool:
    """isMetadataPartitionAvailable(PARTITION_STATS) analog."""
    from incubator_xtable_spark.sources.hudi_source import read_properties

    props = read_properties(base_path)
    parts = (props.get(METADATA_PARTITIONS_KEY) or "").split(",")
    if PARTITION_STATS_PARTITION not in parts:
        return False
    d = os.path.join(base_path, HFILE_PARTITION_STATS_SUBDIR)
    slices, logs_ok = _hfile_partition_state(d)
    return logs_ok and bool(slices)


def lookup_partition_stats(
    base_path: str, partition_path: str, column: str
) -> dict | None:
    """POINT lookup of one partition's aggregate stats for one column —
    the partition-pruning read shape of Hudi 1.0's partition_stats index:
    compute the hashed getPartitionStatsIndexKey, HFile-seek the base,
    replay logs for the key. Records for the key COMBINE (each commit
    appended only its delta aggregate). -> the merged
    ColumnStatsMetadata dict (minValue/maxValue wrappers,
    valueCount/nullCount), or None when absent. Bounds are CONSERVATIVE
    after deletes (supersets — always safe to prune on)."""
    from incubator_xtable_spark.model.hudi_hash import partition_stats_index_key

    key = partition_stats_index_key(partition_path, column)
    d = os.path.join(base_path, HFILE_PARTITION_STATS_SUBDIR)
    slices, _ = _hfile_partition_state(d, probe=False)
    for base, logs in slices:
        rec = _safe_point_lookup(base, logs, key)
        if rec is not None:
            return rec.get("ColumnStatsMetadata")
    return None


def read_partition_stats(base_path: str) -> dict[str, dict[str, dict]]:
    """Full partition_stats state, merged (combine semantics):
    -> {partition identifier: {column: ColumnStatsMetadata dict}}.
    Driver-side — the index is metadata-sized (partitions x columns)."""
    from incubator_xtable_spark.model.hudi_metadata_records import (
        merged_metadata_slice_records,
    )

    d = os.path.join(base_path, HFILE_PARTITION_STATS_SUBDIR)
    slices, _ = _hfile_partition_state(d, probe=False)
    out: dict[str, dict[str, dict]] = {}
    for base, logs in slices:
        for _key, rec in merged_metadata_slice_records(base, logs):
            cs = rec.get("ColumnStatsMetadata") or {}
            if cs.get("isDeleted"):
                continue
            out.setdefault(cs.get("fileName") or "", {})[cs.get("columnName")] = cs
    return out


def _write_index_delta_rows(records: list[tuple], fields: list[tuple], d: str, instant: str) -> bool:
    """One index delta file ``<d>/<instant>.parquet``: a pyarrow write to
    a temp name, then an atomic rename (the put-if-absent posture of the
    timeline write), no Spark job. The columns are typed from the
    record schema, so an empty ``records`` list still writes a 0-row
    typed file (one delta per commit, named by the instant)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d, exist_ok=True)
    cols = list(zip(*records)) if records else [[] for _ in fields]
    table = pa.table(
        {name: pa.array(list(col), type=typ) for (name, typ), col in zip(fields, cols)}
    )
    tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(d, f"{instant}.parquet"))
    return True


def _arrow_index_fields(spark_schema) -> list[tuple]:
    import pyarrow as pa

    mapping = {"string": pa.string(), "bigint": pa.int64(), "boolean": pa.bool_()}
    return [(f.name, mapping[f.dataType.simpleString()]) for f in spark_schema.fields]


def write_col_stats_delta_rows(
    add_rows: list[dict] | None,
    removed_rels: list[str] | None,
    base_path: str,
    instant: str,
) -> bool:
    """Append one col-stats index delta for a commit, from the rows the
    target already built its write stats from: one record per (added file
    x column) in add order, then one file-level tombstone per removed
    file. ``add_rows`` carry ``rel_path``, ``record_count`` and
    ``column_stats``; ``None`` means that input is absent, and with both
    absent nothing is written."""
    if add_rows is None and removed_rels is None:
        return False
    recs: list[tuple] = []
    for r in add_rows or []:
        rel = r["rel_path"]
        pp, fn = os.path.dirname(rel), os.path.basename(rel)
        for cname, stat in (r["column_stats"] or {}).items():
            recs.append(
                (
                    instant,
                    pp,
                    fn,
                    cname,
                    stat["min_json"],
                    stat["max_json"],
                    stat["null_count"],
                    r["record_count"],
                    False,
                )
            )
    for rel in removed_rels or []:
        recs.append((instant, os.path.dirname(rel), os.path.basename(rel), None, None, None, None, None, True))
    return _write_index_delta_rows(
        recs, _arrow_index_fields(COL_STATS_RECORD_SCHEMA), col_stats_dir(base_path), instant
    )


def write_files_delta_rows(
    add_rows: list[dict] | None,
    removed_rels: list[str] | None,
    base_path: str,
    instant: str,
) -> bool:
    """Append one `files` index delta for a commit: one row per added file
    (with its size) plus an ``is_deleted`` row per replaced or removed
    file (HoodieMetadataPayload file-list records, ref
    hudi/HudiConversionTarget.java:267-470 metadata-table maintenance).
    ``None`` inputs as in ``write_col_stats_delta_rows``."""
    if add_rows is None and removed_rels is None:
        return False
    recs: list[tuple] = [
        (
            instant,
            os.path.dirname(r["rel_path"]),
            os.path.basename(r["rel_path"]),
            r["size_bytes"],
            False,
        )
        for r in add_rows or []
    ]
    for rel in removed_rels or []:
        recs.append((instant, os.path.dirname(rel), os.path.basename(rel), None, True))
    return _write_index_delta_rows(
        recs, _arrow_index_fields(FILES_RECORD_SCHEMA), files_dir(base_path), instant
    )
