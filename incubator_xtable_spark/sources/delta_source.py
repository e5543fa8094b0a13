"""Delta Lake conversion source. Every piece of log state — live files,
metaData, protocol, txn and domainMetadata, a commit's own actions — is
rebuilt by ONE session-free replay (`log_replay`: the checkpoint in range
read with pyarrow, then the JSON tail) and a few folds over it. The
inventories the source hands on are built from those dicts on the
driver, `add.stats` parsed in Python, so a sync sends none of them
through the JVM.

Reference parity:
- snapshot scan / allFiles         delta/DeltaConversionSource.java:93-101,
                                   delta/DeltaDataFileExtractor.java:53-100
- per-version commit diff          delta/DeltaConversionSource.java:104-174
- commits backlog / history        delta/DeltaConversionSource.java:176-189
- incremental safety               delta/DeltaConversionSource.java:191-204
- stats parse                      delta/DeltaStatsExtractor.java:68-70,
                                   delta/DeltaValueConverter.java:62-235

Scale: the replay reads the latest checkpoint plus the commits after it
(minor-compaction files substituting their ranges), so its cost follows
the live state and the checkpoint interval, not the log's age. The state
is metadata-sized: one dict per live file.
"""

from __future__ import annotations

import json
import math
import os
import re
from decimal import Decimal
from typing import Any, Iterator, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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
    column,
    local_frame,
)
from incubator_xtable_spark.model.file_formats import from_extension
from incubator_xtable_spark.model.files_diff import with_file_paths
from incubator_xtable_spark.model.stat_codec import encode_stat
from incubator_xtable_spark.model.sync_metadata import TableSyncMetadata, XTABLE_METADATA_KEY

_ACTION_SCHEMA = T.StructType(
    [
        T.StructField(
            "add",
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
                    T.StructField("size", T.LongType()),
                    T.StructField("modificationTime", T.LongType()),
                    T.StructField("dataChange", T.BooleanType()),
                    T.StructField("stats", T.StringType()),
                    # Row Tracking (PROTOCOL.md): fresh-row-id base and the
                    # commit version assigned at first add; stable across
                    # re-adds (DV updates)
                    T.StructField("baseRowId", T.LongType()),
                    T.StructField("defaultRowCommitVersion", T.LongType()),
                    T.StructField(
                        "deletionVector",
                        T.StructType(
                            [
                                T.StructField("storageType", T.StringType()),
                                T.StructField("pathOrInlineDv", T.StringType()),
                                T.StructField("offset", T.IntegerType()),
                                T.StructField("sizeInBytes", T.IntegerType()),
                                T.StructField("cardinality", T.LongType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "remove",
            T.StructType(
                [
                    T.StructField("path", T.StringType()),
                    T.StructField("deletionTimestamp", T.LongType()),
                    T.StructField("dataChange", T.BooleanType()),
                ]
            ),
        ),
        T.StructField(
            "metaData",
            T.StructType(
                [
                    T.StructField("id", T.StringType()),
                    T.StructField("name", T.StringType()),
                    T.StructField(
                        "format",
                        T.StructType(
                            [
                                T.StructField("provider", T.StringType()),
                                T.StructField(
                                    "options", T.MapType(T.StringType(), T.StringType())
                                ),
                            ]
                        ),
                    ),
                    T.StructField("schemaString", T.StringType()),
                    T.StructField("partitionColumns", T.ArrayType(T.StringType())),
                    T.StructField("configuration", T.MapType(T.StringType(), T.StringType())),
                    T.StructField("createdTime", T.LongType()),
                ]
            ),
        ),
        T.StructField(
            "protocol",
            T.StructType(
                [
                    T.StructField("minReaderVersion", T.IntegerType()),
                    T.StructField("minWriterVersion", T.IntegerType()),
                    # feature lists must survive checkpointing: a reader
                    # bootstrapping from a checkpoint (pre-checkpoint JSON
                    # pruned by retention) would otherwise lose them
                    T.StructField("readerFeatures", T.ArrayType(T.StringType())),
                    T.StructField("writerFeatures", T.ArrayType(T.StringType())),
                ]
            ),
        ),
        T.StructField(
            "commitInfo",
            T.StructType(
                [
                    T.StructField("timestamp", T.LongType()),
                    T.StructField("operation", T.StringType()),
                ]
            ),
        ),
        T.StructField(
            "domainMetadata",
            T.StructType(
                [
                    T.StructField("domain", T.StringType()),
                    T.StructField("configuration", T.StringType()),
                    T.StructField("removed", T.BooleanType()),
                ]
            ),
        ),
        # SetTransaction (PROTOCOL.md "Transaction Identifiers"): streaming
        # writers record (appId, version) per commit for idempotent
        # replays; checkpoints must carry the latest txn per appId or a
        # reader bootstrapping past log retention loses the watermark
        T.StructField(
            "txn",
            T.StructType(
                [
                    T.StructField("appId", T.StringType()),
                    T.StructField("version", T.LongType()),
                    T.StructField("lastUpdated", T.LongType()),
                ]
            ),
        ),
    ]
)

_ACTION_TYPES: dict[str, T.StructType] = {f.name: f.dataType for f in _ACTION_SCHEMA.fields}


def _log_dir(base_path: str) -> str:
    return os.path.join(base_path, "_delta_log")


def list_log_versions(base_path: str) -> list[int]:
    d = _log_dir(base_path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(fn[:-5]) for fn in os.listdir(d) if fn.endswith(".json") and fn[:-5].isdigit()
    )


def read_commit_ict(path: str) -> Optional[int]:
    """commitInfo.inCommitTimestamp from a commit file's FIRST line (the
    spec pins ICT-bearing commitInfo to first position), or None when the
    commit predates ICT enablement / the line is malformed. The single
    parser behind both the reader's time-travel authority and the
    writer's monotonicity floor — they must never disagree."""
    with open(path, encoding="utf-8") as fh:
        first = fh.readline()
    if '"inCommitTimestamp"' not in first:
        return None
    try:
        raw = (json.loads(first).get("commitInfo") or {}).get("inCommitTimestamp")
        return int(raw) if raw is not None else None
    except (json.JSONDecodeError, TypeError, ValueError):
        return None


def _commit_stamps_with_era(base_path: str) -> list[tuple[int, int, bool]]:
    """(version, effective-timestamp-ms, is_ict) per commit — the shared
    kernel behind commit_timestamps and version_at_timestamp (the latter
    needs the ICT-era boundary to search the two eras independently)."""
    d = _log_dir(base_path)
    out: list[tuple[int, int, bool]] = []
    running = 0
    for v in list_log_versions(base_path):
        fp = os.path.join(d, f"{v:020d}.json")
        ict = read_commit_ict(fp)
        if ict is not None:
            running = ict
        else:
            running = max(running, int(os.stat(fp).st_mtime * 1000))
        out.append((v, running, ict is not None))
    return out


def commit_timestamps(base_path: str) -> list[tuple[int, int]]:
    """(version, effective-timestamp-ms) per existing commit json, sorted by
    version, per the spec's In-Commit-Timestamps read rule: a commit whose
    FIRST action carries commitInfo.inCommitTimestamp is timestamped by it
    (ICT exists exactly on commits at/after the enablement version); earlier
    or ICT-less commits fall back to file modification time. A running max
    smooths non-monotonic mtimes (Delta's "adjusted timestamps" — file
    copies and backfills can reorder mtime) for the PRE-ICT era only:
    once a commit carries an ICT, that value is the sole timestamp
    authority (the running max resets to it), so a pre-enablement
    commit file whose mtime drifted into the future — exactly the drift
    ICT exists to neutralize — can never inflate post-enablement
    effective timestamps."""
    return [(v, ts) for v, ts, _ in _commit_stamps_with_era(base_path)]


def version_at_timestamp(base_path: str, ts_ms: int) -> int:
    """Timestamp time travel: the newest version whose effective commit
    timestamp (ICT when present, else adjusted file mtime) is <= ``ts_ms``.
    Raises on a timestamp before the earliest retained commit — silently
    serving the oldest state would misrepresent history the log no longer
    has (retention may have pruned it).

    The two timestamp eras are searched INDEPENDENTLY: a timestamp at or
    after the first ICT resolves within the ICT suffix alone (ICTs are
    strictly monotonic by writer guarantee), so a pre-enablement commit
    whose adjusted mtime drifted past the ICTs can neither shadow the
    ICT era nor eject it as "before the earliest commit"; an earlier
    timestamp searches only the pre-ICT mtime prefix."""
    stamps = _commit_stamps_with_era(base_path)
    if not stamps:
        raise ValueError(f"not a delta table (no commit files): {base_path}")
    ict_suffix = [(v, ts) for v, ts, is_ict in stamps if is_ict]
    if ict_suffix and ts_ms >= ict_suffix[0][1]:
        best = ict_suffix[0][0]
        for v, ts in ict_suffix:
            if ts <= ts_ms:
                best = v
        return best
    prefix = [(v, ts) for v, ts, is_ict in stamps if not is_ict]
    if not prefix or ts_ms < prefix[0][1]:
        raise ValueError(
            f"timestamp {ts_ms} predates the earliest retained commit "
            f"(version {stamps[0][0]} at {stamps[0][1]}); earlier history "
            "is unavailable"
        )
    best = prefix[0][0]
    for v, ts in prefix:
        if ts <= ts_ms:
            best = v
    return best


def read_last_checkpoint(base_path: str) -> Optional[dict]:
    """Parse `_last_checkpoint` (Delta spec checkpoint pointer)."""
    p = os.path.join(_log_dir(base_path), "_last_checkpoint")
    if not os.path.exists(p):
        return None
    with open(p, encoding="utf-8") as fh:
        return json.loads(fh.read())


def _checkpoint_parquets(
    base_path: str, version: int, parts: Optional[int] = None
) -> list[str]:
    """All parquet files that make up the checkpoint at ``version``,
    covering the three spec layouts: classic single-file
    (<v>.checkpoint.parquet), v1 multi-part
    (<v>.checkpoint.<i>.<n>.parquet), and v2 UUID-named
    (<v>.checkpoint.<uuid>.parquet — may reference sidecars).

    ``parts`` is `_last_checkpoint.parts` when the pointer declares it:
    a torn earlier multi-part attempt with a DIFFERENT fragment count can
    leave stale `<v>.checkpoint.<i>.<n'>.parquet` files at the same
    version; a bare glob would read both sets together and duplicate
    checkpoint actions. Fragments are therefore grouped by their declared
    <n>, only the group matching ``parts`` (or, absent the optional
    field, the highest COMPLETE group) is selected, and the 1..n index
    set is verified — an incomplete selected group refuses loudly."""
    import glob as _glob

    d = _log_dir(base_path)
    classic = os.path.join(d, f"{version:020d}.checkpoint.parquet")
    if os.path.exists(classic):
        return [classic]
    multipart = _glob.glob(os.path.join(d, f"{version:020d}.checkpoint.*.*.parquet"))
    groups: dict[int, dict[int, str]] = {}
    for p in multipart:
        m = re.match(r"^\d{20}\.checkpoint\.(\d+)\.(\d+)\.parquet$", os.path.basename(p))
        if m:
            groups.setdefault(int(m.group(2)), {})[int(m.group(1))] = p
    if groups:

        def _complete(n: int) -> bool:
            return set(groups[n]) == set(range(1, n + 1))

        if parts is not None:
            if parts not in groups or not _complete(parts):
                have = sorted(groups.get(parts, {}))
                raise ValueError(
                    f"multi-part checkpoint at version {version} is incomplete: "
                    f"_last_checkpoint declares parts={parts} but fragments "
                    f"{have} exist under that part count"
                )
            return [groups[parts][i] for i in range(1, parts + 1)]
        complete_ns = [n for n in groups if _complete(n)]
        if not complete_ns:
            raise ValueError(
                f"no complete multi-part checkpoint at version {version}: "
                f"fragment groups {sorted((n, sorted(ix)) for n, ix in groups.items())}"
            )
        n = max(complete_ns)
        return [groups[n][i] for i in range(1, n + 1)]
    v2 = sorted(_glob.glob(os.path.join(d, f"{version:020d}.checkpoint.*.parquet")))
    # several UUID candidates can exist after writer retries; any single
    # one is a complete checkpoint — take the lexicographically last
    return v2[-1:]


def list_compacted_ranges(base_path: str) -> list[tuple[int, int, str]]:
    """Minor log-compaction files <start>.<end>.compacted.json (Delta
    spec log compaction), sorted by start."""
    d = _log_dir(base_path)
    if not os.path.isdir(d):
        return []
    out = []
    for fn in os.listdir(d):
        m = re.match(r"^(\d{20})\.(\d{20})\.compacted\.json$", fn)
        if m:
            out.append((int(m.group(1)), int(m.group(2)), os.path.join(d, fn)))
    return sorted(out)


def _commit_slices(
    base_path: str, floor: int, max_version: Optional[int]
) -> list[tuple[str, int]]:
    """(path, version-tag) pairs for the JSON tail above ``floor`` in
    version order, substituting compacted-range files where available: a
    compacted file replaces its whole commit range and tags as the range
    END, which is where it sorts. At 100k commits with compaction every
    100, the listing drops 100x."""
    versions = [
        v
        for v in list_log_versions(base_path)
        if v > floor and (max_version is None or v <= max_version)
    ]
    remaining = set(versions)
    covered: set[int] = set()
    slices: list[tuple[str, int]] = []
    for s, e, p in list_compacted_ranges(base_path):
        if s <= floor or (max_version is not None and e > max_version):
            continue
        span = set(range(s, e + 1))
        if span & covered:  # ranges must not overlap an earlier pick
            continue
        slices.append((p, e))
        covered |= span
        remaining -= span  # the range's commit files (even already-cleaned
        # ones) are fully represented by the compacted file
    for v in remaining:
        slices.append((os.path.join(_log_dir(base_path), f"{v:020d}.json"), v))
    return sorted(slices, key=lambda s: s[1])


_LEAF_TYPES = {T.StringType: str, T.BooleanType: bool, T.IntegerType: int, T.LongType: int}


def _schema_dict(value, dtype):
    """Project a log value onto a Spark DataType: unknown fields dropped,
    missing fields null, nested structs recursed, maps folded to dicts
    (pyarrow reads a checkpoint's map columns as (key, value) pairs).
    Raises TypeError when the value does not fit the type; the replay
    reports that as a malformed log action."""
    if value is None:
        return None
    if isinstance(dtype, T.StructType) and isinstance(value, dict):
        return {f.name: _schema_dict(value.get(f.name), f.dataType) for f in dtype.fields}
    if isinstance(dtype, T.ArrayType) and isinstance(value, list):
        return [_schema_dict(v, dtype.elementType) for v in value]
    if isinstance(dtype, T.MapType) and isinstance(value, (dict, list)):
        pairs = value.items() if isinstance(value, dict) else value
        return {k: _schema_dict(v, dtype.valueType) for k, v in pairs}
    py = _LEAF_TYPES.get(type(dtype))
    if py is not None and isinstance(value, py) and (py is bool or not isinstance(value, bool)):
        return value
    raise TypeError(f"{value!r} does not fit {dtype.simpleString()}")


def _fit_action(raw) -> dict:
    """A parsed log line or checkpoint row -> {kind: projected body} for
    the _ACTION_SCHEMA kinds it carries (cdc, sidecar and the like drop)."""
    if not isinstance(raw, dict):
        raise TypeError(f"{raw!r} is not an action object")
    return {
        k: _schema_dict(v, _ACTION_TYPES[k])
        for k, v in raw.items()
        if k in _ACTION_TYPES and v is not None
    }


def _json_actions(path: str, needle: Optional[str] = None) -> Iterator[dict]:
    """The actions of one commit (or compacted) JSON file in line order;
    lines without ``needle`` are skipped unparsed. A line that is not
    JSON, or whose action does not fit _ACTION_SCHEMA, raises ValueError
    naming the file."""
    with open(path, encoding="utf-8") as fh:
        for n, line in enumerate(fh, 1):
            if not line.strip() or (needle is not None and needle not in line):
                continue
            try:
                action = _fit_action(json.loads(line))
            except (TypeError, ValueError) as exc:
                raise ValueError(f"malformed Delta log action at {path}:{n}: {exc}") from exc
            if action:
                yield action


def _checkpoint_in_range(base_path: str, version: Optional[int]) -> Optional[dict]:
    """The `_last_checkpoint` pointer when its checkpoint lies within the
    view at ``version`` (None = head)."""
    cp = read_last_checkpoint(base_path)
    if cp is not None and (version is None or version >= cp["version"]):
        return cp
    return None


def _checkpoint_actions(
    base_path: str, cp: dict, kinds: tuple[str, ...] = tuple(_ACTION_TYPES)
) -> Iterator[dict]:
    """The ``kinds`` actions of the checkpoint ``cp`` points at, read with
    pyarrow: classic, multi-part, or v2, whose top-level file lists the
    sidecar parquets (under _delta_log/_sidecars/) that hold its file
    actions."""
    import pyarrow.parquet as pq

    files = _checkpoint_parquets(base_path, cp["version"], cp.get("parts"))
    sidecar_dir = os.path.join(_log_dir(base_path), "_sidecars")
    for path in files:  # the loop also visits the sidecars appended below
        names = pq.read_schema(path).names
        if "sidecar" in names:
            refs = pq.read_table(path, columns=["sidecar"]).column("sidecar").to_pylist()
            files += [os.path.join(sidecar_dir, r["path"]) for r in refs if r and r["path"]]
        cols = [k for k in kinds if k in names]
        if not cols:
            continue
        try:
            for row in pq.read_table(path, columns=cols).to_pylist():
                action = _fit_action(row)
                if action:
                    yield action
        except (TypeError, ValueError) as exc:
            raise ValueError(f"malformed Delta checkpoint action in {path}: {exc}") from exc


def log_replay(base_path: str, version: Optional[int] = None) -> Iterator[tuple[int, dict]]:
    """The one replay of a Delta log: (version, action) pairs of the view
    at ``version`` (None = head), in version order. First the actions of
    the checkpoint in range, tagged with its version; then the JSON tail
    after it, from `_commit_slices` (compacted ranges tag as their end).
    An action is {kind: body} for the _ACTION_SCHEMA kinds a line or row
    carries, projected onto _ACTION_SCHEMA (missing fields null, maps as
    dicts), so checkpoint and JSON actions compare equal. It needs no
    SparkSession: the streaming data-source workers replay with it too.
    A view below the checkpoint replays the JSON from version 0."""
    cp = _checkpoint_in_range(base_path, version)
    floor = -1
    if cp is not None:
        floor = cp["version"]
        for action in _checkpoint_actions(base_path, cp):
            yield floor, action
    for path, tag in _commit_slices(base_path, floor, version):
        for action in _json_actions(path):
            yield tag, action


def live_adds(base_path: str, version: Optional[int] = None) -> dict[str, dict]:
    """path -> add action of every file live at ``version``, the add
    carrying the ``version`` it came from. The last action per path wins;
    within one version an add beats a remove whatever the line order (a
    DV commit removes AND re-adds the same path, and the file stays
    live)."""
    live: dict[str, dict] = {}
    for ver, action in log_replay(base_path, version):
        add, remove = action.get("add"), action.get("remove")
        if add is not None:
            add["version"] = ver
            live[add["path"]] = add
        elif remove is not None and live.get(remove["path"], {}).get("version") != ver:
            live.pop(remove["path"], None)
    return live


def latest_action(base_path: str, kind: str, version: Optional[int] = None) -> Optional[dict]:
    """The newest ``kind`` action (metaData, protocol) in the view at
    ``version``: the JSON tail newest-first, stopping at the first file
    that carries one, then the checkpoint. A lookup reads the commits
    since ``kind`` last changed, not the whole log."""
    cp = _checkpoint_in_range(base_path, version)
    needle = f'"{kind}"'
    for path, _ in reversed(_commit_slices(base_path, cp["version"] if cp else -1, version)):
        found = None
        for action in _json_actions(path, needle):
            found = action.get(kind, found)
        if found is not None:
            return found
    if cp is None:
        return None
    return next((a[kind] for a in _checkpoint_actions(base_path, cp, (kind,))), None)


def latest_actions(
    base_path: str, kind: str, key: str, version: Optional[int] = None
) -> dict[str, dict]:
    """{``key`` value: its newest ``kind`` action} in the view at
    ``version``: the per-key reconciliation of txn (by appId) and
    domainMetadata (by domain), tombstones included."""
    out: dict[str, dict] = {}
    for _, action in log_replay(base_path, version):
        body = action.get(kind)
        if body is not None:
            out[body[key]] = body
    return out


def latest_protocol(base_path: str, version: Optional[int] = None) -> Optional[dict]:
    """The protocol in effect at ``version`` (None = head)."""
    return latest_action(base_path, "protocol", version)


def write_checkpoint(
    spark: SparkSession, base_path: str, version: int, layout: str = "classic"
) -> None:
    """Write a spec checkpoint at ``version`` plus the `_last_checkpoint`
    pointer. Readers then scan columnar checkpoint file(s) plus
    post-checkpoint JSON commits instead of the whole log.

    layout="classic": one <v>.checkpoint.parquet holding the reconstructed
    state (latest protocol + metaData + live add actions).
    layout="multipart" (the spec's legacy multi-part checkpoint): the
    same reconstructed state split across N fragments named
    <v>.checkpoint.<i>.<n>.parquet (i 1-based, both %010d), written
    distributed (one task per fragment, no single-file coalesce) with
    `_last_checkpoint` recording the ``parts`` count (spec-optional;
    always written here). V2
    supersedes this layout, but real tables written by older engines
    use it — and a target should be able to PRODUCE every shape it can
    read.

    layout="v2" (Delta PROTOCOL.md V2 Checkpoints, requires the
    `v2Checkpoint` reader/writer table feature): file actions go to
    sidecar parquets under _delta_log/_sidecars/<uuid>.parquet; the
    UUID-named top-level <v>.checkpoint.<uuid>.parquet holds only
    checkpointMetadata + protocol + metaData + one `sidecar` action per
    sidecar file. At 10M+ live files the sidecars are written as multiple
    bounded parquets (distributed write, no single-file coalesce), which
    is the layout's whole point.
    """
    import glob
    import shutil
    import uuid as _uuid

    live = live_files_df(spark, base_path, version)
    meta = latest_metadata(spark, base_path, version)
    proto = latest_protocol(base_path, version)
    null_struct = lambda name: F.lit(None).cast(_ACTION_SCHEMA[name].dataType)  # noqa: E731
    adds = live.select(
        F.struct(
            F.col("path"),
            F.col("partitionValues"),
            F.col("size"),
            F.col("modificationTime"),
            F.lit(False).alias("dataChange"),  # checkpoint entries are state, not changes
            F.col("stats"),
            F.col("baseRowId"),
            F.col("defaultRowCommitVersion"),
            F.col("deletionVector"),
        ).alias("add"),
        null_struct("remove").alias("remove"),
        null_struct("metaData").alias("metaData"),
        null_struct("protocol").alias("protocol"),
        null_struct("commitInfo").alias("commitInfo"),
        null_struct("domainMetadata").alias("domainMetadata"),
        null_struct("txn").alias("txn"),
    )
    head_rows = []
    if meta is not None:
        head_rows.append((None, None, meta, None, None, None, None))
    if proto is not None:
        head_rows.append((None, None, None, proto, None, None, None))
    # spec "Domain Metadata": a checkpoint must carry the latest action per
    # domain, INCLUDING removed=true tombstones (concurrent writers need
    # them to detect conflicts); domains are few — a bounded collect
    for dm in latest_domain_metadata_rows(spark, base_path, version):
        head_rows.append((None, None, None, None, None, dm, None))
    # spec "Transaction Identifiers": the latest txn per appId must survive
    # checkpointing or streaming idempotence breaks once retention prunes
    # the JSON commits behind the checkpoint; appIds are few — bounded
    for tx in latest_txn_rows(spark, base_path, version):
        head_rows.append((None, None, None, None, None, None, tx))
    log_dir = _log_dir(base_path)
    n_parts = None
    if layout == "v2":
        n_total = _write_v2_checkpoint(spark, log_dir, version, adds, head_rows)
    elif layout == "multipart":
        n_total, n_parts = _write_multipart_checkpoint(
            spark, log_dir, version, adds, head_rows
        )
    else:
        head = spark.createDataFrame(head_rows, _ACTION_SCHEMA) if head_rows else None
        out = head.unionByName(adds) if head is not None else adds
        tmp_dir = os.path.join(log_dir, f".cp-tmp-{_uuid.uuid4().hex}")
        out.coalesce(1).write.parquet(tmp_dir)
        part = glob.glob(os.path.join(tmp_dir, "part-*.parquet"))[0]
        final = os.path.join(log_dir, f"{version:020d}.checkpoint.parquet")
        os.replace(part, final)
        shutil.rmtree(tmp_dir, ignore_errors=True)
        n_total = out.count()
    pointer = os.path.join(log_dir, "_last_checkpoint")
    tmp_ptr = pointer + f".tmp-{_uuid.uuid4().hex}"
    lc: dict = {"version": version, "size": n_total}
    if n_parts is not None:
        lc["parts"] = n_parts  # spec-optional; always recorded here
    with open(tmp_ptr, "w", encoding="utf-8") as fh:
        json.dump(lc, fh)
    os.replace(tmp_ptr, pointer)


# actions per sidecar parquet: bounds per-file memory for readers while
# keeping file count low (10M live files -> 20 sidecars)
_SIDECAR_ACTIONS_PER_FILE = 500_000

# actions per v1 multi-part checkpoint fragment (same bound rationale)
_MULTIPART_ACTIONS_PER_FILE = 500_000


def _write_multipart_checkpoint(
    spark: SparkSession, log_dir: str, version: int, adds: DataFrame, head_rows: list
) -> tuple[int, int]:
    """V1 multi-part checkpoint: the reconstructed state repartitioned
    into N fragments named ``<v>.checkpoint.<i>.<n>.parquet`` (both
    tokens %010d, ``i`` 1-based). The spec lets actions land in any
    fragment as long as the set is complete, so the split is a plain
    round-robin repartition — one write task per fragment. It runs from
    one input partition (the state is driver-built): round-robin from
    many small input partitions can leave a slot empty and overfill the
    others past the per-file bound. The fragments are counted and named
    from the part files actually written. -> (total action count,
    fragment count) for ``_last_checkpoint``'s size/parts fields."""
    import glob
    import shutil
    import uuid as _uuid

    head = spark.createDataFrame(head_rows, _ACTION_SCHEMA) if head_rows else None
    out = head.unionByName(adds) if head is not None else adds
    out = out.coalesce(1).persist()
    n_total = out.count()
    n_parts = max(1, -(-n_total // _MULTIPART_ACTIONS_PER_FILE))
    tmp_dir = os.path.join(log_dir, f".cp-tmp-{_uuid.uuid4().hex}")
    (out.repartition(n_parts) if n_parts > 1 else out).write.parquet(tmp_dir)
    out.unpersist()
    parts = sorted(glob.glob(os.path.join(tmp_dir, "part-*.parquet")))
    n_parts = len(parts)
    for i, part in enumerate(parts, start=1):
        final = os.path.join(
            log_dir, f"{version:020d}.checkpoint.{i:010d}.{n_parts:010d}.parquet"
        )
        os.replace(part, final)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return n_total, n_parts


def _write_v2_checkpoint(
    spark: SparkSession, log_dir: str, version: int, adds: DataFrame, head_rows: list
) -> int:
    """V2 checkpoint layout: returns the total action count (sidecar file
    actions + top-level non-file actions) for `_last_checkpoint.size`."""
    import glob
    import shutil
    import uuid as _uuid

    sidecar_dir = os.path.join(log_dir, "_sidecars")
    os.makedirs(sidecar_dir, exist_ok=True)
    n_adds = adds.persist().count()
    n_parts = max(1, -(-n_adds // _SIDECAR_ACTIONS_PER_FILE))
    tmp_dir = os.path.join(log_dir, f".cp-tmp-{_uuid.uuid4().hex}")
    (adds.repartition(n_parts) if n_parts > 1 else adds.coalesce(1)).write.parquet(tmp_dir)
    adds.unpersist()
    sidecars: list[tuple[str, int, int]] = []  # (fileName, sizeInBytes, mtimeMs)
    for part in sorted(glob.glob(os.path.join(tmp_dir, "part-*.parquet"))):
        name = f"{_uuid.uuid4()}.parquet"
        dst = os.path.join(sidecar_dir, name)
        os.replace(part, dst)
        st = os.stat(dst)
        sidecars.append((name, st.st_size, int(st.st_mtime * 1000)))
    shutil.rmtree(tmp_dir, ignore_errors=True)

    top_schema = T.StructType(
        list(_ACTION_SCHEMA.fields)
        + [
            T.StructField(
                "checkpointMetadata",
                T.StructType(
                    [
                        T.StructField("version", T.LongType()),
                        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
                    ]
                ),
            ),
            T.StructField(
                "sidecar",
                T.StructType(
                    [
                        T.StructField("path", T.StringType()),
                        T.StructField("sizeInBytes", T.LongType()),
                        T.StructField("modificationTime", T.LongType()),
                        T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
                    ]
                ),
            ),
        ]
    )
    top_rows: list[tuple] = [
        (None, None, None, None, None, None, None, (version, None), None)
    ]
    for _, _, m, p, _, dm, tx in head_rows:
        top_rows.append((None, None, m, p, None, dm, tx, None, None))
    for name, size, mtime in sidecars:
        top_rows.append(
            (None, None, None, None, None, None, None, None, (name, size, mtime, None))
        )
    top = spark.createDataFrame(top_rows, top_schema)
    tmp_dir = os.path.join(log_dir, f".cp-tmp-{_uuid.uuid4().hex}")
    top.coalesce(1).write.parquet(tmp_dir)
    part = glob.glob(os.path.join(tmp_dir, "part-*.parquet"))[0]
    final = os.path.join(log_dir, f"{version:020d}.checkpoint.{_uuid.uuid4()}.parquet")
    os.replace(part, final)
    shutil.rmtree(tmp_dir, ignore_errors=True)
    return n_adds + len(top_rows)


def latest_domain_metadata_rows(
    spark: SparkSession, base_path: str, version: Optional[int] = None
) -> list:
    """Latest domainMetadata action per domain at ``version`` (spec "Domain
    Metadata" reconciliation: per-domain latest-wins), INCLUDING
    removed=true tombstones — checkpoint construction needs them. Bounded
    output (one dict per domain)."""
    return list(latest_actions(base_path, "domainMetadata", "domain", version).values())


def latest_txn_rows(
    spark: SparkSession, base_path: str, version: Optional[int] = None
) -> list:
    """Latest SetTransaction action per appId at ``version`` (spec
    "Transaction Identifiers" reconciliation) — the streaming-writer
    idempotence watermarks. Bounded output (one dict per appId)."""
    return list(latest_actions(base_path, "txn", "appId", version).values())


def live_domain_metadata(
    spark: SparkSession, base_path: str, version: Optional[int] = None
) -> dict[str, str]:
    """{domain: configuration} of the LIVE domains at ``version`` —
    removed=true tombstones drop (they exist only for conflict
    detection)."""
    return {
        r["domain"]: r["configuration"]
        for r in latest_domain_metadata_rows(spark, base_path, version)
        if not r["removed"]
    }


def _live_files_schema() -> T.StructType:
    """The column list of live_files_df, typed straight off
    _ACTION_SCHEMA's add struct."""
    def ft(n: str) -> T.DataType:
        return _ACTION_TYPES["add"][n].dataType

    return T.StructType(
        [
            T.StructField("version", T.LongType()),
            T.StructField("path", T.StringType()),
            T.StructField("is_add", T.BooleanType(), False),
            T.StructField("partitionValues", ft("partitionValues")),
            T.StructField("size", ft("size")),
            T.StructField("modificationTime", ft("modificationTime")),
            T.StructField("stats", ft("stats")),
            T.StructField("baseRowId", ft("baseRowId")),
            T.StructField("defaultRowCommitVersion", ft("defaultRowCommitVersion")),
            T.StructField("deletionVector", ft("deletionVector")),
        ]
    )


def _dv_of(add: dict) -> Optional[dict]:
    """The deletion vector an add action attaches, None when it has none."""
    dv = add["deletionVector"]
    return dv if dv is not None and dv["storageType"] is not None else None


def _effective_path(path: str, dv: Optional[dict]) -> str:
    """The path a file is synced under: its purged shadow when a DV is
    attached, the file itself otherwise."""
    from incubator_xtable_spark.sources.delta_dv import purged_path

    if dv is None or dv.get("storageType") is None:
        return path
    return purged_path(path, dv)


def _commit_slice_paths(base_path: str, version: int) -> list[str]:
    """The log file(s) holding commit ``version``'s own actions: its JSON,
    or a compacted range that tags as this version (its END, the
    log_replay rule). Never a checkpoint — a checkpoint holds a table
    state, not the commit's actions."""
    return [p for p, v in _commit_slices(base_path, -1, None) if v == version]


def _own_actions(base_path: str, version: int) -> list[dict]:
    return [a for p in _commit_slice_paths(base_path, version) for a in _json_actions(p)]


def _commit_diff_local(base_path: str, version: int, by_raw_path: bool):
    """The diff of ONE commit, on the driver: set and dict work over the
    commit's own actions.

    Files are matched by EFFECTIVE path — removes resolve their DV
    through the live state just before the commit — unless
    ``by_raw_path`` (row-delete exposure, where a DV update is a
    data-file no-op). Paths present on both sides are no-ops and drop
    out. Returns (surviving add dicts, removed effective paths)."""
    adds: list[dict] = []
    removes: list[str] = []
    for action in _own_actions(base_path, version):
        if action.get("add") is not None:
            adds.append(action["add"])
        if action.get("remove") is not None:
            removes.append(action["remove"]["path"])
    if by_raw_path:
        add_eff, removed_eff = [a["path"] for a in adds], removes
    else:
        prev = live_adds(base_path, version - 1) if removes else {}
        add_eff = [_effective_path(a["path"], a["deletionVector"]) for a in adds]
        removed_eff = [
            _effective_path(p, prev.get(p, {}).get("deletionVector")) for p in removes
        ]
    noop = set(add_eff) & set(removed_eff)
    return (
        [a for a, e in zip(adds, add_eff) if e not in noop],
        [e for e in removed_eff if e not in noop],
    )


def live_files_df(spark: SparkSession, base_path: str, version: Optional[int] = None) -> DataFrame:
    """Live AddFiles at a version (time travel when version is given), as
    a LocalRelation: consumers' projections fold at optimization and
    draining runs no job."""
    rows = [dict(a, is_add=True) for a in live_adds(base_path, version).values()]
    return local_frame(spark, rows, _live_files_schema())


def latest_metadata(
    spark: SparkSession, base_path: str, version: Optional[int] = None
) -> Optional[dict]:
    """The metaData action in effect at ``version`` as a dict with every
    _ACTION_SCHEMA field (None when the log has none)."""
    return latest_action(base_path, "metaData", version)


def read_delta_cdf(spark: SparkSession, base_path: str, version: int) -> DataFrame:
    """Change Data Feed of ONE commit as a CDC-shaped DataFrame: the row
    columns plus `_change_type` (insert / update_preimage /
    update_postimage / delete) and `_commit_version` — the Delta twin of
    sources/paimon_source.read_paimon_changelog.

    Source of truth, in order (Delta PROTOCOL.md Change Data Files):
    1. the commit's `cdc` actions — explicit change files under
       _change_data/ whose rows carry `_change_type`;
    2. derivation from the file actions, per the spec's CDF-read rules:
       add(dataChange) = inserts of the file's visible rows,
       remove(dataChange) = deletes of the rows visible at the previous
       version, and the remove+re-add deletion-vector update shape (what
       our own target writes) = row-level deletes of exactly the NEWLY
       deleted positions (new DV minus old DV; positions restored by a
       shrinking DV emit as inserts).

    Scale: one distributed scan over only the files this commit touched;
    DV position sets decode executor-side; no row ever collects to the
    driver. Pair with get_commits_backlog for the commit cursor.
    """
    meta = latest_metadata(spark, base_path, version)
    if meta is None:
        raise ValueError(f"not a delta table (no metaData): {base_path}")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    cm_mode = dict(meta["configuration"] or {}).get("delta.columnMapping.mode", "none")
    if cm_mode == "id":
        _enable_field_id_reads(spark)
    part_cols = list(meta["partitionColumns"] or [])
    logical_fields = [f for f in schema.fields if f.name not in part_cols]
    # column mapping: data AND change files store physical names
    # (mode=id additionally resolves by parquet field id)
    data_fields = (
        list(_physical_type(T.StructType(logical_fields), with_field_ids=cm_mode == "id").fields)
        if cm_mode in ("name", "id")
        else logical_fields
    )
    cm_renames = {
        rf.name: f.name
        for f, rf in zip(logical_fields, data_fields)
        if rf.name != f.name
    }
    out_names = [f.name for f in schema.fields] + ["_change_type", "_commit_version"]
    commit_file = os.path.join(_log_dir(base_path), f"{version:020d}.json")
    if not os.path.exists(commit_file):
        raise ValueError(
            f"commit {version} has no retained JSON file (expired or compacted); "
            "CDF reads need the commit's own actions"
        )
    actions = [json.loads(line) for line in open(commit_file, encoding="utf-8") if line.strip()]
    base = base_path.rstrip("/")

    def _with_parts(df: DataFrame, items: list[tuple]) -> DataFrame:
        if not part_cols:
            return df
        pv = spark.createDataFrame(
            [(os.path.join(base, p), dict(v or {})) for p, v, _ in items],
            "abs_path STRING, pv MAP<STRING,STRING>",
        )
        df = df.join(F.broadcast(pv), df["_fp"] == pv["abs_path"], "left")
        for c in part_cols:
            df = df.withColumn(
                c, F.col("pv").getItem(_physical_name(schema, c)).cast(schema[c].dataType)
            )
        return df.drop("abs_path", "pv")

    def _positions_for(items: list[tuple]) -> Optional[DataFrame]:
        """(file_path, pos) rows for the items' DV descriptors."""
        dv_items = [(p, d) for p, _, d in items if d and d.get("storageType")]
        if not dv_items:
            return None
        from incubator_xtable_spark.sources.delta_dv import (
            DV_DESCRIPTOR_SPARK_TYPE,
            dv_positions_df,
        )

        dv_files = spark.createDataFrame(
            [(os.path.join(base, p), d) for p, d in dv_items],
            T.StructType(
                [
                    T.StructField("abs_path", T.StringType()),
                    T.StructField("deletionVector", DV_DESCRIPTOR_SPARK_TYPE),
                ]
            ),
        )
        return dv_positions_df(spark, base, dv_files)

    def _rows_of(items: list[tuple], change_type: str, positions=None, mode: str = "drop") -> DataFrame:
        """Read the items' rows tagged ``change_type``; ``positions``
        restricts via anti (mode=drop: everything except) or semi
        (mode=keep: only) join on (file, row_index)."""
        item_paths = [os.path.join(base, p) for p, _, _ in items]
        from incubator_xtable_spark.model.file_formats import (
            from_delta_provider,
            from_extension,
            split_readable,
        )

        provider_fmt = from_delta_provider(
            meta["format"]["provider"] if meta["format"] is not None else None
        )
        pq_paths, orc_paths, avro_paths = split_readable(
            ((p, from_extension(p, default=provider_fmt)) for p in item_paths),
            reader="read_delta_cdf",
        )
        # same matrix as read_delta_as_df: ORC/AVRO serve mode=name via
        # physical-name resolution (data_fields are already physical and
        # _rename_back applies after the union); mode=id refuses on both
        # (id resolution needs parquet field ids). DV row diffs ride
        # per-file row ordinals: parquet from _metadata.row_index,
        # ORC/AVRO from the engine's ordinal-preserving scans.
        if avro_paths and cm_mode == "id":
            raise NotImplementedError(
                "read_delta_cdf: column mapping mode=id with AVRO data "
                "files is not supported (id resolution needs parquet "
                "field ids)"
            )
        if orc_paths and cm_mode == "id":
            raise NotImplementedError(
                "read_delta_cdf: column mapping mode=id with ORC data "
                "files is not supported (id resolution needs parquet "
                "field ids)"
            )
        if cm_mode == "id":
            _require_field_ids(pq_paths)
        # _fp/_ri attach per branch; ORC needs the pyarrow ordinal scan
        # only when this call actually joins on positions (Spark's ORC
        # reader exposes no _metadata.row_index). Spark scans report the
        # quoted URI form, so their _fp goes through with_file_paths; the
        # pyarrow scans already carry the listed paths
        fp = F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "")
        branches = []
        if pq_paths:
            branches.append(
                with_file_paths(
                    spark.read.schema(T.StructType(data_fields))
                    .parquet(*pq_paths)
                    .withColumn("_fp", fp)
                    .withColumn("_ri", F.col("_metadata.row_index")),
                    "_fp",
                )
            )
        if orc_paths and positions is not None:
            from incubator_xtable_spark.sources.orc_scan import read_orc_rows

            branches.append(
                read_orc_rows(
                    spark, orc_paths, data_fields, path_col="_fp", row_index_col="_ri"
                )
            )
        elif orc_paths:
            branches.append(
                with_file_paths(
                    spark.read.schema(T.StructType(data_fields))
                    .orc(list(orc_paths))
                    .withColumn("_fp", fp)
                    .withColumn("_ri", F.lit(None).cast("long")),
                    "_fp",
                )
            )
        if avro_paths:
            from incubator_xtable_spark.sources.avro_scan import read_avro_rows

            branches.append(
                read_avro_rows(
                    spark, avro_paths, data_fields, path_col="_fp", row_index_col="_ri"
                )
            )
        df = branches[0]
        for b in branches[1:]:
            df = df.unionByName(b)
        df = _rename_back(df, cm_renames)
        for f, rf in zip(logical_fields, data_fields):
            if rf.dataType != f.dataType:
                df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
        if positions is not None:
            df = df.join(
                positions,
                (F.col("_fp") == positions.file_path) & (F.col("_ri") == positions.pos),
                "left_anti" if mode == "drop" else "left_semi",
            )
        df = _with_parts(df, items)
        return df.withColumn("_change_type", F.lit(change_type)).withColumn(
            "_commit_version", F.lit(version).cast("long")
        ).select(*out_names)

    parts: list[DataFrame] = []
    cdc = [a["cdc"] for a in actions if a.get("cdc")]
    if cdc:
        from incubator_xtable_spark.model.file_formats import (
            from_delta_provider,
            from_extension,
            split_readable,
        )

        cdc_fields = data_fields + [T.StructField("_change_type", T.StringType())]
        cdc_paths = [os.path.join(base, c["path"]) for c in cdc]
        provider_fmt = from_delta_provider(
            meta["format"]["provider"] if meta["format"] is not None else None
        )
        cdc_pq, cdc_orc, cdc_avro = split_readable(
            ((p, from_extension(p, default=provider_fmt)) for p in cdc_paths),
            reader="read_delta_cdf(change files)",
        )
        if (cdc_orc or cdc_avro) and cm_mode == "id":
            raise NotImplementedError(
                "read_delta_cdf: column mapping mode=id with ORC/AVRO "
                "change files is not supported (id resolution needs "
                "parquet field ids)"
            )
        if cm_mode == "id":
            _require_field_ids(cdc_pq)
        fp = F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "")
        cdc_branches = []
        if cdc_pq:
            cdc_branches.append(
                with_file_paths(
                    spark.read.schema(T.StructType(cdc_fields)).parquet(*cdc_pq).withColumn("_fp", fp),
                    "_fp",
                )
            )
        if cdc_orc:
            cdc_branches.append(
                with_file_paths(
                    spark.read.schema(T.StructType(cdc_fields)).orc(list(cdc_orc)).withColumn("_fp", fp),
                    "_fp",
                )
            )
        if cdc_avro:
            from incubator_xtable_spark.sources.avro_scan import read_avro_rows

            cdc_branches.append(
                read_avro_rows(spark, cdc_avro, cdc_fields, path_col="_fp")
            )
        df = cdc_branches[0]
        for b in cdc_branches[1:]:
            df = df.unionByName(b)
        df = _rename_back(df, cm_renames)
        for f, rf in zip(logical_fields, data_fields):
            if rf.dataType != f.dataType:
                df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
        df = _with_parts(df, [(c["path"], c.get("partitionValues"), None) for c in cdc])
        return df.withColumn("_commit_version", F.lit(version).cast("long")).select(*out_names)

    adds = {a["add"]["path"]: a["add"] for a in actions if a.get("add")}
    removes = {
        a["remove"]["path"]: a["remove"]
        for a in actions
        if a.get("remove") and a["remove"].get("dataChange", True)
    }
    adds = {p: a for p, a in adds.items() if a.get("dataChange", True)}
    pair_paths = sorted(set(adds) & set(removes))
    prev_dv: dict[str, Optional[dict]] = {}
    prev_pv: dict[str, Optional[dict]] = {}
    if (pair_paths or removes) and version > 0:
        prev_rows = (
            live_files_df(spark, base_path, version - 1)
            .select("path", "partitionValues", "deletionVector")
            .collect()
        )
        prev_dv = {
            r["path"]: (r["deletionVector"].asDict() if r["deletionVector"] else None)
            for r in prev_rows
        }
        prev_pv = {
            r["path"]: (dict(r["partitionValues"]) if r["partitionValues"] else None)
            for r in prev_rows
        }

    # 1. DV-update pairs: remove+re-add of the same path -> row-level diff,
    # batched into ONE position-set comparison across every paired file
    # (the join keys on (file_path, pos), so files never cross-talk)
    if pair_paths:
        new_items = [
            (p, adds[p].get("partitionValues"), adds[p].get("deletionVector"))
            for p in pair_paths
        ]
        old_items = [
            (p, adds[p].get("partitionValues"), prev_dv.get(p)) for p in pair_paths
        ]
        new_pos = _positions_for(new_items)
        old_pos = _positions_for(old_items)
        newly_deleted = restored = None
        if new_pos is not None and old_pos is not None:
            newly_deleted = new_pos.join(old_pos, ["file_path", "pos"], "left_anti")
            restored = old_pos.join(new_pos, ["file_path", "pos"], "left_anti")
        elif new_pos is not None:
            newly_deleted = new_pos
        elif old_pos is not None:
            restored = old_pos
        if newly_deleted is not None:
            parts.append(_rows_of(new_items, "delete", newly_deleted, mode="keep"))
        if restored is not None:
            parts.append(_rows_of(new_items, "insert", restored, mode="keep"))

    # 2. pure adds: the file's visible rows are inserts
    pure_adds = [
        (p, a.get("partitionValues"), a.get("deletionVector"))
        for p, a in adds.items()
        if p not in removes
    ]
    if pure_adds:
        parts.append(_rows_of(pure_adds, "insert", _positions_for(pure_adds), mode="drop"))

    # 3. pure removes: rows visible at the previous version are deletes
    pure_removes = [
        (p, r.get("partitionValues") or prev_pv.get(p), prev_dv.get(p))
        for p, r in removes.items()
        if p not in adds
    ]
    gone = [p for p, _, _ in pure_removes if not os.path.exists(os.path.join(base, p))]
    if gone:
        raise ValueError(
            f"CDF derivation for commit {version} needs the removed data files, "
            f"but they are vacuumed: {gone[:3]}"
        )
    if pure_removes:
        parts.append(_rows_of(pure_removes, "delete", _positions_for(pure_removes), mode="drop"))

    if not parts:
        out_fields = list(schema.fields) + [
            T.StructField("_change_type", T.StringType()),
            T.StructField("_commit_version", T.LongType()),
        ]
        return spark.createDataFrame([], T.StructType(out_fields))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out



def _physical_name(schema: T.StructType, name: str) -> str:
    """Column-mapping physical name of a top-level column (spec: file
    paths AND add.partitionValues key by PHYSICAL name under mode=name)."""
    try:
        f = schema[name]
    except KeyError:
        return name
    return (f.metadata or {}).get("delta.columnMapping.physicalName", name)


def _rename_back(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """stored->logical renames, collision-safe (swap renames like a->b,
    b->a would corrupt with sequential withColumnRenamed): two phases via
    unique temporaries. Keeps hidden columns (_metadata) reachable."""
    tmp_names = {stored: f"__xtable_rn_{i}" for i, stored in enumerate(mapping)}
    for stored, tmp in tmp_names.items():
        df = df.withColumnRenamed(stored, tmp)
    for stored, tmp in tmp_names.items():
        df = df.withColumnRenamed(tmp, mapping[stored])
    return df


def _physical_type(dt: T.DataType, with_field_ids: bool = False) -> T.DataType:
    """Recursively rename struct fields to their column-mapping physical
    names (what the parquet files actually store under mode=name). With
    ``with_field_ids`` (mode=id reads), each field additionally carries
    `parquet.field.id` metadata from delta.columnMapping.id so Spark's
    parquet reader resolves columns BY FIELD ID
    (spark.sql.parquet.fieldId.read.enabled) instead of by name —
    mirroring the read ids the reference honors at
    DeltaSchemaExtractor.java:57-58,137-144."""
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            meta = {}
            fid = (f.metadata or {}).get("delta.columnMapping.id")
            if with_field_ids and fid is not None:
                meta["parquet.field.id"] = int(fid)
            fields.append(
                T.StructField(
                    (f.metadata or {}).get("delta.columnMapping.physicalName", f.name),
                    _physical_type(f.dataType, with_field_ids),
                    f.nullable,
                    meta,
                )
            )
        return T.StructType(fields)
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_physical_type(dt.elementType, with_field_ids), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _physical_type(dt.keyType, with_field_ids),
            _physical_type(dt.valueType, with_field_ids),
            dt.valueContainsNull,
        )
    return dt


def _enable_field_id_reads(spark: SparkSession) -> None:
    """mode=id resolution rides Spark's native parquet field-id matching;
    runtime-settable, and inert for read schemas without parquet.field.id
    metadata (the harness uses a vanilla session — conf must be set here,
    not at session build). ignoreMissing=true is the SPEC semantics for
    schema evolution: a column added after a file was written has no id
    in that file and must read as null. The writer-contract violation
    this could mask — a file with NO ids at all silently nulling — is
    guarded explicitly by _require_field_ids instead."""
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")


def _require_field_ids(paths: list[str]) -> None:
    """mode=id files MUST store parquet field ids (Delta columnMapping
    writer contract); refuse id-less files loudly — with ignoreMissing
    evolution semantics they would otherwise silently read all-null."""
    from incubator_xtable_spark.sources.iceberg_source import _footer_column_groups

    bad = [
        p
        for (cols, has_ids), grp in _footer_column_groups(paths).items()
        if not has_ids
        for p in grp
    ]
    if bad:
        raise ValueError(
            "delta.columnMapping.mode=id requires every data file to "
            f"store parquet field Ids; files without them: {bad[:3]}"
        )


def _prune_live_rows(live, schema: T.StructType, part_cols: list[str], prune: dict):
    """Data skipping over collected live AddFile rows: keep a file unless
    its add.stats min/max (physical-named under column mapping) or its
    partitionValues entry PROVABLY excludes a requested range. Files
    lacking stats for a predicate column always keep. Driver-side over
    the already-collected listing — O(files x |prune|) python, no I/O."""
    from incubator_xtable_spark.model.stat_codec import (
        decode_stat,
        from_delta_stats_json,
        stat_range_keeps,
    )

    dtypes = {f.name: f.dataType for f in schema.fields}
    cols = [c for c in prune if c in dtypes]
    if not cols:
        return live
    kept = []
    for r in live:
        stats = None
        keep = True
        for c in cols:
            lo, hi = prune[c]
            if c in part_cols:
                pv = dict(r["partitionValues"] or {}).get(_physical_name(schema, c))
                if pv is None:
                    continue
                v = decode_stat(json.dumps(pv), dtypes[c])
                if not stat_range_keeps(v, v, lo, hi):
                    keep = False
                    break
                continue
            if stats is None:
                _n, stats = from_delta_stats_json(r["stats"])
            st = stats.get(_physical_name(schema, c)) or stats.get(c)
            if not st:
                continue
            mn = decode_stat(st.get("min_json"), dtypes[c])
            mx = decode_stat(st.get("max_json"), dtypes[c])
            if not stat_range_keeps(mn, mx, lo, hi):
                keep = False
                break
        if keep:
            kept.append(r)
    return kept


def read_delta_as_df(
    spark: SparkSession,
    base_path: str,
    version: Optional[int] = None,
    prune: Optional[dict] = None,
    as_of_timestamp_ms: Optional[int] = None,
    with_row_ids: bool = False,
) -> DataFrame:
    """The engine's `spark.read.format("delta")` equivalent: reconstruct
    the live file set (optionally at a past version = time travel) and read
    those parquet files, re-attaching partition columns from
    partitionValues (they are not stored in the data files). Deletion
    vectors are applied row-level: deleted positions are decoded
    executor-side and anti-joined on (_metadata.file_path,
    _metadata.row_index) — distributes with the scan, no driver collect.

    Column mapping: mode=name tables read by each column's PHYSICAL name
    (renamed columns would otherwise silently return nulls) and rename/
    cast back to the logical schema; mode=id tables resolve columns by
    PARQUET FIELD ID (Spark's fieldId.read matching fed from
    delta.columnMapping.id), so files whose column names match neither
    logical nor physical names still read correctly.

    ``prune`` ({column: (lower, upper)}, inclusive, None = unbounded):
    plan-time data skipping from the log's own add.stats
    (minValues/maxValues) and partitionValues — files whose recorded
    range provably excludes every requested range drop before any
    footer opens. Safe: files without stats keep; apply the real row
    filter on the result (DVs only REMOVE rows, so pruning composes).

    ``as_of_timestamp_ms``: timestamp time travel — resolves to the newest
    version whose effective commit timestamp (commitInfo.inCommitTimestamp
    when the table has In-Commit Timestamps, else adjusted file mtime) is
    <= the requested instant; mutually exclusive with ``version``.

    ``with_row_ids``: on a Row-Tracking table, append `_row_id` =
    add.baseRowId + physical position (the spec's default row-id
    derivation) — stable across DV updates because re-adds keep their
    original baseRowId. Parquet-only (keys on _metadata.row_index)."""
    if as_of_timestamp_ms is not None:
        if version is not None:
            raise ValueError(
                "read_delta_as_df: pass either version or as_of_timestamp_ms, not both"
            )
        version = version_at_timestamp(base_path, as_of_timestamp_ms)
    meta = latest_metadata(spark, base_path, version)
    if meta is None:
        raise ValueError(f"not a delta table (no metaData): {base_path}")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    cm_mode = dict(meta["configuration"] or {}).get("delta.columnMapping.mode", "none")
    if cm_mode == "id":
        _enable_field_id_reads(spark)
    live = (
        live_files_df(spark, base_path, version)
        .select("path", "partitionValues", "deletionVector", "stats", "baseRowId")
        .collect()
    )
    part_cols = list(meta["partitionColumns"] or [])
    if prune:
        live = _prune_live_rows(live, schema, part_cols, prune)
    base = base_path.rstrip("/")
    paths = [os.path.join(base, r["path"]) for r in live]
    if not paths:
        empty_schema = (
            T.StructType(list(schema.fields) + [T.StructField("_row_id", T.LongType())])
            if with_row_ids
            else schema
        )
        return spark.createDataFrame([], empty_schema)
    # avro/unknown data files refuse loudly; orc row-reads natively (r8)
    from incubator_xtable_spark.model.file_formats import (
        from_delta_provider,
        from_extension,
        split_readable,
    )

    provider_fmt = from_delta_provider(
        meta["format"]["provider"] if meta["format"] is not None else None
    )
    pq_paths, orc_paths, avro_paths = split_readable(
        ((p, from_extension(p, default=provider_fmt)) for p in paths),
        reader="read_delta_as_df",
    )
    # refusal matrix (README "Delta non-parquet depth"): ORC and AVRO
    # serve mode=name by PHYSICAL-NAME resolution (ORC columns / avro
    # fields ARE named the physical names); mode=id stays refused on
    # both (id resolution keys on parquet field ids those formats
    # cannot carry).
    if avro_paths and cm_mode == "id":
        raise NotImplementedError(
            "read_delta_as_df: column mapping mode=id with AVRO data files "
            "is not supported (id resolution needs parquet field ids)"
        )
    if orc_paths and cm_mode == "id":
        raise NotImplementedError(
            "read_delta_as_df: column mapping mode=id with ORC data files "
            "is not supported (id resolution needs parquet field ids)"
        )
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    read_struct = (
        _physical_type(T.StructType(data_fields), with_field_ids=cm_mode == "id")
        if cm_mode in ("name", "id")
        else T.StructType(data_fields)
    )
    if cm_mode == "id":
        _require_field_ids(pq_paths)
    df = spark.read.schema(read_struct).parquet(*pq_paths) if pq_paths else None
    if df is not None and cm_mode in ("name", "id"):
        # physical -> logical: collision-safe rename, then cast nested
        # structs back (struct casts match by position, same shape)
        df = _rename_back(
            df, {rf.name: f.name for f, rf in zip(data_fields, read_struct.fields) if rf.name != f.name}
        )
        for f, rf in zip(data_fields, read_struct.fields):
            if rf.dataType != f.dataType:
                df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
    if with_row_ids:
        if orc_paths or avro_paths:
            raise NotImplementedError(
                "with_row_ids is parquet-only (row ids key on _metadata.row_index)"
            )
        missing = [r["path"] for r in live if r["baseRowId"] is None]
        if missing:
            raise ValueError(
                "with_row_ids: table has adds without baseRowId (row tracking "
                f"not enabled), e.g. {missing[0]!r}"
            )
    dv_rows = [r for r in live if r["deletionVector"] and r["deletionVector"]["storageType"]]
    dv_abs = {os.path.join(base, r["path"]) for r in dv_rows}
    positions = None
    if dv_rows:
        from incubator_xtable_spark.sources.delta_dv import (
            DV_DESCRIPTOR_SPARK_TYPE,
            dv_positions_df,
        )

        dv_files = spark.createDataFrame(
            [
                (os.path.join(base, r["path"]), r["deletionVector"].asDict())
                for r in dv_rows
            ],
            T.StructType(
                [
                    T.StructField("abs_path", T.StringType()),
                    T.StructField("deletionVector", DV_DESCRIPTOR_SPARK_TYPE),
                ]
            ),
        )
        positions = dv_positions_df(spark, base, dv_files)
    if df is not None and (positions is not None or with_row_ids):
        # _metadata is resolvable only on the scan relation (not through
        # joins): materialize file path + physical position ONCE, then
        # both the row-id attach and the DV anti-join key on them
        df = df.withColumn(
            "_fp", F.regexp_replace(F.col("_metadata.file_path"), r"^file:(//)?", "")
        ).withColumn("_ri", F.col("_metadata.row_index"))
        df = with_file_paths(df, "_fp")
        if with_row_ids:
            rid = spark.createDataFrame(
                [(os.path.join(base, r["path"]), r["baseRowId"]) for r in live],
                "_fp STRING, _base LONG",
            )
            df = (
                df.join(F.broadcast(rid), "_fp")
                .withColumn("_row_id", F.col("_base") + F.col("_ri"))
                .drop("_base")
            )
        if positions is not None:
            # the anti-join keys on (file, row) so positions of non-parquet
            # files simply never match this branch
            df = df.join(
                positions,
                (F.col("_fp") == positions.file_path) & (F.col("_ri") == positions.pos),
                "left_anti",
            )
        df = df.drop("_fp", "_ri")
    # ORC files WITHOUT deletion vectors stay on Spark's vectorized
    # native reader; DV'd ORC files re-route through the
    # ordinal-preserving pyarrow scan (sources/orc_scan.py — Spark's ORC
    # reader exposes no _metadata.row_index). AVRO always rides the OCF
    # scan, which emits ordinals when any avro file carries a DV.
    orc_plain = [p for p in orc_paths if p not in dv_abs]
    orc_dv = [p for p in orc_paths if p in dv_abs]
    if orc_plain:
        orc_struct = (
            _physical_type(T.StructType(data_fields), with_field_ids=False)
            if cm_mode == "name"
            else T.StructType(data_fields)
        )
        orc_df = spark.read.schema(orc_struct).orc(list(orc_plain))
        if cm_mode == "name":
            orc_df = _rename_back(
                orc_df,
                {
                    rf.name: f.name
                    for f, rf in zip(data_fields, orc_struct.fields)
                    if rf.name != f.name
                },
            )
            for f, rf in zip(data_fields, orc_struct.fields):
                if rf.dataType != f.dataType:
                    orc_df = orc_df.withColumn(f.name, F.col(f.name).cast(f.dataType))
        df = orc_df if df is None else df.unionByName(orc_df)

    def _positional_branch(reader_fn, branch_paths: list[str]) -> DataFrame:
        """Read ``branch_paths`` through an ordinal-capable scan (no
        file-scan relation, so input_file_name() is empty there): project
        the physical struct by NAME, drop DV'd positions, rename/cast
        back, attach partition values keyed on the scan's own path
        column, and return fully-formed logical rows."""
        struct = (
            _physical_type(T.StructType(data_fields), with_field_ids=False)
            if cm_mode == "name"
            else T.StructType(data_fields)
        )
        needs_ri = positions is not None and any(p in dv_abs for p in branch_paths)
        bdf = reader_fn(
            spark,
            branch_paths,
            list(struct.fields),
            path_col="abs_path",
            row_index_col="_ri" if needs_ri else None,
        )
        if needs_ri:
            bdf = bdf.join(
                positions,
                (F.col("abs_path") == positions.file_path)
                & (F.col("_ri") == positions.pos),
                "left_anti",
            ).drop("_ri")
        if cm_mode == "name":
            bdf = _rename_back(
                bdf,
                {
                    rf.name: f.name
                    for f, rf in zip(data_fields, struct.fields)
                    if rf.name != f.name
                },
            )
            for f, rf in zip(data_fields, struct.fields):
                if rf.dataType != f.dataType:
                    bdf = bdf.withColumn(f.name, F.col(f.name).cast(f.dataType))
        if part_cols:
            apv = spark.createDataFrame(
                [(os.path.join(base, r["path"]), dict(r["partitionValues"] or {})) for r in live],
                "abs_path STRING, pv MAP<STRING,STRING>",
            )
            bdf = bdf.join(F.broadcast(apv), "abs_path", "left")
            for c in part_cols:
                bdf = bdf.withColumn(
                    c, F.col("pv").getItem(_physical_name(schema, c)).cast(schema[c].dataType)
                )
            bdf = bdf.drop("pv")
        return bdf.select(*[column(f.name) for f in schema.fields])

    pos_branches = []
    if orc_dv:
        from incubator_xtable_spark.sources.orc_scan import read_orc_rows

        pos_branches.append(_positional_branch(read_orc_rows, orc_dv))
    if avro_paths:
        from incubator_xtable_spark.sources.avro_scan import read_avro_rows

        pos_branches.append(_positional_branch(read_avro_rows, avro_paths))
    avro_df = None
    if pos_branches:
        avro_df = pos_branches[0]
        for b in pos_branches[1:]:
            avro_df = avro_df.unionByName(b)
    if df is None:
        return avro_df if avro_df is not None else spark.createDataFrame([], schema)
    if part_cols:
        pv = spark.createDataFrame(
            [(os.path.join(base, r["path"]), dict(r["partitionValues"] or {})) for r in live],
            "abs_path STRING, pv MAP<STRING,STRING>",
        )
        # input_file_name() may yield file:/p or file:///p depending on the
        # file index path — strip both forms (URI authority is empty)
        df = df.withColumn("abs_path", F.regexp_replace(F.input_file_name(), r"^file:(//)?", ""))
        df = with_file_paths(df, "abs_path").join(F.broadcast(pv), "abs_path", "left")
        for c in part_cols:
            df = df.withColumn(
                c, F.col("pv").getItem(_physical_name(schema, c)).cast(schema[c].dataType)
            )
        df = df.drop("abs_path", "pv")
    out = df.select(
        *([column(f.name) for f in schema.fields] + (["_row_id"] if with_row_ids else []))
    )
    return out.unionByName(avro_df) if avro_df is not None else out


# ---------------------------------------------------------------------------
# Stats parsing: Delta add.stats JSON -> inventory column_stats, typed by
# the table schema so numeric values stay numeric on re-serialization.
# ---------------------------------------------------------------------------

# (low, high) of the integer stat types
_INT_RANGES = {
    T.ByteType: (-(2**7), 2**7),
    T.ShortType: (-(2**15), 2**15),
    T.IntegerType: (-(2**31), 2**31),
    T.LongType: (-(2**63), 2**63),
}
# the string spellings a JSON float field accepts (Spark's JSON reader)
_NON_FINITE = {
    "NaN": math.nan,
    "Infinity": math.inf,
    "+Infinity": math.inf,
    "+INF": math.inf,
    "-Infinity": -math.inf,
    "-INF": -math.inf,
}


def _int_stat(value: Any, dtype: T.DataType) -> Optional[int]:
    low, high = _INT_RANGES[type(dtype)]
    if isinstance(value, int) and not isinstance(value, bool) and low <= value < high:
        return value
    return None


def _stat_value(value: Any, dtype: T.DataType) -> Any:
    """One ``minValues`` / ``maxValues`` JSON value read as a column of
    ``dtype``: numbers and booleans natively (None where the value does
    not fit the type; a float column rounds to 32 bits), every other
    type as the JSON text of the value (a date, timestamp, decimal or
    string)."""
    if value is None:
        return None
    if type(dtype) in _INT_RANGES:
        return _int_stat(value, dtype)
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        if isinstance(value, str):
            v = _NON_FINITE.get(value)
        elif isinstance(value, (int, float, Decimal)) and not isinstance(value, bool):
            v = float(value)
        else:
            return None
        if v is not None and isinstance(dtype, T.FloatType) and math.isfinite(v):
            v = float(str(np.float32(v)))  # the shortest 32-bit spelling
        return v
    if isinstance(dtype, T.BooleanType):
        return value if isinstance(value, bool) else None
    if isinstance(value, str):
        return value
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, (int, Decimal)):
        return str(value)
    return json.dumps(value, separators=(",", ":"), ensure_ascii=False, default=float)


def parse_stats(raw: Optional[str], schema: T.StructType) -> tuple[Optional[int], dict]:
    """Delta ``add.stats`` JSON -> (numRecords, inventory column_stats
    with an entry for every column of ``schema``), min/max encoded per
    data type with ``stat_codec.encode_stat`` (delta/DeltaStatsExtractor
    .java:68-70). A field that does not fit its type reads as None, a
    ``nullCount`` with one such value as no null counts at all, and a
    value that is not a JSON object as no stats."""
    try:
        stats = json.loads(raw, parse_float=Decimal) if raw else None
    except ValueError:
        stats = None
    if not isinstance(stats, dict):
        stats = {}
    mins, maxs, nulls = (
        v if isinstance(v, dict) else {}
        for v in (stats.get(k) for k in ("minValues", "maxValues", "nullCount"))
    )
    if any(v is not None and _int_stat(v, T.LongType()) is None for v in nulls.values()):
        nulls = {}
    column_stats = {
        f.name: {
            "min_json": encode_stat(_stat_value(mins.get(f.name), f.dataType), f.dataType),
            "max_json": encode_stat(_stat_value(maxs.get(f.name), f.dataType), f.dataType),
            "null_count": nulls.get(f.name),
        }
        for f in schema.fields
    }
    return _int_stat(stats.get("numRecords"), T.LongType()), column_stats


def _lift_column_mapping(schema: T.StructType) -> T.StructType:
    """Delta column-mapping metadata -> canonical conventions: the
    rename-stable `delta.columnMapping.id` becomes the canonical fieldId
    and `delta.columnMapping.physicalName` the storage name
    (DeltaSchemaExtractor.java:57-58,137-144)."""
    from incubator_xtable_spark.model.schema_meta import FIELD_ID, STORAGE_NAME

    def visit(f: T.StructField) -> T.StructField:
        meta = dict(f.metadata or {})
        if "delta.columnMapping.id" in meta and FIELD_ID not in meta:
            meta[FIELD_ID] = meta["delta.columnMapping.id"]
        if "delta.columnMapping.physicalName" in meta and STORAGE_NAME not in meta:
            stored = meta["delta.columnMapping.physicalName"]
            # physicalName == logical name (this engine's write mode) is
            # not a rename — only record a storage name when they differ
            if stored != f.name:
                meta[STORAGE_NAME] = stored
        # raw Delta keys do not travel past extraction — the canonical
        # schema carries only fieldId/storageName, like the reference's
        # InternalField (and so a write->read round trip is idempotent)
        meta.pop("delta.columnMapping.id", None)
        meta.pop("delta.columnMapping.physicalName", None)
        return T.StructField(f.name, visit_type(f.dataType), f.nullable, meta)

    def visit_type(dt: T.DataType) -> T.DataType:
        # structs nested inside arrays/maps carry mapped ids too
        if isinstance(dt, T.StructType):
            return T.StructType([visit(c) for c in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(visit_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(visit_type(dt.keyType), visit_type(dt.valueType), dt.valueContainsNull)
        return dt

    return T.StructType([visit(f) for f in schema.fields])


class DeltaConversionSource:
    """ConversionSource over a Delta table
    (spi/extractor/ConversionSource.java:37-105 surface)."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        name: Optional[str] = None,
        expose_row_deletes: bool = False,
        emit_row_changes: bool = False,
        expose_row_lineage: bool = False,
    ) -> None:
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.name = name or os.path.basename(self.base_path)
        # CDC channel: attach each commit's row-level changes (CDF read)
        # to the TableChange so change-feed-capable targets persist them
        self.emit_row_changes = emit_row_changes
        # When True, DV'd files are inventoried at their ORIGINAL paths
        # and the delete sets ride on snapshot/change.row_deletes as
        # Iceberg-shaped position parquets — no data-file rewrite. Only
        # enable when every target can express row-level deletes (the
        # Iceberg v2 target); otherwise the default purged-shadow path
        # keeps row parity for targets that cannot.
        self.expose_row_deletes = expose_row_deletes
        # Row-lineage channel: attach {path: baseRowId} (Delta Row
        # Tracking) to snapshot/change.row_lineage so lineage-capable
        # targets (Iceberg v3) PRESERVE stable row ids across the
        # conversion instead of assigning fresh ranges. Requires every
        # live add to carry baseRowId (a Row Tracking table).
        self.expose_row_lineage = expose_row_lineage
        # metaData lookup cache: one sync resolves the same metaData 2-3
        # times (table build + file-format default), each a log read.
        # Keyed by (requested version, current log head) so an incremental
        # commit through a long-lived source can never serve a stale
        # entry — the listdir probe is microseconds.
        self._meta_cache: dict = {}

    def _latest_meta(self, version: Optional[int] = None):
        head = max(list_log_versions(self.base_path), default=-1)
        key = (version, head)
        if key not in self._meta_cache:
            self._meta_cache.clear()  # old-head entries are dead weight
            self._meta_cache[key] = latest_metadata(self.spark, self.base_path, version)
        return self._meta_cache[key]

    def get_current_table(self) -> Optional[InternalTable]:
        return self.get_table_at_version(None)

    def get_table_at_version(self, version: Optional[int]) -> Optional[InternalTable]:
        """InternalTable from the metaData action in effect AT `version`
        (None = latest). Commit replay must use the historical schema —
        the reference resolves the snapshot at the version
        (delta/DeltaConversionSource.java:106 getSnapshotAt); parsing
        add.stats of an old commit with the latest schema mis-types the
        min/max values whenever the backlog crosses a schema change."""
        meta = self._latest_meta(version)
        if meta is None:
            return None
        schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
        schema = _lift_column_mapping(schema)
        part_cols = list(meta["partitionColumns"] or [])
        # generated partition columns carry delta.generationExpression and
        # are filtered out of the logical read schema
        # (DeltaSchemaExtractor.java:70-237 + DeltaPartitionExtractor.java:105-230)
        from incubator_xtable_spark.functions.partition_transforms import (
            parse_generation_expression,
        )

        partition_fields: list[InternalPartitionField] = []
        generated_names: set[str] = set()
        by_name = {f.name: f for f in schema.fields}
        for c in part_cols:
            f = by_name.get(c)
            expr = (f.metadata or {}).get("delta.generationExpression") if f is not None else None
            if expr:
                parsed = parse_generation_expression(expr)
                if parsed is not None:
                    parsed.partition_field_name = c
                    partition_fields.append(parsed)
                    generated_names.add(c)
                    continue
            partition_fields.append(InternalPartitionField(source_field=c))
        if generated_names:
            schema = T.StructType([f for f in schema.fields if f.name not in generated_names])
        return InternalTable(
            name=meta["name"] or self.name,
            table_format=TableFormat.DELTA,
            base_path=self.base_path,
            read_schema=schema,
            partition_fields=partition_fields,
            layout_strategy=(
                DataLayoutStrategy.HIVE_STYLE_PARTITION if part_cols else DataLayoutStrategy.FLAT
            ),
            latest_metadata_path=_log_dir(self.base_path),
        )

    def get_current_snapshot(self) -> InternalSnapshot:
        table = self.get_current_table()
        if table is None:
            raise ValueError(f"not a delta table: {self.base_path}")
        version = max(list_log_versions(self.base_path))
        live = list(live_adds(self.base_path, version).values())
        return InternalSnapshot(
            table=table,
            version=str(version),
            files=self._to_inventory_adds(live, table),
            row_deletes=self._row_deletes_for(live) if self.expose_row_deletes else None,
            row_lineage=self._row_lineage_map(live) if self.expose_row_lineage else None,
        )

    def _absolute(self, path: str) -> str:
        """Log paths may be absolute (external files); only relative ones
        are anchored at the table base."""
        return path if path.startswith("/") else self.base_path + "/" + path

    def _row_lineage_map(self, adds: list[dict]) -> dict:
        """Add actions -> {absolute path: baseRowId} for the row-lineage
        channel. Refuses loudly when an add carries no baseRowId (not a
        Row Tracking table) or when a deletion vector is present without
        expose_row_deletes (the purged-shadow rewrite renumbers physical
        rows, so the original ids cannot survive it). Metadata-sized:
        one driver row per file, same posture as _row_deletes_for."""
        missing = [a["path"] for a in adds if a["baseRowId"] is None]
        if missing:
            raise ValueError(
                f"expose_row_lineage: {len(missing)} add(s) carry no baseRowId "
                f"(not a Row Tracking table?), e.g. {missing[:3]}"
            )
        if not self.expose_row_deletes and any(_dv_of(a) for a in adds):
            raise ValueError(
                "expose_row_lineage with deletion vectors requires "
                "expose_row_deletes=True: the purged-shadow rewrite renumbers "
                "physical rows, so baseRowId-derived ids cannot survive it"
            )
        return {self._absolute(a["path"]): int(a["baseRowId"]) for a in adds}

    def _row_deletes_for(self, adds: list[dict]):
        """DV'd files -> a ROW_DELETES_ARROW table; materializes the
        Iceberg-shaped (file_path, pos) positions parquet per (file, DV)
        executor-side, idempotently.

        The result states the table's COMPLETE current delete set (pass
        the full live file set, not a commit's adds): targets clear
        deletes for any live file absent from it, which is what makes a
        RESTORE (re-add without DV) propagate. An empty table means 'no
        rows are deleted' — never None, so the channel stays active."""
        from incubator_xtable_spark.model.core import ROW_DELETES_ARROW
        from incubator_xtable_spark.sources.delta_dv import (
            delete_positions_path,
            write_delete_position_files,
        )

        dv_list = [(self._absolute(a["path"]), a) for a in adds if _dv_of(a)]
        if dv_list:
            write_delete_position_files(
                self.spark,
                self.base_path,
                [{"abs_path": p, "deletionVector": a["deletionVector"]} for p, a in dv_list],
            )
        return arrow_table(
            [
                (
                    p,
                    delete_positions_path(p, a["deletionVector"]),
                    int(a["deletionVector"]["cardinality"] or 0),
                    a["partitionValues"] or None,
                )
                for p, a in dv_list
            ],
            ROW_DELETES_ARROW,
        )

    def _data_schema(self, table: InternalTable) -> T.StructType:
        part_cols = {pf.source_field for pf in table.partition_fields}
        return T.StructType([f for f in table.read_schema.fields if f.name not in part_cols])

    def _default_file_format(self) -> str:
        """Table-level format from metaData.format.provider (ref
        delta/DeltaActionsConverter.java:91-97: parquet/orc recognized,
        anything else refused loudly). Cached — Delta never changes a
        table's provider, and latest_metadata is a log scan."""
        if getattr(self, "_format_default", None) is None:
            from incubator_xtable_spark.model.file_formats import from_delta_provider

            meta = self._latest_meta()
            provider = None
            if meta is not None and meta["format"] is not None:
                provider = meta["format"]["provider"]
            self._format_default = from_delta_provider(provider)
        return self._format_default

    def _file_row(self, path: str) -> dict:
        """The inventory row of a file known by path only: a removed one."""
        return {
            "physical_path": path,
            # extension wins (a mixed-format table is tagged per file); the
            # table provider is the extension-less default
            "file_format": from_extension(path, default=self._default_file_format()),
            "size_bytes": 0,
        }

    def _to_inventory_adds(self, adds: list[dict], table: InternalTable):
        """Add actions -> inventory table. DV'd adds are converted to their
        purged shadow files (materialized idempotently, stats recomputed
        from the shadow's footer) so targets reference row-accurate data —
        the deliberate improvement over the reference's pair-drop
        (delta/DeltaConversionSource.java:147-163); see sources/delta_dv.py.
        With expose_row_deletes, DV'd adds stay at their ORIGINAL path with
        physical record_count/stats (Iceberg data-file semantics); the
        delete sets travel separately on row_deletes."""
        data_schema = self._data_schema(table)
        rows, dv_adds = [], []
        for a in adds:
            if _dv_of(a) and not self.expose_row_deletes:
                dv_adds.append(a)
                continue
            record_count, column_stats = parse_stats(a["stats"], data_schema)
            rows.append(
                dict(
                    self._file_row(self._absolute(a["path"])),
                    size_bytes=a["size"],
                    record_count=record_count,
                    last_modified_ms=a["modificationTime"],
                    partition_values=a["partitionValues"],
                    column_stats=column_stats,
                )
            )
        if dv_adds:
            from incubator_xtable_spark.sources.delta_dv import purged_path, write_purged_files
            from incubator_xtable_spark.sources.parquet_source import footer_stat_rows

            dvs = [
                {"abs_path": self._absolute(a["path"]), "deletionVector": a["deletionVector"]}
                for a in dv_adds
            ]
            write_purged_files(self.spark, self.base_path, dvs)
            shadows = [purged_path(d["abs_path"], d["deletionVector"]) for d in dvs]
            stats = {p: (rc, cs) for p, rc, cs in footer_stat_rows(shadows, data_schema)}
            for sp, a in zip(shadows, dv_adds):
                record_count, column_stats = stats.get(sp, (None, None))
                rows.append(
                    {
                        "physical_path": sp,
                        "file_format": "PARQUET",  # purged shadows are engine-written parquet
                        "size_bytes": os.path.getsize(sp),
                        "record_count": record_count,
                        "last_modified_ms": a["modificationTime"],
                        "partition_values": a["partitionValues"] or None,
                        "column_stats": column_stats,
                    }
                )
        return arrow_table(rows, FILE_INVENTORY_ARROW)

    def get_commits_backlog(self, instants: InstantsForIncrementalSync) -> CommitsBacklog:
        last_v = int(instants.last_sync_instant)
        versions = set(list_log_versions(self.base_path))
        new = {v for v in versions if v > last_v}
        pending_done = {int(p) for p in instants.pending_commits if int(p) in versions}
        return CommitsBacklog(commits_to_process=[str(v) for v in sorted(new | pending_done)])

    def is_incremental_sync_safe_from(self, instant: str) -> bool:
        """Safe iff a commit at/before the instant still exists in the log
        (delta/DeltaConversionSource.java:191-204)."""
        versions = list_log_versions(self.base_path)
        return bool(versions) and min(versions) <= int(instant)

    def get_table_change_for_commit(self, commit: str) -> TableChange:
        change = self._table_change_impl(commit)
        if self.emit_row_changes:
            change.row_changes = read_delta_cdf(
                self.spark, self.base_path, int(commit)
            ).drop("_commit_version")
        if self.expose_row_lineage:
            change.row_lineage = self._row_lineage_map(
                [a["add"] for a in _own_actions(self.base_path, int(commit)) if a.get("add")]
            )
        return change

    def _table_change_impl(self, commit: str) -> TableChange:
        """Per-version diff with deletion-vector awareness.

        Every file is tracked by its EFFECTIVE path — the purged shadow
        when a DV is attached, the original otherwise. A DV update commit
        (remove path X + re-add X with a new DV) therefore diffs to
        "remove X's previous effective file, add the new shadow", giving
        targets row parity after deletes. (The reference instead drops the
        pair and goes row-stale: delta/DeltaConversionSource.java:147-163.)
        True no-ops — add+remove of the same path with an unchanged
        effective path (e.g. stats-recompute commits) — still drop out.

        Row-delete exposure diffs files on their RAW paths instead (a DV
        update commit — remove X + re-add X with a new DV — is a
        data-file no-op); row_deletes restates the COMPLETE delete state
        at this version so a dropped DV (RESTORE) clears the target's
        delete file as well as a widened DV swapping it.

        The diff (`_commit_diff_local`) and the inventory rows are built
        on the driver from the commit's own actions.
        """
        version = int(commit)
        table = self.get_table_at_version(version)
        add_rows, removed_paths = _commit_diff_local(
            self.base_path, version, self.expose_row_deletes
        )
        return TableChange(
            table=table,
            commit_id=commit,
            files_added=self._to_inventory_adds(add_rows, table),
            files_removed=arrow_table(
                [self._file_row(self._absolute(p)) for p in removed_paths],
                FILE_INVENTORY_ARROW,
            ),
            row_deletes=(
                self._row_deletes_for(list(live_adds(self.base_path, version).values()))
                if self.expose_row_deletes
                else None
            ),
        )

    def get_commit_identifier(self, commit: str) -> str:
        return commit

    def get_table_properties(self) -> dict[str, str]:
        meta = latest_metadata(self.spark, self.base_path)
        return dict(meta["configuration"] or {}) if meta is not None else {}

    def get_sync_metadata(self) -> Optional[TableSyncMetadata]:
        props = self.get_table_properties()
        if XTABLE_METADATA_KEY not in props:
            return None
        return TableSyncMetadata.from_json(props[XTABLE_METADATA_KEY])
