"""Delta Lake conversion source. Every piece of log state — live files,
metaData, protocol, txn and domainMetadata, a commit's own actions — is
rebuilt by ONE session-free replay (`log_replay`: the checkpoint in range
read with pyarrow, then the JSON tail) and a few folds over it. The
inventories the source hands on are built from those dicts on the
driver, `add.stats` parsed in Python, so a sync sends none of them
through the JVM. Checkpoints are written from the same replay, on the
driver too (`write_checkpoint`).

Reference parity:
- snapshot scan / allFiles         delta/DeltaConversionSource.java:93-101,
                                   delta/DeltaDataFileExtractor.java:53-100
- per-version commit diff          delta/DeltaConversionSource.java:104-174
- commits backlog / history        delta/DeltaConversionSource.java:176-189
- incremental safety               delta/DeltaConversionSource.java:191-204
- stats parse                      delta/DeltaStatsExtractor.java:68-70,
                                   delta/DeltaValueConverter.java:62-235
- checkpoint write                 delta/DeltaConversionTarget.java:294-328
                                   (the commit whose post-commit hook
                                   checkpoints)

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
import uuid
from decimal import Decimal
from typing import Any, Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

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
)
from incubator_xtable_spark.model.file_formats import from_extension
from incubator_xtable_spark.sources.change_plan import ChangeFile, ChangePlan, read_changes
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


# the non-file kinds a table state carries, with the field that keys
# their latest-wins reconciliation (None: one action per table)
_STATE_KEYS = {"protocol": None, "metaData": None, "domainMetadata": "domain", "txn": "appId"}


def _replay_state(
    base_path: str, version: Optional[int] = None
) -> tuple[dict[str, dict], dict[tuple, dict]]:
    """One fold of the replay at ``version``: (path -> live add, as
    `live_adds` returns it; (kind, key) -> the newest action of each
    _STATE_KEYS kind per key — protocol and metaData once, domainMetadata
    per domain with removed=true tombstones kept, txn per appId)."""
    live: dict[str, dict] = {}
    latest: dict[tuple, dict] = {}
    for ver, action in log_replay(base_path, version):
        add, remove = action.get("add"), action.get("remove")
        if add is not None:
            add["version"] = ver
            live[add["path"]] = add
        elif remove is not None:
            if live.get(remove["path"], {}).get("version") != ver:
                live.pop(remove["path"], None)
        else:  # an action is one kind (PROTOCOL.md "Actions")
            for kind, body in action.items():
                if kind in _STATE_KEYS:
                    key = _STATE_KEYS[kind]
                    latest[kind, body[key] if key else None] = body
    return live, latest


def live_adds(base_path: str, version: Optional[int] = None) -> dict[str, dict]:
    """path -> add action of every file live at ``version``, the add
    carrying the ``version`` it came from. The last action per path wins;
    within one version an add beats a remove whatever the line order (a
    DV commit removes AND re-adds the same path, and the file stays
    live)."""
    return _replay_state(base_path, version)[0]


def latest_action(base_path: str, kind: str, version: Optional[int] = None) -> Optional[dict]:
    """The newest ``kind`` action (metaData, protocol) in the view at
    ``version``, as a dict with every _ACTION_SCHEMA field (None when the
    log has none): the JSON tail newest-first, stopping at the first file
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


def live_domain_metadata(base_path: str, version: Optional[int] = None) -> dict[str, str]:
    """{domain: configuration} of the LIVE domains at ``version`` —
    removed=true tombstones drop (they exist only for conflict
    detection)."""
    return {
        r["domain"]: r["configuration"]
        for r in latest_actions(base_path, "domainMetadata", "domain", version).values()
        if not r["removed"]
    }


_ACTION_ARROW = to_arrow_schema(_ACTION_SCHEMA)

# the v2 top-level checkpoint file: the actions plus checkpointMetadata
# and one sidecar action per sidecar file
_V2_TOP_ARROW = to_arrow_schema(
    T.StructType(
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
)

# actions per sidecar parquet: bounds per-file memory for readers while
# keeping file count low (10M live files -> 20 sidecars)
_SIDECAR_ACTIONS_PER_FILE = 500_000

# actions per v1 multi-part checkpoint fragment (same bound rationale)
_MULTIPART_ACTIONS_PER_FILE = 500_000


def _put_log_file(path: str, data: Any) -> None:
    """Write ``data`` (an Arrow table as parquet, or bytes) to ``path``
    through a temporary name that no checkpoint glob matches, then rename
    it into place: a reader sees the whole file or none."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    try:
        if isinstance(data, pa.Table):
            # no ARROW:schema footer blob: Delta readers never use it
            pq.write_table(data, tmp, store_schema=False)
        else:
            with open(tmp, "wb") as fh:
                fh.write(data)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def write_checkpoint(base_path: str, version: int, layout: str = "classic") -> None:
    """Write a spec checkpoint of the view at ``version`` plus the
    `_last_checkpoint` pointer, on the driver. One `_replay_state` fold
    collects the state: the live adds (dataChange=false: checkpoint
    entries are state, not changes), the latest protocol and metaData,
    the latest domainMetadata per domain INCLUDING removed=true
    tombstones (spec "Domain Metadata": concurrent writers need them)
    and the latest txn per appId (spec "Transaction Identifiers":
    streaming idempotence survives log retention). One Arrow table in
    _ACTION_SCHEMA holds those actions; the layouts only slice it:

    - "classic": one <v>.checkpoint.parquet;
    - "multipart" (the spec's v1 multi-part checkpoint, which older
      engines write and a target should be able to produce):
      ceil(n / _MULTIPART_ACTIONS_PER_FILE) fragments named
      <v>.checkpoint.<i>.<n>.parquet (both %010d, i 1-based), with
      `_last_checkpoint.parts` = n;
    - "v2" (PROTOCOL.md V2 Checkpoints, requires the `v2Checkpoint`
      reader/writer feature): the adds in sidecars of at most
      _SIDECAR_ACTIONS_PER_FILE under _delta_log/_sidecars/, then the
      UUID-named <v>.checkpoint.<uuid>.parquet holding
      checkpointMetadata, the other actions and one `sidecar` action per
      sidecar file.

    Every file lands through `_put_log_file` and `_last_checkpoint` is
    written last, so a failure at any write leaves the pointer on the
    previous checkpoint. Scale: one replay and one pyarrow write per
    file; the work is the live state's size, with no Spark job.
    """
    live, latest = _replay_state(base_path, version)
    head = [{kind: body} for (kind, _), body in latest.items()]
    adds = [{"add": dict(add, dataChange=False)} for add in live.values()]
    actions = arrow_table(head + adds, _ACTION_ARROW)
    log_dir = _log_dir(base_path)
    prefix = os.path.join(log_dir, f"{version:020d}.checkpoint")
    pointer: dict = {"version": version, "size": actions.num_rows}
    if layout == "v2":
        sidecar_dir = os.path.join(log_dir, "_sidecars")
        os.makedirs(sidecar_dir, exist_ok=True)
        sidecars = []
        for start in range(len(head), actions.num_rows, _SIDECAR_ACTIONS_PER_FILE):
            name = f"{uuid.uuid4()}.parquet"
            path = os.path.join(sidecar_dir, name)
            _put_log_file(path, actions.slice(start, _SIDECAR_ACTIONS_PER_FILE))
            st = os.stat(path)
            sidecars.append(
                {
                    "sidecar": {
                        "path": name,
                        "sizeInBytes": st.st_size,
                        "modificationTime": int(st.st_mtime * 1000),
                    }
                }
            )
        top = [{"checkpointMetadata": {"version": version}}] + head + sidecars
        _put_log_file(f"{prefix}.{uuid.uuid4()}.parquet", arrow_table(top, _V2_TOP_ARROW))
        pointer["size"] = len(adds) + len(top)
    elif layout == "multipart":
        per = _MULTIPART_ACTIONS_PER_FILE
        n_parts = max(1, math.ceil(actions.num_rows / per))
        for i in range(n_parts):
            _put_log_file(
                f"{prefix}.{i + 1:010d}.{n_parts:010d}.parquet", actions.slice(i * per, per)
            )
        pointer["parts"] = n_parts  # spec-optional; always recorded here
    else:
        _put_log_file(f"{prefix}.parquet", actions)
    _put_log_file(os.path.join(log_dir, "_last_checkpoint"), json.dumps(pointer).encode())


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


def plan_changes(base_path: str, version: int) -> ChangePlan:
    """The row changes of commit ``version``, planned from its own log
    JSON and the live state before it (`change_plan.ChangePlan`; no
    SparkSession). Delta PROTOCOL.md Change Data Files, in order:

    1. the commit's `cdc` actions: change files under _change_data/ whose
       rows carry `_change_type`;
    2. otherwise the file actions: add(dataChange) = inserts of the
       file's visible rows, remove(dataChange) = deletes of the rows
       visible at the previous version, and a remove + re-add of one
       path (a deletion-vector update) = a position diff of the old and
       new DVs.

    Partition values key by logical name, and the files' columns resolve
    through `_scan_groups` (column mapping's physical names or field
    ids). Refuses a commit whose JSON is gone and a removed file that
    has been vacuumed."""
    from incubator_xtable_spark.model.file_formats import from_delta_provider

    commit_file = os.path.join(_log_dir(base_path), f"{version:020d}.json")
    if not os.path.exists(commit_file):
        raise ValueError(
            f"commit {version} has no retained JSON file (expired or compacted); "
            "CDF reads need the commit's own actions"
        )
    meta = latest_action(base_path, "metaData", version)
    if meta is None:
        raise ValueError(f"not a delta table (no metaData): {base_path}")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    part_cols = list(meta["partitionColumns"] or [])
    provider_fmt = from_delta_provider(
        meta["format"]["provider"] if meta["format"] is not None else None
    )
    base = base_path.rstrip("/")
    actions = [json.loads(line) for line in open(commit_file, encoding="utf-8") if line.strip()]

    def change_file(path: str, change, values, drop, restore=None) -> ChangeFile:
        return ChangeFile(
            os.path.join(base, path),
            from_extension(path, default=provider_fmt),
            change,
            _logical_partition_values(schema, part_cols, values),
            drop,
            restore,
        )

    def dv(path: str, descriptor: Optional[dict]) -> tuple:
        if not descriptor or not descriptor.get("storageType"):
            return ()
        return ({"kind": "delta_dv", "base": base, "path": os.path.join(base, path), "dv": descriptor},)

    cdc = [a["cdc"] for a in actions if a.get("cdc")]
    if cdc:
        files = [change_file(c["path"], "_change_type", c.get("partitionValues"), ()) for c in cdc]
    else:
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
        prev = live_adds(base_path, version - 1) if removes and version > 0 else {}
        gone = [
            p for p in removes if p not in adds and not os.path.exists(os.path.join(base, p))
        ]
        if gone:
            raise ValueError(
                f"CDF derivation for commit {version} needs the removed data files, "
                f"but they are vacuumed: {gone[:3]}"
            )
        files = []
        for p, a in adds.items():
            if p in removes:  # the DV-update shape: a position diff
                old = (prev.get(p) or {}).get("deletionVector")
                files.append(
                    change_file(p, None, a.get("partitionValues"), dv(p, a.get("deletionVector")), dv(p, old))
                )
            else:
                files.append(change_file(p, "insert", a.get("partitionValues"), dv(p, a.get("deletionVector"))))
        for p, r in removes.items():
            if p not in adds:
                state = prev.get(p) or {}
                values = r.get("partitionValues") or state.get("partitionValues")
                files.append(change_file(p, "delete", values, dv(p, state.get("deletionVector"))))
    fields = [f for f in schema.fields if f.name not in part_cols]
    if cdc:
        fields.append(T.StructField("_change_type", T.StringType()))
    groups = _scan_groups(meta, [f.path for f in files], fields, "read_delta_cdf", change_files=bool(cdc))
    return ChangePlan(schema, files, groups, None)


def read_delta_cdf(spark: SparkSession, base_path: str, version: int) -> DataFrame:
    """Change Data Feed of ONE commit as a CDC-shaped DataFrame: the row
    columns plus `_change_type` (insert / update_preimage /
    update_postimage / delete) and `_commit_version` — the Delta twin of
    sources/paimon_source.read_paimon_changelog. The rows are the ones
    `plan_changes` plans: explicit change files win; otherwise inserts
    of added files, deletes of removed ones, and for a deletion-vector
    update exactly the NEWLY deleted positions (new DV minus old DV;
    positions restored by a shrinking DV emit as inserts).

    Scale: one distributed scan over only the files this commit touched;
    DV position sets decode on the driver (metadata-sized) and diff in
    numpy; no data row ever collects to the driver. Pair with
    get_commits_backlog for the commit cursor.
    """
    return read_changes(
        spark, plan_changes(base_path, version), T.StructField("_commit_version", T.LongType()), version
    )


def commit_data_bytes(base_path: str, version: int) -> int:
    """Planned data bytes of one commit from its OWN json: dataChange add
    sizes + CDC file sizes (metadata read only — no file stats); a
    commit without a JSON counts 0."""
    commit_file = os.path.join(_log_dir(base_path), f"{version:020d}.json")
    if not os.path.exists(commit_file):
        return 0
    total = 0
    for a in _json_actions(commit_file):
        if a.get("add") and a["add"].get("dataChange", True):
            total += int(a["add"].get("size") or 0)
        elif a.get("cdc"):
            total += int(a["cdc"].get("size") or 0)
    return total


def _logical_partition_values(schema: T.StructType, part_cols: list[str], values) -> dict:
    """partitionValues (keyed by PHYSICAL name under column mapping) ->
    {logical partition column: value}."""
    return {c: (values or {}).get(_physical_name(schema, c)) for c in part_cols}


def _scan(
    spark: SparkSession,
    base: str,
    meta: dict,
    schema: T.StructType,
    files: list[tuple[str, Optional[dict]]],
    fields: list[T.StructField],
    reader: str,
    *,
    positions=None,
    row_ids: Optional[dict[str, Optional[int]]] = None,
) -> DataFrame:
    """Scan a Delta table's (path, partition values) ``files`` through
    `file_scan.scan_files` (a path relative to ``base`` or absolute;
    ``row_ids`` keys each file's baseRowId by relative path), the stored
    columns of ``fields`` resolved by `_scan_groups`. Partition columns
    come from the files' partition values, keyed by logical name
    (`_logical_partition_values`)."""
    from incubator_xtable_spark.sources.file_scan import scan_files

    paths = [os.path.join(base, p) for p, _ in files]
    groups = _scan_groups(meta, paths, fields, reader, row_ids=row_ids is not None)
    if row_ids is not None:
        missing = [p for p, base_row_id in row_ids.items() if base_row_id is None]
        if missing:
            raise ValueError(
                "with_row_ids: table has adds without baseRowId (row tracking "
                f"not enabled), e.g. {missing[0]!r}"
            )
        row_ids = {os.path.join(base, p): base_row_id for p, base_row_id in row_ids.items()}
    part_cols = list(meta["partitionColumns"] or [])
    partition_values = (
        {path: pv or {} for path, (_, pv) in zip(paths, files)} if part_cols else None
    )
    out = list(schema.fields) + [f for f in fields if f.name not in schema.names]
    return scan_files(
        spark,
        groups,
        out,
        partition_values=partition_values,
        positions=positions,
        row_ids=row_ids,
    )


def _scan_groups(
    meta: dict,
    paths: list[str],
    fields: list[T.StructField],
    reader: str,
    *,
    change_files: bool = False,
    row_ids: bool = False,
) -> list:
    """The `file_scan` groups of a Delta table's data or change files
    (absolute ``paths``), presenting the logical columns ``fields`` (the
    ones the files hold) the way the table's column mapping says:
    mode=name reads each column's PHYSICAL name, mode=id matches PARQUET
    FIELD IDS (fed from delta.columnMapping.id, mirroring
    DeltaSchemaExtractor.java:57-58,137-144), and both rename back to the
    logical names.

    Refusal matrix (README "Delta non-parquet depth"): ORC and AVRO
    files serve mode=name (their columns and fields ARE named the
    physical names); mode=id refuses on both, since id resolution keys
    on parquet field ids those formats cannot carry; ``row_ids`` (the
    parquet row index) refuses them too."""
    from incubator_xtable_spark.model.file_formats import (
        APACHE_AVRO,
        APACHE_ORC,
        PARQUET,
        from_delta_provider,
        split_readable,
    )
    from incubator_xtable_spark.sources.file_scan import ScanGroup

    cm_mode = dict(meta["configuration"] or {}).get("delta.columnMapping.mode", "none")
    provider_fmt = from_delta_provider(
        meta["format"]["provider"] if meta["format"] is not None else None
    )
    pq_paths, orc_paths, avro_paths = split_readable(
        ((p, from_extension(p, default=provider_fmt)) for p in paths),
        reader=f"{reader}(change files)" if change_files else reader,
    )
    if cm_mode == "id":
        if change_files and (orc_paths or avro_paths):
            raise NotImplementedError(
                f"{reader}: column mapping mode=id with ORC/AVRO change files is not "
                "supported (id resolution needs parquet field ids)"
            )
        for label, fmt_paths in (("AVRO", avro_paths), ("ORC", orc_paths)):
            if fmt_paths:
                raise NotImplementedError(
                    f"{reader}: column mapping mode=id with {label} data files is not "
                    "supported (id resolution needs parquet field ids)"
                )
        _require_field_ids(pq_paths)
    if row_ids and (orc_paths or avro_paths):
        raise NotImplementedError(
            "with_row_ids is parquet-only (row ids key on _metadata.row_index)"
        )
    logical = T.StructType(list(fields))
    stored = (
        _physical_type(logical, with_field_ids=cm_mode == "id")
        if cm_mode in ("name", "id")
        else logical
    )
    renames = {rf.name: f.name for f, rf in zip(logical.fields, stored.fields) if rf.name != f.name}
    return [
        ScanGroup(fmt, fmt_paths, stored, renames)
        for fmt, fmt_paths in ((PARQUET, pq_paths), (APACHE_ORC, orc_paths), (APACHE_AVRO, avro_paths))
    ]


def _physical_name(schema: T.StructType, name: str) -> str:
    """Column-mapping physical name of a top-level column (spec: file
    paths AND add.partitionValues key by PHYSICAL name under mode=name)."""
    try:
        f = schema[name]
    except KeyError:
        return name
    return (f.metadata or {}).get("delta.columnMapping.physicalName", name)


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
    vectors are applied row-level: each DV's deleted positions decode on
    the driver (`delta_dv.read_dv_positions`, metadata-sized) and
    `file_scan.scan_files` anti-joins them on (file, row index) with the
    distributed scan; no data row reaches the driver.

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
    original baseRowId. Parquet-only (keys on the parquet row index)."""
    if as_of_timestamp_ms is not None:
        if version is not None:
            raise ValueError(
                "read_delta_as_df: pass either version or as_of_timestamp_ms, not both"
            )
        version = version_at_timestamp(base_path, as_of_timestamp_ms)
    meta = latest_action(base_path, "metaData", version)
    if meta is None:
        raise ValueError(f"not a delta table (no metaData): {base_path}")
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    live = list(live_adds(base_path, version).values())
    part_cols = list(meta["partitionColumns"] or [])
    if prune:
        live = _prune_live_rows(live, schema, part_cols, prune)
    base = base_path.rstrip("/")
    from incubator_xtable_spark.sources.delta_dv import read_dv_positions

    return _scan(
        spark,
        base,
        meta,
        schema,
        [(r["path"], _logical_partition_values(schema, part_cols, r["partitionValues"])) for r in live],
        [f for f in schema.fields if f.name not in part_cols],
        "read_delta_as_df",
        positions=[
            (os.path.join(base, r["path"]), read_dv_positions(base, _dv_of(r)))
            for r in live
            if _dv_of(r)
        ],
        row_ids={r["path"]: r["baseRowId"] for r in live} if with_row_ids else None,
    )


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
            self._meta_cache[key] = latest_action(self.base_path, "metaData", version)
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
        on the driver, idempotently.

        The result states the table's COMPLETE current delete set (pass
        the full live file set, not a commit's adds): targets clear
        deletes for any live file absent from it, which is what makes a
        RESTORE (re-add without DV) propagate. An empty table means 'no
        rows are deleted' — never None, so the channel stays active."""
        from incubator_xtable_spark.model.core import ROW_DELETES_ARROW
        from incubator_xtable_spark.sources.delta_dv import dv_set_id, read_dv_positions
        from incubator_xtable_spark.sources.row_deletes import positions_path, write_positions_file

        rows = []
        for a in adds:
            desc = _dv_of(a)
            if desc is None:
                continue
            path = self._absolute(a["path"])
            out = positions_path(path, dv_set_id(desc))
            if not os.path.exists(out):
                write_positions_file(path, read_dv_positions(self.base_path, desc), out)
            rows.append(
                (path, out, int(desc["cardinality"] or 0), a["partitionValues"] or None)
            )
        return arrow_table(rows, ROW_DELETES_ARROW)

    def _data_schema(self, table: InternalTable) -> T.StructType:
        part_cols = {pf.source_field for pf in table.partition_fields}
        return T.StructType([f for f in table.read_schema.fields if f.name not in part_cols])

    def _default_file_format(self) -> str:
        """Table-level format from metaData.format.provider (ref
        delta/DeltaActionsConverter.java:91-97: parquet/orc recognized,
        anything else refused loudly). Cached — Delta never changes a
        table's provider, and the metaData lookup is a log scan."""
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
            from incubator_xtable_spark.sources.delta_dv import purged_path, read_dv_positions
            from incubator_xtable_spark.sources.parquet_source import footer_stat_rows
            from incubator_xtable_spark.sources.row_deletes import write_purged_files

            paths = [self._absolute(a["path"]) for a in dv_adds]
            shadows = [purged_path(p, a["deletionVector"]) for p, a in zip(paths, dv_adds)]
            write_purged_files(
                self.spark,
                [
                    (p, read_dv_positions(self.base_path, a["deletionVector"]), sp)
                    for p, a, sp in zip(paths, dv_adds, shadows)
                    if not os.path.exists(sp)
                ],
            )
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
        meta = latest_action(self.base_path, "metaData")
        return dict(meta["configuration"] or {}) if meta is not None else {}

    def get_sync_metadata(self) -> Optional[TableSyncMetadata]:
        props = self.get_table_properties()
        if XTABLE_METADATA_KEY not in props:
            return None
        return TableSyncMetadata.from_json(props[XTABLE_METADATA_KEY])
