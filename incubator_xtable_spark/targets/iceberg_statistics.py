"""Iceberg table statistics: Puffin files with
``apache-datasketches-theta-v1`` NDV blobs + the `statistics` field of
the table metadata (Iceberg table spec "Table statistics" section).

The reference writes no statistics files (its conversions carry only
per-file column stats); this goes beyond it so converted tables feed
cost-based optimizers: Trino/Spark read exactly this blob type for NDV.

Layout written here, all from the public specs:
- one Puffin file `metadata/<snapshot-id>-<uuid>.stats` with one theta
  blob per requested column, `fields` = [iceberg field id], blob
  property `ndv` = the rounded estimate (the convention engines read);
- a new metadata.json version whose `statistics` list carries the
  snapshot's entry (statistics-path, file-size-in-bytes,
  file-footer-size-in-bytes, blob-metadata).

Scale: the sketch build is distinct-per-column + k-min pre-reduction
(see functions/theta_sketch.build_column_sketches); the statistics
commit itself is metadata-sized.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Optional

from incubator_xtable_spark.functions.theta_sketch import (
    DEFAULT_LG_K,
    ThetaSketch,
    build_column_sketches,
)
from incubator_xtable_spark.model.iceberg_manifests import live_entries
from incubator_xtable_spark.model.puffin import read_blob, read_puffin_footer, write_puffin
from incubator_xtable_spark.targets.iceberg_target import (
    current_metadata_version,
    metadata_dir,
    read_table_metadata,
)

THETA_BLOB_TYPE = "apache-datasketches-theta-v1"


def write_ndv_statistics(
    spark,
    base_path: str,
    columns: Optional[list[str]] = None,
    lg_k: int = DEFAULT_LG_K,
) -> str:
    """Build theta sketches over the CURRENT snapshot's rows and commit
    them as the snapshot's statistics file. Returns the puffin path."""
    from incubator_xtable_spark.sources.iceberg_source import (
        IcebergConversionSource,
        read_iceberg_as_df,
    )

    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    snapshot_id = meta["current-snapshot-id"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == snapshot_id)
    seq = int(snap.get("sequence-number") or 0)

    table = IcebergConversionSource(spark, base_path).get_current_table()
    field_ids = {
        f.name: (f.metadata or {}).get("xtable.fieldId") for f in table.read_schema.fields
    }
    cols = columns or [
        f.name
        for f in table.read_schema.fields
        # sketchable leaf types only — nested/binary columns are skipped
        if f.dataType.typeName()
        in ("string", "long", "integer", "short", "byte", "double", "float", "boolean", "date")
    ]
    df = read_iceberg_as_df(spark, base_path)
    sketches = build_column_sketches(spark, df.select(*cols), columns=cols, lg_k=lg_k)
    return _commit_sketches(base_path, snapshot_id, seq, sketches, field_ids)


def _commit_sketches(
    base_path: str,
    snapshot_id: int,
    seq: int,
    sketches: dict[str, ThetaSketch],
    field_ids: dict[str, Optional[int]],
) -> str:
    """Serialize per-column sketches into the snapshot's Puffin file and
    commit the `statistics` metadata entry. Shared by the full build and
    the incremental union path."""
    blobs = []
    for col, sk in sketches.items():
        blobs.append(
            (
                THETA_BLOB_TYPE,
                sk.to_bytes(),
                {"ndv": str(round(sk.estimate()))},
                [field_ids[col]] if field_ids.get(col) is not None else [],
            )
        )
    stats_path = os.path.join(
        metadata_dir(base_path), f"{snapshot_id}-{uuid.uuid4().hex[:12]}.stats"
    )
    metas = write_puffin(
        stats_path,
        blobs,
        file_properties={"created-by": "incubator_xtable_spark"},
        snapshot_id=snapshot_id,
        sequence_number=seq,
    )
    read_puffin_footer(stats_path)  # validates what we just wrote
    file_size = os.path.getsize(stats_path)
    # spec: footer size = everything after the last blob (FooterPayload
    # + its framing magics/size/flags)
    last_end = max((m["offset"] + m["length"] for m in metas), default=4)
    footer_size = file_size - last_end

    entry = {
        "snapshot-id": snapshot_id,
        "statistics-path": stats_path,
        "file-size-in-bytes": file_size,
        "file-footer-size-in-bytes": footer_size,
        "blob-metadata": metas,
    }
    _commit_statistics_entry(base_path, entry)
    return stats_path


def update_ndv_statistics(
    spark,
    base_path: str,
    lg_k: int = DEFAULT_LG_K,
) -> tuple[str, dict]:
    """Incrementally maintain NDV statistics — the 100 TB stats posture:
    when the CURRENT snapshot is a pure APPEND over the newest
    statistics-bearing snapshot (its data-file set is a superset, no
    delete files on either side), sketch ONLY the added files and UNION
    the result with the prior sketches. KMV k-min sets are
    union-distributive, so the merged sketch is BIT-IDENTICAL to a full
    rebuild (pinned by tests) at O(appended bytes) scan cost instead of
    O(table). Any other shape — deletes, rewrites, column-set drift, no
    prior stats — falls back to the full build, which is always correct.

    Returns (stats_path, info) where info = {"mode": "full" |
    "incremental" | "noop", "scanned_files": n, "base_snapshot": id}."""
    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource

    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    snapshot_id = meta["current-snapshot-id"]
    snap = next(s for s in meta["snapshots"] if s["snapshot-id"] == snapshot_id)
    seq = int(snap.get("sequence-number") or 0)
    live_ids = {s["snapshot-id"] for s in meta["snapshots"]}
    prior_entries = [
        e
        for e in meta.get("statistics", [])
        if e["snapshot-id"] in live_ids and e["snapshot-id"] != snapshot_id
    ]
    if any(e["snapshot-id"] == snapshot_id for e in meta.get("statistics", [])):
        e = next(e for e in meta["statistics"] if e["snapshot-id"] == snapshot_id)
        return e["statistics-path"], {
            "mode": "noop",
            "scanned_files": 0,
            "base_snapshot": snapshot_id,
        }

    def _full() -> tuple[str, dict]:
        path = write_ndv_statistics(spark, base_path, lg_k=lg_k)
        return path, {"mode": "full", "scanned_files": None, "base_snapshot": None}

    if not prior_entries:
        return _full()
    # newest stats-bearing snapshot by sequence number
    seq_of = {
        s["snapshot-id"]: int(s.get("sequence-number") or 0) for s in meta["snapshots"]
    }
    prior = max(prior_entries, key=lambda e: seq_of[e["snapshot-id"]])
    prior_sid = prior["snapshot-id"]

    cur_data, cur_del = live_entries(meta, snapshot_id)
    old_data, old_del = live_entries(meta, prior_sid)
    if cur_del or old_del:
        return _full()
    cur_paths = {e["data_file"]["file_path"] for e in cur_data}
    old_paths = {e["data_file"]["file_path"] for e in old_data}
    if not old_paths <= cur_paths:
        return _full()  # rewrite/shrink: sketches cannot subtract
    added = sorted(cur_paths - old_paths)

    prior_stats = read_ndv_statistics(base_path, prior_sid)
    table = IcebergConversionSource(spark, base_path).get_current_table()
    name_by_fid = {
        (f.metadata or {}).get("xtable.fieldId"): f.name for f in table.read_schema.fields
    }
    field_ids = {
        f.name: (f.metadata or {}).get("xtable.fieldId") for f in table.read_schema.fields
    }
    cols: list[str] = []
    prior_sketches: dict[str, ThetaSketch] = {}
    for key, v in prior_stats.items():
        if not key.startswith("field:"):
            return _full()  # unattributed blob: cannot re-key safely
        name = name_by_fid.get(int(key[len("field:") :]))
        if name is None:
            return _full()  # column dropped since: full rebuild
        cols.append(name)
        prior_sketches[name] = v["sketch"]
    if not cols:
        return _full()

    if not added:
        merged = prior_sketches
    else:
        df = spark.read.parquet(*added)
        if not set(cols) <= set(df.columns):
            return _full()  # stats column not stored in the data files
        fresh = build_column_sketches(spark, df.select(*cols), columns=cols, lg_k=lg_k)
        merged = {c: prior_sketches[c].union(fresh[c]) for c in cols}
    path = _commit_sketches(base_path, snapshot_id, seq, merged, field_ids)
    return path, {
        "mode": "incremental",
        "scanned_files": len(added),
        "base_snapshot": prior_sid,
    }


def _commit_statistics_entry(base_path: str, entry: dict) -> None:
    """New metadata.json version: replace any prior statistics entry for
    the same snapshot, keep others (spec: one entry per snapshot). A
    replaced entry's puffin file is unreferenced the moment the new
    metadata version lands — unlink it (orphans would otherwise grow
    one per re-collection)."""
    meta = read_table_metadata(base_path)
    replaced = [
        s for s in meta.get("statistics", []) if s["snapshot-id"] == entry["snapshot-id"]
    ]
    stats = [
        s for s in meta.get("statistics", []) if s["snapshot-id"] != entry["snapshot-id"]
    ]
    meta["statistics"] = stats + [entry]
    v = current_metadata_version(base_path) + 1
    final = os.path.join(metadata_dir(base_path), f"v{v}.metadata.json")
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise RuntimeError(f"concurrent iceberg commit at version {v}") from exc
    finally:
        os.unlink(tmp)
    with open(os.path.join(metadata_dir(base_path), "version-hint.text"), "w") as fh:
        fh.write(str(v))
    # only after the new version landed: the replaced puffin is garbage
    for s in replaced:
        p = s.get("statistics-path")
        if p and p != entry["statistics-path"] and os.path.exists(p):
            os.unlink(p)


def write_partition_statistics(spark, base_path: str) -> str:
    """Compute and commit the CURRENT snapshot's partition statistics
    file (Iceberg table spec "Partition Statistics" section, beyond the
    reference): one parquet row per partition of the unified (default
    spec) partition tuple carrying data/delete record+file counts and
    byte totals, referenced from table metadata's
    ``partition-statistics`` list as {"snapshot-id", "statistics-path",
    "file-size-in-bytes"}. Returns the stats file path.

    Scale: aggregates MANIFEST entries (metadata plane) — no data file
    is opened; cost is O(live files) driver-side like any manifest
    replay, and the output is O(partitions)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from incubator_xtable_spark.sources.iceberg_source import IcebergConversionSource

    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    snapshot_id = meta["current-snapshot-id"]
    data, deletes = live_entries(meta, snapshot_id)
    default_spec = meta.get("default-spec-id", 0)
    spec = next(
        (s for s in meta.get("partition-specs", []) if s.get("spec-id") == default_spec),
        {"fields": []},
    )
    part_fields = [pf["name"] for pf in spec.get("fields", [])]
    if not part_fields:
        # parquet cannot store a zero-field struct (the unified partition
        # type of an unpartitioned table), and a partition-stats file for
        # an unpartitioned table carries no information a snapshot
        # summary doesn't — refuse loudly instead of crashing inside
        # pq.write_table with ArrowNotImplementedError
        raise ValueError(
            "write_partition_statistics: table's default partition spec "
            f"has no partition fields (unpartitioned table at {base_path!r}) "
            "— partition statistics are only defined for partitioned tables"
        )
    # identity-transform values type by the SOURCE column (the unified
    # partition type); non-identity transform values keep their
    # spec-native manifest representation (ints for time transforms)
    table = IcebergConversionSource(spark, base_path).get_current_table()
    dtype_by_name = {f.name: f.dataType for f in table.read_schema.fields}
    casters = {}
    cur_schema = next(
        (
            s
            for s in meta.get("schemas", [])
            if s.get("schema-id") == meta.get("current-schema-id")
        ),
        (meta.get("schemas") or [{}])[-1],
    )
    for pf in spec.get("fields", []):
        if (pf.get("transform") or "identity") != "identity":
            continue
        schema_field = next(
            (f for f in cur_schema.get("fields", []) if f.get("id") == pf.get("source-id")),
            None,
        )
        src_name = schema_field.get("name") if schema_field else pf["name"]
        dt = dtype_by_name.get(src_name)
        tn = dt.typeName() if dt is not None else "string"
        if tn in ("long", "integer", "short", "byte"):
            casters[pf["name"]] = lambda v: int(v)
        elif tn in ("double", "float"):
            casters[pf["name"]] = lambda v: float(v)
        elif tn == "boolean":
            casters[pf["name"]] = lambda v: str(v).lower() == "true"

    def _typed(name: str, v):
        if v is None:
            return None
        try:
            return casters[name](v) if name in casters else v
        except (TypeError, ValueError):
            return v

    # per unified partition tuple: [data_records, data_files, data_bytes,
    # pos_del_records, pos_del_files, eq_del_records, eq_del_files]
    agg: dict[tuple, list[int]] = {}

    def _key(df_rec: dict) -> tuple:
        part = df_rec.get("partition") or {}
        return tuple(_typed(n, part.get(n)) for n in part_fields)

    for e in data:
        df_rec = e["data_file"]
        cur = agg.setdefault(_key(df_rec), [0] * 7)
        cur[0] += int(df_rec.get("record_count") or 0)
        cur[1] += 1
        cur[2] += int(df_rec.get("file_size_in_bytes") or 0)
    for e in deletes:
        df_rec = e["data_file"]
        cur = agg.setdefault(_key(df_rec), [0] * 7)
        if (df_rec.get("content") or 0) == 1:
            cur[3] += int(df_rec.get("record_count") or 0)
            cur[4] += 1
        else:
            cur[5] += int(df_rec.get("record_count") or 0)
            cur[6] += 1

    keys = sorted(agg, key=lambda k: tuple((v is None, v) for v in k))
    table = pa.table(
        {
            "partition": pa.array(
                [{n: k[i] for i, n in enumerate(part_fields)} for k in keys]
            )
            if part_fields
            else pa.array([{}] * len(keys), pa.struct([])),
            "spec_id": pa.array([default_spec] * len(keys), pa.int32()),
            "data_record_count": pa.array([agg[k][0] for k in keys], pa.int64()),
            "data_file_count": pa.array([agg[k][1] for k in keys], pa.int32()),
            "total_data_file_size_in_bytes": pa.array([agg[k][2] for k in keys], pa.int64()),
            "position_delete_record_count": pa.array([agg[k][3] for k in keys], pa.int64()),
            "position_delete_file_count": pa.array([agg[k][4] for k in keys], pa.int32()),
            "equality_delete_record_count": pa.array([agg[k][5] for k in keys], pa.int64()),
            "equality_delete_file_count": pa.array([agg[k][6] for k in keys], pa.int32()),
        }
    )
    # parquet payload with a NON-.parquet name (like the .stats puffins):
    # the colocated parquet-dir source lists the table directory, and a
    # *.parquet under metadata/ would poison its hive-partition inference
    stats_path = os.path.join(
        metadata_dir(base_path),
        f"partition-stats-{snapshot_id}-{uuid.uuid4().hex[:12]}.pstats",
    )
    pq.write_table(table, stats_path)
    entry = {
        "snapshot-id": snapshot_id,
        "statistics-path": stats_path,
        "file-size-in-bytes": os.path.getsize(stats_path),
    }
    _commit_stats_list_entry(base_path, "partition-statistics", entry)
    return stats_path


def _commit_stats_list_entry(base_path: str, field: str, entry: dict) -> None:
    """New metadata.json version replacing any prior ``field`` entry for
    the same snapshot (one entry per snapshot, like `statistics`);
    replaced files unlink after the new version lands."""
    meta = read_table_metadata(base_path)
    replaced = [s for s in meta.get(field, []) if s["snapshot-id"] == entry["snapshot-id"]]
    kept = [s for s in meta.get(field, []) if s["snapshot-id"] != entry["snapshot-id"]]
    meta[field] = kept + [entry]
    v = current_metadata_version(base_path) + 1
    final = os.path.join(metadata_dir(base_path), f"v{v}.metadata.json")
    tmp = final + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(meta, fh)
    try:
        os.link(tmp, final)
    except FileExistsError as exc:
        raise RuntimeError(f"concurrent iceberg commit at version {v}") from exc
    finally:
        os.unlink(tmp)
    with open(os.path.join(metadata_dir(base_path), "version-hint.text"), "w") as fh:
        fh.write(str(v))
    for s in replaced:
        p = s.get("statistics-path")
        if p and p != entry["statistics-path"] and os.path.exists(p):
            os.unlink(p)


def read_partition_statistics(
    base_path: str, snapshot_id: Optional[int] = None
) -> list[dict]:
    """Decoded rows of the given (default: current) snapshot's partition
    statistics file, or [] when none is registered."""
    import pyarrow.parquet as pq

    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    entry = next(
        (s for s in meta.get("partition-statistics", []) if s["snapshot-id"] == sid), None
    )
    if entry is None:
        return []
    return pq.read_table(entry["statistics-path"]).to_pylist()


def has_statistics_for_current_snapshot(base_path: str) -> bool:
    """Cheap skip probe for schedulers: True when the CURRENT snapshot
    already carries a statistics entry (a no-op sync needs no
    re-collection — sketching scans every sketchable column)."""
    meta = read_table_metadata(base_path)
    if meta is None:
        return False
    sid = meta.get("current-snapshot-id")
    return any(s["snapshot-id"] == sid for s in meta.get("statistics", []))


def read_ndv_statistics(base_path: str, snapshot_id: Optional[int] = None) -> dict[str, dict]:
    """{column-ish key: {"ndv": int, "sketch": ThetaSketch}} for the
    given (default: current) snapshot, decoded with our own deserializer.
    Keys are field ids rendered as `field:<id>` (the blob names fields by
    id, not name — resolve names via the table schema if needed)."""
    meta = read_table_metadata(base_path)
    if meta is None:
        raise ValueError(f"not an iceberg table: {base_path}")
    sid = snapshot_id if snapshot_id is not None else meta["current-snapshot-id"]
    entry = next((s for s in meta.get("statistics", []) if s["snapshot-id"] == sid), None)
    if entry is None:
        return {}
    out = {}
    for bm in entry["blob-metadata"]:
        if bm["type"] != THETA_BLOB_TYPE:
            continue
        sk = ThetaSketch.from_bytes(read_blob(entry["statistics-path"], bm["offset"], bm["length"]))
        key = f"field:{bm['fields'][0]}" if bm.get("fields") else f"blob:{bm['offset']}"
        out[key] = {"ndv": int(bm["properties"].get("ndv", round(sk.estimate()))), "sketch": sk}
    return out
