"""Live entries of an Iceberg snapshot: the one reader that turns a
snapshot's manifest list into manifest entries, with the spec's
inheritance rules applied once for every consumer (the Iceberg source,
the Iceberg target's carry-forward, the `iceberg_cdc` stream source,
table statistics and rewrite-data-files).

Reference parity: the reference reads entries through the Iceberg
library's scan planning (iceberg/IcebergConversionSource.java:90-199,
`planFiles`), whose manifest reader applies the same rules:
- DELETED entries (status 2) are not live and are skipped;
- an ADDED entry (status 1) with a null ``snapshot_id`` takes the
  manifest's ``added_snapshot_id``, and a null ``sequence_number`` /
  ``file_sequence_number`` takes the manifest's ``sequence_number``
  (Iceberg Java writes a fresh manifest this way). EXISTING entries
  never inherit: their numbers stay as written;
- v3 row lineage: a data file with a null ``first_row_id`` takes the
  manifest's ``first_row_id`` plus the record counts of the null-id data
  files before it in the manifest;
- partition-spec evolution: a manifest written under an older spec has
  its partition tuple mapped into the table's default spec
  (``spec_field_mapping``).

Only null values are filled; entries written with explicit values (every
manifest this engine writes) come back unchanged.

Kept apart on purpose: `model/conformance` walks manifests on its own
(the independent check must see raw nulls) and
`retention.iceberg_remove_orphan_files` needs DELETED entries too.

Scale: driver-side, one Avro decode per manifest; metadata-sized.
"""

from __future__ import annotations

from typing import Iterator, Optional

from incubator_xtable_spark.model.avro_codec import iter_ocf, read_ocf

_ADDED, _DELETED = 1, 2


def snapshot_by_id(meta: dict, snapshot_id: Optional[int]) -> Optional[dict]:
    """The snapshot record of ``snapshot_id`` in table metadata, or None."""
    return next((s for s in meta.get("snapshots", []) if s["snapshot-id"] == snapshot_id), None)


def spec_field_mapping(meta: dict, mf_spec_id: int) -> list:
    """Partition-spec EVOLUTION resolution: how a manifest written under
    spec ``mf_spec_id`` maps into the table's DEFAULT spec representation
    — [(default_field_name, old_field_name|None)]. Match by partition
    field-id (stable across evolution), falling back to
    (source-id, transform). A default-spec field absent from the old
    spec resolves to None: per the Iceberg spec's read semantics, files
    written before a partition field was added have null for it.
    Old-spec fields absent from the default spec drop (removed
    partition fields). This EXCEEDS the reference, which reads every
    manifest with only the current spec and silently mis-maps old
    manifests (ref IcebergDataFileExtractor.java:174,207,
    IcebergPartitionSpecExtractor.java:1-172)."""
    specs_by_id = {s.get("spec-id", 0): s for s in meta.get("partition-specs", [])}
    old = specs_by_id.get(mf_spec_id)
    if old is None:
        raise ValueError(
            f"manifest references partition spec {mf_spec_id}, which is "
            f"not in metadata.json partition-specs ({sorted(specs_by_id)})"
        )
    default_fields = (
        specs_by_id.get(meta.get("default-spec-id", 0)) or {"fields": []}
    ).get("fields", [])
    old_fields = old.get("fields", [])
    by_fid = {
        f.get("field-id"): f for f in old_fields if f.get("field-id") is not None
    }
    out = []
    for f in default_fields:
        m = by_fid.get(f.get("field-id"))
        if m is None:
            m = next(
                (
                    g
                    for g in old_fields
                    if g.get("source-id") == f.get("source-id")
                    and g.get("transform") == f.get("transform")
                ),
                None,
            )
        out.append((f["name"], m["name"] if m is not None else None))
    return out


def manifest_entries(meta: dict, snapshot_id: Optional[int]) -> Iterator[tuple[dict, list[dict]]]:
    """(manifest-list record, live entries) per manifest of one snapshot,
    in manifest-list order, inheritance applied. An unknown snapshot
    yields nothing."""
    snap = snapshot_by_id(meta, snapshot_id)
    if snap is None:
        return
    default_spec = meta.get("default-spec-id", 0)
    mappings: dict[int, list] = {}
    for mf in read_ocf(snap["manifest-list"])[0]:
        mf_spec = mf.get("partition_spec_id")
        mapping = None
        if mf_spec is not None and mf_spec != default_spec:
            if mf_spec not in mappings:
                mappings[mf_spec] = spec_field_mapping(meta, mf_spec)
            mapping = mappings[mf_spec]
        running = mf.get("first_row_id")
        live = []
        for entry in iter_ocf(mf["manifest_path"]):
            if entry["status"] == _DELETED:
                continue
            if entry["status"] == _ADDED:
                if entry.get("snapshot_id") is None:
                    entry["snapshot_id"] = mf["added_snapshot_id"]
                for key in ("sequence_number", "file_sequence_number"):
                    if entry.get(key) is None:
                        entry[key] = mf["sequence_number"]
            if entry.get("sequence_number") is None:
                raise ValueError(
                    f"{mf['manifest_path']}: EXISTING entry "
                    f"{entry['data_file']['file_path']} has no sequence_number "
                    "(only ADDED entries inherit one)"
                )
            data_file = entry["data_file"]
            if mapping is not None:
                part = data_file.get("partition") or {}
                data_file["partition"] = {
                    dn: (part.get(on) if on is not None else None) for dn, on in mapping
                }
            if (
                running is not None
                and (data_file.get("content") or 0) == 0
                and data_file.get("first_row_id") is None
            ):
                data_file["first_row_id"] = running
                running += int(data_file.get("record_count") or 0)
            live.append(entry)
        yield mf, live


def live_entries(meta: dict, snapshot_id: Optional[int]) -> tuple[list[dict], list[dict]]:
    """(data entries, delete entries) of one snapshot: content 0 in the
    first list, position (1) and equality (2) deletes in the second, each
    in manifest order."""
    data: list[dict] = []
    deletes: list[dict] = []
    for _mf, entries in manifest_entries(meta, snapshot_id):
        for e in entries:
            (deletes if (e["data_file"].get("content") or 0) in (1, 2) else data).append(e)
    return data, deletes
