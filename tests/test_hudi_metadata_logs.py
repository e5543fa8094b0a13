"""Log-bearing REAL-Hudi metadata slices (VERDICT r7 #2): unmerged log
files atop HFile base files MERGE through the engine's log-block codec
(sources/hudi_log) + pure avro codec instead of dropping the tier — the
HoodieMetadataPayload merge semantics restated on the driver.

Differentials: a base file carrying STALE stats corrected by a log block
must serve footer-identical stats (merge-or-wrong, no fallback path can
mask a broken merge); delete blocks drop records; the files partition
combines filesystemMetadata maps with tombstones; undecodable logs still
fall back (tests/test_hfile.py::test_undecodable_log_disables_hfile_tier).
"""

from __future__ import annotations

import os

import pytest

from incubator_xtable_spark.model.hudi_metadata_records import (
    files_partition_records,
)
from incubator_xtable_spark.model.stat_codec import decode_stat
from incubator_xtable_spark.sources.hudi_metadata import (
    HFILE_COL_STATS_SUBDIR,
    files_dir,
    hfile_col_stats_available,
    hfile_files_available,
    hfile_files_head_instant,
    hfile_files_listing,
    stats_with_hfile_tier,
)

from .hudi_hfile_fixture import (
    HUDI_METADATA_RECORD_SCHEMA,
    col_stats_record,
    write_col_stats_hfile,
    write_metadata_log_file,
)
from .test_hfile import (
    _footer_stats_map,
    _stats_by_path,
    hudi_table,  # noqa: F401 (fixture)
)


def _footer_records(footers, schema, *, distort: str | None = None):
    """(good records, records for `distort` file distorted) from the
    footer stats — distorted = min/max swapped, null_count inflated."""
    good, bad = [], []
    for path, count, cs in footers:
        fname = os.path.basename(path)
        for col, st in (cs or {}).items():
            dtype = schema[col].dataType
            mn = decode_stat(st["min_json"], dtype)
            mx = decode_stat(st["max_json"], dtype)
            good.append(
                col_stats_record(
                    fname, col, mn, mx, dtype,
                    value_count=count, null_count=st["null_count"],
                )
            )
            if fname == distort:
                bad.append(
                    col_stats_record(
                        fname, col, mx, mn, dtype,  # swapped: provably stale
                        value_count=count + 7,
                        null_count=(st["null_count"] or 0) + 3,
                    )
                )
            else:
                bad.append(good[-1])
    return good, bad


@pytest.mark.parametrize("block_kind", ["avro", "hfile"])
def test_log_block_corrects_stale_base_stats(spark, hudi_table, block_kind):  # noqa: F811
    """Base HFile holds distorted stats for one file; a log block carries
    the corrected records. Served stats MUST equal footers — only a real
    merge can produce that (a fallback would also differ: the base is
    present and well-formed)."""
    paths, schema, footers = _footer_stats_map(spark, hudi_table)
    victim = os.path.basename(footers[0][0])
    good, bad = _footer_records(footers, schema, distort=victim)
    write_col_stats_hfile(hudi_table, bad)

    d = os.path.join(hudi_table, HFILE_COL_STATS_SUBDIR)
    # only the victim's corrected records ride the log (a commit's delta).
    # r9: live+live records for one key COMBINE (real HoodieMetadataPayload
    # stat-merging), so a correction takes real Hudi's shape — tombstone
    # the stale key first, then write the fresh record in the next log
    corrections = [
        rec
        for rec in good
        if rec[0].decode("utf-8").endswith(f";;{victim}")
    ]
    write_metadata_log_file(
        d,
        [],
        delete_keys=[k.decode("utf-8") for k, _ in corrections],
        version=1,
        instant="00000000000000020",
        block_kind="delete",
    )
    write_metadata_log_file(
        d, corrections, version=2, instant="00000000000000030", block_kind=block_kind
    )

    assert hfile_col_stats_available(hudi_table)
    served = stats_with_hfile_tier(hudi_table, paths, schema)
    assert _stats_by_path(served) == _stats_by_path(footers)


def test_delete_block_uncovers_file_for_footer_fallback(spark, hudi_table):  # noqa: F811
    """A DELETE_BLOCK for one file's record keys drops them from the
    merged view; the uncovered file is served by the footer tier and the
    total still matches."""
    paths, schema, footers = _footer_stats_map(spark, hudi_table)
    victim = os.path.basename(footers[0][0])
    good, _ = _footer_records(footers, schema)
    write_col_stats_hfile(hudi_table, good)

    d = os.path.join(hudi_table, HFILE_COL_STATS_SUBDIR)
    keys = [
        rec[0].decode("utf-8")
        for rec in good
        if rec[0].decode("utf-8").endswith(f";;{victim}")
    ]
    write_metadata_log_file(d, [], block_kind="delete", delete_keys=keys)

    assert hfile_col_stats_available(hudi_table)
    served = stats_with_hfile_tier(hudi_table, paths, schema)
    assert _stats_by_path(served) == _stats_by_path(footers)


def test_files_partition_log_merges_mutations(spark, tmp_path):
    """files partition: the base lists {a, b}; an avro log record for the
    same partition adds c and tombstones a. Merged listing = {b, c}, and
    the head instant advances to the log block's instant (freshness)."""
    import json

    from incubator_xtable_spark.model.avro_codec import encode_binary_record

    d = str(tmp_path / "tbl")
    fdir = files_dir(d)
    os.makedirs(fdir, exist_ok=True)
    # table config advertising the partition
    hoodie = os.path.join(d, ".hoodie")
    os.makedirs(hoodie, exist_ok=True)
    with open(os.path.join(hoodie, "hoodie.properties"), "w", encoding="utf-8") as fh:
        fh.write("hoodie.table.name=t\n")
        fh.write("hoodie.table.metadata.partitions=column_stats,files\n")

    from incubator_xtable_spark.model.hfile import write_hfile

    base_records = files_partition_records({"": {"a.parquet": 10, "b.parquet": 20}})
    base = os.path.join(fdir, "files-0000-0_0-1-1_00000000000000010.hfile")
    write_hfile(
        base,
        base_records,
        {"schema": json.dumps(HUDI_METADATA_RECORD_SCHEMA).encode("utf-8")},
    )

    delta = {
        "key": ".",
        "type": 2,
        "filesystemMetadata": {
            "c.parquet": {"size": 30, "isDeleted": False},
            "a.parquet": {"size": 0, "isDeleted": True},
        },
        "ColumnStatsMetadata": None,
    }
    blob = encode_binary_record(HUDI_METADATA_RECORD_SCHEMA, delta)
    write_metadata_log_file(
        fdir,
        [(b".", blob)],
        file_id="files-0000-0",
        base_instant="00000000000000010",
        instant="00000000000000020",
        block_kind="avro",
    )

    assert hfile_files_available(d)
    assert hfile_files_head_instant(d) == "00000000000000020"
    listed = set(hfile_files_listing(d))
    assert listed == {("", "b.parquet", 20), ("", "c.parquet", 30)}


def test_partial_col_stats_records_combine_like_real_hudi():
    """Real HoodieMetadataPayload.mergeColumnStatsRecords semantics on
    PARTIAL col-stats deltas for an existing key (r9; ADVICE r8 flagged
    the old latest-wins divergence): min of non-null mins, max of
    non-null maxes, null-aware summed counts/sizes."""
    import io

    from pyspark.sql import types as T

    from incubator_xtable_spark.model.avro_codec import decode_value
    from incubator_xtable_spark.model.hudi_metadata_records import (
        col_stats_record as _csr,
        merge_metadata_records,
    )

    def _decoded(minv, maxv, vc, nc):
        key, blob = _csr("f1.parquet", "c", minv, maxv, T.LongType(), vc, nc)
        return key.decode(), decode_value(HUDI_METADATA_RECORD_SCHEMA, io.BytesIO(blob))

    k1, r1 = _decoded(3, 5, 10, 2)
    _, r2 = _decoded(1, 4, 7, 1)
    merged = merge_metadata_records([(k1, r1), (k1, r2)])[k1]
    cs = merged["ColumnStatsMetadata"]
    assert cs["minValue"] == {"value": 1}
    assert cs["maxValue"] == {"value": 5}
    assert cs["valueCount"] == 17
    assert cs["nullCount"] == 3
    # null min/max on one side: the non-null side wins
    _, r3 = _decoded(None, None, 4, 4)
    cs2 = merge_metadata_records([(k1, r1), (k1, r3)])[k1]["ColumnStatsMetadata"]
    assert cs2["minValue"] == {"value": 3} and cs2["maxValue"] == {"value": 5}
    assert cs2["valueCount"] == 14 and cs2["nullCount"] == 6
    # a delete between two lives resets the combine (re-added key starts fresh)
    key_del, blob_del = _csr("f1.parquet", "c", None, None, T.LongType(), 0, 0, is_deleted=True)
    rd = decode_value(HUDI_METADATA_RECORD_SCHEMA, io.BytesIO(blob_del))
    cs3 = merge_metadata_records([(k1, r1), (k1, rd), (k1, r2)])[k1]["ColumnStatsMetadata"]
    assert cs3["valueCount"] == 7 and cs3["minValue"] == {"value": 1}
