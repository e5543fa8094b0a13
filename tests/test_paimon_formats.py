"""Paimon ORC/AVRO data files (r8): Paimon identifies a data file's
format purely by suffix (`file.format` option: orc is a common default);
the row-level readers must serve all three reference FileFormats instead
of parsing everything as parquet. Mirrors the r8 Delta/Iceberg/Hudi
split-readable posture."""

from __future__ import annotations

import os

import pytest

from incubator_xtable_spark.sources.paimon_source import (
    PaimonConversionSource,
    read_paimon_as_df,
    read_paimon_changelog,
)

from .paimon_testtable import PaimonTestTable
from .model_tables import model_rows

FIELDS = [("id", "INT"), ("label", "STRING"), ("part", "INT")]


def _mk(spark, tmp_path, fmt: str, partition=()):
    t = PaimonTestTable(
        spark,
        str(tmp_path / f"pt_{fmt}"),
        FIELDS,
        partition_keys=list(partition),
        file_format=fmt,
    ).create()
    return t


ROWS1 = [{"id": 1, "label": "a", "part": 0}, {"id": 2, "label": "b", "part": 0}]
ROWS2 = [{"id": 3, "label": "c", "part": 1}, {"id": 4, "label": None, "part": 1}]


@pytest.mark.parametrize("fmt", ["orc", "avro"])
def test_read_paimon_nonparquet_row_parity(spark, tmp_path, fmt):
    t = _mk(spark, tmp_path, fmt)
    t.append(ROWS1)
    t.append(ROWS2)
    got = sorted(
        (r["id"], r["label"], r["part"]) for r in read_paimon_as_df(spark, t.base).collect()
    )
    assert got == [(1, "a", 0), (2, "b", 0), (3, "c", 1), (4, None, 1)]
    # inventory tags carry the engine enum for every file
    snap = PaimonConversionSource(spark, t.base).get_current_snapshot()
    fmts = {r["file_format"] for r in model_rows(snap.files)}
    assert fmts == {"APACHE_ORC" if fmt == "orc" else "APACHE_AVRO"}


def test_read_paimon_mixed_formats_union(spark, tmp_path):
    """One table, three formats across commits — a format migration mid
    table-history must still read every row."""
    t = _mk(spark, tmp_path, "parquet")
    t.append(ROWS1)
    t.fmt = "orc"
    t.append([{"id": 3, "label": "c", "part": 1}])
    t.fmt = "avro"
    t.append([{"id": 4, "label": "d", "part": 1}])
    got = sorted((r["id"], r["label"]) for r in read_paimon_as_df(spark, t.base).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


@pytest.mark.parametrize("fmt", ["orc", "avro"])
def test_paimon_partitioned_nonparquet(spark, tmp_path, fmt):
    """Partition values still attach when data files lack them is a
    non-issue for native Paimon (full row stored), but the partitioned
    layout + per-partition files must group/scan correctly per format."""
    t = _mk(spark, tmp_path, fmt, partition=("part",))
    t.append(ROWS1 + ROWS2)
    got = sorted(
        (r["id"], r["label"], r["part"]) for r in read_paimon_as_df(spark, t.base).collect()
    )
    assert got == [(1, "a", 0), (2, "b", 0), (3, "c", 1), (4, None, 1)]


def test_paimon_changelog_nonparquet(spark, tmp_path):
    """Changelog files (leading _VALUE_KIND tinyint) in ORC read with
    RowKind mapping intact; the append-only fallback reads AVRO deltas."""
    t = _mk(spark, tmp_path, "orc")
    sid, entries = t.append(ROWS1)
    cl = t.commit_with_changelog([], [("+I", {"id": 9, "label": "z", "part": 0})])
    df = read_paimon_changelog(spark, t.base, cl)
    got = [(r["id"], r["_change_type"]) for r in df.collect()]
    assert got == [(9, "insert")]
    # avro append-only fallback
    t2 = _mk(spark, tmp_path, "avro")
    sid2, _ = t2.append(ROWS1)
    df2 = read_paimon_changelog(spark, t2.base, sid2)
    got2 = sorted((r["id"], r["_change_type"]) for r in df2.collect())
    assert got2 == [(1, "insert"), (2, "insert")]


def test_paimon_dv_on_nonparquet_refuses(spark, tmp_path):
    """Deletion vectors key on parquet row indexes; a DV pointing at an
    ORC data file must refuse loudly, never silently mis-apply."""
    t = _mk(spark, tmp_path, "orc")
    sid, entries = t.append(ROWS1)
    fname = entries[0]["_FILE"]["_FILE_NAME"]
    t.set_deletion_vectors([({}, 0, {fname: [0]})])
    with pytest.raises(NotImplementedError, match="ORC|AVRO"):
        read_paimon_as_df(spark, t.base).collect()
