"""Row-delete outputs, one path for every source format.

Each source resolves a data file's deleted row positions on the driver,
together with a delete-set id that names them:

- Delta: `delta_dv.read_dv_positions`, id from the DV's unique id;
- Paimon: `paimon_dv.read_dv_from_index`, id from the index range
  (`paimon_dv.dv_range_id`);
- Iceberg: `IcebergConversionSource._resolve_deletes`, id from the data
  file's own sorted positions (`positions_id`).

Delete positions are metadata-sized next to the data, so everything
after that happens here, on the driver:

- `write_positions_file`: the Iceberg-spec (file_path, pos) parquet a
  target registers as a position-delete file (conversion with
  ``expose_row_deletes``);
- `write_purged_files`: the purged shadows, data files rewritten
  without their deleted rows (conversion without it). Shadows are
  data-sized, so a batch whose pending data bytes exceed
  `_DRIVER_PURGE_MAX_BYTES` runs one Spark task per file;
- `positions_frame`: one Arrow-backed (file_path, pos) DataFrame that
  `file_scan.scan_files` anti-joins against a reader's scan.

Output names share one convention, ``<data stem>.deletes-<id>.parquet``
and ``<data stem>.purged-<id>.parquet``: targets supersede delete files
by stem, and the id makes a changed delete set a new file. An output
that exists is final: callers skip it before decoding its positions,
and the writers here write whatever they are handed.
"""

from __future__ import annotations

import hashlib
import os
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# Purged-shadow batches whose PENDING data bytes are at or under this run
# on the driver (one small file re-write); bigger batches run one Spark
# task per file. A bytes gate, never SF; 0 disables.
_DRIVER_PURGE_MAX_BYTES = 64 * 1024 * 1024


def _stem(data_path: str) -> str:
    return data_path[: -len(".parquet")] if data_path.endswith(".parquet") else data_path


def positions_path(data_path: str, set_id: str) -> str:
    return f"{_stem(data_path)}.deletes-{set_id}.parquet"


def shadow_path(data_path: str, set_id: str) -> str:
    return f"{_stem(data_path)}.purged-{set_id}.parquet"


def positions_id(positions: np.ndarray) -> str:
    """The delete-set id of a file's sorted positions: the same set
    always names the same outputs, whatever else the table deletes."""
    return hashlib.md5(np.asarray(positions, dtype="<i8").tobytes()).hexdigest()[:8]


def _put(table: pa.Table, out: str) -> None:
    tmp = f"{out}.tmp-{os.getpid()}"
    pq.write_table(table, tmp)
    os.replace(tmp, out)


def write_positions_file(data_path: str, positions: np.ndarray, out: str) -> None:
    """Write ``data_path``'s deleted ``positions`` as an Iceberg-spec
    position-delete parquet (file_path STRING, pos BIGINT, sorted by pos)
    at ``out``, through a temporary name."""
    pos = np.unique(np.asarray(positions, dtype=np.int64))
    _put(
        pa.table(
            {
                "file_path": pa.array([data_path] * len(pos), pa.string()),
                "pos": pa.array(pos, pa.int64()),
            }
        ),
        out,
    )


def _write_shadow(src: str, positions: np.ndarray, out: str) -> None:
    """Rewrite ``src`` without the rows at ``positions`` to ``out``."""
    table = pq.read_table(src)
    keep = np.setdiff1d(
        np.arange(table.num_rows, dtype=np.int64), np.asarray(positions, dtype=np.int64)
    )
    _put(table.take(keep), out)


def write_purged_files(spark: SparkSession, items: list[tuple[str, np.ndarray, str]]) -> None:
    """Write the purged shadow of each (data path, positions, shadow path)
    item; callers pass only shadows not yet written. This is the one
    place metadata-only conversion touches data bytes: no target here can
    honor the source's row deletes without its own delete files, so only
    the affected files are rewritten."""
    if not items:
        return
    pending_bytes = sum(os.path.getsize(src) for src, _, _ in items)
    if pending_bytes <= _DRIVER_PURGE_MAX_BYTES:
        for src, positions, out in items:
            _write_shadow(src, positions, out)
        return
    df = spark.createDataFrame(
        [(src, out, np.asarray(positions, dtype=np.int64).tolist()) for src, positions, out in items],
        "src STRING, out STRING, pos ARRAY<LONG>",
    )
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    def _purge(batches: Iterator["object"]) -> Iterator["object"]:
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        import pandas as pd

        from incubator_xtable_spark.sources.row_deletes import _write_shadow

        for pdf in batches:
            for src, out, pos in zip(pdf["src"], pdf["out"], pdf["pos"]):
                _write_shadow(src, pos, out)
            yield pd.DataFrame({"out": pdf["out"]})

    # one task per shadow file so purges run in parallel
    df.repartition(len(items)).mapInPandas(_purge, "out STRING").count()


def positions_minus(a: dict[str, np.ndarray], b: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """Per file, the positions of ``a`` that ``b`` does not hold (files
    left with none drop out): the rows a commit newly deleted, or, with
    the sides swapped, the ones it restored."""
    none = np.empty(0, np.int64)
    diffs = {p: np.setdiff1d(pos, b.get(p, none)) for p, pos in a.items()}
    return {p: d for p, d in diffs.items() if len(d)}


def positions_frame(spark: SparkSession, pairs: list[tuple[str, np.ndarray]]) -> DataFrame:
    """(data path, positions) pairs -> one (file_path STRING, pos BIGINT)
    DataFrame for a reader's anti-join. It is sent as one Arrow row per
    data file (its positions as a list, 8 bytes each, the path once) and
    exploded by Spark, so neither side repeats a path per position.

    ``pairs`` is consumed: its positions are copied into one preallocated
    int64 buffer, and each entry is dropped from the list once copied, so
    a caller that holds no other reference frees every decoded array
    right after its copy (the driver holds about 8 bytes per position).

    The planner cannot see how many positions the lists hold, and a
    broadcast of millions of keyed rows exhausts the driver heap, so
    joins against it sort-merge."""
    from pyspark.sql import functions as F

    paths = [p for p, _ in pairs]
    offsets = np.zeros(len(pairs) + 1, np.int64)
    np.cumsum([len(pos) for _, pos in pairs], out=offsets[1:])
    values = np.empty(int(offsets[-1]), np.int64)
    for i in range(len(pairs)):
        values[offsets[i] : offsets[i + 1]] = pairs[i][1]
        pairs[i] = None
    pos = pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(values))
    per_file = spark.createDataFrame(pa.table({"file_path": pa.array(paths, pa.string()), "pos": pos}))
    return per_file.select("file_path", F.explode("pos").alias("pos")).hint("merge")
