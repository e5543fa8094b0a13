"""Load tests matching the reference's LoadTest shapes (BASELINE.md #1/#2):

1. FULL sync of 1,000 partitions x 100 files/partition = 100,000 data
   files into a Delta log (LoadTest.java:67-95's scale).
2. INCREMENTAL replay of a 100-commit backlog x 1,000 files per commit
   (LoadTest.java:97-139's scale) — must be linear in commits and never
   re-list the table per commit.

The file *inventory* is synthetic (the reference also measures the
metadata plane, not parquet IO): a generated DataFrame feeds the real
target commit path — diff computation, stats serialization, atomic log
write — which is exactly what scales with file count.

Usage: python loadtest.py [--files 100000] [--commits 100] [--per-commit 1000]
Prints one JSON line per scenario.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def rss_mb() -> float:
    """Driver resident set size in MB (/proc, linux)."""
    with open("/proc/self/status", encoding="utf-8") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return round(int(line.split()[1]) / 1024.0, 1)
    return -1.0

from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import (
    CommitsBacklog,
    FILE_INVENTORY_ARROW,
    InstantsForIncrementalSync,
    InternalSnapshot,
    InternalTable,
    SyncStatusCode,
    TableChange,
    TableFormat,
    arrow_table,
)
from incubator_xtable_spark.session import get_spark
from incubator_xtable_spark.sources.delta_source import live_adds
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget

from pyspark.sql import types as T

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("level", T.StringType(), True),
    ]
)


def synthetic_inventory(n_files: int, n_partitions: int, commit: str):
    """Generated file-inventory table: n_files across n_partitions, with
    per-file stats."""
    stats = {"id": {"min_json": "0", "max_json": "99", "null_count": 0}}
    return arrow_table(
        (
            (
                f"level={i % n_partitions}/file_{i}_{commit}.parquet",
                "PARQUET",
                i % 10000 + 1024,
                100,
                1700000000000,
                {"level": str(i % n_partitions)},
                stats,
            )
            for i in range(n_files)
        ),
        FILE_INVENTORY_ARROW,
    )


class SyntheticSource:
    """ConversionSource over generated inventories (metadata-plane load)."""

    def __init__(self, spark, n_files: int, n_partitions: int, commits: list[str], per_commit: int):
        self.spark = spark
        self.n_files = n_files
        self.n_partitions = n_partitions
        self.commits = commits
        self.per_commit = per_commit

    def _table(self) -> InternalTable:
        return InternalTable(
            name="loadtest",
            table_format=TableFormat.PARQUET,
            base_path="/synthetic",
            read_schema=SCHEMA,
        )

    def get_current_snapshot(self) -> InternalSnapshot:
        return InternalSnapshot(
            table=self._table(),
            version=self.commits[0] if self.commits else "0",
            files=synthetic_inventory(self.n_files, self.n_partitions, "base"),
        )

    def is_incremental_sync_safe_from(self, instant: str) -> bool:
        return True

    def get_commits_backlog(self, instants: InstantsForIncrementalSync) -> CommitsBacklog:
        return CommitsBacklog(
            commits_to_process=[c for c in self.commits if c > instants.last_sync_instant]
        )

    def get_table_change_for_commit(self, commit: str) -> TableChange:
        return TableChange(
            table=self._table(),
            commit_id=commit,
            files_added=synthetic_inventory(self.per_commit, self.n_partitions, commit),
            files_removed=FILE_INVENTORY_ARROW.empty_table(),
        )

    def get_commit_identifier(self, commit: str) -> str:
        return commit


def _build_target(spark, work: str, kind: str, compact_every: int):
    """-> (TableFormat, target). ``hudi-hfile`` drives the REAL-layout
    Hudi metadata-index writes (hashed keys, per-commit delta logs,
    compaction every ``compact_every`` commits; 1 = the r8 full-rewrite
    cost model for before/after comparison)."""
    if kind == "hudi-hfile":
        from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

        return TableFormat.HUDI, HudiConversionTarget(
            spark,
            work,
            table_name="loadtest",
            metadata_index_format="hfile",
            metadata_index_compact_every=compact_every,
        )
    if kind == "hudi":
        from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

        # plain timeline target (no metadata indexes): the clean scenario
        # measures VIEW RESOLUTION over the timeline, not index writes
        return TableFormat.HUDI, HudiConversionTarget(
            spark, work, table_name="loadtest", metadata_indexes=False
        )
    return TableFormat.DELTA, DeltaConversionTarget(spark, work)


def _live_count(spark, work: str, fmt) -> int:
    if fmt == TableFormat.HUDI:
        from incubator_xtable_spark.sources.hudi_source import HudiConversionSource

        # exercises the written `files` HFile index (the accelerated tier)
        return (
            HudiConversionSource(spark, work)
            .get_current_snapshot(with_stats=False)
            .files.num_rows
        )
    return len(live_adds(work))


def scenario_full(
    spark, n_files: int, n_partitions: int, target_kind: str = "delta", compact_every: int = 10
) -> dict:
    work = tempfile.mkdtemp(prefix="xtable_load_full_")
    try:
        source = SyntheticSource(spark, n_files, n_partitions, ["1"], 0)
        fmt, target = _build_target(spark, work, target_kind, compact_every)
        rss_before = rss_mb()
        t0 = time.perf_counter()
        res = ConversionController().sync(source, {fmt: target})
        wall = time.perf_counter() - t0
        status = res[fmt].status
        live = _live_count(spark, work, fmt)
        return {
            "scenario": "full_sync",
            "target": target_kind,
            "files": n_files,
            "partitions": n_partitions,
            "status": status.value,
            "live_files_committed": live,
            "seconds": round(wall, 2),
            "rss_mb_before": rss_before,
            "rss_mb_after": rss_mb(),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def scenario_incremental(
    spark,
    n_commits: int,
    per_commit: int,
    n_partitions: int,
    target_kind: str = "delta",
    compact_every: int = 10,
    seed_files: int | None = None,
) -> dict:
    work = tempfile.mkdtemp(prefix="xtable_load_incr_")
    try:
        commits = [str(i) for i in range(1, n_commits + 1)]
        source = SyntheticSource(spark, per_commit, n_partitions, commits, per_commit)
        fmt, target = _build_target(spark, work, target_kind, compact_every)
        # seed bookmark so the controller goes incremental (seed_files sets
        # the PRE-EXISTING table size the per-commit index delta must not
        # rescale with — the O(delta) vs O(table) proof point)
        ConversionController().sync(
            SyntheticSource(spark, seed_files or per_commit, n_partitions, ["0"], per_commit),
            {fmt: target},
        )
        rss_curve = [rss_mb()]
        t0 = time.perf_counter()
        res = ConversionController().sync(source, {fmt: target})
        wall = time.perf_counter() - t0
        rss_curve.append(rss_mb())
        return {
            "scenario": "incremental_replay",
            "target": target_kind,
            "commits": n_commits,
            "files_per_commit": per_commit,
            "seed_files": seed_files or per_commit,
            "status": res[fmt].status.value,
            "mode": res[fmt].mode.value,
            "seconds": round(wall, 2),
            "seconds_per_commit": round(wall / n_commits, 3),
            "rss_mb_curve": rss_curve,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


class _ChurnSource(SyntheticSource):
    """SyntheticSource whose commit N REPLACES commit N-1's files (and
    commit 1 replaces the first per_commit seed files) — the churn shape
    that leaves files behind retention for hudi_clean to resolve."""

    def get_table_change_for_commit(self, commit: str) -> TableChange:
        prev_tag = "base" if commit == "1" else str(int(commit) - 1)
        return TableChange(
            table=self._table(),
            commit_id=commit,
            files_added=synthetic_inventory(self.per_commit, self.n_partitions, commit),
            files_removed=synthetic_inventory(self.per_commit, self.n_partitions, prev_tag),
        )


def scenario_clean(
    spark, n_files: int, n_partitions: int, n_commits: int, per_commit: int
) -> dict:
    """hudi_clean view resolution at scale (VERDICT r12 #4): seed a
    100k-file Hudi table, churn N replace-commits, then clean with
    keep_last=2 — the interval-based resolver must produce every
    retained/savepointed view in ONE timeline replay (seconds, flat
    RSS), with the aged-out external files reported untouched."""
    from incubator_xtable_spark.sync.retention import hudi_clean

    work = tempfile.mkdtemp(prefix="xtable_load_clean_")
    try:
        fmt, target = _build_target(spark, work, "hudi", 10)
        ConversionController().sync(
            SyntheticSource(spark, n_files, n_partitions, ["0"], per_commit),
            {fmt: target},
        )
        commits = [str(i) for i in range(1, n_commits + 1)]
        source = _ChurnSource(spark, per_commit, n_partitions, commits, per_commit)
        res = ConversionController().sync(source, {fmt: target})
        status = res[fmt].status
        rss_before = rss_mb()
        t0 = time.perf_counter()
        out = hudi_clean(spark, work, keep_last=2)
        wall = time.perf_counter() - t0
        return {
            "scenario": "hudi_clean",
            "files": n_files,
            "churn_commits": n_commits,
            "files_per_commit": per_commit,
            "status": status.value,
            "clean_instant": out["instant"],
            "earliest_retained": out["earliest_retained"],
            "deleted_engine_artifacts": len(out["deleted"]),
            "skipped_external": len(out["skipped_external"]),
            "clean_seconds": round(wall, 2),
            "rss_mb_before": rss_before,
            "rss_mb_after": rss_mb(),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _gen_real_dataset(spark, data_dir: str, n_files: int, n_partitions: int, rows_per_file: int, start_idx: int = 0) -> None:
    """Write ``n_files`` REAL hive-partitioned parquet files, fanned out
    via mapInPandas (each task pyarrow-writes its slice; no single-file
    driver loop)."""

    # one UNIFORM mtime per generation batch: the parquet-dir source
    # groups commits by modification time, and a per-file mtime spread
    # would shatter one logical append into hundreds of commits
    mtime = time.time()

    def _write(batches):
        import os as _os

        import pandas as _pd
        import pyarrow as _pa
        import pyarrow.parquet as _pq

        for pdf in batches:
            done = []
            for raw in pdf["id"]:
                i = int(raw)
                d = _os.path.join(data_dir, f"p={i % n_partitions}")
                _os.makedirs(d, exist_ok=True)
                base = i * rows_per_file
                p = _os.path.join(d, f"f-{i:07d}.parquet")
                _pq.write_table(
                    _pa.table(
                        {
                            "rk": [f"k{base + j:012d}" for j in range(rows_per_file)],
                            "v": _pa.array(
                                [base + j for j in range(rows_per_file)], _pa.int64()
                            ),
                        }
                    ),
                    p,
                )
                _os.utime(p, (mtime, mtime))
                done.append(i)
            yield _pd.DataFrame({"id": done})

    spark.range(start_idx, start_idx + n_files, 1, 64).mapInPandas(_write, "id long").count()


def scenario_indexes(
    spark,
    n_files: int,
    n_partitions: int,
    per_commit: int,
    rows_per_file: int = 10,
    compact_every: int = 10,
    table_version: int = 6,
) -> list[dict]:
    """ALL Hudi metadata indexes at once over REAL data files: the HFile
    column_stats, files and partition_stats partitions, optionally in the
    Hudi 1.0 ``.hoodie/timeline`` layout (``--table-version 8``). Full
    sync over ``n_files`` real files, then ONE incremental commit of
    ``per_commit`` more — wall + RSS for both, plus index read-back proof
    (the files partition lists every file; a partition-stats point
    lookup resolves)."""
    from incubator_xtable_spark.model.core import InternalPartitionField
    from incubator_xtable_spark.sources.hudi_metadata import (
        hfile_files_listing,
        lookup_partition_stats,
    )
    from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
    from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

    work = tempfile.mkdtemp(prefix="xtable_load_idx_")
    out: list[dict] = []
    try:
        _gen_real_dataset(spark, work, n_files, n_partitions, rows_per_file)
        source = ParquetConversionSource(
            spark, work, name="loadidx", partition_fields=[InternalPartitionField("p")]
        )
        target = HudiConversionTarget(
            spark,
            work,
            table_name="loadidx",
            metadata_index_format="hfile",
            partition_stats=True,
            metadata_index_compact_every=compact_every,
            table_version=table_version,
        )
        ctrl = ConversionController()
        rss_before = rss_mb()
        t0 = time.perf_counter()
        res = ctrl.sync(source, {TableFormat.HUDI: target})
        wall = time.perf_counter() - t0
        out.append(
            {
                "scenario": "full_sync_all_indexes",
                "files": n_files,
                "rows": n_files * rows_per_file,
                "partitions": n_partitions,
                "table_version": table_version,
                "status": res[TableFormat.HUDI].status.value,
                "seconds": round(wall, 2),
                "rss_mb_before": rss_before,
                "rss_mb_after": rss_mb(),
            }
        )
        # read-back proof: the files partition lists every file written,
        # and the partition aggregate covers the partition's rows
        pstats = lookup_partition_stats(work, "p=0", "v")
        readback = {
            "scenario": "index_readback",
            "listed_files": len(hfile_files_listing(work)),
            "files_expected": n_files,
            "partition_stats_ok": bool(pstats and int(pstats.get("valueCount") or 0) > 0),
        }
        if table_version == 8:
            readback["timeline_v8"] = os.path.isdir(os.path.join(work, ".hoodie", "timeline"))
        out.append(readback)
        # one incremental commit of per_commit files
        _gen_real_dataset(
            spark, work, per_commit, n_partitions, rows_per_file, start_idx=n_files
        )
        rss_before = rss_mb()
        t0 = time.perf_counter()
        res2 = ctrl.sync(source, {TableFormat.HUDI: target})
        wall2 = time.perf_counter() - t0
        out.append(
            {
                "scenario": "incremental_all_indexes",
                "files_added": per_commit,
                "rows_added": per_commit * rows_per_file,
                "status": res2[TableFormat.HUDI].status.value,
                "mode": res2[TableFormat.HUDI].mode.value,
                "seconds": round(wall2, 2),
                "rss_mb_before": rss_before,
                "rss_mb_after": rss_mb(),
            }
        )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def scenario_dv_relay(
    spark, n_files: int, n_partitions: int, dv_every: int = 10, positions_per_file: int = 50
) -> list[dict]:
    """LoadTest shape #3 — the delete-heavy metadata-only conversion
    claim, measured: a full sync of ``n_files`` whose every
    ``dv_every``-th file carries a row-level delete set converts to
    Delta (REAL 'u'-storage roaring DV per file, executor-side builds)
    AND Iceberg (content=1 position-delete manifests re-referencing the
    SAME positions parquets — zero byte rewrite) in one pass. No data
    file is ever read or written: the wall time is pure metadata +
    delete-set processing, the petabyte-table payoff of the row-delete
    channel. Read-back proofs: Delta live adds carry exactly D
    deletionVector descriptors with the right cardinality; the Iceberg
    head snapshot lists exactly D delete entries."""
    from incubator_xtable_spark.model.core import ROW_DELETES_ARROW
    from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget

    work = tempfile.mkdtemp(prefix="xtable_load_dv_")
    out: list[dict] = []
    try:
        pos_dir = os.path.join(work, "_positions")
        os.makedirs(pos_dir, exist_ok=True)
        n_dv = n_files // dv_every

        # one positions parquet per DV'd file, fanned out via mapInPandas
        def _write_pos(batches):
            import pandas as _pd
            import pyarrow as _pa
            import pyarrow.parquet as _pq

            for pdf in batches:
                done = []
                for raw in pdf["id"]:
                    i = int(raw) * dv_every
                    rel = f"level={i % n_partitions}/file_{i}_base.parquet"
                    p = os.path.join(pos_dir, f"pos-{i:08d}.parquet")
                    _pq.write_table(
                        _pa.table(
                            {
                                "file_path": [rel] * positions_per_file,
                                "pos": _pa.array(
                                    list(range(positions_per_file)), _pa.int64()
                                ),
                            }
                        ),
                        p,
                    )
                    done.append(int(raw))
                yield _pd.DataFrame({"id": done})

        t0 = time.perf_counter()
        spark.range(n_dv, numPartitions=64).mapInPandas(_write_pos, "id long").count()
        gen_sec = time.perf_counter() - t0

        rd_rows = [
            (
                f"level={i % n_partitions}/file_{i}_base.parquet",
                os.path.join(pos_dir, f"pos-{i:08d}.parquet"),
                positions_per_file,
                {"level": str(i % n_partitions)},
            )
            for i in range(0, n_dv * dv_every, dv_every)
        ]

        class DVSource(SyntheticSource):
            def get_current_snapshot(self) -> InternalSnapshot:
                snap = super().get_current_snapshot()
                snap.row_deletes = arrow_table(rd_rows, ROW_DELETES_ARROW)
                return snap

        source = DVSource(spark, n_files, n_partitions, ["1"], 0)
        targets = {
            TableFormat.DELTA: DeltaConversionTarget(spark, work),
            TableFormat.ICEBERG: IcebergConversionTarget(spark, work, table_name="loadtest"),
        }
        rss_before = rss_mb()
        t0 = time.perf_counter()
        res = ConversionController().sync(source, targets)
        wall = time.perf_counter() - t0
        statuses = {f.value: r.status.value for f, r in res.items()}
        out.append(
            {
                "scenario": "dv_relay_full_sync",
                "files": n_files,
                "dv_files": n_dv,
                "positions_per_file": positions_per_file,
                "positions_gen_seconds": round(gen_sec, 2),
                "statuses": statuses,
                "seconds": round(wall, 2),
                "rss_mb_before": rss_before,
                "rss_mb_after": rss_mb(),
            }
        )

        # read-back proofs (both sides, metadata plane only)
        dv_adds = [
            a["deletionVector"]
            for a in live_adds(work).values()
            if a["deletionVector"] and a["deletionVector"]["storageType"]
        ]
        from incubator_xtable_spark.model.iceberg_manifests import live_entries
        from incubator_xtable_spark.targets.iceberg_target import read_table_metadata

        meta = read_table_metadata(work)
        _data, deletes = live_entries(meta, meta["current-snapshot-id"])
        out.append(
            {
                "scenario": "dv_relay_readback",
                "delta_dv_files": len(dv_adds),
                "delta_cardinality_ok": all(
                    int(r["cardinality"]) == positions_per_file for r in dv_adds
                ),
                "iceberg_delete_entries": len(deletes),
                "expected": n_dv,
            }
        )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def scenario_media_decode(spark, total_mb: int) -> dict:
    """Media pixel-decode THROUGHPUT (VERDICT r13 #4): the one
    Python-CPU-bound tier left in the engine is per-blob pixel decode
    inside mapInPandas (no JVM codec exists in this environment), so its
    cost at 100 TB must be a measured number, not an assumption.

    Synthesizes ~``total_mb`` MB of mixed PNG/JPEG/GIF/WAV blobs from a
    few driver-built templates (template build is untimed setup;
    replication doesn't change decode cost — media_dhash decodes every
    blob independently), spreads them across the cluster, and times the
    full media_dhash pass overall AND per mime. Reports MB/s and rows/s
    absolute and per core. JPEG templates mix the flat-block fast path
    (DC-only entropy data — the common synthetic case) with pixel-noise
    blocks (dense AC runs — the camera-photo case)."""
    import random

    from incubator_xtable_spark.operators.media_codecs import (
        encode_gif_from_pixels,
        encode_jpeg_from_pixels,
        encode_png_from_pixels,
        encode_wav,
    )
    from incubator_xtable_spark.operators.multimodal import media_dhash

    rnd = random.Random(7)

    def block_pattern(w: int, h: int, noisy: bool) -> list[list[int]]:
        blk = [[rnd.randrange(256) for _ in range(-(-w // 8))] for _ in range(-(-h // 8))]
        rows = [[blk[y // 8][x // 8] for x in range(w)] for y in range(h)]
        if noisy:
            for _ in range(w * h // 4):
                y, x = rnd.randrange(h), rnd.randrange(w)
                rows[y][x] = max(0, min(255, rows[y][x] + rnd.randint(-24, 24)))
        return rows

    def noise(w: int, h: int) -> list[list[int]]:
        return [[rnd.randrange(256) for _ in range(w)] for _ in range(h)]

    t_setup = time.perf_counter()
    templates: dict[str, list[bytes]] = {
        # random pixels: incompressible IDAT -> decode inflates + unfilters
        # every byte (the PNG worst case)
        "image/png": [encode_png_from_pixels(noise(512, 512)) for _ in range(2)],
        # 2 flat-block (DC-only) + 2 pixel-noise (AC-dense) baselines
        "image/jpeg": [
            encode_jpeg_from_pixels(block_pattern(256, 256, noisy=False)),
            encode_jpeg_from_pixels(block_pattern(256, 256, noisy=False), restart_interval=8),
            encode_jpeg_from_pixels(block_pattern(192, 192, noisy=True)),
            encode_jpeg_from_pixels(block_pattern(192, 192, noisy=True), q=8),
        ],
        # random palette pixels: LZW with constant dictionary resets
        "image/gif": [encode_gif_from_pixels(noise(256, 256)) for _ in range(2)],
        "audio/wav": [
            encode_wav(64000, sample_rate=16000),
            encode_wav(48000, sample_rate=16000),
        ],
    }
    setup_sec = round(time.perf_counter() - t_setup, 2)

    per_mime_mb = total_mb / len(templates)
    rows = []
    mid = 0
    actual = {}
    for mime, blobs in templates.items():
        got = 0
        i = 0
        while got < per_mime_mb * 1024 * 1024:
            blob = blobs[i % len(blobs)]
            rows.append((mid, mime, bytearray(blob)))
            got += len(blob)
            mid += 1
            i += 1
        actual[mime] = got
    cores = spark.sparkContext.defaultParallelism
    df = (
        spark.createDataFrame(rows, "media_id LONG, mime_tag STRING, content BINARY")
        .repartition(cores)
        .persist()
    )
    df.count()  # materialize the blobs before any timing
    # warm the Python workers UNTIMED (worker spawn + module imports ran
    # ~2 s on the first pass and was misattributed to PNG decode)
    media_dhash(df.limit(64)).count()

    def timed_pass(frame, mb):
        t0 = time.perf_counter()
        out = media_dhash(frame).collect()
        wall = time.perf_counter() - t0
        n = len(out)
        bad = [r for r in out if r["dhash"] is None]
        assert not bad, f"{len(bad)} undecodable blobs: {bad[:2]}"
        return {
            "rows": n,
            "mb": round(mb / 1024 / 1024, 1),
            "wall_sec": round(wall, 2),
            "mb_per_sec": round(mb / 1024 / 1024 / wall, 2),
            "mb_per_sec_per_core": round(mb / 1024 / 1024 / wall / cores, 3),
            "rows_per_sec_per_core": round(n / wall / cores, 1),
        }

    per_mime = {}
    for mime in templates:
        sub = df.filter(F.col("mime_tag") == mime)
        per_mime[mime] = timed_pass(sub, actual[mime])
    overall = timed_pass(df, sum(actual.values()))
    df.unpersist()
    return {
        "scenario": "media_decode",
        "cores": cores,
        "setup_sec": setup_sec,
        "loadavg": round(os.getloadavg()[0], 2),
        **overall,
        "per_mime": per_mime,
        "rss_mb": rss_mb(),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files", type=int, default=100_000)
    ap.add_argument("--partitions", type=int, default=1_000)
    ap.add_argument("--commits", type=int, default=100)
    ap.add_argument("--per-commit", type=int, default=1_000)
    ap.add_argument(
        "--target",
        choices=["delta", "hudi-hfile", "hudi-indexes", "dv-relay", "hudi-clean", "media-decode"],
        default="delta",
        help="conversion target: delta (default), the Hudi REAL-layout "
        "HFile metadata-index writer over a synthetic inventory, or "
        "hudi-indexes = ALL HFile index partitions (column_stats + files "
        "+ partition_stats) over REAL generated data files",
    )
    ap.add_argument(
        "--rows-per-file",
        type=int,
        default=10,
        help="hudi-indexes: rows per generated data file",
    )
    ap.add_argument(
        "--compact-every",
        type=int,
        default=10,
        help="hudi-hfile: compact the metadata index every N commits "
        "(1 = r8's full-rewrite-per-commit cost model)",
    )
    ap.add_argument(
        "--table-version",
        type=int,
        default=6,
        choices=[6, 8],
        help="hudi-indexes: Hudi table version (8 = 1.0 .hoodie/timeline layout)",
    )
    ap.add_argument(
        "--seed-files",
        type=int,
        default=None,
        help="incremental scenario: pre-existing table size before the "
        "commit replay (defaults to --per-commit)",
    )
    ap.add_argument(
        "--media-mb",
        type=int,
        default=64,
        help="media-decode: total MB of mixed PNG/JPEG/GIF/WAV blobs",
    )
    args = ap.parse_args()

    spark = get_spark("xtable_loadtest")
    spark.sparkContext.setLogLevel("ERROR")
    if args.target == "media-decode":
        out = scenario_media_decode(spark, args.media_mb)
        print(json.dumps(out))
        return 0
    if args.target == "hudi-clean":
        out = scenario_clean(
            spark, args.files, args.partitions, args.commits, args.per_commit
        )
        print(json.dumps(out))
        return 0 if out["status"] == "SUCCESS" and out["clean_instant"] else 1
    if args.target == "dv-relay":
        outs = scenario_dv_relay(spark, args.files, args.partitions)
        for o in outs:
            print(json.dumps(o))
        rb = outs[-1]
        ok = (
            all(v == "SUCCESS" for v in outs[0]["statuses"].values())
            and rb["delta_dv_files"] == rb["expected"]
            and rb["iceberg_delete_entries"] == rb["expected"]
            and rb["delta_cardinality_ok"]
        )
        return 0 if ok else 1
    if args.target == "hudi-indexes":
        outs = scenario_indexes(
            spark,
            args.files,
            args.partitions,
            args.per_commit,
            args.rows_per_file,
            args.compact_every,
            args.table_version,
        )
        for o in outs:
            print(json.dumps(o))
        return 0 if all(o.get("status", "SUCCESS") == "SUCCESS" for o in outs) else 1
    out1 = scenario_full(
        spark, args.files, args.partitions, args.target, args.compact_every
    )
    print(json.dumps(out1))
    out2 = scenario_incremental(
        spark,
        args.commits,
        args.per_commit,
        args.partitions,
        args.target,
        args.compact_every,
        args.seed_files,
    )
    print(json.dumps(out2))
    ok = out1["status"] == "SUCCESS" and out2["status"] == "SUCCESS"
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
