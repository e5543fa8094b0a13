"""The benchmark's three workloads over the conversion engine's public API.

Each workload builds its inputs from a seeded ``random.Random`` and then
runs operations. One operation builds fresh source and target objects
and makes one call; state resets happen in ``reset`` and correctness
checks in ``check``, both outside the timed region.

- ``full_fanout``: one FULL ``ConversionController.sync`` of a
  hive-partitioned parquet directory into Delta, Iceberg and Hudi at
  once (the reference LoadTest FULL shape). The listing is above the
  64-file driver-footer gate, so the distributed footer-stats pass runs.
- ``incremental_backlog``: one INCREMENTAL sync of a Delta table (built
  by the engine's own Delta target) into Iceberg and Hudi, replaying a
  backlog of commits (the reference LoadTest INCREMENTAL shape).
- ``readback_scan``: one read of a converted table through
  ``read_delta_as_df`` / ``read_iceberg_as_df`` / ``read_hudi_as_df``,
  a full scan or a seeded pruned range scan, drained to an aggregate.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import (
    InternalPartitionField,
    SyncMode,
    SyncStatusCode,
    TableFormat,
)
from incubator_xtable_spark.sources.delta_source import (
    DeltaConversionSource,
    read_delta_as_df,
)
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
from incubator_xtable_spark.sources.iceberg_source import read_iceberg_as_df
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget
from incubator_xtable_spark.targets.iceberg_target import IcebergConversionTarget
from perfbench.tracing import NullTracer

FORMATS = {"delta": TableFormat.DELTA, "iceberg": TableFormat.ICEBERG, "hudi": TableFormat.HUDI}
META_DIRS = {"delta": "_delta_log", "iceberg": "metadata", "hudi": ".hoodie"}
READERS = {"delta": read_delta_as_df, "iceberg": read_iceberg_as_df, "hudi": read_hudi_as_df}
PARTITIONS = 16
ROWS_PER_FILE = (180, 220)
# whole-second mtimes: the parquet source groups files into commits by mtime
BASE_MTIME = 1_700_000_000
TABLE = "bench"
NULL_TRACER = NullTracer()


@dataclass
class Outcome:
    """What one operation did, as the checks saw it after it ended."""

    files: int  # data files converted into every target, or opened by a read
    commits: int  # source table versions processed
    rows: int  # rows covered by the converted files, or returned by a read
    # metadata bytes per data file (the end-to-end ratio): bytes written
    # over files converted; a read writes nothing, so there it is the
    # bytes its planning reads over the live files
    amp_bytes: int = 0
    amp_files: int = 0
    meta_bytes: dict[str, int] = field(default_factory=dict)  # fmt -> written
    meta_files: dict[str, int] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    modes: dict[str, str] = field(default_factory=dict)  # fmt -> sync mode
    read: tuple[str, int, int, bool] | None = None  # (fmt, opened, live, ranged)


# -- inputs -------------------------------------------------------------------


class DataDir:
    """A hive-partitioned parquet directory whose files hold contiguous
    ``id`` ranges, so id range scans can prune whole files. Files go to
    partitions round-robin in a seeded order: every seed spreads files
    as evenly, so seeds differ in values, not in the amount of work."""

    def __init__(self, root: str, rng: random.Random) -> None:
        self.root = root
        self.rng = rng
        self.partitions = rng.sample(range(PARTITIONS), PARTITIONS)
        self.rows: dict[str, int] = {}  # path -> row count
        self._next_id = 0
        os.makedirs(root, exist_ok=True)

    def write(self, n_files: int, mtime: int) -> list[str]:
        paths = []
        for _ in range(n_files):
            n_rows = self.rng.randint(*ROWS_PER_FILE)
            part = self.partitions[len(self.rows) % PARTITIONS]
            ids = range(self._next_id, self._next_id + n_rows)
            self._next_id += n_rows
            path = os.path.join(self.root, f"p={part}", f"f-{len(self.rows):06d}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(
                pa.table(
                    {
                        "id": pa.array(ids, pa.int64()),
                        "v": pa.array([i * 2654435761 % 1000003 for i in ids], pa.int64()),
                    }
                ),
                path,
            )
            os.utime(path, (mtime, mtime))
            self.rows[path] = n_rows
            paths.append(path)
        return paths

    @property
    def total_ids(self) -> int:
        return self._next_id

    def source(self, spark) -> ParquetConversionSource:
        return ParquetConversionSource(
            spark, self.root, name=TABLE, partition_fields=[InternalPartitionField("p")]
        )


def make_targets(spark, root: str, formats, tracer, hudi_index: str = "parquet") -> dict:
    build = {
        "delta": lambda: DeltaConversionTarget(spark, root),
        "iceberg": lambda: IcebergConversionTarget(spark, root, table_name=TABLE),
        "hudi": lambda: HudiConversionTarget(
            spark, root, table_name=TABLE, metadata_index_format=hudi_index
        ),
    }
    return {FORMATS[f]: tracer.instrument(build[f](), f"targets.{f}") for f in formats}


# -- measurement helpers --------------------------------------------------------


def meta_snapshot(root: str) -> dict[str, dict[str, tuple[int, int]]]:
    """fmt -> {path: (size, mtime_ns)} for every file of its metadata tree."""
    out: dict[str, dict[str, tuple[int, int]]] = {}
    for fmt, sub in META_DIRS.items():
        files = out[fmt] = {}
        for dirpath, _, names in os.walk(os.path.join(root, sub)):
            for name in names:
                st = os.stat(os.path.join(dirpath, name))
                files[os.path.join(dirpath, name)] = (st.st_size, st.st_mtime_ns)
    return out


def meta_written(before: dict, after: dict) -> tuple[dict[str, int], dict[str, int]]:
    """Bytes and files each metadata tree gained or rewrote."""
    n_bytes, n_files = {}, {}
    for fmt, files in after.items():
        old = before.get(fmt, {})
        changed = [size for path, (size, mtime) in files.items() if old.get(path) != (size, mtime)]
        n_bytes[fmt], n_files[fmt] = sum(changed), len(changed)
    return n_bytes, n_files


def _norm(path: str) -> str:
    return os.path.normpath(path[len("file:") :] if path.startswith("file:") else path)


def target_files(spark, root: str, fmt: str) -> set[str]:
    """Live data files of the ``fmt`` table at ``root``, as its reader plans them."""
    return {_norm(p) for p in READERS[fmt](spark, root).inputFiles()}


def verify_sync(
    results: dict, mode: SyncMode, expected_files: set[str], inventories: dict[str, set[str]]
) -> list[str]:
    """Every target must succeed in ``mode`` and hold exactly the source's
    live files. Returns the failures found."""
    errors = []
    for fmt, files in inventories.items():
        res = results.get(FORMATS[fmt])
        if res is None:
            errors.append(f"{fmt}: no sync result")
            continue
        if res.status != SyncStatusCode.SUCCESS:
            detail = res.error.error_message if res.error else ""
            errors.append(f"{fmt}: status {res.status.value} {detail}".strip())
        if res.mode != mode:
            errors.append(f"{fmt}: {res.mode.value} sync where {mode.value} was expected")
        missing, extra = expected_files - files, files - expected_files
        if missing or extra:
            errors.append(f"{fmt}: {len(missing)} live files missing, {len(extra)} unexpected")
    return errors


def scan_aggregate(df, id_range: tuple[int, int] | None) -> tuple[int, int]:
    """(row count, order-independent checksum) of the table's columns."""
    if id_range is not None:
        df = df.filter(F.col("id").between(*id_range))
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("id", "v", F.col("p").cast("long")).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


# -- workloads -------------------------------------------------------------------


class Workload:
    name = ""
    sizes: dict[str, int] = {}
    cycle_len = 1  # operations before the inputs repeat

    def __init__(self, spark, work: str, seed: int, sizes: dict | None = None) -> None:
        self.spark = spark
        self.work = work
        self.rng = random.Random(seed)
        self.sizes = {**type(self).sizes, **(sizes or {})}

    def setup(self) -> None:
        raise NotImplementedError

    def reset(self, repeat: bool = False) -> None:
        """Untimed: bring the state back to where every operation starts;
        ``repeat`` runs the previous operation's input again."""

    def run_op(self, tracer):
        raise NotImplementedError

    def check(self, output) -> Outcome:
        raise NotImplementedError

    def warm_up(self, tracer) -> None:
        """Untimed operations that let the JVM and caches settle."""
        self.reset()
        self._checked_op(tracer)

    def _checked_op(self, tracer) -> None:
        errors = self.check(self.run_op(tracer)).errors
        if errors:
            raise RuntimeError(f"{self.name} warm-up failed: {errors}")


def _require(results: dict, mode: SyncMode, what: str) -> None:
    bad = {
        f.value: (r.status.value, r.mode.value)
        for f, r in results.items()
        if r.status != SyncStatusCode.SUCCESS or r.mode != mode
    }
    if bad:
        raise RuntimeError(f"setup {what} failed: {bad}")


class FullFanout(Workload):
    name = "full_fanout"
    sizes = {"files": 80}
    formats = ("delta", "iceberg", "hudi")

    def setup(self) -> None:
        self.data = DataDir(os.path.join(self.work, "table"), self.rng)
        self.expected = set(self.data.write(self.sizes["files"], BASE_MTIME))
        self.rows = sum(self.data.rows.values())

    def reset(self, repeat: bool = False) -> None:
        for sub in META_DIRS.values():
            shutil.rmtree(os.path.join(self.data.root, sub), ignore_errors=True)
        self._before = meta_snapshot(self.data.root)

    def run_op(self, tracer):
        source = tracer.instrument(self.data.source(self.spark), "sources")
        targets = make_targets(self.spark, self.data.root, self.formats, tracer)
        return tracer.instrument(ConversionController(), "sync").sync(source, targets)

    def check(self, results) -> Outcome:
        root = self.data.root
        inventories = {f: target_files(self.spark, root, f) for f in self.formats}
        n_bytes, n_files = meta_written(self._before, meta_snapshot(root))
        return Outcome(
            files=len(self.expected),
            commits=1,
            rows=self.rows,
            amp_bytes=sum(n_bytes.values()),
            amp_files=len(self.expected),
            meta_bytes=n_bytes,
            meta_files=n_files,
            errors=verify_sync(results, SyncMode.FULL, self.expected, inventories),
            modes={fmt.value.lower(): r.mode.value for fmt, r in results.items()},
        )


class IncrementalBacklog(Workload):
    name = "incremental_backlog"
    sizes = {"base_files": 8, "commits": 2, "files_per_commit": 4}
    formats = ("iceberg", "hudi")

    def setup(self) -> None:
        s = self.sizes
        self.data = DataDir(os.path.join(self.work, "table"), self.rng)
        root = self.data.root
        base = self.data.write(s["base_files"], BASE_MTIME)
        ctrl = ConversionController()
        delta = {TableFormat.DELTA: DeltaConversionTarget(self.spark, root)}
        _require(ctrl.sync(self.data.source(self.spark), delta), SyncMode.FULL, "parquet->delta")
        pre = make_targets(self.spark, root, self.formats, NULL_TRACER)
        _require(ctrl.sync(DeltaConversionSource(self.spark, root), pre), SyncMode.FULL, "delta->targets")
        # the targets' pre-backlog metadata, restored before every operation
        self.saved = os.path.join(self.work, "pre_backlog")
        for fmt in self.formats:
            shutil.copytree(os.path.join(root, META_DIRS[fmt]), os.path.join(self.saved, fmt))
        backlog = []
        for c in range(1, s["commits"] + 1):
            backlog += self.data.write(s["files_per_commit"], BASE_MTIME + c)
        delta = {TableFormat.DELTA: DeltaConversionTarget(self.spark, root)}
        _require(ctrl.sync(self.data.source(self.spark), delta), SyncMode.INCREMENTAL, "delta backlog")
        self.expected = set(base + backlog)
        if target_files(self.spark, root, "delta") != self.expected:
            raise RuntimeError("setup: the Delta source does not hold the generated files")
        self.backlog_files = len(backlog)
        self.backlog_rows = sum(self.data.rows[p] for p in backlog)

    def reset(self, repeat: bool = False) -> None:
        for fmt in self.formats:
            dst = os.path.join(self.data.root, META_DIRS[fmt])
            shutil.rmtree(dst, ignore_errors=True)
            shutil.copytree(os.path.join(self.saved, fmt), dst)
        self._before = meta_snapshot(self.data.root)

    def run_op(self, tracer):
        source = tracer.instrument(DeltaConversionSource(self.spark, self.data.root), "sources")
        targets = make_targets(self.spark, self.data.root, self.formats, tracer)
        return tracer.instrument(ConversionController(), "sync").sync(source, targets)

    def check(self, results) -> Outcome:
        root = self.data.root
        inventories = {f: target_files(self.spark, root, f) for f in self.formats}
        n_bytes, n_files = meta_written(self._before, meta_snapshot(root))
        return Outcome(
            files=self.backlog_files,
            commits=self.sizes["commits"],
            rows=self.backlog_rows,
            amp_bytes=sum(n_bytes.values()),
            amp_files=self.backlog_files,
            meta_bytes=n_bytes,
            meta_files=n_files,
            errors=verify_sync(results, SyncMode.INCREMENTAL, self.expected, inventories),
            modes={fmt.value.lower(): r.mode.value for fmt, r in results.items()},
        )


@dataclass
class ScanOutput:
    fmt: str
    id_range: tuple[int, int] | None
    df: object
    aggregate: tuple[int, int]


class ReadbackScan(Workload):
    name = "readback_scan"
    sizes = {"files": 48, "ranges": 2}
    formats = ("delta", "iceberg", "hudi")

    def setup(self) -> None:
        self.data = DataDir(os.path.join(self.work, "table"), self.rng)
        paths = self.data.write(self.sizes["files"], BASE_MTIME)
        root = self.data.root
        targets = make_targets(self.spark, root, self.formats, NULL_TRACER, hudi_index="hfile")
        _require(ConversionController().sync(self.data.source(self.spark), targets), SyncMode.FULL, "conversion")
        # ranges span one to three files' worth of ids, anywhere in the table
        ranges = []
        for _ in range(self.sizes["ranges"]):
            lo = self.rng.randrange(self.data.total_ids)
            ranges.append((lo, lo + self.rng.randint(ROWS_PER_FILE[0], 3 * ROWS_PER_FILE[1])))
        source_df = self.spark.read.option("basePath", root).parquet(*paths)
        self.expected = {r: scan_aggregate(source_df, r) for r in [None, *ranges]}
        self.live = len(paths)
        self.meta_bytes = sum(
            size for files in meta_snapshot(root).values() for size, _ in files.values()
        )
        # one cycle: a full scan of every format, then each range scan
        cycle = [(fmt, r) for r in [None, *ranges] for fmt in self.formats]
        self.cycle_len = len(cycle)
        self._schedule = itertools.cycle(cycle)
        self._ranges = ranges

    def warm_up(self, tracer) -> None:
        """A full and a range scan of every format."""
        for fmt in self.formats:
            for id_range in (None, self._ranges[0]):
                self._next = (fmt, id_range)
                self._checked_op(tracer)

    def reset(self, repeat: bool = False) -> None:
        if not repeat:
            self._next = next(self._schedule)

    def run_op(self, tracer):
        fmt, id_range = self._next
        prune = {"prune": {"id": id_range}} if id_range else {}
        with tracer.span(f"read.{fmt}.plan"):
            df = READERS[fmt](self.spark, self.data.root, **prune)
        with tracer.span(f"read.{fmt}.exec"):
            aggregate = scan_aggregate(df.select("id", "v", "p"), id_range)
        return ScanOutput(fmt, id_range, df, aggregate)

    def check(self, out: ScanOutput) -> Outcome:
        opened = len(out.df.inputFiles())
        errors = []
        want = self.expected[out.id_range]
        if out.aggregate != want:
            what = "full scan" if out.id_range is None else f"range {out.id_range}"
            errors.append(f"{out.fmt} {what}: (rows, checksum) {out.aggregate} != source {want}")
        return Outcome(
            files=opened,
            commits=1,
            rows=out.aggregate[0],
            amp_bytes=self.meta_bytes,
            amp_files=self.live,
            errors=errors,
            read=(out.fmt, opened, self.live, out.id_range is not None),
        )


WORKLOADS = {w.name: w for w in (FullFanout, IncrementalBacklog, ReadbackScan)}
