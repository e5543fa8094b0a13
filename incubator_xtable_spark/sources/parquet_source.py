"""Parquet-directory conversion source: treat a directory of parquet files
as a table (newest footer = schema; file mtime = commit instant; stats
from footers).

Reference parity: parquet/ParquetConversionSource.java:88-260,
parquet/ParquetStatsExtractor.java:1-134, ParquetMetadataExtractor.java.

Spark-first design, built for 100 TB:
- schema via ``spark.read.parquet`` (Spark's own footer merge);
- the file *listing* is small metadata (one row per file) but stats
  extraction is the expensive part at scale, so footers are read in a
  DISTRIBUTED ``mapInPandas`` pass over the file-list DataFrame — each
  executor reads only the ~KB footer of its files, never row data. A
  100k-file table = a 100k-row DataFrame, partitioned across the cluster.
- hive-style partition values (col=value path segments) parsed with
  JVM-side regex on the path column — no Python in the per-file hot loop.
"""

from __future__ import annotations

import os
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from incubator_xtable_spark.model.core import (
    CommitsBacklog,
    DataLayoutStrategy,
    FILE_INVENTORY_SCHEMA,
    InstantsForIncrementalSync,
    InternalPartitionField,
    InternalSnapshot,
    InternalTable,
    TableChange,
    TableFormat,
    local_frame,
)

_FILE_LIST_SCHEMA = T.StructType(
    [
        T.StructField("physical_path", T.StringType(), False),
        T.StructField("size_bytes", T.LongType(), False),
        T.StructField("last_modified_ms", T.LongType(), False),
    ]
)


_METADATA_DIRS = {"metadata"}  # iceberg metadata tree


def _list_parquet_files(base_path: str) -> list[tuple[str, int, int]]:
    """Driver-side recursive listing (the reference also lists driver-side;
    object-store listing at scale would swap this for a manifest read).

    Metadata trees are pruned: `_delta_log` / `.hoodie` (underscore/dot
    prefixes, Spark's own hidden-dir convention) and iceberg's `metadata`
    dir — a Delta CHECKPOINT parquet must never be mistaken for data."""
    out = []
    for root, dirs, files in os.walk(base_path):
        dirs[:] = [
            d for d in dirs if not d.startswith(("_", ".")) and d not in _METADATA_DIRS
        ]
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                p = os.path.join(root, fn)
                st = os.stat(p)
                out.append((p, st.st_size, int(st.st_mtime * 1000)))
    return sorted(out)


class ParquetConversionSource:
    """ConversionSource for raw parquet directories
    (spi/extractor/ConversionSource.java:37-105 surface)."""

    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        name: Optional[str] = None,
        partition_fields: Optional[list[InternalPartitionField]] = None,
    ) -> None:
        self.spark = spark
        self.base_path = base_path.rstrip("/")
        self.name = name or os.path.basename(self.base_path)
        self.partition_fields = partition_fields or []
        # schema cache keyed by the EXACT listing (path, size, mtime):
        # one sync calls get_current_table several times (mode decision +
        # snapshot + targets) and each paid a Spark footer-merge job; any
        # file change (add/rewrite/touch) changes the key and re-reads
        self._schema_cache: Optional[tuple] = None

    # -- table -------------------------------------------------------------

    def get_current_table(self) -> InternalTable:
        # mergeSchema: schema evolution = union of all footers (newer files
        # may carry added columns; older files back-fill with NULLs).
        # Schema-read the LISTED data files with basePath, not the whole
        # directory: colocated target metadata trees (iceberg `metadata/`)
        # would otherwise poison Spark's hive-partition discovery on
        # partitioned layouts (CONFLICTING_DIRECTORY_STRUCTURES)
        files = _list_parquet_files(self.base_path)
        cache_key = tuple(files)
        if self._schema_cache is not None and self._schema_cache[0] == cache_key:
            schema = self._schema_cache[1]
        else:
            reader = self.spark.read.option("mergeSchema", "true").option(
                "basePath", self.base_path
            )
            schema = (
                reader.parquet(*[p for p, _, _ in files]).schema
                if files
                # empty dir: keep the original whole-dir read (and its error)
                else self.spark.read.option("mergeSchema", "true").parquet(self.base_path).schema
            )
            self._schema_cache = (cache_key, schema)
        latest = max((mtime for _, _, mtime in files), default=None)
        layout = (
            DataLayoutStrategy.HIVE_STYLE_PARTITION
            if self.partition_fields
            else DataLayoutStrategy.FLAT
        )
        # partition columns surface in the read schema via Spark partition
        # discovery; the data-file footers do not contain them
        return InternalTable(
            name=self.name,
            table_format=TableFormat.PARQUET,
            base_path=self.base_path,
            read_schema=schema,
            partition_fields=self.partition_fields,
            layout_strategy=layout,
            latest_commit_time_ms=latest,
        )

    # -- snapshot ----------------------------------------------------------

    def get_current_snapshot(self, with_stats: bool = True) -> InternalSnapshot:
        table = self.get_current_table()
        files = _list_parquet_files(self.base_path)
        inventory = self._build_inventory(table, files, with_stats=with_stats)
        version = str(table.latest_commit_time_ms or 0)
        return InternalSnapshot(table=table, version=version, files=inventory)

    def _build_inventory(
        self, table: InternalTable, files: list, with_stats: Optional[bool]
    ) -> DataFrame:
        """``files``: the driver-side [(path, size, mtime)] listing, built
        into a LocalRelation (model.core.local_frame). Small listings (the
        _DRIVER_FOOTER_MAX_FILES gate) build the whole stats-bearing
        inventory as ONE LocalRelation — no footer job, no
        listing<->stats join in the plan — while the partition-values
        regex stays the same JVM expression both tiers share, folded at
        optimization. Values are bit-identical (same `_footer_stat_rows`
        loop)."""
        if with_stats and 0 < len(files) <= _DRIVER_FOOTER_MAX_FILES:
            types_by_name = {f.name: f.dataType for f in data_schema(table).fields}
            stat_by_path = {
                p: (rc, cs)
                for p, rc, cs in _footer_stat_rows([p for p, _, _ in files], types_by_name)
            }
            inv = local_frame(
                self.spark,
                [(p, sz, m, *stat_by_path[p]) for p, sz, m in files],
                T.StructType(
                    list(_FILE_LIST_SCHEMA.fields)
                    + [
                        T.StructField("record_count", T.LongType(), True),
                        T.StructField(
                            "column_stats",
                            FILE_INVENTORY_SCHEMA["column_stats"].dataType,
                            True,
                        ),
                    ]
                ),
            )
            with_stats = None  # stats already attached
        else:
            inv = listing = local_frame(self.spark, files, _FILE_LIST_SCHEMA)
        # hive-style partition values from path segments (JVM regex)
        part_entries = []
        for pf in table.partition_fields:
            col = pf.output_name
            part_entries.extend(
                [F.lit(col), F.regexp_extract(F.col("physical_path"), rf"/{col}=([^/]*)/", 1)]
            )
        inv = inv.withColumn(
            "partition_values",
            F.create_map(*part_entries).cast("map<string,string>")
            if part_entries
            else F.lit(None).cast("map<string,string>"),
        )
        if with_stats:
            stats = footer_stats(
                self.spark,
                listing,
                data_schema(table),
                local_paths=[p for p, _, _ in files],
            )
            inv = inv.join(stats, "physical_path", "left")
        elif with_stats is False:
            inv = inv.withColumn("record_count", F.lit(None).cast("long")).withColumn(
                "column_stats", F.lit(None).cast(FILE_INVENTORY_SCHEMA["column_stats"].dataType)
            )
        return inv.select(
            "physical_path",
            F.lit("PARQUET").alias("file_format"),
            "size_bytes",
            "record_count",
            "last_modified_ms",
            "partition_values",
            "column_stats",
        )

    # -- commits (mtime-based, like the reference) -------------------------
    # NOTE: mtime commits only observe ADDITIONS. Deleted files are only
    # detected by a FULL sync (snapshot-as-diff), matching the reference's
    # parquet-dir semantics — run FULL periodically if files can vanish.

    def get_commits_backlog(self, instants: "InstantsForIncrementalSync") -> CommitsBacklog:
        """Commits after the bookmark + previously-pending commits that have
        since completed (sorted dedup merge, HudiConversionSource.java:311-338)."""
        last_ms = int(instants.last_sync_instant)
        all_mtimes = {mtime for _, _, mtime in _list_parquet_files(self.base_path)}
        new = {m for m in all_mtimes if m > last_ms}
        pending_done = {int(p) for p in instants.pending_commits if int(p) in all_mtimes}
        return CommitsBacklog(commits_to_process=[str(i) for i in sorted(new | pending_done)])

    def is_incremental_sync_safe_from(self, instant: str) -> bool:
        # parquet dirs never expire history: files are either there or not;
        # a file deleted since the bookmark makes replay unsafe only if the
        # bookmark predates all current files
        files = _list_parquet_files(self.base_path)
        return bool(files) and int(instant) >= 0

    def get_table_change_for_commit(self, commit: str) -> TableChange:
        commit_ms = int(commit)
        table = self.get_current_table()
        files = _list_parquet_files(self.base_path)
        added_files = [f for f in files if f[2] == commit_ms]
        inventory = self._build_inventory(table, added_files, with_stats=True)
        empty = local_frame(self.spark, [], FILE_INVENTORY_SCHEMA)
        return TableChange(table=table, commit_id=commit, files_added=inventory, files_removed=empty)

    def get_commit_identifier(self, commit: str) -> str:
        return commit


def data_schema(table: InternalTable) -> T.StructType:
    """Schema of columns physically present in data files (partition
    columns live in paths, not footers)."""
    part_cols = {pf.output_name for pf in table.partition_fields}
    return T.StructType([f for f in table.read_schema.fields if f.name not in part_cols])


# ---------------------------------------------------------------------------
# Distributed footer-stats extraction
# ---------------------------------------------------------------------------


# Small-listing gate for the driver-side footer path (0 disables).
# Footer reads are ~KB metadata seeks whose DISTRIBUTED execution costs 3-5 fixed-latency Spark jobs
# (count + repartition exchange + Python-worker pass) — pure overhead when
# the listing is a handful of files. The gate is on FILE COUNT, not SF: a
# 100 TB table's 100k-file listing always takes the distributed pass
# (loadtest pins that path).
_DRIVER_FOOTER_MAX_FILES = 64


def _footer_stat_rows(paths: list, types_by_name: dict) -> list:
    """The per-file footer-stat loop shared VERBATIM by the driver-side
    small-listing path and the distributed mapInPandas closure — one code
    path, so both tiers produce bit-identical stat encodings."""
    from decimal import Decimal as _Decimal

    import pyarrow.parquet as pq

    from pyspark.sql.types import DecimalType as _DecimalType

    from incubator_xtable_spark.model.stat_codec import encode_stat as _enc

    def _min_max(st, dtype):
        # pyarrow raises ArrowNotImplementedError converting stats of
        # int-backed decimals (Spark writes DECIMAL(<=18) as INT32/64);
        # fall back to the raw physical values and unscale ourselves
        try:
            return st.min, st.max
        except Exception:
            if not isinstance(dtype, _DecimalType):
                raise

        def conv(raw):
            if raw is None:
                return None
            unscaled = (
                int.from_bytes(bytes(raw), "big", signed=True)
                if isinstance(raw, (bytes, bytearray))
                else int(raw)
            )
            return _Decimal(unscaled).scaleb(-dtype.scale)

        return conv(st.min_raw), conv(st.max_raw)

    rows = []
    for path in paths:
        local = path[len("file:") :] if str(path).startswith("file:") else str(path)
        try:
            md = pq.ParquetFile(local).metadata
        except Exception:
            rows.append((path, None, None))
            continue
        mins: dict[str, object] = {}
        maxs: dict[str, object] = {}
        nulls: dict[str, int] = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema.split(".")[0]
                if name not in types_by_name:
                    continue
                st = col.statistics
                if st is None:
                    continue
                if st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                if st.has_min_max:
                    mn, mx = _min_max(st, types_by_name[name])
                    if mn is not None and (name not in mins or mn < mins[name]):
                        mins[name] = mn
                    if mx is not None and (name not in maxs or mx > maxs[name]):
                        maxs[name] = mx
        col_stats = {
            name: {
                "min_json": _enc(mins.get(name), types_by_name[name]),
                "max_json": _enc(maxs.get(name), types_by_name[name]),
                "null_count": nulls.get(name, 0),
            }
            for name in types_by_name
            if name in mins or name in maxs or name in nulls
        }
        rows.append((path, md.num_rows, col_stats))
    return rows


def footer_stats(
    spark: SparkSession,
    listing: DataFrame,
    schema: T.StructType,
    local_paths: Optional[list] = None,
) -> DataFrame:
    """Per-file record counts + per-column min/max/null-count from parquet
    footers. Small listings (<= _DRIVER_FOOTER_MAX_FILES)
    compute on the DRIVER into a LocalRelation — footer reads are ~KB
    metadata seeks, and the distributed pass costs several fixed-latency
    Spark jobs that dwarf them (guide §1/§5; the Delta small-log parse
    precedent). Larger listings take the distributed mapInPandas pass
    (Arrow-batched, executor-side) exactly as before. Both tiers run the
    SAME `_footer_stat_rows` loop, so stat values are bit-identical.

    ``local_paths``: caller-known driver-side path list (skips the probe).

    Output: physical_path, record_count, column_stats (inventory encoding).
    """
    out_schema = T.StructType(
        [
            T.StructField("physical_path", T.StringType(), False),
            T.StructField("record_count", T.LongType(), True),
            T.StructField("column_stats", FILE_INVENTORY_SCHEMA["column_stats"].dataType, True),
        ]
    )
    limit = _DRIVER_FOOTER_MAX_FILES
    if local_paths is None and limit > 0:
        # bounded probe: collectLimit reads at most limit+1 rows, so a
        # 100k-file listing pays one cheap short-circuit job, never a
        # full materialization
        probe = [r[0] for r in listing.select("physical_path").limit(limit + 1).collect()]
        if len(probe) <= limit:
            local_paths = probe
    if local_paths is not None and 0 < len(local_paths) <= limit:
        types_by_name = {f.name: f.dataType for f in schema.fields}
        return local_frame(spark, _footer_stat_rows(list(local_paths), types_by_name), out_schema)
    schema_json = schema.json()
    # executor Python workers don't inherit the driver's sys.path; in local /
    # shared-fs mode the package root is directly importable once added (a
    # real cluster deployment ships the package via --py-files / a wheel)
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

    def read_footers(batches: Iterator["object"]) -> Iterator["object"]:
        import sys as _sys

        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)

        import pandas as pd

        from pyspark.sql.types import StructType as _StructType

        from incubator_xtable_spark.sources.parquet_source import (
            _footer_stat_rows as _rows_fn,
        )

        sch = _StructType.fromJson(__import__("json").loads(schema_json))
        types_by_name = {f.name: f.dataType for f in sch.fields}

        for pdf in batches:
            rows = _rows_fn(list(pdf["physical_path"]), types_by_name)
            yield pd.DataFrame(rows, columns=["physical_path", "record_count", "column_stats"])

    # spread the file list across the cluster before the footer pass
    n = max(1, min(listing.count(), spark.sparkContext.defaultParallelism * 2))
    return listing.select("physical_path").repartition(n).mapInPandas(read_footers, out_schema)
