"""CDC streaming: consume any table format's per-commit row changes as
an ordered micro-batch stream.

Builds on the per-format CDC reads (read_delta_cdf / read_iceberg_cdc /
read_hudi_cdc / read_paimon_changelog): ``cdc_batches`` yields one
CDC-shaped DataFrame per commit after a cursor, oldest first, and
``stream_cdc`` runs the continuous consumption loop — poll the
timeline, hand each new commit's changes to ``on_batch`` exactly once,
advance the cursor. This is the same micro-batch changelog pattern as
``continuous_sync`` (the bookmark is the state store, the commit list
the exactly-once queue), applied to ROW-level changes instead of file
metadata — the consumer half of the cross-format CDC channel.

Beyond the reference: it streams only table *state* via repeated syncs;
it has no row-change consumption surface at all.

Scale: each batch is one commit's change volume as a lazy DataFrame
(the underlying reads scan only the commit's touched files); the
timeline poll is metadata-sized. A consumer that falls behind N commits
processes N bounded batches, never a table rescan.
"""

from __future__ import annotations

import time
from typing import Any, Callable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession


def _commits_after(
    spark: SparkSession, table_format: str, base_path: str, after: Optional[str]
) -> list[str]:
    """Commit ids strictly after the cursor, oldest first, in the
    format's own replay order (Iceberg follows the parent chain — ids
    are random, never numerically ordered)."""
    fmt = table_format.upper()
    if fmt == "DELTA":
        from incubator_xtable_spark.sources.delta_source import list_log_versions

        floor = int(after) if after is not None else -1
        versions = [v for v in list_log_versions(base_path) if v > floor]
        # Delta versions are contiguous: a gap right after the cursor
        # means retention pruned commits the consumer never saw — losing
        # them silently is worse than failing
        if after is not None and versions and versions[0] != floor + 1:
            raise ValueError(
                f"commits {floor + 1}..{versions[0] - 1} after the cursor have "
                "been expired; restart the stream without a cursor"
            )
        return [str(v) for v in versions]
    if fmt == "HUDI":
        from incubator_xtable_spark.targets.hudi_target import list_completed_instants

        instants = [i for i, _ in list_completed_instants(base_path)]
        # archival moves oldest instants out of the active timeline; a
        # cursor below the active head is only a loss when an ARCHIVED
        # instant NEWER than the cursor exists (a cursor equal to the
        # newest archived instant missed nothing)
        if after is not None and instants and after < instants[0] and after not in instants:
            from incubator_xtable_spark.sources.hudi_source import _archived_commits

            archived = [i for i, _, _ in _archived_commits(base_path)]
            if any(i > after for i in archived) or after not in archived:
                raise ValueError(
                    f"instants after cursor {after} have been archived; "
                    "restart the stream without a cursor"
                )
        return [i for i in instants if after is None or i > after]
    if fmt == "PAIMON":
        from incubator_xtable_spark.sources.paimon_source import PaimonConversionSource

        src = PaimonConversionSource(spark, base_path)
        latest, earliest = src.latest_snapshot_id(), src.earliest_snapshot_id()
        if latest is None:
            return []
        floor = int(after) if after is not None else (earliest or 1) - 1
        if earliest is not None and floor + 1 < earliest and floor + 1 <= latest:
            raise ValueError(
                f"snapshots {floor + 1}..{earliest - 1} after the cursor have "
                "expired; restart the stream without a cursor"
            )
        return [str(s) for s in range(floor + 1, latest + 1)]
    if fmt == "ICEBERG":
        from incubator_xtable_spark.model.iceberg_manifests import snapshot_by_id
        from incubator_xtable_spark.targets.iceberg_target import read_table_metadata

        meta = read_table_metadata(base_path)
        if meta is None:
            raise ValueError(f"not an iceberg table: {base_path}")
        chain: list[str] = []
        cur = snapshot_by_id(meta, meta.get("current-snapshot-id"))
        stop = int(after) if after is not None else None
        while cur is not None and cur["snapshot-id"] != stop:
            chain.append(str(cur["snapshot-id"]))
            cur = snapshot_by_id(meta, cur.get("parent-snapshot-id"))
        if stop is not None and cur is None and after is not None:
            raise ValueError(
                f"cursor snapshot {after} is no longer in the chain (expired); "
                "restart the stream without a cursor"
            )
        return list(reversed(chain))
    raise ValueError(f"unsupported table format for CDC streaming: {table_format}")


def _read_cdc(
    spark: SparkSession, table_format: str, base_path: str, commit: str
) -> DataFrame:
    fmt = table_format.upper()
    if fmt == "DELTA":
        from incubator_xtable_spark.sources.delta_source import read_delta_cdf

        return read_delta_cdf(spark, base_path, int(commit))
    if fmt == "HUDI":
        from incubator_xtable_spark.sources.hudi_source import read_hudi_cdc

        return read_hudi_cdc(spark, base_path, commit)
    if fmt == "PAIMON":
        from incubator_xtable_spark.sources.paimon_source import read_paimon_changelog

        return read_paimon_changelog(spark, base_path, int(commit))
    if fmt == "ICEBERG":
        from incubator_xtable_spark.sources.iceberg_source import read_iceberg_cdc

        return read_iceberg_cdc(spark, base_path, int(commit))
    raise ValueError(f"unsupported table format for CDC streaming: {table_format}")


def cdc_batches(
    spark: SparkSession,
    table_format: str,
    base_path: str,
    after_commit: Optional[str] = None,
) -> Iterator[tuple[str, DataFrame]]:
    """Yield (commit_id, cdc DataFrame) for every commit after the
    cursor, oldest first. The DataFrame carries the table columns plus
    `_change_type`; evaluation is lazy — nothing scans until the
    consumer acts."""
    for commit in _commits_after(spark, table_format, base_path, after_commit):
        yield commit, _read_cdc(spark, table_format, base_path, commit)


def stream_cdc(
    spark: SparkSession,
    table_format: str,
    base_path: str,
    on_batch: Callable[[str, DataFrame], Any],
    after_commit: Optional[str] = None,
    interval_seconds: float = 5.0,
    max_ticks: Optional[int] = None,
) -> Optional[str]:
    """Continuous CDC consumption: every tick drains the new commits in
    order through ``on_batch(commit_id, changes_df)`` and advances the
    cursor. Returns the final cursor (resume by passing it back as
    ``after_commit`` — the at-least-once handoff point a caller should
    persist alongside its sink state)."""
    cursor = after_commit
    tick = 0
    while True:
        for commit, df in cdc_batches(spark, table_format, base_path, cursor):
            on_batch(commit, df)
            cursor = commit
        tick += 1
        if max_ticks is not None and tick >= max_ticks:
            return cursor
        time.sleep(interval_seconds)


# ---------------------------------------------------------------------------
# Checkpointed driver: Structured-Streaming-shaped consumption (r6)
# ---------------------------------------------------------------------------


def _read_cursor(checkpoint_dir: str) -> Optional[str]:
    import os

    p = os.path.join(checkpoint_dir, "cursor")
    if not os.path.exists(p):
        return None
    raw = open(p, encoding="utf-8").read().strip()
    return raw or None


def _write_cursor(checkpoint_dir: str, cursor: str) -> None:
    import os
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, "cursor")
    tmp = p + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(cursor)
    os.replace(tmp, p)


def run_cdc_stream(
    spark: SparkSession,
    table_format: str,
    base_path: str,
    on_batch: Callable[[str, DataFrame], Any],
    checkpoint_dir: str,
    available_now: bool = True,
    interval_seconds: float = 5.0,
    max_ticks: Optional[int] = None,
) -> Optional[str]:
    """Structured-Streaming-shaped CDC consumption: the foreachBatch
    driver with Spark's trigger/checkpoint semantics over the
    cross-format CDC reads.

    - **Checkpointing**: the cursor persists ATOMICALLY to
      ``checkpoint_dir`` after each successfully processed commit, so a
      restart mid-backlog resumes at the next unprocessed commit —
      exactly-once per commit as long as ``on_batch`` is idempotent or
      transactional per batch (the same contract Spark's foreachBatch
      gives its user function).
    - **Triggers**: ``available_now=True`` mirrors
      ``Trigger.AvailableNow`` — drain every commit currently on the
      timeline, then return. ``available_now=False`` mirrors a
      processing-time trigger: poll every ``interval_seconds``
      (``max_ticks`` bounds the loop for tests).

    Each batch here is the batch reader's lazy, distributed DataFrame
    (a Spark plan over only that commit's touched files). The
    ``spark.readStream`` sources (`streaming/change_feed.py`) read the
    same per-commit plans with pyarrow on executors instead, since a
    Python data-source reader has no SparkSession.

    Returns the final cursor (also durable in ``checkpoint_dir``).
    """
    cursor = _read_cursor(checkpoint_dir)
    tick = 0
    while True:
        for commit, df in cdc_batches(spark, table_format, base_path, cursor):
            on_batch(commit, df)
            cursor = commit
            _write_cursor(checkpoint_dir, commit)
        tick += 1
        if available_now or (max_ticks is not None and tick >= max_ticks):
            return cursor
        time.sleep(interval_seconds)
