"""`spark.readStream.format("paimon_changelog")` — Paimon's changelog as
a Structured-Streaming source (Python Data Source API), read by the one
change-feed reader in streaming/change_feed.py.

Offsets are Paimon's sequential snapshot ids ({"snapshot": id}); option
`startingSnapshot` (default 0) emits the snapshots after it, and an
expired snapshot range after the cursor refuses. Rows are the ones
`paimon_source.plan_changes` plans, as for the batch
`read_paimon_changelog`: changelog files whose `_VALUE_KIND` byte
carries each row's kind, an append-only APPEND commit's delta files as
inserts, and a refusal for PK deltas without a changelog producer.
Partition values come from the manifest for files that do not store
the partition columns.

Register per-session: spark.dataSource.register(PaimonChangelogDataSource)
then spark.readStream.format("paimon_changelog").option("path", p).load().
"""

from __future__ import annotations

from pyspark.sql import types as T

from incubator_xtable_spark.streaming.change_feed import ChangeFeedSource


class PaimonChangelogDataSource(ChangeFeedSource):
    """spark.readStream.format("paimon_changelog").option("path", d).load()"""

    commit_column = T.StructField("_commit_snapshot_id", T.LongType())

    @classmethod
    def name(cls) -> str:
        return "paimon_changelog"
