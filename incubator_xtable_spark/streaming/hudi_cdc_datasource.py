"""`spark.readStream.format("hudi_cdc")` — Hudi row changes as a
Structured-Streaming source (Python Data Source API), read by the one
change-feed reader in streaming/change_feed.py.

Offsets are completed timeline instants ({"instant": ts}; lexicographic,
naturally ordered); option `startingInstant` emits the instants after
it. Rows are the ones `hudi_source.plan_changes` plans: CDC supplemental
log files named by cdcStats (hoodie.table.cdc.enabled writers and this
engine's HudiConversionTarget(change_feed=True)) decode executor-side,
and an adds-only commit streams its base files' rows as inserts.

Boundary (documented, loud): a commit that REWRITES state without CDC
logging (replacecommit, MOR deltacommit, upsert rewrite) needs the
before/after effective-representation diff, a Spark join the batch
`read_hudi_cdc` runs and the stream refuses, pointing at (a) enabling
CDC logging on the writer (hudiChangeFeed / hoodie.table.cdc.enabled)
or (b) streaming/cdc_stream.run_cdc_stream, whose batches run the
engine's full derivation.

Register per-session:  spark.dataSource.register(HudiCDCDataSource)
then  spark.readStream.format("hudi_cdc").option("path", p).load().
"""

from __future__ import annotations

from pyspark.sql import types as T

from incubator_xtable_spark.streaming.change_feed import ChangeFeedSource


class HudiCDCDataSource(ChangeFeedSource):
    """spark.readStream.format("hudi_cdc").option("path", dir).load()"""

    commit_column = T.StructField("_commit_instant", T.StringType())

    @classmethod
    def name(cls) -> str:
        return "hudi_cdc"
