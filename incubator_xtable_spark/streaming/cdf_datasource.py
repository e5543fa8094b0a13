"""`spark.readStream.format("delta_cdf")` — the Delta Change Data Feed as
a Structured-Streaming source (Python Data Source API), read by the one
change-feed reader in streaming/change_feed.py.

Rows are the ones `delta_source.plan_changes` plans, as for the batch
`read_delta_cdf`: explicit cdc files win; otherwise add/remove/DV-diff
derivation. Column mapping: mode=name resolves physical names, mode=id
parquet field ids. Offsets are `{"version": <last planned commit>}`;
option `startingVersion` (default 0) picks the first commit to emit, or
`startingTimestamp` (ISO or epoch millis) the first whose commit
timestamp is at or after it.

Register per-session:  spark.dataSource.register(DeltaCDFDataSource)
then  spark.readStream.format("delta_cdf").option("path", p).load().
"""

from __future__ import annotations

from pyspark.sql import types as T

from incubator_xtable_spark.streaming.change_feed import ChangeFeedSource


class DeltaCDFDataSource(ChangeFeedSource):
    """spark.readStream.format("delta_cdf").option("path", dir).load()"""

    commit_column = T.StructField("_commit_version", T.LongType())

    @classmethod
    def name(cls) -> str:
        return "delta_cdf"
