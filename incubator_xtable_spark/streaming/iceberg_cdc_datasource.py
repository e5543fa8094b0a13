"""`spark.readStream.format("iceberg_cdc")` — Iceberg's changelog as a
Structured-Streaming source (Python Data Source API), read by the one
change-feed reader in streaming/change_feed.py.

Rows are the ones `iceberg_source.plan_changes` plans, as for the batch
`read_iceberg_cdc` (changelog-scan semantics): added data files ->
inserts of their visible rows; removed files -> deletes of rows visible
under the PARENT's delete state; carried files whose applicable deletes
changed -> deletes of newly covered positions / inserts of restored
ones. Position deletes (parquet and Puffin DVs) resolve per file through
`change_plan.read_positions`; equality deletes match per file in
pyarrow, null-safe. Offsets follow the PARENT CHAIN ({"snapshot": id} —
snapshot ids are random and never ordered numerically); option
`startingSnapshot` emits the snapshots after it; an expired parent
refuses rather than restating the table as inserts.

Register per-session:  spark.dataSource.register(IcebergCDCDataSource)
then  spark.readStream.format("iceberg_cdc").option("path", p).load().
"""

from __future__ import annotations

from pyspark.sql import types as T

from incubator_xtable_spark.streaming.change_feed import ChangeFeedSource


class IcebergCDCDataSource(ChangeFeedSource):
    """spark.readStream.format("iceberg_cdc").option("path", dir).load()"""

    commit_column = T.StructField("_commit_snapshot_id", T.LongType())

    @classmethod
    def name(cls) -> str:
        return "iceberg_cdc"
