"""Schema evolution differential tests — the reference's
testVariousOperations add-columns step (ITConversionController.java:270-317):
after new files land with additional columns, sync and assert every read
path returns the evolved schema with NULL back-fill for old files."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from incubator_xtable_spark.model.core import SyncMode, SyncStatusCode, TableFormat
from incubator_xtable_spark.sources.delta_source import (
    latest_action,
    read_delta_as_df,
)
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import HudiConversionTarget

from .conftest import SF_SMOKE


@pytest.fixture()
def evolving_dir(spark, tmp_path):
    d = str(tmp_path / "evolving")
    spark.read.parquet(f"{SF_SMOKE}/region.parquet").coalesce(1).write.parquet(d)
    return d


def test_schema_evolution_delta_and_hudi(spark, evolving_dir):
    source = ParquetConversionSource(spark, evolving_dir, name="region")
    targets = {
        TableFormat.DELTA: DeltaConversionTarget(spark, evolving_dir),
        TableFormat.HUDI: HudiConversionTarget(spark, evolving_dir, table_name="region"),
    }
    controller = ConversionController()
    r1 = controller.sync(source, targets)
    assert all(r.status == SyncStatusCode.SUCCESS for r in r1.values())
    assert "score" not in read_delta_as_df(spark, evolving_dir).columns

    # evolution: new files carry an added nullable column
    evolved = (
        spark.read.parquet(f"{SF_SMOKE}/region.parquet")
        .withColumn("score", F.col("r_regionkey").cast("double") * 1.5)
        .withColumn("r_regionkey", F.col("r_regionkey") + 100)
    )
    evolved.coalesce(1).write.mode("append").parquet(evolving_dir)

    r2 = controller.sync(source, targets)
    for fmt, res in r2.items():
        assert res.status == SyncStatusCode.SUCCESS, (fmt, res.error)
        assert res.mode == SyncMode.INCREMENTAL

    # delta metaData action carries the evolved schema
    meta = latest_action(evolving_dir, "metaData")
    evolved_fields = [f["name"] for f in json.loads(meta["schemaString"])["fields"]]
    assert "score" in evolved_fields

    for reader in (read_delta_as_df, read_hudi_as_df):
        df = reader(spark, evolving_dir)
        assert "score" in df.columns, reader.__name__
        assert df.count() == 10
        # old files back-fill with NULL
        assert df.filter(F.col("score").isNull()).count() == 5, reader.__name__
        assert df.filter(F.col("score").isNotNull()).count() == 5

    # parquet/delta/hudi reads remain row-identical on the union schema
    via_parquet = sorted(
        map(tuple, spark.read.option("mergeSchema", "true").parquet(evolving_dir).select(
            "r_regionkey", "r_name", "score"
        ).collect())
    )
    via_delta = sorted(map(tuple, read_delta_as_df(spark, evolving_dir).select("r_regionkey", "r_name", "score").collect()))
    via_hudi = sorted(map(tuple, read_hudi_as_df(spark, evolving_dir).select("r_regionkey", "r_name", "score").collect()))
    assert via_parquet == via_delta == via_hudi

    # replaying a commit that PRECEDES the schema change must label the
    # change with the historical schema, not the latest one
    # (reference: delta/DeltaConversionSource.java:106 getSnapshotAt)
    from incubator_xtable_spark.sources.delta_source import DeltaConversionSource

    dsrc = DeltaConversionSource(spark, evolving_dir)
    old_change = dsrc.get_table_change_for_commit("0")
    assert "score" not in [f.name for f in old_change.table.read_schema.fields]
    new_change = dsrc.get_table_change_for_commit("1")
    assert "score" in [f.name for f in new_change.table.read_schema.fields]
