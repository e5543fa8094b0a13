"""Schema-aware Hudi time travel: an as-of read resolves the schema the
AS-OF commit declared (commit extraMetadata), so pre-evolution reads do
not project columns that did not exist yet."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import types as T

from incubator_xtable_spark.model.core import (
    FILE_INVENTORY_ARROW,
    InternalTable,
    TableFormat,
    arrow_table,
)
from incubator_xtable_spark.sources.hudi_source import read_hudi_as_df
from incubator_xtable_spark.targets.hudi_target import (
    HudiConversionTarget,
    list_completed_instants,
)


def test_asof_read_uses_commit_schema(spark, tmp_path):
    base = str(tmp_path / "hudi_evo")
    os.makedirs(base)
    f1 = os.path.join(base, "g1.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), f1)
    s1 = T.StructType([T.StructField("a", T.LongType())])

    def _sync(schema, inv_rows):
        tgt = HudiConversionTarget(spark, base, table_name="evo")
        tgt.begin_sync(
            InternalTable(
                name="evo",
                table_format=TableFormat.HUDI,
                base_path=base,
                read_schema=schema,
            )
        )
        tgt.sync_schema(schema)
        tgt.sync_partition_spec([])
        tgt.sync_files_for_snapshot(
            arrow_table(inv_rows, FILE_INVENTORY_ARROW)
        )
        return tgt.complete_sync()

    def _inv(path, n):
        return (path, "PARQUET", os.path.getsize(path), n, 1, None, None)

    _sync(s1, [_inv(f1, 2)])
    first_instant = list_completed_instants(base)[-1][0]

    f2 = os.path.join(base, "g2.parquet")
    pq.write_table(pa.table({"a": pa.array([3], pa.int64()), "b": pa.array(["x"])}), f2)
    s2 = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    _sync(s2, [_inv(f1, 2), _inv(f2, 1)])

    head = read_hudi_as_df(spark, base)
    assert set(head.columns) == {"a", "b"}
    assert {r["a"]: r["b"] for r in head.collect()} == {1: None, 2: None, 3: "x"}

    old = read_hudi_as_df(spark, base, as_of_instant=first_instant)
    assert set(old.columns) == {"a"}
    assert sorted(r["a"] for r in old.collect()) == [1, 2]
