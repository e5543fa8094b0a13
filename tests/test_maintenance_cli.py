"""Maintenance CLI (`python -m incubator_xtable_spark.run_sync
maintenance <action> --path ...`): one subprocess drive of the
delta_optimize action end-to-end, plus in-process argument routing for
the cheap actions (savepoint lifecycle)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from incubator_xtable_spark.model.core import SyncStatusCode, TableFormat
from incubator_xtable_spark.run_sync import run_maintenance
from incubator_xtable_spark.sources.delta_source import (
    list_log_versions,
    live_adds,
    read_delta_as_df,
)
from incubator_xtable_spark.sources.parquet_source import ParquetConversionSource
from incubator_xtable_spark.sync.controller import ConversionController
from incubator_xtable_spark.targets.delta_target import DeltaConversionTarget
from incubator_xtable_spark.targets.hudi_target import (
    HudiConversionTarget,
    list_completed_instants,
)

from .conftest import SF_SMOKE


def test_optimize_via_subprocess(spark, tmp_path):
    d = str(tmp_path / "cli_opt")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").repartition(3).write.parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {TableFormat.DELTA: DeltaConversionTarget(spark, d)},
    )
    assert res[TableFormat.DELTA].status == SyncStatusCode.SUCCESS
    before = sorted(
        r["n_nationkey"] for r in read_delta_as_df(spark, d).select("n_nationkey").collect()
    )

    proc = subprocess.run(
        [
            sys.executable,
            "-m",
            "incubator_xtable_spark.run_sync",
            "maintenance",
            "optimize",
            "--path",
            d,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert len(out["removed"]) == 3 and len(out["added"]) == 1
    assert out["version"] == max(list_log_versions(d))
    assert len(live_adds(d)) == 1
    after = sorted(
        r["n_nationkey"] for r in read_delta_as_df(spark, d).select("n_nationkey").collect()
    )
    assert after == before


def test_savepoint_actions_in_process(spark, tmp_path, capsys):
    d = str(tmp_path / "cli_sp")
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").coalesce(1).write.parquet(d)
    res = ConversionController().sync(
        ParquetConversionSource(spark, d, name="nation"),
        {TableFormat.HUDI: HudiConversionTarget(spark, d, table_name="nation")},
    )
    assert res[TableFormat.HUDI].status == SyncStatusCode.SUCCESS
    instant = list_completed_instants(d)[-1][0]

    assert run_maintenance(["savepoint", "--path", d, "--instant", instant]) == 0
    from incubator_xtable_spark.sync.retention import hudi_list_savepoints

    assert hudi_list_savepoints(d) == [instant]
    assert run_maintenance(["unsavepoint", "--path", d, "--instant", instant]) == 0
    assert hudi_list_savepoints(d) == []
