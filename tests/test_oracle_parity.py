"""Differential harness mirroring the driver's correctness gate: run every
registered query through Spark AND its DuckDB oracle, then compare
row-count, column names, and order-insensitive values.

CRITICAL: the comparison goes through *pandas* on both sides, exactly like
the driver — Spark via ``toPandas()`` (where DECIMAL stays ``object`` of
``Decimal`` and prints with trailing zeros), DuckDB via ``.df()`` (where
DECIMAL/HUGEINT become float64). Round-1 lesson: a value-level comparison
that normalizes Decimals locally can pass while the driver's string
canonicalization fails, so this file must NOT normalize — it compares the
``str()`` of the pandas cells verbatim. Queries therefore must emit plain
DOUBLE / BIGINT / STRING / BOOL / TIMESTAMP / DATE output columns
(plans/common.money_out) — never raw DECIMAL, never a raw array column
(unhashable in pandas sort_values).
"""

from __future__ import annotations

import os

import pytest

from incubator_xtable_spark.plans.registry import REGISTRY, _load_all

from .conftest import SF_SMOKE, register_duck_views

SF_DIR = os.environ.get("XT_TEST_SF_DIR", SF_SMOKE)

_load_all()
ORACLE_QUERIES = sorted(name for name, spec in REGISTRY.items() if spec.oracle is not None)


def canon_pdf(pdf):
    """Driver-style canonicalization: sort columns by name, sort rows by all
    columns, then ``astype(str)`` COLUMN-wise (not str() per cell — pandas
    formats an all-midnight datetime64 column date-only, which is how Spark
    ``date`` and DuckDB ``DATE``-as-datetime64 agree). Raises on unsortable
    (array) columns the same way the driver's canonicalizer crashes on them."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    cols = list(pdf.columns)
    if cols and len(pdf):
        pdf = pdf.sort_values(by=cols, kind="mergesort")
    pdf = pdf.astype(str)
    return [tuple(row) for row in pdf.itertuples(index=False)]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    spark_pdf = spec.fn(spark, SF_DIR).toPandas()

    register_duck_views(duck, SF_DIR)
    duck_pdf = duck.execute(spec.oracle).df()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column names differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count differs: spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )

    s_canon = canon_pdf(spark_pdf)
    d_canon = canon_pdf(duck_pdf)
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(s_canon, d_canon)) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatching rows; first: {mismatches[:3]}"


def test_events_funnel_null_user_ids_match_oracle(spark, duck, tmp_path):
    """NULL user_id rows form one viewer group (GROUP BY keeps NULL) but
    never reach the click or purchase step: the oracle's equi-joins drop
    NULL keys, and the single-groupBy plan must do the same."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        # (user_id, event_type, minutes after t0)
        (1, "view", 0), (1, "click", 1), (1, "purchase", 2),
        (2, "view", 0), (2, "click", 5),
        (3, "click", 0), (3, "view", 1),
        (None, "view", 0), (None, "click", 1), (None, "purchase", 2),
        (None, "view", 3), (None, "click", 4),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array(
                    [t0 + datetime.timedelta(minutes=m) for _, _, m in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for u, _, _ in rows], pa.int64()),
                "event_type": [e for _, e, _ in rows],
                "value": pa.array([1.0] * len(rows)),
                "props": ["{}"] * len(rows),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    spec = REGISTRY["events_funnel"]
    spark_pdf = spec.fn(spark, str(tmp_path)).toPandas()
    duck.execute(
        f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    duck_pdf = duck.execute(spec.oracle).df()
    assert canon_pdf(spark_pdf) == canon_pdf(duck_pdf)
    assert spark_pdf.iloc[0]["n_step_view"] == 4  # users 1, 2, 3 and the NULL group
    assert spark_pdf.iloc[0]["n_step_purchase"] == 1
