"""Reading the model's Arrow channels (snapshot and change inventories,
row deletes) in tests."""

from __future__ import annotations

from incubator_xtable_spark.model.core import table_rows


def model_rows(table, *columns: str) -> list[dict]:
    """The rows of a model table as dicts, map columns as dicts; only
    ``columns`` when any are named."""
    return table_rows(table.select(list(columns)) if columns else table)
