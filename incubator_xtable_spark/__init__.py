"""incubator_xtable_spark — a PySpark-native engine with the capabilities of
Apache XTable (incubating), rebuilt from scratch Spark-first.

The reference (apache/incubator-xtable, read-only at /root/reference) is a
metadata-plane converter between lakehouse table formats. This package
re-expresses its capability surface in idiomatic PySpark:

- ``model``      canonical table/schema/stats model (StructType + dataclasses)
- ``sources``    per-format metadata readers -> file-inventory Arrow tables
- ``targets``    per-format metadata committers (Delta log protocol, ...)
- ``sync``       full/incremental sync controller + bookmark protocol
- ``operators``  large-scale data-pipeline operators (dedup, ANN, text, asof)
- ``functions``  scalar/column helpers shared across the engine
- ``plans``      the query registry: every claimed capability as a
                 (Spark DataFrame builder, DuckDB oracle SQL) pair
- ``streaming``  Structured Streaming incremental pipelines
"""

__version__ = "0.1.0"
