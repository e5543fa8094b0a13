"""Validation model + table-integrity checks.

Reference parity: model/validation/ValidationCheck.java, ValidationResult.java
(result dataclasses) — plus engine-side integrity checks the reference
leaves to its differential tests: every committed target must (a) list
only files that exist, (b) agree with the source on row counts.
"""

from __future__ import annotations

import enum
import os
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import SparkSession


class ValidationCheckType(str, enum.Enum):
    FILES_EXIST = "FILES_EXIST"
    ROW_COUNT_MATCH = "ROW_COUNT_MATCH"
    METADATA_READABLE = "METADATA_READABLE"
    SPEC_CONFORMANT = "SPEC_CONFORMANT"


@dataclass
class ValidationResult:
    check: ValidationCheckType
    passed: bool
    detail: Optional[str] = None


@dataclass
class TableValidationReport:
    base_path: str
    table_format: str
    results: list[ValidationResult] = field(default_factory=list)

    @property
    def passed(self) -> bool:
        return all(r.passed for r in self.results)


def validate_target(
    spark: SparkSession,
    base_path: str,
    table_format: str,
    expected_rows: Optional[int] = None,
    conformance: bool = False,
) -> TableValidationReport:
    """Run the integrity checks against a converted target.

    ``conformance=True`` additionally runs the spec-conformance layer
    (model/conformance.py — structural checks written from the public
    format specs, the stand-in for the reference's official-reader gate,
    ref ITConversionController.java:948-1026)."""
    report = TableValidationReport(base_path=base_path, table_format=table_format)
    if conformance:
        from incubator_xtable_spark.model.conformance import check_conformance

        try:
            conf = check_conformance(spark, base_path, table_format)
            report.results.append(
                ValidationResult(
                    ValidationCheckType.SPEC_CONFORMANT,
                    conf.passed,
                    None
                    if conf.passed
                    else "; ".join(f"{i.code}@{i.where}" for i in conf.issues[:5]),
                )
            )
        except Exception as exc:  # noqa: BLE001
            report.results.append(
                ValidationResult(ValidationCheckType.SPEC_CONFORMANT, False, str(exc))
            )

    try:
        if table_format == "DELTA":
            from incubator_xtable_spark.sources.delta_source import live_adds, read_delta_as_df

            paths = list(live_adds(base_path))
            abs_paths = [p if p.startswith("/") else os.path.join(base_path, p) for p in paths]
            reader = read_delta_as_df
        elif table_format == "HUDI":
            from incubator_xtable_spark.sources.hudi_source import (
                live_files_rows,
                read_hudi_as_df,
            )

            abs_paths = [os.path.join(base_path, r["path"]) for r in live_files_rows(base_path)]
            reader = read_hudi_as_df
        elif table_format == "ICEBERG":
            from incubator_xtable_spark.sources.iceberg_source import (
                IcebergConversionSource,
                read_iceberg_as_df,
            )

            src = IcebergConversionSource(spark, base_path)
            snap = src.get_current_snapshot()
            abs_paths = snap.files.column("physical_path").to_pylist()
            reader = read_iceberg_as_df
        elif table_format == "PAIMON":
            from incubator_xtable_spark.sources.paimon_source import (
                PaimonConversionSource,
                read_paimon_as_df,
            )

            snap = PaimonConversionSource(spark, base_path).get_current_snapshot()
            abs_paths = snap.files.column("physical_path").to_pylist()
            reader = read_paimon_as_df
        else:
            raise ValueError(f"unsupported format {table_format}")
        report.results.append(ValidationResult(ValidationCheckType.METADATA_READABLE, True))
    except Exception as exc:  # noqa: BLE001
        report.results.append(
            ValidationResult(ValidationCheckType.METADATA_READABLE, False, str(exc))
        )
        return report

    missing = [p for p in abs_paths if not os.path.exists(p)]
    report.results.append(
        ValidationResult(
            ValidationCheckType.FILES_EXIST,
            not missing,
            None if not missing else f"{len(missing)} missing, first: {missing[:3]}",
        )
    )

    if expected_rows is not None:
        try:
            actual = reader(spark, base_path).count()
            report.results.append(
                ValidationResult(
                    ValidationCheckType.ROW_COUNT_MATCH,
                    actual == expected_rows,
                    f"expected={expected_rows} actual={actual}",
                )
            )
        except Exception as exc:  # noqa: BLE001
            report.results.append(
                ValidationResult(ValidationCheckType.ROW_COUNT_MATCH, False, str(exc))
            )
    return report
