"""Ingest-time schema governance (SURVEY.md §1.4; reference
/root/reference/core/schema_validator.py:141-314).

Compares a file's header columns against the declared table schema:

- a table that is not one of the declared data tables (the ones with a
  primary key) → critical ``missing_table`` (with a suggested column
  list, the DDL-generation analog); the bookkeeping tables
  ``etl_metadata``, ``data_quality_issues``, ``schema_errors``,
  ``sftp_cache`` and ``automated_sync_config`` are declared but never
  loaded from a file
- a key or ``REQ`` column absent from the file → critical
  ``missing_required_column`` (reference core/config.py:325-334)
- file column absent from the declared schema → critical
  ``missing_column`` (suggested type inferred from name heuristics)
- declared column absent from the file → warning (NULL-filled)

Critical errors fail the file load, mirroring the reference's
behavior (core/etl_service.py:439-513).
"""

from __future__ import annotations

from dataclasses import dataclass

from calaveras_uniteus_etl_spark.schema import REQUIRED_COLUMNS, TABLE_SCHEMAS

# column-name → type heuristics (reference schema_validator.py:285-292)
_NAME_TYPE_HINTS = (
    (("_at", "_date", "date_of_"), "timestamp"),
    (("_count", "number_of", "_size", "household"), "bigint"),
    (("income", "amount", "price", "balance"), "double"),
    (("is_", "has_", "mil_is", "_flag"), "boolean"),
)


def infer_type_from_name(column: str) -> str:
    lowered = column.lower()
    for needles, t in _NAME_TYPE_HINTS:
        if any(n in lowered for n in needles):
            return t
    return "string"


@dataclass(frozen=True)
class SchemaIssue:
    # missing_table | missing_required_column | missing_column | extra_column
    error_type: str
    severity: str  # critical | warning
    table_name: str
    column_name: str | None
    suggestion: str


@dataclass
class ValidationResult:
    table_name: str
    issues: list[SchemaIssue]

    @property
    def critical(self) -> list[SchemaIssue]:
        return [i for i in self.issues if i.severity == "critical"]

    @property
    def ok(self) -> bool:
        return not self.critical


def validate_schema(table_name: str, file_columns: list[str]) -> ValidationResult:
    issues: list[SchemaIssue] = []
    expected = REQUIRED_COLUMNS.get(table_name)
    if expected is None:
        fields = ", ".join(
            f'("{c}", {infer_type_from_name(c)})' for c in file_columns
        )
        issues.append(
            SchemaIssue(
                error_type="missing_table",
                severity="critical",
                table_name=table_name,
                column_name=None,
                suggestion=(
                    f"{table_name} is not a data table; to load it, declare its "
                    f"columns in schema.py and flag its key KEY: [{fields}]"
                ),
            )
        )
        return ValidationResult(table_name, issues)

    declared_cols = {f.name for f in TABLE_SCHEMAS[table_name].fields}
    file_cols = [c for c in file_columns if not c.startswith("_")]
    for c in expected:
        if c not in file_cols:
            issues.append(
                SchemaIssue(
                    error_type="missing_required_column",
                    severity="critical",
                    table_name=table_name,
                    column_name=c,
                    suggestion=f"file lacks required column '{c}' of {table_name}",
                )
            )
    for c in file_cols:
        if c not in declared_cols:
            issues.append(
                SchemaIssue(
                    error_type="missing_column",
                    severity="critical",
                    table_name=table_name,
                    column_name=c,
                    suggestion=(
                        f"add StructField('{c}', {infer_type_from_name(c)}) "
                        f"to {table_name}"
                    ),
                )
            )
    ingestable = set(file_cols) | set(expected) | {"etl_loaded_at", "etl_updated_at"}
    for c in declared_cols - ingestable:
        issues.append(
            SchemaIssue(
                error_type="extra_column",
                severity="warning",
                table_name=table_name,
                column_name=c,
                suggestion=f"file lacks declared column '{c}'; will load as NULL",
            )
        )
    return ValidationResult(table_name, issues)
