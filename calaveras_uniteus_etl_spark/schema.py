"""Declared warehouse tables: the engine's single source of truth.

Mirrors the reference DDL (/root/reference/core/database_schema.py:
19-472) as explicit ``StructType``s — TEXT→string, INTEGER→long,
REAL→double, TIMESTAMP→timestamp, DATE→date, BOOLEAN→boolean (the
type-system mapping from SURVEY.md §1.5). Only analytics-relevant
columns are declared exhaustively; every data table keeps the ETL audit
pair (``etl_loaded_at``/``etl_updated_at``).

Each table is declared once, as its columns in order. A column may
carry flags, the reference's per-table registries (core/config.py:
162-223, 325-382) stated where the column is: ``KEY`` marks the primary
key a load merges on, ``REQ`` a column every delivered file must carry
besides the key, and ``PHI`` a column hashed at ingest. A column that
references another table's key is hashed exactly when that key is, so
joins line up. The data tables are the ones with a key; the bookkeeping
tables have none and are never loaded from a file.

Storage is flat parquet in immutable versions (columnar — an upgrade
over the reference's row store, not a semantic change); see
``warehouse.py``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_S = StringType()
_I = IntegerType()
_L = LongType()
_D = DoubleType()
_TS = TimestampType()
_DT = DateType()
_B = BooleanType()

KEY, REQ, PHI = "key", "required", "phi"

AUDIT_COLUMNS = (("etl_loaded_at", _TS), ("etl_updated_at", _TS))

_COLUMNS = {
    # people — reference core/database_schema.py:44-93
    "people": (
        ("person_id", _S, KEY, PHI),
        ("first_name", _S, PHI),
        ("middle_name", _S, PHI),
        ("last_name", _S, PHI),
        ("preferred_name", _S, PHI),
        ("person_consent_status", _S),
        ("date_of_birth", _DT),
        ("gender", _S),
        ("sexuality", _S),
        ("race", _S),
        ("ethnicity", _S),
        ("marital_status", _S),
        ("preferred_language", _S),
        ("communication_preference", _S),
        ("gross_monthly_income", _D),
        ("household_size", _L),
        ("number_of_adults", _L),
        ("number_of_children", _L),
        ("ssn", _S, PHI),
        ("medicaid_id", _S, PHI),
        ("medicare_id", _S, PHI),
        ("address_line_1", _S, PHI),
        ("city", _S),
        ("county", _S),
        ("state", _S),
        ("postal_code", _S),
        ("people_created_at", _TS),
        ("people_updated_at", _TS),
        *AUDIT_COLUMNS,
    ),
    # employees — core/database_schema.py:99-118
    "employees": (
        ("employee_id", _S, KEY, PHI),
        ("employee_first_name", _S),
        ("employee_last_name", _S),
        ("employee_email", _S),
        ("provider_name", _S),
        ("network_name", _S),
        ("employee_status", _S),
        ("employee_created_at", _TS),
        *AUDIT_COLUMNS,
    ),
    # cases — core/database_schema.py:125-158
    "cases": (
        ("case_id", _S, KEY, PHI),
        ("person_id", _S, REQ, PHI),
        ("case_status", _S),
        ("case_created_at", _TS),
        ("case_updated_at", _TS),
        ("case_opened_at", _TS),
        ("case_closed_at", _TS),
        ("service_type", _S),
        ("service_subtype", _S),
        ("provider_name", _S),
        ("program_name", _S),
        ("network_name", _S),
        ("primary_worker_id", _S, PHI),
        ("outcome", _S),
        ("outcome_notes", _S),
        ("is_sensitive", _B),
        *AUDIT_COLUMNS,
    ),
    # referrals — core/database_schema.py:166-204
    "referrals": (
        ("referral_id", _S, KEY, PHI),
        ("person_id", _S, PHI),
        ("case_id", _S, PHI),
        ("referral_status", _S),
        ("referral_created_at", _TS),
        ("referral_updated_at", _TS),
        ("sent_at", _TS),
        ("accepted_at", _TS),
        ("declined_at", _TS),
        ("recalled_at", _TS),
        ("completed_at", _TS),
        ("service_type", _S),
        ("sending_network_name", _S),
        ("sending_provider_name", _S),
        ("sending_program_name", _S),
        ("receiving_network_name", _S),
        ("receiving_provider_name", _S),
        ("receiving_program_name", _S),
        *AUDIT_COLUMNS,
    ),
    # assistance_requests — core/database_schema.py:211-284 (analytics subset)
    "assistance_requests": (
        ("assistance_request_id", _S, KEY, PHI),
        ("case_id", _S, PHI),
        ("person_id", _S, PHI),
        ("service_type", _S),
        ("provider_name", _S),
        ("created_at", _TS),
        ("updated_at", _TS),
        ("person_first_name", _S, PHI),
        ("person_last_name", _S, PHI),
        ("person_ssn", _S, PHI),
        ("person_gender", _S),
        ("person_race", _S),
        ("housing_current_status", _S),  # reference name, database_schema.py:273
        ("employment_status", _S),
        ("education_status", _S),
        ("household_size", _L),
        ("mil_is_veteran", _B),
        ("mil_active_duty", _B),
        ("mil_affiliation", _S),
        ("mil_branch", _S),
        ("mil_service_start_date", _DT),
        ("city", _S),
        ("county", _S),
        ("state", _S),
        *AUDIT_COLUMNS,
    ),
    # assistance_requests_supplemental_responses — core/database_schema.py:290-305
    "assistance_requests_supplemental_responses": (
        ("ar_supplemental_response_id", _S, KEY, PHI),
        ("assistance_request_id", _S, PHI),
        ("question", _S),
        ("response", _S),
        ("created_at", _TS),
        *AUDIT_COLUMNS,
    ),
    # resource_lists — core/database_schema.py:310-328
    "resource_lists": (
        ("id", _S, KEY),
        ("person_id", _S, PHI),
        ("provider_name", _S),
        ("program_name", _S),
        ("service_type", _S),
        ("created_at", _TS),
        *AUDIT_COLUMNS,
    ),
    # resource_list_shares — core/database_schema.py:334-360
    "resource_list_shares": (
        ("id", _S, KEY),
        ("resource_list_id", _S),
        ("person_id", _S, PHI),
        ("shared_by_employee_id", _S, PHI),
        ("shared_to", _S),
        ("share_method", _S),
        ("share_language", _S),
        ("created_at", _TS),
        *AUDIT_COLUMNS,
    ),
    # etl_metadata — core/database_schema.py:22-37 (load bookkeeping)
    "etl_metadata": (
        ("file_name", _S),
        ("table_name", _S),
        ("file_date", _S),
        ("file_hash", _S),
        ("row_count", _L),
        ("rows_inserted", _L),
        ("rows_updated", _L),
        ("status", _S),
        ("error_message", _S),
        ("trigger", _S),
        ("started_at", _TS),
        ("completed_at", _TS),
    ),
    # data_quality_issues — core/database_schema.py:366-377
    "data_quality_issues": (
        ("table_name", _S),
        ("file_name", _S),
        ("issue_type", _S),
        ("column_name", _S),
        ("issue_count", _L),
        ("details", _S),
        ("created_at", _TS),
    ),
    # sftp_cache — core/database_schema.py:383-389 (remote listing snapshots;
    # the autoincrement id is dropped — sync_time orders snapshots)
    "sftp_cache": (
        ("sync_time", _TS),
        ("file_list", _S),
        ("file_count", _L),
        ("synced_by", _S),
    ),
    # automated_sync_config — the single sync-schedule row (core/app.py:
    # 221-310, 1569-1648), read and written by ``sync.py``
    "automated_sync_config": (
        ("id", _I),
        ("enabled", _B),
        ("interval_minutes", _I),
        ("last_run", _S),
        ("next_run", _S),
        ("updated_at", _S),
        ("updated_by", _S),
    ),
    # schema_errors — core/internal_schema.py:188-200
    "schema_errors": (
        ("file_name", _S),
        ("table_name", _S),
        ("error_type", _S),
        ("column_name", _S),
        ("severity", _S),
        ("suggestion", _S),
        ("created_at", _TS),
    ),
}

TABLE_SCHEMAS: dict[str, StructType] = {
    table: StructType([StructField(n, t, True) for n, t, *_ in cols])
    for table, cols in _COLUMNS.items()
}


def _flagged(*flags: str) -> dict[str, tuple[str, ...]]:
    """Per table, its columns that carry any of ``flags``, in order."""
    return {
        table: tuple(n for n, _, *on in cols if set(on) & set(flags))
        for table, cols in _COLUMNS.items()
    }


# the data tables, each merged on its primary key
PRIMARY_KEYS = {table: key for table, key in _flagged(KEY).items() if key}
# the columns a delivered file must carry: its key and its REQ columns
REQUIRED_COLUMNS = {t: cols for t, cols in _flagged(KEY, REQ).items() if t in PRIMARY_KEYS}
PHI_COLUMNS = {t: cols for t, cols in _flagged(PHI).items() if t in PRIMARY_KEYS}
