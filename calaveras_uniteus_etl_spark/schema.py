"""Declared table schemas: the engine's single source of truth.

Mirrors the reference DDL (/root/reference/core/database_schema.py:
19-472) as explicit ``StructType``s — TEXT→string, INTEGER→long,
REAL→double, TIMESTAMP→timestamp, DATE→date, BOOLEAN→boolean (the
type-system mapping from SURVEY.md §1.5). Only analytics-relevant
columns are declared exhaustively; every table keeps the ETL audit
pair (``etl_loaded_at``/``etl_updated_at``).

Storage is partitioned parquet (columnar — an upgrade over the
reference's row store, not a semantic change); see ``warehouse.py``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_S = StringType()
_L = LongType()
_D = DoubleType()
_TS = TimestampType()
_DT = DateType()
_B = BooleanType()


def _t(*fields: tuple[str, DataType]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


AUDIT_COLUMNS = (("etl_loaded_at", _TS), ("etl_updated_at", _TS))

# people — reference core/database_schema.py:44-93
PEOPLE = _t(
    ("person_id", _S),
    ("first_name", _S),
    ("middle_name", _S),
    ("last_name", _S),
    ("preferred_name", _S),
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
    ("ssn", _S),
    ("medicaid_id", _S),
    ("medicare_id", _S),
    ("address_line_1", _S),
    ("city", _S),
    ("county", _S),
    ("state", _S),
    ("postal_code", _S),
    ("people_created_at", _TS),
    ("people_updated_at", _TS),
    *AUDIT_COLUMNS,
)

# employees — core/database_schema.py:99-118
EMPLOYEES = _t(
    ("employee_id", _S),
    ("employee_first_name", _S),
    ("employee_last_name", _S),
    ("employee_email", _S),
    ("provider_name", _S),
    ("network_name", _S),
    ("employee_status", _S),
    ("employee_created_at", _TS),
    *AUDIT_COLUMNS,
)

# cases — core/database_schema.py:125-158
CASES = _t(
    ("case_id", _S),
    ("person_id", _S),
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
    ("primary_worker_id", _S),
    ("outcome", _S),
    ("outcome_notes", _S),
    ("is_sensitive", _B),
    *AUDIT_COLUMNS,
)

# referrals — core/database_schema.py:166-204
REFERRALS = _t(
    ("referral_id", _S),
    ("person_id", _S),
    ("case_id", _S),
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
)

# assistance_requests — core/database_schema.py:211-284 (analytics subset)
ASSISTANCE_REQUESTS = _t(
    ("assistance_request_id", _S),
    ("case_id", _S),
    ("person_id", _S),
    ("service_type", _S),
    ("provider_name", _S),
    ("created_at", _TS),
    ("updated_at", _TS),
    ("person_first_name", _S),
    ("person_last_name", _S),
    ("person_ssn", _S),
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
)

# assistance_requests_supplemental_responses — core/database_schema.py:290-305
AR_SUPPLEMENTAL = _t(
    ("ar_supplemental_response_id", _S),
    ("assistance_request_id", _S),
    ("question", _S),
    ("response", _S),
    ("created_at", _TS),
    *AUDIT_COLUMNS,
)

# resource_lists — core/database_schema.py:310-328
RESOURCE_LISTS = _t(
    ("id", _S),
    ("person_id", _S),
    ("provider_name", _S),
    ("program_name", _S),
    ("service_type", _S),
    ("created_at", _TS),
    *AUDIT_COLUMNS,
)

# resource_list_shares — core/database_schema.py:334-360
RESOURCE_LIST_SHARES = _t(
    ("id", _S),
    ("resource_list_id", _S),
    ("person_id", _S),
    ("shared_by_employee_id", _S),
    ("shared_to", _S),
    ("share_method", _S),
    ("share_language", _S),
    ("created_at", _TS),
    *AUDIT_COLUMNS,
)

# etl_metadata — core/database_schema.py:22-37 (load bookkeeping)
ETL_METADATA = _t(
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
)

# data_quality_issues — core/database_schema.py:366-377
DATA_QUALITY_ISSUES = _t(
    ("table_name", _S),
    ("file_name", _S),
    ("issue_type", _S),
    ("column_name", _S),
    ("issue_count", _L),
    ("details", _S),
    ("created_at", _TS),
)

# sftp_cache — core/database_schema.py:383-389 (remote listing snapshots;
# the autoincrement id is dropped — sync_time orders snapshots)
SFTP_CACHE = _t(
    ("sync_time", _TS),
    ("file_list", _S),
    ("file_count", _L),
    ("synced_by", _S),
)

# schema_errors — core/internal_schema.py:188-200
SCHEMA_ERRORS = _t(
    ("file_name", _S),
    ("table_name", _S),
    ("error_type", _S),
    ("column_name", _S),
    ("severity", _S),
    ("suggestion", _S),
    ("created_at", _TS),
)

TABLE_SCHEMAS: dict[str, StructType] = {
    "people": PEOPLE,
    "employees": EMPLOYEES,
    "cases": CASES,
    "referrals": REFERRALS,
    "assistance_requests": ASSISTANCE_REQUESTS,
    "assistance_requests_supplemental_responses": AR_SUPPLEMENTAL,
    "resource_lists": RESOURCE_LISTS,
    "resource_list_shares": RESOURCE_LIST_SHARES,
    "etl_metadata": ETL_METADATA,
    "data_quality_issues": DATA_QUALITY_ISSUES,
    "schema_errors": SCHEMA_ERRORS,
    "sftp_cache": SFTP_CACHE,
}

