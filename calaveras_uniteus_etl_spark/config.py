"""Engine configuration: table registry, field classes, PHI policy.

A plain-dict re-expression of the reference's configurable schema
registry (/root/reference/core/config.py:325-382 expected/date/boolean/
required/primary-key maps, :162-223 PHI field config, :125-129 file
patterns). These dicts drive ingest validation, type casting, upsert
keying, and PHI hashing — one source of truth, no framework.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- file routing (core/config.py:125-129) ---------------------------------

FILENAME_PREFIXES = ("SAMPLE", "TEST", "CHHSCA")
FILE_PATTERNS = ("*.txt", "*.csv", "*.tsv")

# --- minimum required columns per table (core/config.py:325-334) -----------

EXPECTED_TABLES: dict[str, list[str]] = {
    "people": ["person_id"],
    "employees": ["employee_id"],
    "cases": ["case_id", "person_id"],
    "referrals": ["referral_id"],
    "assistance_requests": ["assistance_request_id"],
    "assistance_requests_supplemental_responses": ["ar_supplemental_response_id"],
    "resource_lists": ["id"],
    "resource_list_shares": ["id"],
}

# --- per-table primary keys driving upsert (core/config.py:373-382) --------

PRIMARY_KEYS: dict[str, list[str]] = {
    "people": ["person_id"],
    "employees": ["employee_id"],
    "cases": ["case_id"],
    "referrals": ["referral_id"],
    "assistance_requests": ["assistance_request_id"],
    "assistance_requests_supplemental_responses": ["ar_supplemental_response_id"],
    "resource_lists": ["id"],
    "resource_list_shares": ["id"],
}

# --- typed-field classes (core/config.py:337-370) ---------------------------

DATE_FIELDS: dict[str, list[str]] = {
    "people": ["date_of_birth", "people_created_at", "people_updated_at"],
    "cases": [
        "case_created_at",
        "case_updated_at",
        "case_opened_at",
        "case_closed_at",
    ],
    "referrals": [
        "referral_created_at",
        "referral_updated_at",
        "sent_at",
        "accepted_at",
        "declined_at",
        "recalled_at",
        "completed_at",
    ],
    "assistance_requests": ["created_at", "updated_at", "mil_service_start_date"],
}

BOOLEAN_FIELDS: dict[str, list[str]] = {
    "cases": ["is_sensitive"],
    "assistance_requests": ["mil_is_veteran", "mil_active_duty"],
}

REQUIRED_FIELDS: dict[str, list[str]] = {
    "people": ["person_id"],
    "cases": ["case_id"],
    "referrals": ["referral_id"],
}

# --- PHI hashing policy (core/config.py:150-152, 162-223) -------------------


@dataclass(frozen=True)
class PHIConfig:
    enabled: bool = True
    salt: str = "calaveras-spark-salt"
    # Mirrors the reference's fields_to_hash registry verbatim
    # (core/config.py:162-223). Ids hash too — the hash is
    # deterministic, so joins/upserts still line up across tables.
    # Fields absent from a given file are skipped (same guard as
    # the reference's hash_dataframe_fields).
    fields: dict[str, tuple[str, ...]] = field(
        default_factory=lambda: {
            "people": (
                "person_id",
                "first_name",
                "middle_name",
                "last_name",
                "preferred_name",
                "person_email_address",
                "person_phone_number",
                "current_person_address_line1",
                "current_person_address_line2",
                "medicaid_id",
                "medicare_id",
                "person_external_id",
            ),
            "cases": ("case_id", "person_id", "case_external_id"),
            "referrals": (
                "referral_id",
                "case_id",
                "person_id",
                "referral_created_by_id",
                "referral_external_id",
            ),
            "employees": (
                "employee_id",
                "first_name",
                "last_name",
                "email",
                "phone_number",
                "employee_external_id",
            ),
            "assistance_requests": (
                "assistance_request_id",
                "person_id",
                "case_id",
                "person_first_name",
                "person_last_name",
                "person_date_of_birth",
                "person_middle_name",
                "person_preferred_name",
                "person_email_address",
                "person_phone_number",
                "address_line_1",
                "address_line_2",
            ),
            "assistance_requests_supplemental_responses": (
                "ar_supplemental_response_id",
                "assistance_request_id",
            ),
            "resource_lists": ("resource_list_id",),
            "resource_list_shares": (
                "share_id",
                "resource_list_id",
                "person_id",
            ),
        }
    )


# --- ETL knobs (core/config.py:116-119) -------------------------------------


@dataclass(frozen=True)
class ETLConfig:
    input_dir: str = "data/input"
    warehouse_dir: str = "data/warehouse"
    phi: PHIConfig = field(default_factory=PHIConfig)
    latest_file_only: bool = False
    skip_processed: bool = True
