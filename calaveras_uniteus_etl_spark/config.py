"""Engine configuration: file routing, PHI policy, ETL knobs.

The reference's configurable settings (reference core/config.py:
116-152). Its per-table registries (expected, required, primary-key
and PHI fields, :162-223 and :325-382) are flags on the declared
columns in ``schema.py``, so each table is stated once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- file routing (core/config.py:125-129) ---------------------------------

FILENAME_PREFIXES = ("SAMPLE", "TEST", "CHHSCA")
FILE_PATTERNS = ("*.txt", "*.csv", "*.tsv")


# --- PHI hashing policy (core/config.py:150-152) ----------------------------


@dataclass(frozen=True)
class PHIConfig:
    """Whether ingest hashes the declared PHI columns, and the salt."""

    enabled: bool = True
    salt: str = "calaveras-spark-salt"


# --- ETL knobs (core/config.py:116-119) -------------------------------------


@dataclass(frozen=True)
class ETLConfig:
    input_dir: str = "data/input"
    warehouse_dir: str = "data/warehouse"
    phi: PHIConfig = field(default_factory=PHIConfig)
    latest_file_only: bool = False
    skip_processed: bool = True
