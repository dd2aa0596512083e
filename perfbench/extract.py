"""Seeded UniteUs extract generator: a full load and its daily deltas.

Writes pipe-delimited ``CHHSCA_<table>_<YYYYMMDD>.txt`` files for the
four domain tables the report routes read (people, cases, referrals,
assistance requests), the way the nightly SFTP drop delivers them, and
returns what a correct ingest must report for each job: completed
files with their inserted/updated row counts, skipped files and failed
files.

Every file carries dirty rows the cleaning layer has to handle
(fully-null rows, rows without a primary key, padded whitespace,
``NULL``/``nan`` sentinels, cp1252 mojibake, unparseable dates and
numbers) and in-file duplicate primary keys. In the full extract the
duplicates differ only in padding, so any keep-one rule yields the same
row; in deltas they differ in content and the later line must win.

Only ``random.Random(seed)`` feeds the values, so one seed always
gives byte-identical files.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

BASE_DAY = datetime(2025, 3, 1)
PREFIX = "CHHSCA"

SERVICE_TYPES = (
    "Housing", "Food", "Employment", "Health", "Transportation", "Legal",
    "Utilities", "Education", "Benefits", "Mental Health",
)
SUBTYPES = ("Emergency", "Ongoing", "Referral Only", "Assessment")
CASE_STATUSES = ("open", "managed", "processed", "closed", "resolved", "active", "pending")
REFERRAL_STATUSES = ("pending", "sent", "accepted", "declined", "recalled", "completed", "off_platform")
OUTCOMES = ("resolved", "unresolved", "referred_out", None)
NETWORKS = ("Calaveras Care", "Gold Country", "Sierra Net", "Mother Lode")
PROVIDERS = tuple(f"Provider {i:02d}" for i in range(1, 31))
PROGRAMS = tuple(f"Program {c}" for c in "ABCDEFGHIJKL")
CITIES = (
    ("San Andreas", "95249"), ("Angels Camp", "95222"), ("Murphys", "95247"),
    ("Valley Springs", "95252"), ("Arnold", "95223"), ("Copperopolis", "95228"),
    ("Mokelumne Hill", "95245"), ("West Point", "95255"), ("Wallace", "95254"),
    ("Mountain Ranch", "95246"), ("Rail Road Flat", "95248"), ("Glencoe", "95232"),
)
FIRST = ("Ana", "Ben", "Carla", "Dev", "Elena", "Frank", "Gia", "Hugo", "Iris",
         "José", "Kim", "Luis", "Maya", "Noah", "Olga", "Pat", "Quinn", "Rosa")
LAST = ("Garcia", "Smith", "Nguyen", "Johnson", "Lopez", "Brown", "Kim",
        "Oâ€™Brien", "Martinez", "Davis", "Wilson", "Hernandez")
GENDERS = ("female", "male", "non-binary", None)
RACES = ("white", "hispanic", "asian", "black", "native", "other", None)
LANGS = ("English", "Spanish", "Tagalog", "Vietnamese")
HOUSING = ("stable", "at risk", "homeless", "temporary", None)
EMPLOYMENT = ("employed", "unemployed", "retired", "student")
MIL_AFFIL = ("veteran", "active duty", "family member", None)
MIL_BRANCH = ("Army", "Navy", "Air Force", "Marines", None)

# (table, primary key, columns). Every column is declared in schema.py,
# so every file passes schema validation except the deliberately bad one.
TABLES = {
    "people": ("person_id", (
        "person_id", "first_name", "last_name", "gender", "race", "preferred_language",
        "date_of_birth", "gross_monthly_income", "household_size", "medicaid_id",
        "city", "county", "state", "postal_code", "people_created_at", "people_updated_at",
    )),
    "cases": ("case_id", (
        "case_id", "person_id", "case_status", "case_created_at", "case_updated_at",
        "case_opened_at", "case_closed_at", "service_type", "service_subtype",
        "provider_name", "program_name", "network_name", "outcome", "is_sensitive",
    )),
    "referrals": ("referral_id", (
        "referral_id", "person_id", "case_id", "referral_status", "referral_created_at",
        "referral_updated_at", "sent_at", "accepted_at", "completed_at", "service_type",
        "sending_network_name", "sending_provider_name", "sending_program_name",
        "receiving_network_name", "receiving_provider_name", "receiving_program_name",
    )),
    "assistance_requests": ("assistance_request_id", (
        "assistance_request_id", "case_id", "person_id", "service_type", "provider_name",
        "created_at", "updated_at", "person_first_name", "person_last_name",
        "person_gender", "housing_current_status", "employment_status", "household_size",
        "mil_is_veteran", "mil_affiliation", "mil_branch", "city", "county", "state",
    )),
}

# rows per person in the full extract
RATIOS = {"people": 1.0, "cases": 2.0, "referrals": 3.0, "assistance_requests": 1.0}
# A delta (a sync tick) re-sends 1% of the live rows of one of these
# tables, in turn, and adds 5% new ones; the summary report counts both.
DELTA_TABLES = ("cases", "referrals")
UPDATE_SHARE = 0.01
INSERT_SHARE = 0.05
BAD_COLUMN = "person_priority"  # not declared for people


@dataclass
class Job:
    """One delivery and what a correct ingest of it reports."""

    day: str
    files: list[str] = field(default_factory=list)  # written for this job
    # file name -> (inserted, updated) for files that must complete
    expect_completed: dict[str, tuple[int, int]] = field(default_factory=dict)
    expect_skipped: set[str] = field(default_factory=set)
    expect_failed: set[str] = field(default_factory=set)
    input_rows: int = 0  # data lines in this job's new files
    input_bytes: int = 0


@dataclass
class Extract:
    """A full load followed by delta jobs, plus the live key sets."""

    input_dir: str
    jobs: list[Job]
    keys: dict[str, list[str]]  # table -> live primary keys (raw)


def _ts(rng: random.Random, lo_days: int = -720, hi_days: int = 0) -> datetime:
    return BASE_DAY + timedelta(days=rng.randint(lo_days, hi_days), seconds=rng.randint(0, 86399))


def _fmt(v) -> str:
    if v is None:
        return ""
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class _Gen:
    def __init__(self, seed: int, people: int):
        self.rng = random.Random(seed)
        self.n = {t: max(4, int(people * r)) for t, r in RATIOS.items()}
        self.next_id = {t: 0 for t in TABLES}
        self.keys: dict[str, list[str]] = {t: [] for t in TABLES}

    def new_key(self, table: str) -> str:
        self.next_id[table] += 1
        return f"{table[:3].upper()}{self.next_id[table]:08d}"

    def pick(self, table: str) -> str | None:
        keys = self.keys[table]
        return self.rng.choice(keys) if keys else None

    def row(self, table: str, key: str, version: int = 0) -> dict:
        r = self.rng
        created = _ts(r)
        updated = created + timedelta(days=r.randint(0, 60) + version, seconds=version)
        city, postal = r.choice(CITIES)
        if table == "people":
            return {
                "person_id": key, "first_name": r.choice(FIRST), "last_name": r.choice(LAST),
                "gender": r.choice(GENDERS), "race": r.choice(RACES),
                "preferred_language": r.choice(LANGS),
                "date_of_birth": f"{r.randint(1935, 2020)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}",
                "gross_monthly_income": r.choice((str(r.randint(0, 9000)), "abc", "nan")),
                "household_size": r.randint(1, 8), "medicaid_id": f"M{r.randint(0, 10**8):08d}",
                "city": city, "county": "Calaveras", "state": "CA", "postal_code": postal,
                "people_created_at": created, "people_updated_at": updated,
            }
        if table == "cases":
            closed = updated if r.random() < 0.4 else None
            return {
                "case_id": key, "person_id": self.pick("people"),
                "case_status": r.choice(CASE_STATUSES), "case_created_at": created,
                "case_updated_at": updated, "case_opened_at": created, "case_closed_at": closed,
                "service_type": r.choice(SERVICE_TYPES), "service_subtype": r.choice(SUBTYPES),
                "provider_name": r.choice(PROVIDERS), "program_name": r.choice(PROGRAMS),
                "network_name": r.choice(NETWORKS),
                "outcome": r.choice(OUTCOMES) if closed else None,
                "is_sensitive": r.random() < 0.1,
            }
        if table == "referrals":
            status = r.choice(REFERRAL_STATUSES)
            sent = created + timedelta(hours=r.randint(0, 48))
            return {
                "referral_id": key, "person_id": self.pick("people"), "case_id": self.pick("cases"),
                "referral_status": status, "referral_created_at": created,
                "referral_updated_at": updated, "sent_at": sent,
                "accepted_at": sent + timedelta(days=1) if status in ("accepted", "completed") else None,
                "completed_at": updated if status == "completed" else None,
                "service_type": r.choice(SERVICE_TYPES),
                "sending_network_name": r.choice(NETWORKS), "sending_provider_name": r.choice(PROVIDERS),
                "sending_program_name": r.choice(PROGRAMS),
                "receiving_network_name": r.choice(NETWORKS),
                "receiving_provider_name": r.choice(PROVIDERS),
                "receiving_program_name": r.choice(PROGRAMS),
            }
        if table == "assistance_requests":
            vet = r.random() < 0.15
            return {
                "assistance_request_id": key, "case_id": self.pick("cases"),
                "person_id": self.pick("people"), "service_type": r.choice(SERVICE_TYPES),
                "provider_name": r.choice(PROVIDERS), "created_at": created, "updated_at": updated,
                "person_first_name": r.choice(FIRST), "person_last_name": r.choice(LAST),
                "person_gender": r.choice(GENDERS), "housing_current_status": r.choice(HOUSING),
                "employment_status": r.choice(EMPLOYMENT), "household_size": r.randint(1, 8),
                "mil_is_veteran": vet, "mil_affiliation": r.choice(MIL_AFFIL) if vet else None,
                "mil_branch": r.choice(MIL_BRANCH) if vet else None,
                "city": city, "county": "Calaveras", "state": "CA",
            }
        raise ValueError(f"no generator for table {table!r}")

    def dirty(self, table: str, cols: tuple[str, ...], row: dict) -> list[str]:
        """Render one row, roughening non-key values the cleaner repairs."""
        r = self.rng
        out = []
        for c in cols:
            v = _fmt(row[c])
            if c != TABLES[table][0] and v:
                roll = r.random()
                if roll < 0.02:
                    v = f"  {v} "
                elif roll < 0.03:
                    v = r.choice(("NULL", "nan", "None"))
                elif roll < 0.035 and c.endswith("_at"):
                    v = "not-a-date"
            out.append(v)
        return out

    def write(self, path: str, table: str, rows: list[list[str]], extra_col: str | None = None) -> int:
        cols = list(TABLES[table][1]) + ([extra_col] if extra_col else [])
        lines = ["|".join(cols)]
        lines += ["|".join(r) for r in rows]
        data = ("\n".join(lines) + "\n").encode("utf-8")
        with open(path, "wb") as f:
            f.write(data)
        return len(data)

    def file_rows(self, table: str, updates: list[str], inserts: int, delta: bool) -> tuple[list[list[str]], int, int]:
        """Rows for one file: returns (rendered rows, inserted, updated)."""
        r = self.rng
        key_col, cols = TABLES[table]
        version = 1 if delta else 0
        rows: list[list[str]] = []
        dups: list[list[str]] = []
        new_keys = [self.new_key(table) for _ in range(inserts)]
        # new keys join the live set first so later tables can reference them
        self.keys[table].extend(new_keys)
        for key in updates + new_keys:
            rendered = self.dirty(table, cols, self.row(table, key, version))
            rows.append(rendered)
            if r.random() < 0.01:
                if delta:
                    # a later, different version of the same key: must win
                    dups.append(self.dirty(table, cols, self.row(table, key, version + 1)))
                else:
                    # padding-only duplicate: trims to the same row
                    dups.append([v if c == key_col or not v else f" {v}" for c, v in zip(cols, rendered)])
        r.shuffle(rows)
        # duplicates go after every first version, so the later line is the later version
        rows += dups
        # dirty rows that never become table rows: fully null, and no key
        for _ in range(max(1, len(rows) // 200)):
            rows.insert(r.randrange(len(rows) + 1), [""] * len(cols))
            no_key = self.dirty(table, cols, self.row(table, "x", version))
            no_key[0] = r.choice(("", "NULL"))
            rows.insert(r.randrange(len(rows) + 1), no_key)
        return rows, len(new_keys), len(updates)


def _day(i: int) -> str:
    return (BASE_DAY + timedelta(days=i)).strftime("%Y%m%d")


def file_name(table: str, day: str) -> str:
    return f"{PREFIX}_{table}_{day}.txt"


def generate(input_dir: str, seed: int, people: int) -> tuple[Extract, "_Gen"]:
    """Write the full extract (job 0), one file per domain table, into
    ``input_dir``, the SFTP mirror."""
    g = _Gen(seed, people)
    os.makedirs(input_dir, exist_ok=True)
    full = Job(day=_day(0))
    for table in TABLES:
        rows, ins, upd = g.file_rows(table, [], g.n[table], delta=False)
        full.expect_completed[file_name(table, full.day)] = (ins, upd)
        _write(g, input_dir, full, table, rows)
    return Extract(input_dir=input_dir, jobs=[full], keys=g.keys), g


def make_delta(extract: Extract, g: "_Gen") -> Job:
    """Write the next delta job into the mirror for the next of the
    ``DELTA_TABLES`` in turn: ``UPDATE_SHARE`` of its live keys re-sent
    with new content, plus ``INSERT_SHARE`` new keys. The first delta also carries a people
    file with an undeclared column, which must fail its schema check. Every earlier file stays in the mirror unchanged,
    so the job re-sees each of them: it must skip the loaded ones and
    fail the rejected ones again."""
    job = Job(day=_day(len(extract.jobs)))
    for earlier in extract.jobs:
        job.expect_skipped |= set(earlier.expect_completed)
        job.expect_failed |= earlier.expect_failed
    table = DELTA_TABLES[(len(extract.jobs) - 1) % len(DELTA_TABLES)]
    live = g.keys[table]
    updates = g.rng.sample(live, max(1, int(len(live) * UPDATE_SHARE)))
    inserts = max(1, int(len(live) * INSERT_SHARE))
    rows, ins, upd = g.file_rows(table, updates, inserts, delta=True)
    job.expect_completed[file_name(table, job.day)] = (ins, upd)
    _write(g, extract.input_dir, job, table, rows)
    if len(extract.jobs) == 1:
        rows, _, _ = g.file_rows("people", [], 3, delta=True)
        # the rejected rows never reach the table
        del g.keys["people"][-3:]
        name = file_name("people", job.day)
        job.input_bytes += g.write(os.path.join(extract.input_dir, name), "people",
                                   [r + ["high"] for r in rows], BAD_COLUMN)
        job.files.append(name)
        job.expect_failed.add(name)
    extract.jobs.append(job)
    return job


def _write(g: "_Gen", input_dir: str, job: Job, table: str, rows: list[list[str]]) -> None:
    name = file_name(table, job.day)
    job.input_bytes += g.write(os.path.join(input_dir, name), table, rows)
    job.input_rows += len(rows)
    job.files.append(name)
