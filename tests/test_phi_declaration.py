"""PHI and join keys under the declared flags: each side of every join
the reports make is hashed alike, so the reports still join after an
ingest with the default ``PHIConfig``, and the declared PHI columns are
stored as hashes."""

from __future__ import annotations

import re

import pytest

from calaveras_uniteus_etl_spark.config import ETLConfig
from calaveras_uniteus_etl_spark.etl import ingest
from calaveras_uniteus_etl_spark.reports import handlers as H
from calaveras_uniteus_etl_spark.schema import PHI_COLUMNS, TABLE_SCHEMAS
from calaveras_uniteus_etl_spark.sources.discovery import TaskStatus
from calaveras_uniteus_etl_spark.warehouse import Warehouse

# the (table, column) pairs that reports/handlers.py and reports/views.py
# join on; person_id pairs every table that carries it with people
JOINS = [
    *((("people", "person_id"), (t, "person_id")) for t, s in TABLE_SCHEMAS.items()
      if t != "people" and "person_id" in s.names and t in PHI_COLUMNS),
    (("cases", "case_id"), ("referrals", "case_id")),
    (("cases", "case_id"), ("assistance_requests", "case_id")),
    (("assistance_requests", "assistance_request_id"),
     ("assistance_requests_supplemental_responses", "assistance_request_id")),
    (("employees", "employee_id"), ("cases", "primary_worker_id")),
    (("employees", "employee_id"), ("resource_list_shares", "shared_by_employee_id")),
    (("resource_lists", "id"), ("resource_list_shares", "resource_list_id")),
]

FILES = {
    "employees": "employee_id|employee_first_name|employee_last_name|provider_name\ne1|Ada|Byron|Acme\n",
    "people": "person_id|first_name|last_name|ssn|address_line_1\n"
              "p1|John|Doe|123-45-6789|1 Main St\np2|Jane|Roe|987-65-4321|2 Oak Ave\n",
    "cases": "case_id|person_id|case_status|primary_worker_id|outcome\nc1|p1|active|e1|resolved\nc2|p2|open|e1|\n",
    "assistance_requests": "assistance_request_id|case_id|person_id|person_ssn\na1|c1|p1|123-45-6789\n",
    "resource_lists": "id|person_id|created_at\nl1|p1|2024-01-01 10:00:00\nl2|p2|2024-01-02 10:00:00\n",
    "resource_list_shares": "id|resource_list_id|person_id|shared_by_employee_id|created_at\n"
                            "s1|l1|p1|e1|2024-01-03 10:00:00\n",
}


def test_join_pairs_share_the_phi_flag():
    for (lt, lc), (rt, rc) in JOINS:
        assert lc in TABLE_SCHEMAS[lt].names and rc in TABLE_SCHEMAS[rt].names
        assert (lc in PHI_COLUMNS[lt]) == (rc in PHI_COLUMNS[rt]), (lt, lc, rt, rc)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """One file per table, ingested with the default PHIConfig."""
    root = tmp_path_factory.mktemp("phi")
    (root / "input").mkdir()
    for table, body in FILES.items():
        (root / "input" / f"{table}_20240101.txt").write_text(body)
    cfg = ETLConfig(input_dir=str(root / "input"), warehouse_dir=str(root / "wh"))
    assert cfg.phi.enabled
    report = ingest(spark, cfg)
    assert [t.status for t in report.tasks] == [TaskStatus.COMPLETED] * len(FILES)
    wh = Warehouse(spark, cfg.warehouse_dir)
    return {t: wh.read(t) for t in FILES}


def test_employee_workload_joins_hashed_workers(tables):
    rows = H.employee_workload(tables["employees"], tables["cases"]).collect()
    assert [tuple(r) for r in rows] == [("Ada Byron", "Acme", 1, 2, 1, 50.0)]


def test_shared_list_reach_counts_the_shared_list(tables):
    reach = H.shared_list_reach(tables["resource_lists"], tables["resource_list_shares"]).collect()
    assert sorted(tuple(r) for r in reach) == [("never shared", 1, 0), ("shared once", 1, 1)]


def test_top_sharing_employees_names_the_sharer(tables):
    [top] = H.top_sharing_employees(tables["resource_list_shares"], tables["employees"]).collect()
    assert tuple(top) == ("Ada Byron", 1, 1, 1)


def test_declared_phi_columns_hold_hashes(tables):
    stored = [
        *tables["people"].select("ssn", "address_line_1").collect(),
        *tables["assistance_requests"].select("person_ssn").collect(),
        *tables["resource_lists"].select("person_id").collect(),
    ]
    values = [v for row in stored for v in row]
    assert len(values) == 7
    assert all(re.fullmatch("[0-9a-f]{64}", v) for v in values), values
