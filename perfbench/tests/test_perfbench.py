"""Tests of the benchmark itself (no Spark session):

    python3 -m pytest perfbench/tests

With ``SPARK_GRAFT_SF_DIR`` pointing at a directory of the engine's
synthetic test corpus (``.../sf0.01``), the star-corpus generator is also
checked against that corpus's tables, column types, row counts and
categorical value domains.
"""

from __future__ import annotations

import io
import json
import math
import os
import re
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

from perfbench import extract, harness

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _spec() -> dict:
    with open(os.path.join(ROOT, "perfbench", "spec.json")) as f:
        return json.load(f)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def _extract(d: str, seed: int, deltas: int = 2) -> extract.Extract:
    ex, g = extract.generate(d, seed, people=200)
    for _ in range(deltas):
        extract.make_delta(ex, g)
    return ex


def test_generator_same_seed_gives_identical_files(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    _extract(str(a), 7)
    _extract(str(b), 7)
    _extract(str(c), 8)
    assert _files(str(a)) == _files(str(b))
    assert _files(str(a)).keys() == _files(str(c)).keys()
    assert _files(str(a)) != _files(str(c))


def test_generator_expectations(tmp_path):
    ex = _extract(str(tmp_path), 3)
    full, first, second = ex.jobs
    assert set(full.expect_completed) == {extract.file_name(t, full.day) for t in extract.TABLES}
    assert not full.expect_skipped and not full.expect_failed
    # the first delta carries the bad-schema file; later ones re-see it
    assert len(first.expect_failed) == 1
    assert second.expect_failed == first.expect_failed
    assert second.expect_skipped == set(full.expect_completed) | set(first.expect_completed)
    (bad,) = first.expect_failed
    with open(tmp_path / bad) as f:
        assert extract.BAD_COLUMN in f.readline()
    # deltas take the delta tables in turn
    for job, table in zip((first, second), extract.DELTA_TABLES):
        assert list(job.expect_completed) == [extract.file_name(table, job.day)]
    table = extract.DELTA_TABLES[1]
    live = len(ex.keys[table])
    ins2, upd2 = second.expect_completed[extract.file_name(table, second.day)]
    assert (ins2, upd2) == (int((live - ins2) * extract.INSERT_SHARE), int((live - ins2) * extract.UPDATE_SHARE))


def test_delta_duplicates_come_after_first_versions(tmp_path):
    ex = _extract(str(tmp_path), 5, deltas=1)
    day = ex.jobs[1].day
    table = extract.DELTA_TABLES[0]
    key_col = extract.TABLES[table][0]
    with open(tmp_path / extract.file_name(table, day)) as f:
        header, *lines = f.read().splitlines()
    k = header.split("|").index(key_col)
    keys = [line.split("|")[k] for line in lines if line.split("|")[k] not in ("", "NULL")]
    dup = {key for key in keys if keys.count(key) > 1}
    last_first = max(keys.index(key) for key in set(keys) - dup) if dup else 0
    for key in dup:
        second = len(keys) - 1 - keys[::-1].index(key)
        assert second > last_first


def test_tail_percentile_is_the_highest_with_ten_samples_beyond():
    ladder = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 65.0, 50.0)
    for n in range(1, 2000):
        p = harness.tail_percentile(n)
        beyond = {q: n - math.ceil(n * q / 100.0) for q in ladder}
        if p is None:
            assert all(b < 10 for b in beyond.values()), n
        else:
            assert beyond[p] >= 10, n
            assert all(beyond[q] < 10 for q in ladder if q > p), n


def test_min_samples_keep_the_tail_rule():
    assert harness.tail_percentile(harness.MIN_SAMPLES) == 65.0


def test_metric_names_units_and_registry_match_benchmark_json():
    b = _benchmark()
    for group, registry in (("end_to_end", harness.END_TO_END), ("per_layer", harness.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in b[group]}
        assert declared == registry
        for name, unit in declared.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), unit
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower" for m in b["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    assert {w["name"] for w in b["workloads"]} == {"dashboard", "analytics"}


def test_spec_maps_every_layer_metric_to_end_to_end_metrics():
    spec = _spec()
    assert set(spec["end_to_end"]) == set(harness.END_TO_END)
    assert set(spec["layer_map"]) == set(harness.PER_LAYER)
    for targets in spec["layer_map"].values():
        assert set(targets) <= set(harness.END_TO_END)


def _emit(trace: bool, **drop) -> list[dict]:
    result = harness.Result(
        attempted=3,
        failures=[],
        end_to_end={k: 1.5 for k in harness.END_TO_END if k not in drop},
        named={"dashboard.sync_s": (2.0, "s")},
        info={"percentile": 65.0, "n": 30},
        per_layer={k: 0.25 for k in harness.PER_LAYER},
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        result.emit("dashboard", trace)
    return [json.loads(line) for line in buf.getvalue().splitlines()]


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_prints_every_metric_with_its_unit(trace):
    named, last = _emit(trace)
    group = "per_layer" if trace else "end_to_end"
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["metrics"] == {
        m["name"]: {"value": last["metrics"][m["name"]]["value"], "unit": m["unit"]} for m in _benchmark()[group]
    }
    assert named["metrics"]["error_rate"] == {"value": 0.0, "unit": "1"}


def test_result_line_refuses_a_missing_metric():
    with pytest.raises(ValueError):
        _emit(False, batch_s=True)


def test_run_fails_without_an_engine(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "dashboard", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_star_embeddings_give_exact_float32_dot_products():
    # x5_cosine_topk's DuckDB oracle sums float32 products; the engine
    # sums doubles. Only exact sums round every cosine alike.
    import numpy as np

    from perfbench import star

    vec = np.array(star.build(0.02, 12)["embeddings"]["embedding"].to_pylist(), dtype=np.float32)
    assert np.array_equal(vec * 64, np.round(vec * 64))
    dots32 = vec[:8] @ vec.T
    assert np.array_equal(dots32.astype(np.float64), vec[:8].astype(np.float64) @ vec.T.astype(np.float64))


@pytest.mark.skipif(not os.environ.get("SPARK_GRAFT_SF_DIR"), reason="needs SPARK_GRAFT_SF_DIR")
def test_star_corpus_matches_the_engine_test_corpus(tmp_path):
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from perfbench import star

    ref = os.environ["SPARK_GRAFT_SF_DIR"]
    # the corpus directories are named sf<scale factor>
    star.write(str(tmp_path), float(os.path.basename(ref.rstrip("/"))[2:]), 1)
    for name in sorted(os.listdir(ref)):
        want = pq.read_metadata(os.path.join(ref, name))
        got = pq.read_metadata(os.path.join(tmp_path, name))
        assert [(f.name, str(f.type)) for f in got.schema.to_arrow_schema()] == [
            (f.name, str(f.type)) for f in want.schema.to_arrow_schema()
        ], name
        assert abs(got.num_rows - want.num_rows) <= 0.05 * want.num_rows, name
        # categorical string columns draw from the same value domain
        ref_table = pq.read_table(os.path.join(ref, name))
        gen_table = pq.read_table(os.path.join(tmp_path, name))
        for col in ref_table.column_names:
            if pa.types.is_string(ref_table[col].type):
                domain = set(pc.unique(ref_table[col]).to_pylist())
                if len(domain) <= 50:
                    assert set(pc.unique(gen_table[col]).to_pylist()) == domain, (name, col)
