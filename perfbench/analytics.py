"""``analytics`` workload: a fixed slice of registry queries over a
seeded star-schema corpus.

Set-up starts the session and writes the corpus (``star.py``). A cold
pass over the slice, in slice order, follows: it builds the session indexes (LSH
signatures, embedding index, tokenized corpus ...), whose build time
``IndexProbe`` takes as ``analytics.index_build_s``, and warms the JIT.
The measured part then runs whole passes over the slice, each in a
seeded order, until the run's seconds are up and at least
``harness.MIN_SAMPLES`` queries ran. Every result is collected with
``toPandas()``; after the measured part each result of every pass is
compared with the query's DuckDB oracle, using the canonicalization of
``tests/oracle_harness.py``.
"""

from __future__ import annotations

import random
import time

from perfbench import harness, layers
from perfbench.trace import Tracer, executor_totals, span, start_op

SCALE = 0.02  # 120k lineitem rows, 30k orders, 20k events, 1k documents
# Ten queries from ten plans modules: scan aggregate, shingle-index
# similarity miner, merge semantics, star join, Arrow-UDF multimodal
# features, vector search, sessionization windows, BM25 scoring, report
# rollup and a fact-fact left join. Three passes reach
# ``harness.MIN_SAMPLES``. One query from each of the thirteen modules
# would add about 10 s to every run, more than the run budget allows.
SLICE = (
    "f4_pricing_summary",
    "x4_ngram_jaccard",
    "c2_upsert_merge",
    "h4_local_supplier_volume",
    "x11_multimodal_features",
    "x5_cosine_topk",
    "s2_sessionization",
    "x47_bm25_search",
    "r1_cases_by_location",
    "h15_custdist",
)


def _pass(spark, sf_dir: str, order: list[str], tracer: Tracer | None, lat: list, results: list) -> float:
    """One pass over ``order``; appends each query's seconds to ``lat``
    and (name, result) to ``results``."""
    from calaveras_uniteus_etl_spark.plans import REGISTRY

    t_pass = time.perf_counter()
    for name in order:
        start_op(tracer)
        t0 = time.perf_counter()
        with span(tracer, "plans.request", query=name):
            with span(tracer, "plans.build"):
                df = REGISTRY[name].fn(spark, sf_dir)
            with span(tracer, "plans.collect"):
                pdf = df.toPandas()
        lat.append(time.perf_counter() - t0)
        results.append((name, pdf))
    return time.perf_counter() - t_pass


def check(sf_dir: str, results: list) -> list[str]:
    """One line per collected result that differs from its DuckDB oracle."""
    from calaveras_uniteus_etl_spark.plans import REGISTRY
    from tests.oracle_harness import _canon_frame, _cells, duckdb_connection

    bad = []
    con = duckdb_connection(sf_dir)
    try:
        want = {}
        for name in SLICE:
            odf = con.execute(REGISTRY[name].oracle).df()
            want[name] = (sorted(odf.columns), _cells(_canon_frame(odf)))
        for i, (name, sdf) in enumerate(results):
            if (sorted(sdf.columns), _cells(_canon_frame(sdf))) != want[name]:
                bad.append(f"{name} (run {i}): differs from its oracle")
    finally:
        con.close()
    return bad


def main(run: harness.Run) -> harness.Result:
    from perfbench import star

    t_setup = time.perf_counter()
    spark = run.start_session()
    sf_dir = run.path("star")
    star.write(sf_dir, SCALE, run.seed)
    setup_s = time.perf_counter() - t_setup

    tracer = Tracer(spark) if run.trace else None
    probe = layers.IndexProbe()
    probe.install()
    rng = random.Random(run.seed)
    try:
        cold: list = []
        # in slice order, so every run builds each index at the same point
        cold_s = _pass(spark, sf_dir, list(SLICE), None, [], cold)
        index_build = dict(probe.build_s)
        probe.reset()

        lat: list[float] = []
        results: list = []
        passes: list[float] = []
        if tracer is not None:
            jobs0, task0 = layers.job_count(spark), layers.task_seconds(spark)
            before = executor_totals(spark)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < run.seconds or len(lat) < harness.MIN_SAMPLES:
            passes.append(_pass(spark, sf_dir, rng.sample(SLICE, len(SLICE)), tracer, lat, results))
        wall = time.perf_counter() - t0
        measured = {}
        if tracer is not None:
            measured = layers.spark_metrics(
                before, executor_totals(spark), layers.job_count(spark) - jobs0, layers.task_seconds(spark) - task0, wall
            )
        driver_mb, jvm_mb = run.peak_rss_mb()
        t_check = time.perf_counter()
        failures = check(sf_dir, cold + results)
        check_s = time.perf_counter() - t_check
    finally:
        probe.uninstall()
        if tracer is not None:
            tracer.unwrap_all()

    samples = lat
    pct = harness.tail_percentile(len(samples))
    if pct is None:
        failures.append(f"too few samples: {len(samples)} queries")
        pct = 50.0
    p50_ms = 1e3 * harness.median(samples)
    tail_ms = 1e3 * harness.percentile(samples, pct)
    slice_s = harness.median(passes)
    index_build_s = sum(index_build.values())
    res = harness.Result(
        attempted=len(samples) + len(SLICE),
        failures=failures,
        end_to_end={
            "setup_s": setup_s,
            "request_p50_ms": p50_ms,
            "request_tail_ms": tail_ms,
            "requests_per_s": len(samples) / sum(samples),
            "batch_s": slice_s,
            "build_s": index_build_s,
        },
        named={
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (driver_mb + jvm_mb, "MB"),
            "analytics.query_p50_ms": (p50_ms, "ms"),
            "analytics.query_tail_ms": (tail_ms, "ms"),
            "analytics.slice_s": (slice_s, "s"),
            "analytics.index_build_s": (index_build_s, "s"),
        },
        info={"percentile": pct, "n": len(samples), "passes": len(passes),
              "phases_s": {"setup": setup_s, "cold": cold_s, "measured": wall, "check": check_s}},
    )
    if tracer is not None:
        measured.update(layers.request_metrics(tracer, "plans", "query"))
        measured.update({f"session_index.build_s.{k}": v for k, v in index_build.items()})
        measured["session_index.hit_ratio"] = probe.hits / max(1, probe.lookups)
        measured["trace.overhead_ms"] = 1e3 * tracer.overhead_s / len(samples)
        res.per_layer = layers.per_layer(run, measured)
        tracer.dump(run.out_path("trace.jsonl"))
    return res
