"""The engine calls the traced run wraps, and the per-layer metrics
computed from their spans.

Ingest layers are wrapped at module attributes of ``etl`` (the names it
calls through) and at ``Warehouse`` methods; report and plan layers are
spans the workloads open around their own calls into ``cli`` and the
``plans`` registry. ``IndexProbe`` times the session-index builds of
the plan modules; the ``analytics`` workload keeps it on in every run,
because the cold index build is one of its end-to-end figures.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import harness
from perfbench.trace import Span, Tracer

# Plan modules that look artifacts up through ``session_index``.
_INDEX_MODULES = ("queries_dedup", "queries_multimodal", "queries_similarity", "queries_text")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def trace_ingest(tracer: Tracer) -> None:
    """Wrap the ingest path: discovery and hashing, cleaning, upsert,
    bookkeeping and warehouse writes."""
    from calaveras_uniteus_etl_spark import etl
    from calaveras_uniteus_etl_spark.sources import discovery
    from calaveras_uniteus_etl_spark.warehouse import Warehouse

    def file_bytes(args, kwargs, result, span):
        span.attrs["bytes"] = os.path.getsize(args[0])

    def task_bytes(args, kwargs, result, span):
        span.attrs["bytes"] = os.path.getsize(args[2].path)
        span.attrs["status"] = result.status.value

    def before_write(args, kwargs, span):
        wh, table = args[0], args[1]
        mode = kwargs.get("mode", args[3] if len(args) > 3 else "overwrite")
        span.attrs["before"] = dir_bytes(wh.path(table)) if mode == "append" else 0

    def after_write(args, kwargs, result, span):
        span.attrs["bytes"] = dir_bytes(args[0].path(args[1])) - span.attrs.pop("before")

    tracer.wrap(etl, "ingest", "etl.ingest")
    tracer.wrap(etl, "discover_files", "sources.discover")
    tracer.wrap(discovery, "file_md5", "sources.md5", on_call=file_bytes)
    tracer.wrap(etl, "ingest_file", "etl.ingest_file", on_call=task_bytes)
    tracer.wrap(etl, "clean", "cleaning.clean")
    tracer.wrap(etl, "upsert_stats", "upsert.stats")
    tracer.wrap(etl, "merge_upsert", "upsert.merge_build")
    for attr in ("_processed_subset", "_append_metadata", "_append_quality_issues", "_append_schema_errors"):
        tracer.wrap(etl, attr, "etl.bookkeeping")
    tracer.wrap(Warehouse, "write", "warehouse.write", on_enter=before_write, on_call=after_write)
    tracer.wrap(Warehouse, "read", "warehouse.read")


class IndexProbe:
    """Times every session-index build (exclusive of nested builds) and
    counts lookups and hits, per phase."""

    def __init__(self):
        self.build_s: dict[str, float] = {}
        self.lookups = 0
        self.hits = 0
        self._nested: list[float] = []
        self._undo: list[tuple[object, object]] = []

    def install(self) -> None:
        import importlib

        for name in _INDEX_MODULES:
            mod = importlib.import_module(f"calaveras_uniteus_etl_spark.plans.{name}")
            self._undo.append((mod, mod.session_index))
            mod.session_index = self._wrap(mod.session_index)

    def uninstall(self) -> None:
        for mod, orig in self._undo:
            mod.session_index = orig
        self._undo.clear()

    def reset(self) -> None:
        self.build_s, self.lookups, self.hits = {}, 0, 0

    def _wrap(self, orig):
        probe = self

        def session_index(spark, sf_dir, name, build):
            built = []

            def timed_build():
                probe._nested.append(0.0)
                t0 = time.perf_counter()
                try:
                    return build()
                finally:
                    total = time.perf_counter() - t0
                    own = total - probe._nested.pop()
                    if probe._nested:
                        probe._nested[-1] += total
                    probe.build_s[name] = probe.build_s.get(name, 0.0) + own
                    built.append(name)

            out = orig(spark, sf_dir, name, timed_build)
            probe.lookups += 1
            probe.hits += not built
            return out

        return session_index


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _inclusive_jobs(tracer: Tracer, spans: list[Span]) -> list[int]:
    jobs = tracer.inclusive_jobs()
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    return [jobs[index[id(s)]] for s in spans]


def ingest_metrics(tracer: Tracer, warehouse_dir: str) -> dict[str, float]:
    """Ingest-layer metrics over every traced ingest job, per ingested
    file where the name is a time or a job count."""
    files = [s for s in tracer.by_name("etl.ingest_file") if s.attrs.get("status") == "completed"]
    n = max(1, len(files))
    file_bytes = sum(s.attrs["bytes"] for s in files)
    written = sum(s.attrs.get("bytes", 0) for s in tracer.by_name("warehouse.write"))

    def per_file(name: str) -> float:
        return sum(s.dur for s in tracer.by_name(name)) / n

    return {
        "sources.discover_s": per_file("sources.discover"),
        "sources.hashed_bytes": float(sum(s.attrs["bytes"] for s in tracer.by_name("sources.md5"))),
        "cleaning.clean_s": per_file("cleaning.clean"),
        "cleaning.spark_jobs": sum(_inclusive_jobs(tracer, tracer.by_name("cleaning.clean"))) / n,
        "etl.ingest_file_s": per_file("etl.ingest_file"),
        "etl.bookkeeping_s": per_file("etl.bookkeeping"),
        "etl.spark_jobs_per_file": sum(_inclusive_jobs(tracer, files)) / n,
        "etl.input_read_amplification": sum(s.counters["input_bytes"] for s in files) / max(1, file_bytes),
        "upsert.stats_s": per_file("upsert.stats"),
        "upsert.merge_build_s": per_file("upsert.merge_build"),
        "warehouse.write_s": per_file("warehouse.write"),
        "warehouse.bytes_written": float(written),
        "warehouse.write_amplification": written / max(1, file_bytes),
        "warehouse.files_live": float(dir_files(warehouse_dir)),
    }


def request_metrics(tracer: Tracer, layer: str, unit: str) -> dict[str, float]:
    """Mean per-request figures of the traced ``<layer>.request`` spans."""
    reqs = tracer.by_name(f"{layer}.request")
    n = max(1, len(reqs))
    out = {
        f"{layer}.build_ms": 1e3 * _mean(s.dur for s in tracer.by_name(f"{layer}.build")),
        f"{layer}.collect_ms": 1e3 * _mean(s.dur for s in tracer.by_name(f"{layer}.collect")),
        f"{layer}.spark_jobs_per_{unit}": sum(_inclusive_jobs(tracer, reqs)) / n,
        f"{layer}.tasks_per_{unit}": sum(s.counters["tasks"] for s in reqs) / n,
        f"{layer}.shuffle_bytes_per_{unit}": sum(s.counters["shuffle_write"] for s in reqs) / n,
    }
    if layer == "reports":
        # table resolution of the requests, not the reads of ingest jobs
        reads = [s for s in tracer.by_name("warehouse.read")
                 if s.parent is not None and tracer.spans[s.parent].name == "reports.request"]
        out["reports.scan_bytes_per_request"] = sum(s.counters["input_bytes"] for s in reqs) / n
        out["warehouse.read_s"] = sum(s.dur for s in reads) / n
        out["warehouse.read_calls"] = len(reads) / n
    return out


def spark_metrics(before: dict, after: dict, jobs: int, task_s: float, wall: float) -> dict[str, float]:
    d = {k: after[k] - before[k] for k in before}
    return {
        "spark.task_s": task_s,
        "spark.cpu_util": task_s / (wall * harness.CORES),
        "spark.input_bytes": float(d["input_bytes"]),
        "spark.shuffle_write_bytes": float(d["shuffle_write"]),
        "spark.jobs": float(jobs),
        "spark.tasks": float(d["tasks"]),
        "spark.gc_s": d["gc_ms"] / 1e3,
    }


def per_layer(run: harness.Run, measured: dict[str, float]) -> dict[str, float]:
    """All ``harness.PER_LAYER`` metrics: the measured ones, the
    process-wide ones, and 0 for layers this workload never calls."""
    driver, jvm = run.peak_rss_mb()
    out = dict.fromkeys(harness.PER_LAYER, 0.0)
    out.update(measured)
    out.update({"session.start_s": run.session_start_s, "driver.rss_mb": driver, "jvm.rss_mb": jvm})
    unknown = set(out) - set(harness.PER_LAYER)
    if unknown:
        raise ValueError(f"unregistered layer metrics {sorted(unknown)}")
    return out


def job_count(spark) -> int:
    """Jobs the application has run so far (status store)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return int(spark.sparkContext._jsc.sc().statusStore().jobsList(None).size())


def task_seconds(spark) -> float:
    """Summed task run time of every stage so far (status store)."""
    jvm = spark._jvm
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = spark.sparkContext._jsc.sc().statusStore().stageList(
        None, False, False, no_quantiles, jvm.java.util.ArrayList()
    )
    return sum(int(stages.apply(i).executorRunTime()) for i in range(stages.size())) / 1e3
