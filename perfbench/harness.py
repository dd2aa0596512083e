"""Run plumbing shared by the workloads: a sandboxed Spark session,
peak memory, latency percentiles, the metric registry and the result
line.

Everything a run writes lives under ``.bench_work/`` in the directory
the benchmark is started from (Spark local dirs, JVM temp files, the
generated inputs and the warehouse), and is removed when the run ends.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

CORES = 4
# Every run measures at least this many requests, so the tail rule
# (>= 10 samples beyond the percentile) always holds, at p65 or above.
MIN_SAMPLES = 30

# End-to-end metrics every workload reports, with their units. Each
# workload defines them over its own requests (see ``spec.json``). Peak
# RSS is printed with the named figures and per layer, but is no
# end-to-end metric: the JVM's heap sizing makes it differ by a third
# between identical runs.
END_TO_END = {
    "setup_s": "s",
    "request_p50_ms": "ms",
    "request_tail_ms": "ms",
    "requests_per_s": "1/s",
    "batch_s": "s",
    "build_s": "s",
}
# Per-layer metrics of the traced run; a layer a workload never calls
# reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "sources.discover_s": "s",
    "sources.hashed_bytes": "bytes",
    "cleaning.clean_s": "s",
    "cleaning.spark_jobs": "count",
    "etl.ingest_file_s": "s",
    "etl.bookkeeping_s": "s",
    "etl.spark_jobs_per_file": "count",
    "etl.input_read_amplification": "ratio",
    "upsert.stats_s": "s",
    "upsert.merge_build_s": "s",
    "warehouse.write_s": "s",
    "warehouse.bytes_written": "bytes",
    "warehouse.write_amplification": "ratio",
    "warehouse.files_live": "count",
    "warehouse.read_s": "s",
    "warehouse.read_calls": "count",
    "reports.build_ms": "ms",
    "reports.collect_ms": "ms",
    "reports.spark_jobs_per_request": "count",
    "reports.tasks_per_request": "count",
    "reports.scan_bytes_per_request": "bytes",
    "reports.shuffle_bytes_per_request": "bytes",
    "plans.build_ms": "ms",
    "plans.collect_ms": "ms",
    "plans.spark_jobs_per_query": "count",
    "plans.tasks_per_query": "count",
    "plans.shuffle_bytes_per_query": "bytes",
    "session_index.build_s.shingle_postings": "s",
    "session_index.build_s.shingle_postings_count": "s",
    "session_index.build_s.media_features": "s",
    "session_index.build_s.embedding_index": "s",
    "session_index.build_s.tokenized_corpus": "s",
    "session_index.hit_ratio": "ratio",
    "spark.task_s": "s",
    "spark.cpu_util": "ratio",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "driver.rss_mb": "MB",
    "jvm.rss_mb": "MB",
    "trace.overhead_ms": "ms",
}
# Environment knobs of the engine that would change what is measured;
# the benchmark runs the engine with its own defaults.
_ENGINE_ENV = (
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_INDEX_CHECKPOINT_DIR",
    "PYSPARK_SUBMIT_ARGS",
)


class Run:
    """One benchmark run: its work directory and its Spark session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.abspath(os.path.join(".bench_work", f"{workload}-{os.getpid()}"))
        self.spark = None
        self.jvm_pid: int | None = None
        self.session_start_s = 0.0

    def __enter__(self) -> "Run":
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        return self

    def __exit__(self, *exc) -> None:
        self.stop_session()
        shutil.rmtree(self.work, ignore_errors=True)
        parent = os.path.dirname(self.work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def out_path(self, name: str) -> str:
        """A file the run leaves behind, under ``.bench_out/``."""
        out = os.path.abspath(".bench_out")
        os.makedirs(out, exist_ok=True)
        return os.path.join(out, f"{self.workload}-{self.seed}-{name}")

    def start_session(self):
        """Start the engine's session (``session.get_spark``) on
        ``local[4]`` with every scratch path inside the work dir."""
        tmp = self.path("tmp")
        local = self.path("spark-local")
        for k in _ENGINE_ENV:
            os.environ.pop(k, None)
        # Python workers import the engine from the checkout too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (os.getcwd(), os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        tempfile.tempdir = tmp
        t0 = time.perf_counter()
        from calaveras_uniteus_etl_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{CORES}]",
            extra_conf={
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": self.path("spark-warehouse"),
                "spark.driver.memory": "2g",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.session_start_s = time.perf_counter() - t0
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident set (VmHWM) of this Python driver and of the JVM."""
        return _vm_hwm_kb("self") / 1024.0, _vm_hwm_kb(str(self.jvm_pid)) / 1024.0


def _vm_hwm_kb(pid: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """Highest percentile on the ladder with at least ``min_beyond`` of
    ``n`` samples above it (nearest-rank), or None."""
    for p in (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 65.0, 50.0):
        if n - math.ceil(n * p / 100.0) >= min_beyond:
            return p
    return None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(len(s) * p / 100.0) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values)


@dataclass
class Result:
    """What a workload measured and how its correctness gates ended.

    ``end_to_end`` holds every ``END_TO_END`` metric; ``named`` the same
    figures under the per-workload names of ``spec.json`` (plus
    ``error_rate``); ``per_layer`` the traced run's layer metrics.
    """

    attempted: int
    failures: list[str]  # one line per failed or wrong operation
    end_to_end: dict[str, float]
    named: dict[str, tuple[float, str]]
    info: dict  # tail percentile and n, phase seconds
    per_layer: dict[str, float] = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return not self.failures

    def emit(self, workload: str, trace: bool) -> None:
        """Print the named figures, then the result line (the last line
        of standard output) with the metrics of this kind of run."""
        named = dict(self.named)
        named["error_rate"] = (len(self.failures) / max(1, self.attempted), "1")
        for line in self.failures:
            print(f"FAILED {line}", file=sys.stderr)
        print(json.dumps({
            "workload": workload,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "info": self.info,
        }))
        units, values = (PER_LAYER, self.per_layer) if trace else (END_TO_END, self.end_to_end)
        if set(values) != set(units):
            raise ValueError(f"metrics {sorted(set(units) ^ set(values))} missing or unknown")
        print(json.dumps({
            "correct": self.correct,
            "attempted": int(self.attempted),
            "failed": min(len(self.failures), self.attempted),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }))
        sys.stdout.flush()
