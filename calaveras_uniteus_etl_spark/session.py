"""SparkSession factory for the analytics engine.

It sets only confs that differ from Spark's defaults: shuffle
partitions sized by environment rather than hard-coded, a broadcast
threshold generous enough for dimension tables, Arrow for the few
Pandas-UDF paths, nanosecond parquet timestamps, UTC, driver memory,
no UI and no call-site capture.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _install_jvm_function_cache() -> None:
    """Memoize PySpark's per-call JVM function lookup.

    Classic-mode ``F.<fn>(...)`` resolves
    ``getattr(getattr(sc._jvm, "org.apache.spark.sql.functions"), name)``
    on EVERY invocation — two py4j reflection round trips (~0.4 ms on
    this gateway) before the actual call. Query construction here
    builds thousands of Column expressions per plan, so the lookup
    dominates driver-side plan-build time (guide §7.3: planning time
    is real time). The JavaMember handle is stable for the lifetime of
    the JVM, so cache it per (SparkContext, name); entries die with
    the context (WeakKeyDictionary). Pure lookup memoization — no
    behavior change, nothing data-dependent.
    """
    # Internals-coupled by nature (verified against PySpark 4.1): any
    # layout change — module move OR function rename/removal — must
    # degrade to a silent no-op, never break package import.
    # tests/test_r11_optimizations.py pins that the cache is active on
    # the tested Spark version, so an un-install fails loudly in CI
    # rather than silently losing the optimization.
    try:
        from pyspark.sql.functions import builtin as _builtin
    except ImportError:  # pragma: no cover - future layout change
        return
    orig = getattr(_builtin, "_get_jvm_function", None)
    if orig is None:  # pragma: no cover - future rename/removal
        return
    if getattr(orig, "_cuetl_cached", False):
        return
    import weakref

    cache: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

    def _cached_get_jvm_function(name, sc):
        try:
            per = cache.get(sc)
        except TypeError:  # un-weakref-able context: fall through
            return orig(name, sc)
        if per is None:
            per = {}
            cache[sc] = per
        fn = per.get(name)
        if fn is None:
            fn = orig(name, sc)
            per[name] = fn
        return fn

    _cached_get_jvm_function._cuetl_cached = True
    _builtin._get_jvm_function = _cached_get_jvm_function


_install_jvm_function_cache()


def get_spark(
    app_name: str = "calaveras-uniteus-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    so the same code runs unchanged on a real cluster where ``master``
    is supplied by the deployment.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Dimension tables (region/nation/supplier/part/customer) are
        # broadcast-sized; let Catalyst pick broadcast-hash joins.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Arrow for the Pandas-UDF extension operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable:
        # ingest as epoch-nanos long, converted to a µs timestamp in the
        # table loader (plans/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark 4 wraps every DataFrame/Column API call to capture
        # the user call site for error context: getActiveSession + a
        # conf read + PySparkCurrentOrigin.set/clear = 3+ py4j round
        # trips per call (~4-6 ms each on this gateway). Plan
        # construction here issues hundreds of wrapped calls per query,
        # so the capture dominates driver-side plan-build time (guide
        # §7.3: planning time is real time; measured: h14_market_share
        # build 0.65->0.14 s, x138_rule_ablation 1.28->0.40 s). Results
        # are unchanged — only error messages lose the Python call-site
        # line. Flip to true when debugging a plan.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
