"""SparkSession construction and tuning.

The reference pins DataFusion to ``target_partitions = 1`` (single-partition,
deliberately serial — reference: crates/cdl-fs/src/lib.rs:258) and enables
parquet ``pushdown_filters``/``reorder_filters`` (ibid. :256-257). We do the
opposite on partitioning — Spark's whole point is partitioned execution — and
get pushdown/reordering from Catalyst for free.

Two entry points:

- :func:`get_spark` builds a session for local runs (tests, bench).
- :func:`prepare_session` applies the *runtime-settable* SQL confs to an
  externally created session (the correctness driver builds its own
  SparkSession; every query function calls this so semantics don't depend on
  who constructed the session).

Semantics-critical confs (the DuckDB oracle depends on these):

- ``spark.sql.session.timeZone=UTC`` — the test tables store naive (ntz)
  timestamps; with a UTC session, TIMESTAMP and TIMESTAMP_NTZ arithmetic
  agree and DuckDB's naive TIMESTAMP matches.

Note: ``spark.sql.legacy.parquet.nanosAsLong`` was removed in Spark 4.x;
events-timestamp normalization now branches on the column's actual dtype in
``sources/tables.py`` instead of depending on a conf. prepare_session warns
ONCE per process if a semantics conf cannot be set — silently swallowing the
failure hid a loader break for two rounds.
"""

from __future__ import annotations

import multiprocessing
import os
import warnings

from pyspark.sql import SparkSession

#: SQL confs that can be set on a live session (no restart needed) and that
#: query semantics rely on. Applied by prepare_session().
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-planning (partition coalescing, skew-join splitting,
    # dynamic broadcast). On by default in Spark 3.2+, pinned here anyway.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # parallelismFirst stays at its default (true) deliberately: an A/B over
    # the suite showed `false` (coalesce to the 64 MB advisory size) cuts
    # ~0.1 s of task-scheduling floor on trivial queries but SERIALIZES
    # CPU-bound shuffle consumers whose bytes are small — pivot 0.33→0.74 s,
    # windows 0.50→1.02 s, percentile interpolation 2.4→4.7 s. At cluster
    # scale partitions exceed the advisory size anyway, so `false` buys
    # nothing there either.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for toPandas()/pandas_udf boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Exact ANSI-interval / try_cast behavior is not required; keep ANSI off
    # so overflow/parse errors degrade to NULL like the declared queries
    # expect (all declared casts are explicit and in-range anyway).
    "spark.sql.ansi.enabled": "false",
}


#: Whole-stage codegen class-cache size set by get_spark (see there).
CODEGEN_CACHE_ENTRIES = 4096


def default_parallelism() -> int:
    """Worker-thread count for local mode: $SPARK_GRAFT_CPUS or all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return multiprocessing.cpu_count()


_WARNED_CONFS: set[str] = set()


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    A conf may be static or removed on some Spark builds; never fail a query
    on it — but warn once per process so a semantics conf silently not
    applying can't masquerade as a correct setup.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:  # noqa: BLE001
            if key not in _WARNED_CONFS:
                _WARNED_CONFS.add(key)
                warnings.warn(
                    f"could not set {key}={value!r} ({exc}); "
                    "query semantics may differ from the oracle",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return spark


def get_spark(
    app_name: str = "connected-data-lake-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Local default: ``local[$SPARK_GRAFT_CPUS or n_cores]`` with shuffle
    partitions sized to the core count — at 100 TB on a real cluster the
    same code runs with cluster defaults + AQE coalescing, which re-sizes
    post-shuffle partitions at runtime, so a static number here only seeds
    the local case.

    The generated-class cache (``spark.sql.codegen.cache.maxEntries``) is
    sized here, on ``SparkSession.builder``, because Spark creates it once
    per JVM at the first codegen: :func:`prepare_session` cannot change
    it, so a session built elsewhere keeps Spark's 100 entries.
    ``extra_confs`` still overrides it.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else max(cpus, 8)),
        )
        # 24g default (was 8g): in LOCAL mode the driver heap is also the
        # executor heap for all worker threads; an 8g heap under a
        # 32-thread suite run measured ~8% suite-wide GC drag (paired
        # control-free draws: 127.3 s @8g vs 117.4 s @24g, BENCH.md r14),
        # concentrated in the shuffle-heavy tail. 48g measured WORSE in
        # its draw (longer pauses / page faults — ledger draw H), so the
        # default stays at the measured knee. Cluster deployments size
        # executors explicitly; this only seeds local mode.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark 4's DataFrame-debugging origin capture wraps every Python
        # DataFrame/Column API call with ~4 extra JVM round-trips (get
        # active session, PySparkCurrentOrigin getattr, stack-depth conf
        # read, origin set/clear) plus a Python stack walk, purely to
        # attach call-site context to error messages. Across a 231-query
        # suite that is thousands of py4j round-trips of pure plan-BUILD
        # overhead per run (same-session A/B at sf0.1: events_anomaly_mad
        # build 0.494 -> 0.308 s, profile_orders 0.295 -> 0.126 s). Static
        # conf — session-build only; error SEMANTICS are unchanged, only
        # the decorative call-site line in messages is dropped.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Binary-heavy tables (rootfs.data payloads): bound scan partition
        # size so a partition of 1 GiB-payload rows still fits in memory.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Whole-stage codegen keeps compiled classes in one JVM-wide cache
        # of 100 entries by default, while one pass of the 11-member
        # perfbench `queries` deck compiles ~190 classes and one pass of
        # all 231 declared queries ~2,400. At 100, every run of every
        # query in an interleaved mix recompiled its classes and ran them
        # before the JIT had compiled them. 4096 holds one pass of the
        # suite: on 4 cores at sf0.01 a second pass over the 231 queries
        # went 95.4 -> 65.4 s (compiles 3,523 -> 75), Metaspace 199 -> 213
        # MB (BENCH.md). Static: read once per JVM, at the first codegen.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return prepare_session(spark)
