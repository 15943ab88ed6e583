"""SparkSession factory + tuning for the shadems_spark engine.

Replaces the reference's dask threaded-scheduler setup
([R] shade_ms/main.py dask config, SURVEY.md §3.1 step 2) with a
SparkSession.  Everything here is sized so the same logical plans run
unchanged on a 1000-executor cluster: AQE handles runtime partition
coalescing and skew, shuffle partition count comes from the
environment, and all confs are runtime (SQL) confs so an
externally-created session (the driver's) can be tuned after the fact
via :func:`tune`.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime SQL confs applied to every session the engine touches.
#: All of these are settable on a live session (verified on 4.1.2).
RUNTIME_CONFS: dict[str, str] = {
    # Let AQE re-plan at runtime: coalesce small shuffle partitions,
    # split skewed ones, convert to broadcast when a side turns out
    # small.  Essential at the 100 TB target, harmless at sf0.01.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Recursive CTEs: the default 1M-row production cap is a
    # toy-scale safety valve — any data-sized recursion (the r10 x100
    # probe: 167k anchor docs x ~11 ancestor levels = 1.8M rows)
    # trips RECURSION_ROW_LIMIT_EXCEEDED while being perfectly
    # bounded.  Raise the ROW cap 2000x instead of disabling it: the
    # LEVEL limit (100) only bounds DEPTH, so a fan-out-b recursive
    # join would still explode ~b^level rows breadth-wise — a finite
    # valve fails that cleanly where -1 would run to executor OOM.
    # 2e9 covers any plausible data-sized bounded walk at this
    # engine's scale (1e8 entities x ~20 levels); clusters running
    # larger legitimate closures should use the iterative operators
    # (operators/graph.py) or override per-session.
    "spark.sql.cteRecursionRowLimit": "2000000000",
    # Deterministic timestamp semantics across engines (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as epoch-nanos long and convert explicitly
    # (catalog.load_table).  DuckDB truncates the same column to µs.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow transfer for toPandas / pandas UDFs (vectorized exchange).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def default_parallelism() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "") or os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def tune(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session.

    Called by every catalog load so driver-created sessions get the
    same semantics (UTC, AQE, nanos handling) as our own.  Applied
    ONCE per session object: each conf.set is a py4j round-trip, and
    load_table runs on every query build (r12: 7 sets x ~0.6 ms x
    ~80 builds/rep was pure driver latency).  The values are
    constants, so re-assertion only ever mattered for a session that
    externally unset them mid-run — not a supported pattern.
    """
    if getattr(spark, "_shadems_tuned", False):
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - conf locked by a driver
            pass
    try:
        spark._shadems_tuned = True
    except Exception:  # pragma: no cover - attr always settable
        pass
    return spark


def get_spark(app_name: str = "shadems-spark", master: str | None = None) -> SparkSession:
    """Create (or fetch) a tuned SparkSession.

    local[N] in tests; on a real cluster the builder master/deploy-mode
    comes from spark-submit and this function only layers confs.
    """
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle partitions ~= cores locally.  On a cluster this is
        # overridden upward (2-3x total cores); AQE coalesces down.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # UI off by default (headless gates); SPARK_GRAFT_UI=true turns
        # on the REST /api/v1 jobs endpoint for per-job wall attribution
        # (perfbench/run.py --trace 1).
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # bucketed saveAsTable target (co-located joins, tests) — keep
        # the metastore/warehouse out of the repo tree.
        .config("spark.sql.warehouse.dir", "/tmp/shadems-warehouse")
        # Debug-only call-site capture (Spark 4's PySparkCurrentOrigin)
        # makes EVERY DataFrame/Column API call walk the Python stack
        # and ship the call site to the JVM — measured 13 py4j
        # round-trips per F.col (2.8 ms) vs 1 with it off (r12; guide
        # §7.3 driver overhead).  Static conf, so set at build; the
        # cost is error messages without Python call-site context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    return tune(b.getOrCreate())
