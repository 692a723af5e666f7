"""SparkSession factory tuned for the engine.

The reference exposed per-node parallelism knobs (10/50 files,
50/4 appends per node — maple_client.cpp:30-31, juice_client.cpp:29-30);
in Spark those map to executor task slots and shuffle partitions, which
we set here together with the scale-oriented defaults (AQE, broadcast
threshold, partition sizing) that matter at 100 TB.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are safe (and important) to set at runtime on an
# externally-created session, e.g. the verify driver's.
RUNTIME_CONF: dict[str, str] = {
    # Runtime adaptivity: re-plan shuffles, coalesce small partitions,
    # split skewed ones. This is the 100 TB insurance policy.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver's `events` parquet uses TIMESTAMP(NANOS), which the
    # vectorized reader rejects; read the raw int64 nanos instead
    # (sources.tables derives proper timestamp columns from it).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Dimension tables (region/nation/part/supplier at any realistic
    # SF per-partition) should broadcast; 64 MB covers them while
    # never broadcasting a fact table.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Arrow for every pandas-UDF boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Out-of-contract data (overflowing casts and arithmetic, bad
    # dates) raises instead of turning into NULLs, whatever the
    # caller's session had set.
    "spark.sql.ansi.enabled": "true",
    # PySpark wraps every DataFrame/Column call in a call-site capture
    # that walks the Python stack and makes ~4 extra py4j round trips
    # (active session, conf read, origin set/clear): 100 F.col calls
    # took 140-150 ms with it, 34-45 ms without (4-core host).  Errors
    # keep their error class; they only lose the Python file:line in
    # the query context.  PySpark reads this flag ONCE per process, on
    # its first API call with an active session, so the pin takes
    # effect for sessions built by get_spark and is a no-op for an
    # external session that has already made calls.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for key, value in RUNTIME_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Immutable in this session (e.g. static conf) — keep going;
            # every conf in RUNTIME_CONF is individually optional.
            pass
    # Shuffle width under AQE: START at 2x cores and let coalescing
    # shrink small shuffles back down.  At 1x cores a 10x-data sort
    # spills — join_sortmerge measured 7-15 s at the manufactured sf1
    # decade with 32-wide sorts (~190 MB/task > its execution-memory
    # share) vs 1.7 s at 64-wide — while the small-SF cost is noise
    # because AQE coalesces the extra partitions away.  4x and 8x
    # measured slightly WORSE at both scales (shuffle-file overhead),
    # so this is 2x by measurement, matching the "~2-3x total cores"
    # cluster guidance in get_spark.
    try:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(2 * spark.sparkContext.defaultParallelism),
        )
    except Exception:
        pass
    return spark


def drop_persisted(spark: SparkSession) -> None:
    """Unpersist every RDD block the session still holds.  Queries do
    not unpersist the blocks their ``localCheckpoint``s persist, so a
    process that runs many queries in one JVM calls this after each
    query's result is taken."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def get_spark(
    app_name: str = "distributed-system-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster leave it unset and submit via spark-submit, where the
    cluster manager supplies the master URL.
    """
    par = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # Shuffle width: at local scale match cores; on a cluster this
        # should be ~2-3x total cores (or left to AQE coalescing from
        # a higher initial value).
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or max(par, 32)),
        )
        # 256 MB split targets: big enough to amortize task overhead on
        # 100 TB scans, small enough to fit comfortably in executor memory.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Local mode runs driver+executor in ONE JVM: the 1g default
        # heap OOMs the widest sf0.1 hash aggregates (curation_pipeline),
        # while an over-sized heap measurably hurts — 24g benched ~40%
        # slower than 1g on the headline suite (big young gen, worse
        # cache locality for short tasks).  4g is the measured balance.
        # On a real cluster this knob is per-executor via spark-submit;
        # must be set at JVM launch — runtime conf.set cannot raise it.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    # Only set a master when one is explicitly requested (arg or env);
    # otherwise defer to spark-submit / defaults so a cluster submission
    # is never silently forced back to local mode.  spark-submit conveys
    # --master as the spark.master system property, which SparkConf
    # loads by default — an env-var check alone would miss it.
    from pyspark import SparkConf

    defaults = SparkConf(loadDefaults=True)
    master = master or os.environ.get("SPARK_MASTER")
    if not master and not (
        defaults.contains("spark.master")
        or os.environ.get("SPARK_SUBMIT_DEPLOY_MODE")
    ):
        master = f"local[{par}]"
    if master:
        builder = builder.master(master)
    # Python workers come from the engine's daemon (worker_daemon.py),
    # which stops every task re-reading Spark's zips and jar on
    # Python < 3.12: identity mapInPandas over 500 rows 265-375 ms ->
    # 209-227 ms (4-core host).  The daemon runs as `python -m`, so
    # this package's parent directory joins the workers' PYTHONPATH;
    # without it every Python stage fails.  Local masters only, where
    # workers share the driver's filesystem.  Both confs are read at
    # JVM launch, so an external session (e.g. the verify driver's)
    # keeps PySpark's stock workers.
    if (master or defaults.get("spark.master", "")).startswith("local"):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pythonpath = defaults.get("spark.executorEnv.PYTHONPATH", "")
        builder = builder.config(
            "spark.python.daemon.module", "distributed_system_spark.worker_daemon"
        ).config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(p for p in (root, pythonpath) if p),
        )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # spark.driver.memory only takes effect when THIS call launches the
    # JVM; getOrCreate against an already-running session silently
    # ignores it.  Detect the miss so a bench run inside a foreign
    # session (e.g. an external verify driver) is loud about running
    # at a different heap than the measured 4g sizing.
    requested = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    actual = spark.sparkContext.getConf().get("spark.driver.memory", "")
    if actual != requested:
        import warnings

        warnings.warn(
            f"spark.driver.memory is {actual or 'JVM default'!s}, not the "
            f"requested {requested}: getOrCreate reused an existing JVM, "
            "so heap-dependent measurements may not match SCALE.md",
            RuntimeWarning,
            stacklevel=2,
        )
    return tune_session(spark)
