"""SparkSession builder with scale-sane defaults.

The reference pins a LEGACY time parser and hand-tunes parallelism per-op
(reference ``G_2_rf_nordd.py:10-21``, ``rdd.repartition(10)`` everywhere —
SURVEY.md §4). The engine instead sets cluster-level knobs once: AQE on
(runtime coalescing + skew-join handling), Arrow on (vectorized
Python<->JVM), UTC session timezone, and a shuffle-partition count sized to
the local core count. On a real cluster, ``shuffle_partitions`` should be
~2-3x total executor cores; callers override via ``configs``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every engine session. Each is safe at 100 TB scale:
#: AQE re-plans shuffles at runtime (coalesce tiny partitions, split skewed
#: ones), Arrow keeps any Python crossing vectorized, and the broadcast
#: threshold lets Catalyst turn small-dim joins into broadcast-hash joins.
ENGINE_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python UDTFs exchange rows via Arrow (ArrowEvalPythonUDTF), never
    # the row-serialized BatchEvalPython path the plan audit bans.
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Parquet vectorized reader + filter pushdown are default-on; pin them so a
    # misconfigured cluster profile can't silently disable the fast path.
    "spark.sql.parquet.filterPushdown": "true",
    # Parquet TIMESTAMP(NANOS) has no Spark type; read as long and let the
    # source layer normalize to microsecond TimestampType (sources/io.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Engine timestamp semantics are a single type: UTC TimestampType.
    # Without this, parquet micros with isAdjustedToUTC=false arrive as
    # TIMESTAMP_NTZ — a second timestamp type that unix_micros()/numeric
    # casts reject and that would fork every downstream expression.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # Spark's historical default writes TimestampType as INT96 — a
    # deprecated physical type with no logical-type annotation that
    # footer-sniffing readers (streaming unit detection, external engines)
    # can't interpret. The engine always writes TIMESTAMP_MICROS, matching
    # its single-timestamp-type semantics end to end.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
}


def default_parallelism() -> int:
    """Shuffle-partition default: the harness exports SPARK_GRAFT_CPUS for
    local runs; fall back to the machine's core count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit():
        return int(env)
    return os.cpu_count() or 8


#: ceiling of the local-mode driver heap, and its value when the host's
#: physical memory cannot be read
DRIVER_MEMORY_CAP_GB = 24


def default_driver_memory() -> str:
    """Local-mode driver heap: 60% of physical memory, capped at
    DRIVER_MEMORY_CAP_GB. The rest is left to the JVM's off-heap and the
    Python workers (one per core), so a heap sized for a larger host
    cannot push this one into swap or the OOM killer."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return f"{DRIVER_MEMORY_CAP_GB}g"
    return f"{max(1, min(DRIVER_MEMORY_CAP_GB, int(phys * 0.6) >> 30))}g"


#: root of the package's import path (the directory holding the package)
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def python_daemon_module(master: str | None) -> str | None:
    """``spark.python.daemon.module`` for a session built with ``master``,
    or ``None`` to keep Spark's ``pyspark.daemon``.

    Local sessions run the engine's daemon (``daemon.py``): before
    CPython 3.12 (gh-103200) every Python task re-reads the directory of
    each zip archive on the worker's path (pyspark.zip, the spark-core
    jar), 0.18-0.40 s per task on a 4-core host, and the engine's daemon
    re-reads an archive only when it changed. It is chosen only where
    the daemon can import the package: a local worker starts in the
    driver's working directory with the driver's PYTHONPATH, so the
    package root must be one of those. A deferred master
    (``SPARK_MASTER``), a cluster master or a package the worker cannot
    import keeps ``pyspark.daemon``: a session whose Python workers
    start today never fails to start its daemon."""
    if master is None and os.environ.get("SPARK_MASTER"):
        return None
    if not (master or "local").startswith("local"):
        return None
    roots = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep)]
    here = os.path.realpath(_PACKAGE_ROOT)
    if any(r and os.path.realpath(r) == here for r in roots):
        return f"{__package__}.daemon"
    return None


def get_session(
    app_name: str = "big_data_analysis_for_stock_market_data_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    configs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Parameters
    ----------
    master : ``local[N]`` for tests/bench; ``None`` defers to spark-submit
        (cluster deploys must not hardcode a master — reference hardcoded
        ``yarn`` at ``G_2_rf_nordd.py:17``).
    shuffle_partitions : post-shuffle partition count before AQE coalescing.
    configs : extra/overriding Spark confs, applied last.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    conf: dict[str, str] = dict(ENGINE_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    daemon = python_daemon_module(master)
    if daemon:
        conf["spark.python.daemon.module"] = daemon
    if master or not os.environ.get("SPARK_MASTER"):
        # local mode: the driver JVM hosts all executor threads, but Spark's
        # default heap is 1g — 32 concurrent tasks starve execution memory
        # (observed UNABLE_TO_ACQUIRE_MEMORY). Only effective at JVM launch;
        # a cluster deploy sets executor memory through spark-submit.
        conf.setdefault("spark.driver.memory", default_driver_memory())
    if configs:
        conf.update(configs)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
