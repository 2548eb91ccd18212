"""SparkSession factory tuned for the CDC engine.

Defaults follow the cluster-scale design notes in SURVEY.md §4:
AQE on (runtime re-plan + skew-join splitting), Arrow on (all pandas
UDFs are vectorized), UTC session timezone (oracle parity with
DuckDB), shuffle partitions sized to the local core count rather than
the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
MAX_DRIVER_MEM_MB = 48 * 1024


def default_driver_mem(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's ``MemTotal``, capped at 48g (the whole cap when
    the host's memory cannot be read)."""
    try:
        with open(meminfo) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(kb // 2048, MAX_DRIVER_MEM_MB)}m"


def get_spark(
    app_name: str = "cwds_jobs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    real cluster pass ``None`` and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = driver-only JVM; this is the one memory knob
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # snappy: zstd-jni measured 4x slower on the write-heavy merge
        # path here (90s vs 21.5s per 8M-row commit); storage-economics
        # deployments can flip via env
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_CODEC", "snappy"),
        )
        # INT96 (the legacy default) carries NO parquet min/max
        # statistics, silently disabling row-group pruning for the
        # savepoint predicate on op_ts AND footer-stats window
        # planning (sources/file_stats.py); INT64 micros restores both
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # call-site capture off: with it on, every wrapped functions.* /
        # DataFrame call also walks the Python stack and makes ~10 JVM
        # round trips (active session, conf reads, origin set/clear) —
        # most of a window's driver time at trickle sizes.  JVM errors
        # still name the failing expression; only the Python file:line
        # in the query context is lost.  PySpark caches this flag per
        # process on first use, so it must be set here, not later via
        # spark.conf.set.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # streaming micro-batches re-list the changes dir; keep state small
        .config("spark.sql.streaming.fileSource.log.compactInterval", "10")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
