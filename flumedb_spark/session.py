"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB deployment too: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow enabled for the Pandas-UDF slow
path, UTC session timezone so results hash-match a UTC-naive oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _half_physical_memory() -> str:
    """Half the host's physical memory, as a JVM size."""
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, total // 2 >> 20)}m"


def get_spark(app_name: str = "flumedb_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Python workers must be able to import this package: engine closures
    # (reducers, codecs, mappers) pickle by reference. Propagate the
    # package's parent dir onto the worker PYTHONPATH before the JVM
    # starts (workers inherit the driver process env).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parts = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if pkg_parent not in parts:
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in [pkg_parent, *parts] if p
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # ~cores, not the 200 default: local shuffles are driver-disk bound.
        # On a real cluster this is set to ~2-3x total cores / sized so each
        # shuffle partition is 100-200MB at the target SF. Overridable so
        # harnesses can size it to the data actually being shuffled (a
        # 32-task stage over a 10MB shuffle is pure scheduling overhead).
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS") or str(max(cpus, 8)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        # 64m (vs 10m default): sized for 100+ GB executors — a cached
        # dimension's decompressed in-memory estimate must not flip its
        # join to sort-merge. Tables that are genuinely big at scale
        # exceed this estimate and still get SMJ.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read parquet TIMESTAMP(isAdjustedToUTC=false) as TIMESTAMP (LTZ),
        # not TIMESTAMP_NTZ: the UTC-naive oracle sees identical values and
        # the LTZ-only functions (unix_micros etc.) stay cast-free
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver IS the executor: size the heap like an
        # executor's (32 task threads x cached tables + shuffle buffers;
        # an 8g heap puts the 32-thread md5/explode paths into GC churn),
        # but within the host: half its physical memory, so a long-lived
        # JVM's heap cannot grow until the host runs out
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _half_physical_memory(),
        )
        # extra driver JVM opts, env-pluggable for experiments (a
        # ReservedCodeCacheSize bump was A/B'd for the 24-shape codegen
        # workload and showed no effect beyond host noise — default none)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # single-file parquet tables must still scan in parallel: split on
        # row groups rather than one 128MB partition per file. At cluster
        # scale this is sized so a partition is ~128MB of a 100 TB table;
        # locally small files need a smaller split to use all cores.
        .config("spark.sql.files.maxPartitionBytes", "8m")
        .config("spark.sql.files.openCostInBytes", "1m")
        # managed-table warehouse (bucketed tables live here, not in cwd)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_SQL_WAREHOUSE", "/tmp/flumedb_spark_sql_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
