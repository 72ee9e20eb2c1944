"""SparkSession factory tuned for the pipeline workload.

The reference pipeline (peskas.timor.data.pipeline) runs eager R jobs with
manual memory splits and 32-way driver-side parallelism
(R/preprocess-landings.R:105-110, inst/conf.yml:40-42). Here a single lazy
Spark plan replaces all of that; the knobs below are the ones that matter at
100 TB scale:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting; species
  codes like "MZZ" are Zipfian in the real data).
- Broadcast threshold generous: every metadata dimension table (15 Google-
  Sheets tables, inst/conf.yml:60-75) is KB-MB scale.
- Session timezone Asia/Dili: all reference date logic is local-time
  (R/validation-functions.R:79-82).
- Arrow enabled for the few applyInPandas paths (GLMM/imputation at
  region x month granularity only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_TIMEZONE = "Asia/Dili"


def default_driver_memory() -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: min(24g, 3/8 of
    physical RAM). local[N] is a single JVM, so "driver" memory is the
    whole executor heap shared by N task threads — size it like an
    executor, not a driver. 24g keeps GC pressure off the shuffle-heavy
    dedup/LSH queries on a 128 GiB host; on a small host the 3/8 share
    leaves room for the JVM's off-heap memory, the Python workers and
    DuckDB in the same box (a fixed 24g heap on a 16 GiB, swap-less host
    grew until the kernel killed the process)."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):  # sysconf unavailable
        return "24g"
    return f"{min(24 << 10, ram * 3 // 8 >> 20)}m"


def get_spark(
    app_name: str = "peskas-timor-pipeline",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    timezone: str = DEFAULT_TIMEZONE,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with workload-appropriate defaults.

    In local test mode we size shuffle partitions to the core count; on a
    real cluster leave ``shuffle_partitions`` None and let AQE coalesce from
    a high initial number.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if master.startswith("local") else 2000

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", timezone)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Python DataSource scans (sources/kobo_source.py) push id-range
        # predicates into the REST query; off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def prep_session(spark: SparkSession, timezone: str = "UTC") -> SparkSession:
    """Normalize an externally-provided session for deterministic results.

    The correctness harness receives a SparkSession it did not build; pin the
    session timezone so timestamp->date logic matches the naive-timestamp
    semantics of the parquet test fixtures regardless of host TZ.
    """
    spark.conf.set("spark.sql.session.timeZone", timezone)
    return spark
