"""SparkSession factory tuned for the engine.

Defaults are chosen for correctness-portability (UTC session timezone,
ANSI off to match reference permissiveness) and scale (AQE on, skew
join handling, parquet pushdown). On a real cluster only
``master``/partition counts change; the logical plans stay identical.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def default_driver_mem() -> str:
    """Driver heap sized from the HOST, not from the bench machine
    (r9, ADVICE): local[N] makes the driver double as the executor,
    and 8g measured ~+50% wall late in a 120-query bench session on
    the 128 GiB host (GC pressure) — but hard-coding that host's 24g
    would fail JVM startup or push a 16 GiB dev laptop into swap.
    Default is a quarter of detected physical memory clamped to
    [4g, 24g] (→ 24g on the bench host, 4g on a small laptop);
    ``SPARK_GRAFT_DRIVER_MEM`` overrides unconditionally."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        total_gib = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "8g"
    return f"{max(4, min(24, int(total_gib // 4)))}g"


def get_spark(
    app_name: str = "sarfile_analyzer_ng_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime re-planning: partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic wall-clock timestamps regardless of host tz —
        # required for hash-parity with the DuckDB oracle.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for any pandas-UDF path (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep scans lean: pushdown + pruning are on by default, pin
        # them explicitly so a config drift can't silently regress.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # managed-table (saveAsTable) target — keep it out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.driver.memory", default_driver_mem())
    )
    spark = builder.getOrCreate()
    # getOrCreate silently IGNORES builder configs when a session
    # already exists (a test fixture, another library) — re-assert the
    # runtime-settable correctness confs so the UTC/parity guarantees
    # hold on any session this factory hands out. Static confs
    # (master, memory) legitimately keep the first session's values.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
