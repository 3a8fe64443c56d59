"""SparkSession factory tuned for this engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ~= cores (not 200), AQE on (runtime coalesce + skew-join),
Arrow on for the pandas-UDF stages, session TZ pinned to UTC so results
hash-compare cleanly against DuckDB's UTC-naive timestamps.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cores: int | str = "*",
    app_name: str = "pttcrawler_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession on ``local[cores]``.

    ``shuffle_partitions`` defaults to the core count (or 32 for ``*``):
    the right size for local mode where 200 partitions just adds task
    overhead; on a real cluster this is set per-job from executor count.
    """
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # iterative micro-batch loops create a broadcast + shuffle per batch;
        # the ContextCleaner only reclaims them after a JVM GC and its
        # periodic GC defaults to 30 MINUTES — far longer than a whole run.
        # A periodic GC keeps stale broadcast/shuffle blocks from
        # accumulating (observed: identical steady batches ramping 14s → 23s
        # without it), but each forced full GC is a stop-the-world pause paid
        # on every core — too FREQUENT an interval serializes the loop
        # (SPARK_GRAFT_GC_INTERVAL overrides; see BASELINE.md scaling notes)
        .config("spark.cleaner.periodicGC.interval",
                os.environ.get("SPARK_GRAFT_GC_INTERVAL", "120s"))
        # FAIR job scheduling: two overlaps remain in the crawl loop. A
        # batch's frontier/politeness checkpoints (pool "loop",
        # engine/crawl.py) run beside its own commit writes (pool "commit",
        # engine/state.py), and batch k's post-commit verify (pool
        # "commit", engine/verify.py) runs beside batch k+1's jobs. Under
        # FIFO the checkpoints and the next batch's jobs would queue behind
        # the payload writes and the verify. Pools are auto-created on
        # first use; threads that never set a pool land in "default" and
        # see plain FIFO behavior.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # binary image payloads: keep row groups bounded so a 100 TB table
        # of ~100 KB rows still yields sane parquet pages / task splits
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
