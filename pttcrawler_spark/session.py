"""SparkSession factory and the engine's Spark settings.

``ENGINE_CONF`` is the one place the engine's Spark settings live: every
session that runs the engine (``get_spark`` in local mode, ``submit.main``
under spark-submit) applies it. Sizing (master, partitions, memory) is
deployment, not engine: ``get_spark`` sizes local mode, and spark-submit's
command line sizes a cluster job.

Local-mode sizing follows the public Spark tuning guidance: shuffle
partitions ~= cores (not 200). AQE stays on (pyspark's default: runtime
coalesce + skew-join); turning it off made crawl batches 1.4-2.1x slower.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # results hash-compare cleanly against DuckDB's UTC-naive timestamps,
    # and a store reads back the same whatever the writing JVM's zone
    "spark.sql.session.timeZone": "UTC",
    # FAIR job scheduling: two overlaps remain in the crawl loop. A
    # batch's frontier checkpoint (pool "loop", engine/crawl.py) runs
    # beside its own commit writes (pool "commit", engine/state.py), and
    # batch k's post-commit verify (pool "commit", engine/verify.py) runs
    # beside batch k+1's jobs. Under FIFO the checkpoint and the next
    # batch's jobs would queue behind the payload writes and the verify.
    # Pools are auto-created on first use; threads that never set a pool
    # land in "default" and see plain FIFO behavior.
    "spark.scheduler.mode": "FAIR",
    # Arrow for the pandas-UDF stages
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    # iterative micro-batch loops create a broadcast + shuffle per batch;
    # the ContextCleaner only reclaims them after a JVM GC and its
    # periodic GC defaults to 30 MINUTES — far longer than a whole run.
    # A periodic GC keeps stale broadcast/shuffle blocks from
    # accumulating (observed: identical steady batches ramping 14s → 23s
    # without it), but each forced full GC is a stop-the-world pause paid
    # on every core — too FREQUENT an interval serializes the loop
    # (see BASELINE.md scaling notes)
    "spark.cleaner.periodicGC.interval": "120s",
}


def get_spark(
    cores: int | str = "*",
    app_name: str = "pttcrawler_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession on ``local[cores]``.

    Applies ``ENGINE_CONF``, then local-mode sizing, then ``extra_conf``
    (deployment settings such as scratch dirs or driver memory).
    ``shuffle_partitions`` defaults to the core count (or 32 for ``*``):
    the right size for local mode where 200 partitions just adds task
    overhead; on a real cluster this is set per-job from executor count.
    """
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)
    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.default.parallelism": str(shuffle_partitions),
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
        **(extra_conf or {}),
    }
    spark = (SparkSession.builder.master(f"local[{cores}]").appName(app_name)
             .config(map=conf).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark
