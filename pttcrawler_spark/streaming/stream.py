"""Structured Streaming surface — the reference's implicit stream semantics
(SURVEY.md §2.9) as real readStream/writeStream pipelines.

The reference is a slow sequential stream processor in disguise: one index
page per iteration, flush every 20/100 rows, crontab cadence
(crawler/article.py:419-511, 546-549; schedule.py:68-110). Here:

- ``frontier_file_stream``: frontier rows arrive as JSON files, bounded per
  micro-batch like the reference's 20-article flush; it feeds the operators
  below. The crawl itself is the batch loop in engine/crawl.py, which owns
  politeness, dedupe and the commit contract.
- ``windowed_fetch_rate``: event-time tumbling window + watermark — the
  late-data-tolerant version of the reference's per-page tallies.
- ``sessionize_stateful``: applyInPandasWithState — custom per-key state the
  built-in operators can't express (gap-based sessions over a fetch stream).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (LongType, StringType, StructField, StructType,
                               TimestampType)

FRONTIER_STREAM_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("kind", StringType()),
    StructField("board", StringType()),
    StructField("page_index", LongType()),
    StructField("dom_pos", LongType()),
    StructField("event_ts", TimestampType()),
])


def frontier_file_stream(spark: SparkSession, dir_path: str) -> DataFrame:
    """New frontier rows land as JSON files → unbounded DataFrame.
    maxFilesPerTrigger bounds each micro-batch like the reference's
    20-article flush (crawler/article.py:546-549)."""
    return (spark.readStream.schema(FRONTIER_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .json(dir_path))


def windowed_fetch_rate(stream: DataFrame, window_s: int = 60,
                        watermark_s: int = 120) -> DataFrame:
    """Event-time tumbling-window fetch counts with a watermark: late rows
    inside the watermark still update their window; older ones are dropped
    (state is bounded — the 10^10-scale requirement for any streaming agg)."""
    return (stream
            .withWatermark("event_ts", f"{watermark_s} seconds")
            .groupBy(F.window("event_ts", f"{window_s} seconds"),
                     F.col("board"))
            .agg(F.count("*").alias("n_fetched"))
            .select(F.col("window.start").alias("win_start"), "board", "n_fetched"))


SESSION_SCHEMA = StructType([
    StructField("board", StringType()),
    StructField("session_id", LongType()),
    StructField("n_events", LongType()),
    StructField("start_ts", TimestampType()),
    StructField("end_ts", TimestampType()),
])
_SESSION_STATE = StructType([
    StructField("session_id", LongType()),
    StructField("last_ts", LongType()),
    StructField("n_events", LongType()),
    StructField("start_ts", LongType()),
])


def sessionize_stateful(stream: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): gap-based sessions
    per board over the fetch stream. State = (open session id, last ts,
    count, start); a gap > gap_s closes the session and emits it. Built-in
    windows can't express variable-length gap sessions + custom payloads."""

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
           ) -> Iterator[pd.DataFrame]:
        (board,) = key
        if state.exists:
            sid, last, n, start = state.get
        else:
            sid, last, n, start = 0, None, 0, None
        out = []
        rows = pd.concat(list(pdfs)).sort_values("event_ts")
        for ts in rows["event_ts"]:
            t = int(ts.timestamp())
            if last is not None and t - last > gap_s:
                out.append((board, sid, n,
                            pd.Timestamp(start, unit="s"),
                            pd.Timestamp(last, unit="s")))
                sid, n, start = sid + 1, 0, t
            if start is None:
                start = t
            last = t
            n += 1
        state.update((sid, last, n, start))
        if out:
            yield pd.DataFrame(out, columns=[f.name for f in SESSION_SCHEMA.fields])

    return (stream.groupBy("board").applyInPandasWithState(
        fn, outputStructType=SESSION_SCHEMA, stateStructType=_SESSION_STATE,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout))

def url_seen_stream(stream: DataFrame, watermark_s: int = 3600) -> DataFrame:
    """Streaming URL-seen dedup: ``dropDuplicatesWithinWatermark`` on the
    canonicalized URL — the Structured Streaming twin of the batch loop's
    bloom/cuckoo URL-seen stage (operators/bloom.py, P7).

    Unlike plain ``dropDuplicates`` (whose state grows with every key ever
    seen — unusable at 10^10 URLs), the watermarked variant evicts a key's
    state once the watermark passes its event time, so state is bounded by
    the in-watermark URL cardinality. Division of labor at scale: the
    frontier table + bloom filter hold the full crawl history; this stage
    guards the within-window duplicate races (same URL discovered by two
    concurrent index pages) that the per-batch anti-join cannot see until
    the next commit."""
    from ..functions import url as FU

    return (stream
            .withWatermark("event_ts", f"{watermark_s} seconds")
            .withColumn("canon_url", FU.canonicalize(F.col("url")))
            .dropDuplicatesWithinWatermark(["canon_url"]))

def fetch_latency_stream(discoveries: DataFrame, fetches: DataFrame,
                         max_lag_s: int = 600,
                         watermark_s: int = 120) -> DataFrame:
    """Watermarked stream-stream INTERVAL join: each discovery event joins
    the fetch of the same URL that lands within ``max_lag_s`` after it,
    yielding per-URL crawl latency — the streaming form of the frontier
    question "how stale is the queue?".

    Both sides carry watermarks and the join predicate bounds fetch_ts to
    [disc_ts, disc_ts + max_lag_s], so Spark can evict both join states
    once the watermark passes the bound — state stays O(in-flight URLs),
    the only viable shape when both sides are 10^10-row streams. (A join
    without the time bound would buffer every discovery forever.)"""
    d = (discoveries.withWatermark("event_ts", f"{watermark_s} seconds")
         .select("url", F.col("event_ts").alias("disc_ts")))
    fch = (fetches.withWatermark("event_ts", f"{watermark_s} seconds")
           .select(F.col("url").alias("f_url"),
                   F.col("event_ts").alias("fetch_ts")))
    return (d.join(fch, (F.col("url") == F.col("f_url"))
                   & (F.col("fetch_ts") >= F.col("disc_ts"))
                   & (F.col("fetch_ts")
                      <= F.col("disc_ts") + F.expr(f"INTERVAL {max_lag_s} SECOND")))
            .select("url", "disc_ts", "fetch_ts",
                    (F.unix_timestamp("fetch_ts")
                     - F.unix_timestamp("disc_ts")).alias("latency_s")))
