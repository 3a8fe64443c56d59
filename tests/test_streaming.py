"""Structured Streaming surface tests (pttcrawler_spark/streaming/stream.py):
file-source frontier stream, watermarked window agg, the
applyInPandasWithState sessionizer and the batch-twin equivalences."""

from __future__ import annotations

import json
import shutil
import tempfile
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from pttcrawler_spark.streaming import stream as STR


def _write_frontier_files(d: Path, rows: list[dict], per_file: int = 5) -> None:
    d.mkdir(parents=True, exist_ok=True)
    for i in range(0, len(rows), per_file):
        with open(d / f"part-{i:05d}.json", "w") as fh:
            for r in rows[i:i + per_file]:
                fh.write(json.dumps(r) + "\n")


@pytest.fixture(scope="module")
def stream_dirs(spark):
    base = Path(tempfile.mkdtemp(prefix="stream_test_"))
    yield base
    shutil.rmtree(base, ignore_errors=True)


def test_windowed_fetch_rate_with_watermark(spark, stream_dirs):
    src = stream_dirs / "rate_in"
    rows = []
    for i in range(20):
        rows.append({"url": f"u{i}", "kind": "article", "board": "b0",
                     "page_index": 1, "dom_pos": i,
                     "event_ts": f"2025-08-01T00:{i // 10:02d}:{(i * 7) % 60:02d}Z"})
    _write_frontier_files(src, rows, per_file=7)
    agg = STR.windowed_fetch_rate(
        STR.frontier_file_stream(spark, str(src)), window_s=60, watermark_s=120)
    q = (agg.writeStream.format("memory").queryName("win_agg")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("SELECT * FROM win_agg ORDER BY win_start").toPandas()
    assert res["n_fetched"].sum() == 20
    assert len(res) == 2  # two 1-minute windows


def test_sessionize_stateful(spark, stream_dirs):
    src = stream_dirs / "sess_in"
    rows = []
    # two sessions on board b0 separated by a 2h gap; session 0 has 3 events
    for i, ts in enumerate(["00:00:00", "00:10:00", "00:20:00", "03:00:00",
                            "03:05:00"]):
        rows.append({"url": f"s{i}", "kind": "article", "board": "b0",
                     "page_index": 1, "dom_pos": i,
                     "event_ts": f"2025-08-01T{ts}Z"})
    _write_frontier_files(src, rows, per_file=len(rows))
    sess = STR.sessionize_stateful(
        STR.frontier_file_stream(spark, str(src)), gap_s=1800)
    q = (sess.writeStream.format("memory").queryName("sessions")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    time.sleep(1)
    res = spark.sql("SELECT * FROM sessions").toPandas()
    # only the CLOSED session is emitted (session 1 still open in state)
    assert len(res) == 1
    assert res.iloc[0]["session_id"] == 0
    assert res.iloc[0]["n_events"] == 3


def test_url_seen_stream_dedups_within_watermark(spark, stream_dirs):
    """Duplicate URLs (including messy canonical variants) arriving across
    micro-batches inside the watermark collapse to one row per canonical
    URL; distinct URLs all survive."""
    rows = []
    for i in range(6):
        url = f"https://www.ptt.cc/bbs/Board00/M.{i}.A.html"
        rows.append({"url": url, "kind": "article", "board": "Board00",
                     "page_index": 1, "dom_pos": i,
                     "event_ts": "2025-08-01T00:00:10Z"})
        # a later duplicate and a messy canonical variant of the same URL
        rows.append({**rows[-1], "event_ts": "2025-08-01T00:05:00Z"})
        rows.append({**rows[-1],
                     "url": f"HTTPS://WWW.PTT.CC:443/bbs/Board00/M.{i}.A.html#x",
                     "event_ts": "2025-08-01T00:09:00Z"})
    src = stream_dirs / "seen_in"
    _write_frontier_files(src, rows, per_file=4)  # several micro-batches

    out = str(stream_dirs / "seen_out")
    chk = str(stream_dirs / "seen_chk")
    q = (STR.url_seen_stream(STR.frontier_file_stream(spark, str(src)))
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 6
    assert got.select("canon_url").distinct().count() == 6


def test_fetch_latency_stream_interval_join(spark, stream_dirs):
    """Stream-stream interval join: fetches within the lag bound join their
    discovery; a fetch outside the bound produces no row."""
    def mk(url, ts):
        return {"url": url, "kind": "article", "board": "b",
                "page_index": 1, "dom_pos": 0, "event_ts": ts}
    disc = [mk(f"u{i}", "2025-08-01T00:00:00Z") for i in range(4)]
    fet = ([mk(f"u{i}", f"2025-08-01T00:0{i}:30Z") for i in range(3)]  # 90-150s lag... within 600s
           + [mk("u3", "2025-08-01T02:00:00Z")])                       # 2h late: outside bound
    d_src, f_src = stream_dirs / "lat_d", stream_dirs / "lat_f"
    _write_frontier_files(d_src, disc, per_file=2)
    _write_frontier_files(f_src, fet, per_file=2)

    out = str(stream_dirs / "lat_out")
    chk = str(stream_dirs / "lat_chk")
    q = (STR.fetch_latency_stream(
            STR.frontier_file_stream(spark, str(d_src)),
            STR.frontier_file_stream(spark, str(f_src)))
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas().sort_values("url")
    assert got.url.tolist() == ["u0", "u1", "u2"]     # u3's fetch was too late
    assert got.latency_s.tolist() == [30, 90, 150]


# ---------------------------------------------------------------------------
# Stream ≡ batch-twin equivalence (round-3 verdict #7): the driver grades
# suite.stream_urlseen_twin / suite.stream_latency_twin against DuckDB
# oracles; these tests pin the REAL streaming operators to the twins' results
# on the same derived input, so the streaming semantics transitively carry an
# oracle row. Watermarks are set ≥ the data's event-time span, the regime in
# which the twins' batch semantics are exact (no eviction, no late drops).
# ---------------------------------------------------------------------------
_SF_DIR = "/root/testdata/sf0.001"
_BIG_WM = 10**7  # seconds — covers the sf0.001 events span many times over


def _ts_iso(col):
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")


def _dump_rows(spark, df, d: Path, per_file: int = 100) -> None:
    rows = [r.asDict() for r in df.collect()]
    full = [{"kind": "article", "board": "b", "page_index": 1, "dom_pos": 0,
             **r} for r in rows]
    _write_frontier_files(d, full, per_file=per_file)


def test_url_seen_stream_equals_batch_twin(spark, stream_dirs):
    """url_seen_stream (dropDuplicatesWithinWatermark) over the suite twin's
    derived input emits exactly one row per canonical URL, and the key set
    equals suite.stream_urlseen_twin's — the oracle-graded batch twin."""
    from pttcrawler_spark import suite as S

    ev = spark.read.parquet(f"{_SF_DIR}/events.parquet")
    raw = S._messy_url(F.col("event_id") % 400, F.col("event_id") % 6)
    src = stream_dirs / "twin_seen_in"
    _dump_rows(spark,
               ev.select(raw.alias("url"), _ts_iso("ts").alias("event_ts"))
                 .orderBy("ts", "event_id"),
               src)

    out, chk = str(stream_dirs / "twin_seen_out"), str(stream_dirs / "twin_seen_chk")
    q = (STR.url_seen_stream(STR.frontier_file_stream(spark, str(src)),
                             watermark_s=_BIG_WM)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    twin = S.stream_urlseen_twin(spark, _SF_DIR)
    got_keys = {r.canon_url for r in got.select("canon_url").collect()}
    twin_keys = {r.canon_url for r in twin.select("canon_url").collect()}
    assert got.count() == len(got_keys)          # exactly-once per key
    assert got_keys == twin_keys


def test_fetch_latency_stream_equals_batch_twin(spark, stream_dirs):
    """fetch_latency_stream (watermarked interval join) over the suite
    twin's derived discovery/fetch streams equals suite.stream_latency_twin
    row-for-row ((url, disc_ts, fetch_ts, latency_s) multisets)."""
    from pttcrawler_spark import suite as S

    ev = spark.read.parquet(f"{_SF_DIR}/events.parquet")
    url = F.concat(F.lit("https://www.ptt.cc/u/"),
                   F.col("user_id").cast("string"))
    d_src, f_src = stream_dirs / "twin_lat_d", stream_dirs / "twin_lat_f"
    _dump_rows(spark,
               ev.where(F.col("event_type") == "view")
                 .select(url.alias("url"), _ts_iso("ts").alias("event_ts"))
                 .orderBy("ts"), d_src)
    _dump_rows(spark,
               ev.where(F.col("event_type") == "click")
                 .select(url.alias("url"), _ts_iso("ts").alias("event_ts"))
                 .orderBy("ts"), f_src)

    out, chk = str(stream_dirs / "twin_lat_out"), str(stream_dirs / "twin_lat_chk")
    q = (STR.fetch_latency_stream(
            STR.frontier_file_stream(spark, str(d_src)),
            STR.frontier_file_stream(spark, str(f_src)),
            max_lag_s=S._LATENCY_MAX_LAG_S, watermark_s=_BIG_WM)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", chk)
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = (spark.read.parquet(out)
           .select("url", _ts_iso("disc_ts").alias("dt"),
                   _ts_iso("fetch_ts").alias("ft"), "latency_s"))
    # map the twin's event ids back to timestamps for the comparison
    twin = S.stream_latency_twin(spark, _SF_DIR)
    ids = ev.select("event_id", "ts")
    exp = (twin
           .join(ids.select(F.col("event_id").alias("disc_event_id"),
                            _ts_iso("ts").alias("dt")), "disc_event_id")
           .join(ids.select(F.col("event_id").alias("fetch_event_id"),
                            _ts_iso("ts").alias("ft")), "fetch_event_id")
           .select("url", "dt", "ft", "latency_s"))
    got_rows = sorted(map(tuple, got.collect()))
    exp_rows = sorted(map(tuple, exp.collect()))
    assert len(got_rows) == len(exp_rows) > 0
    assert got_rows == exp_rows
