"""Bloom filter operator: no false negatives, bounded false positives,
split() correctness, and end-to-end crawl equivalence with the exact path."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pttcrawler_spark.operators.bloom import BloomState


def test_no_false_negatives_and_low_fp(spark):
    n = 5000
    keys = spark.range(n).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    others = spark.range(n, 2 * n).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))

    bl = BloomState(partitions=8, bits_per_key=16, bits_per_partition=1 << 14)
    bl.rebuild(keys)

    maybe, new = bl.split(keys)
    assert new.count() == 0            # zero false negatives
    assert maybe.count() == n

    maybe2, new2 = bl.split(others)
    fp = maybe2.count()
    assert fp / n < 0.05, fp           # 16 bits/key ⇒ ~0.04% theoretical; slack for m cap


def test_add_incremental(spark):
    a = spark.range(100).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    b = spark.range(100, 200).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    bl = BloomState(partitions=4, bits_per_partition=1 << 12)
    bl.rebuild(a)
    bl.add(b)
    maybe, new = bl.split(a.union(b))
    assert new.count() == 0
    assert bl.blobs.agg(F.sum("n_items")).collect()[0][0] == 200


def test_crawl_with_bloom_matches_exact(spark, site_cfg, corpus_pdf, crawled, oracle):
    from pttcrawler_spark.engine import crawl as C

    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_bloom_")
    try:
        res = C.crawl(spark, corpus, site_cfg.seeds(), out,
                      C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, seen_filter="bloom"))
        eng = res.fetch_order().toPandas().sort_values(["host", "ord"])
        ora = oracle.fetch_events_df()
        for host in ora.host.unique():
            assert eng[eng.host == host].url.tolist() == ora[ora.host == host].url.tolist()
        assert set(res.url_seen().toPandas().url) == oracle.url_seen
    finally:
        shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_seen_filter_resume_matches_oracle(spark, site_cfg, corpus_pdf,
                                           oracle, kind):
    """A crawl killed after two batches resumes from the committed filter
    blobs: the oracle's per-host order and seen set, and the last committed
    blobs hold exactly one item per frontier row."""
    from pttcrawler_spark.engine import crawl as C
    from pttcrawler_spark.engine import state as ST

    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix=f"crawl_{kind}_resume_")
    try:
        kw = dict(delay_s=2.0, batch_seconds=20.0, seen_filter=kind,
                  verify_payload=False)
        C.crawl(spark, corpus, site_cfg.seeds(), out,
                C.CrawlConfig(max_batches=2, **kw))
        assert ST.latest_committed(out) == 1
        res = C.crawl(spark, corpus, site_cfg.seeds(), out,
                      C.CrawlConfig(**kw), resume=True)
        eng = res.fetch_order().toPandas().sort_values(["host", "ord"])
        ora = oracle.fetch_events_df()
        for host in ora.host.unique():
            assert eng[eng.host == host].url.tolist() == ora[ora.host == host].url.tolist()
        assert set(res.url_seen().toPandas().url) == oracle.url_seen

        snap = ST.load_snapshot(spark, out)
        assert snap.batch_id == res.final_batch > 1
        assert snap.seen[0] == kind
        n_items = snap.seen[1].agg(F.sum("n_items")).first()[0]
        assert n_items == snap.frontier.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
