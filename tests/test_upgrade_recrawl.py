"""--upgrade / deletion flows: mark_for_recrawl (SCD-2-style refetch) and
purge_urls (cuckoo-backed URL-seen deletion), plus crawl parity under the
cuckoo seen-filter."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pttcrawler_spark.engine import crawl as C
from pttcrawler_spark.oracle.simulator import run_oracle
from pttcrawler_spark.synth.site import SiteConfig, generate_site_pandas


@pytest.fixture(scope="module")
def small(spark):
    cfg = SiteConfig(n_boards=1, pages_per_board=2, articles_per_page=4)
    pdf = generate_site_pandas(cfg)
    return cfg, pdf, spark.createDataFrame(pdf)


def _crawl(spark, corpus, cfg, out, resume=False, **kw):
    return C.crawl(spark, corpus, cfg.seeds(), out,
                   C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, **kw),
                   resume=resume)


def test_cuckoo_filter_crawl_parity(spark, small):
    cfg, pdf, corpus = small
    sim = run_oracle(pdf, cfg)
    out = tempfile.mkdtemp(prefix="crawl_ck_")
    try:
        res = _crawl(spark, corpus, cfg, out, seen_filter="cuckoo")
        assert set(res.url_seen().toPandas().url) == sim.url_seen
        eng = res.fetch_order().toPandas().sort_values(["host", "ord"])
        ora = sim.fetch_events_df()
        for host in ora.host.unique():
            assert eng[eng.host == host].url.tolist() == \
                ora[ora.host == host].url.tolist()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_mark_for_recrawl_refetches(spark, small):
    cfg, pdf, corpus = small
    out = tempfile.mkdtemp(prefix="crawl_up_")
    try:
        res = _crawl(spark, corpus, cfg, out)
        arts = (res.frontier().where("kind = 'article' AND status = 'fetched'")
                .select("url").limit(2).toPandas().url.tolist())
        before = res.table("parsed_articles").count()

        n = C.mark_for_recrawl(spark, out, arts)
        assert n == 2
        res2 = _crawl(spark, corpus, cfg, out, resume=True)
        # the two articles were fetched again → new SCD-2 version rows
        after = res2.table("parsed_articles")
        assert after.count() == before + 2
        dup = (after.groupBy("web_id").count().where(F.col("count") == 2))
        assert dup.count() == 2
        # frontier back to fully-fetched
        assert res2.frontier().where("status = 'pending'").count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_scd2_versions_and_rotation(spark, small):
    """After an --upgrade recrawl, build_relational emits one history row
    per version: closed versions end where the next starts
    (crawler/article.py:196-207); rotation keeps the newest K
    (crawler/article.py:256-259) and cascades pushes (6794412e2720)."""
    from pttcrawler_spark.engine import store as S
    cfg, pdf, corpus = small
    out = tempfile.mkdtemp(prefix="crawl_scd2_")
    try:
        res = _crawl(spark, corpus, cfg, out)
        arts = (res.frontier().where("kind = 'article' AND status = 'fetched'")
                .select("url").limit(2).toPandas().url.tolist())
        C.mark_for_recrawl(spark, out, arts)
        res2 = _crawl(spark, corpus, cfg, out, resume=True)

        t = S.build_relational(res2)
        n_articles = t["article"].count()
        hist = t["article_history"].toPandas()
        assert len(hist) == n_articles + 2
        multi = hist.groupby("article_id").size()
        assert (multi == 2).sum() == 2 and (multi == 1).sum() == n_articles - 2
        # closed version ends where the successor starts; open version
        # has end_at == start_at
        for aid, grp in hist.groupby("article_id"):
            g = grp.sort_values("start_at")
            assert (g.iloc[-1].end_at == g.iloc[-1].start_at)
            for i in range(len(g) - 1):
                assert g.iloc[i].end_at == g.iloc[i + 1].start_at
        # pushes reference only existing histories, duplicated per version
        push = t["push"].toPandas()
        assert set(push.article_history_id) <= set(hist.id)

        # rotation: keep only the newest version per article
        t1 = S.build_relational(res2, version_rotate=1)
        h1 = t1["article_history"].toPandas()
        assert len(h1) == n_articles
        assert (h1.end_at == h1.start_at).all()
        # cascaded pushes: none reference a dropped history
        p1 = t1["push"].toPandas()
        assert set(p1.article_history_id) <= set(h1.id)
        assert len(p1) <= len(push)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_purge_with_cuckoo_allows_rediscovery(spark, small):
    cfg, pdf, corpus = small
    out = tempfile.mkdtemp(prefix="crawl_purge_")
    try:
        res = _crawl(spark, corpus, cfg, out, seen_filter="cuckoo")
        n_before = res.frontier().count()
        victims_pdf = (res.frontier().where("kind = 'article'")
                       .select("url", "url_hash").limit(3).toPandas())
        victims = victims_pdf.url.tolist()
        n = C.purge_urls(spark, out, victims)
        assert n == 3

        # purged rows are gone from the frontier and the seen filter
        from pttcrawler_spark.engine import state as ST
        from pttcrawler_spark.operators import cuckoo as CK
        snap = ST.load_snapshot(spark, out)
        assert snap.frontier.count() == n_before - 3
        assert snap.frontier.where(F.col("url").isin(victims)).count() == 0
        assert snap.seen[0] == "cuckoo"
        ck = CK.CuckooState(4)
        ck.restore(snap.seen[1])
        # probe with the PRE-purge rows (the post-purge frontier no longer
        # contains them — that's the point)
        probe_rows = spark.createDataFrame(victims_pdf)
        maybe, new = ck.split(probe_rows)
        assert maybe.count() == 0 and new.count() == 3  # un-seen again

        # re-crawl from scratch state: the purged urls get re-discovered
        # because their index page is marked for recrawl
        idx_urls = (res.frontier().where("kind = 'index'").select("url")
                    .toPandas().url.tolist())
        C.mark_for_recrawl(spark, out, idx_urls)
        res3 = _crawl(spark, corpus, cfg, out, resume=True,
                      seen_filter="cuckoo")
        fr = res3.frontier().where(F.col("url").isin(victims))
        assert fr.count() == 3  # re-enqueued as new rows
        assert (fr.toPandas().status == "fetched").all()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_unknown_seen_filter_raises_everywhere(spark, small):
    """A mistyped seen_filter fails loudly before anything is committed.
    crawl is the only flow that takes the kind: mark_for_recrawl and
    purge_urls maintain the filter the store already keeps."""
    from pttcrawler_spark.engine import state as ST
    cfg, pdf, corpus = small
    out = tempfile.mkdtemp(prefix="crawl_badfilter_")
    try:
        _crawl(spark, corpus, cfg, out)
        committed = ST.latest_committed(out)
        with pytest.raises(ValueError, match="unknown seen_filter"):
            _crawl(spark, corpus, cfg, out, resume=True, seen_filter="cukoo")
        assert ST.latest_committed(out) == committed
    finally:
        shutil.rmtree(out, ignore_errors=True)
