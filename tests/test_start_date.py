"""P4 start-date cutoff + early-stop parity (crawler/article.py:486-503):
engine vs oracle under the same cutoff — fetch set/order, kept articles,
and the cancellation of never-to-be-crawled lower pages."""

from __future__ import annotations

import shutil
import tempfile
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from pttcrawler_spark.engine import crawl as C
from pttcrawler_spark.oracle.simulator import run_oracle
from pttcrawler_spark.synth.site import SiteConfig, generate_site_pandas

# article date = 2025-08-01 + 17min * article_no (synth/site._post_date_str);
# article_no spans boards, so board00 (nos 0-14) trips the cutoff on its
# page 2 while board01 (nos 15-29) crawls clean — both paths in one run
CUTOFF = datetime(2025, 8, 1) + timedelta(minutes=17 * 7)


@pytest.fixture(scope="module")
def setup(spark):
    cfg = SiteConfig(n_boards=2, pages_per_board=3, articles_per_page=5)
    pdf = generate_site_pandas(cfg)
    sim = run_oracle(pdf, cfg, start_date=CUTOFF)
    out = tempfile.mkdtemp(prefix="crawl_sd_")
    res = C.crawl(spark, spark.createDataFrame(pdf), cfg.seeds(), out,
                  C.CrawlConfig(delay_s=2.0, batch_seconds=20.0,
                                start_date=CUTOFF))
    yield cfg, sim, res
    shutil.rmtree(out, ignore_errors=True)


def test_fetch_set_and_order_match(setup):
    cfg, sim, res = setup
    eng = res.fetch_order().toPandas().sort_values(["host", "ord"])
    ora = sim.fetch_events_df()
    assert set(eng.host) == set(ora.host)
    for host in ora.host.unique():
        assert eng[eng.host == host].url.tolist() == \
            ora[ora.host == host].url.tolist(), host
    assert set(res.url_seen().toPandas().url) == sim.url_seen


def test_kept_articles_match(setup):
    cfg, sim, res = setup
    eng_ids = set(res.table("parsed_articles").toPandas().web_id)
    ora_ids = set(sim.tables()["article"].web_id)
    assert eng_ids == ora_ids
    # the cutoff actually dropped something (dates below it exist on page 2)
    assert len(eng_ids) > 0


def test_lower_pages_cancelled(setup):
    cfg, sim, res = setup
    fr = res.frontier().toPandas()
    b0 = fr[fr.board == cfg.board_name(0)]
    b1 = fr[fr.board == cfg.board_name(1)]
    # board00 stopped at page 2: page-1 rows cancelled, never fetched
    assert (b0[b0.page_index == 1].status == "cancelled").all()
    assert len(b0[b0.page_index == 1]) > 0
    # board01 (all dates above the cutoff) crawled everything
    assert (b1.status == "fetched").all()


def test_early_stopped_articles_not_downstream(setup):
    cfg, sim, res = setup
    dropped = res.frontier().toPandas()
    dropped = set(dropped[dropped.status == "cancelled"].url)
    assert dropped  # non-empty
    for tbl in ("parsed_pushes", "images"):
        t = res.table(tbl)
        assert t is not None
        # kept tables only reference kept articles
        key = "web_id" if "web_id" in t.columns else "image_id"
        ora_ids = set(sim.tables()["article"].web_id)
        assert set(t.select(key).toPandas()[key]) <= ora_ids
