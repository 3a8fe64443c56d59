from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


@pytest.fixture(scope="session")
def spark():
    from pttcrawler_spark.session import get_spark

    s = get_spark(cores=4, app_name="pttcrawler_tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def site_cfg():
    from pttcrawler_spark.synth.site import SiteConfig

    return SiteConfig(n_boards=2, pages_per_board=3, articles_per_page=5,
                      pushes_per_article=4, seed=42)


@pytest.fixture(scope="session")
def corpus_pdf(site_cfg):
    from pttcrawler_spark.synth.site import generate_site_pandas

    return generate_site_pandas(site_cfg)


@pytest.fixture(scope="session")
def oracle(corpus_pdf, site_cfg):
    from pttcrawler_spark.oracle.simulator import run_oracle

    return run_oracle(corpus_pdf, site_cfg)


@pytest.fixture(scope="session")
def crawled(spark, site_cfg, corpus_pdf):
    """One full engine crawl over the session corpus, shared by all tests."""
    import shutil
    import tempfile

    from pttcrawler_spark.engine import crawl as C

    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_shared_")
    res = C.crawl(spark, corpus, site_cfg.seeds(), out,
                  C.CrawlConfig(delay_s=2.0, batch_seconds=20.0))
    yield res
    shutil.rmtree(out, ignore_errors=True)
