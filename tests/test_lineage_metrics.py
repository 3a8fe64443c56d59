"""Per-host lineage metrics and the cost of the small commit writes.

One crawl of a site where politeness defers rows (burst 10 < 12 articles
per page), every index page then marked for recrawl and the crawl resumed:
the resumed batches refetch index pages whose every entry is already seen,
so their candidates all dedupe away.
"""

from __future__ import annotations

import re
import shutil
import tempfile

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from pttcrawler_spark.engine import crawl as C
from pttcrawler_spark.engine import state as ST
from pttcrawler_spark.oracle.simulator import run_oracle
from pttcrawler_spark.synth.site import SiteConfig, generate_site_pandas


@pytest.fixture(scope="module")
def recrawled(spark):
    """(first crawl, resumed crawl, frontier rows before the resume, oracle,
    job counts per commit-write target dir). Each ``parquet`` write runs
    under a job group named by its target dir, set inside the wrapper:
    the commit writes run on pool threads, which inherit no job group."""
    sc = spark.sparkContext
    write = DataFrameWriter.parquet
    paths: list[str] = []

    def grouped(self, path, *args, **kwargs):
        paths.append(path)
        sc.setJobGroup(path, "commit write")
        return write(self, path, *args, **kwargs)

    site = SiteConfig(n_boards=2, pages_per_board=3, articles_per_page=12,
                      seed=5)
    pdf = generate_site_pandas(site)
    corpus = spark.createDataFrame(pdf)
    cfg = C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, verify_payload=False)
    out = tempfile.mkdtemp(prefix="crawl_lineage_")
    try:
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(DataFrameWriter, "parquet", grouped)
            first = C.crawl(spark, corpus, site.seeds(), out, cfg)
            n_rows = first.frontier().count()
            index = first.frontier().where(F.col("kind") == "index").select("url")
            assert C.mark_for_recrawl(spark, out, index) == 6
            resumed = C.crawl(spark, corpus, site.seeds(), out, cfg, resume=True)
        tracker = sc.statusTracker()
        jobs = {p: len(tracker.getJobIdsForGroup(p)) for p in paths}
        yield first, resumed, n_rows, run_oracle(pdf, site), jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        shutil.rmtree(out, ignore_errors=True)


def test_deferred_is_pending_minus_fetched(spark, recrawled):
    """A host's ``deferred`` in batch b is its pending rows at the end of
    b-1 less the rows b fetched or failed (no robots rules, no early stop:
    every pending row is admitted or deferred)."""
    _, resumed, _, _, _ = recrawled
    m = resumed.metrics().toPandas()
    assert m.deferred.sum() > 0
    assert (m[m.batch_id == 0].deferred == 0).all()
    for b in sorted(set(m.batch_id) - {0}):
        pending = (ST.load_frontier(spark, resumed.out_dir, b - 1)
                   .where(F.col("status") == "pending")
                   .groupBy("host").count().toPandas()
                   .set_index("host")["count"])
        mb = m[m.batch_id == b].set_index("host")
        assert set(mb.index) == set(pending.index), b
        for host, row in mb.iterrows():
            assert row.deferred == pending[host] - row.fetched - row.failed, \
                (b, host)


def test_resumed_recrawl_dedupes_every_entry(recrawled):
    """The resumed batches refetch every index page: each listed entry is a
    candidate already in the frontier, so Σdeduped over them is the
    oracle's article_index row count and the frontier gains no row."""
    first, resumed, n_rows, oracle, _ = recrawled
    m = resumed.metrics().toPandas()
    again = m[m.batch_id > first.final_batch]
    assert len(again) > 0
    assert again.deduped.sum() == len(oracle.tables()["article_index"])
    assert (m[m.batch_id <= first.final_batch].deduped == 0).all()
    assert resumed.frontier().count() == n_rows


def test_small_commit_writes_job_budget(recrawled):
    """An index batch's politeness and metrics writes each compute the
    batch's one per-host tally. Counted from outside the engine, the
    politeness write (a full outer join of the state with the tally) runs
    3 jobs and the metrics write (a filter over it) 2; the bounds leave
    one job of slack each."""
    first, _, _, _, jobs = recrawled
    stats = first.batch_stats[1]
    assert stats["index"] > 0 and stats["bootstrap"] == stats["article"] == 0
    by_name = {}
    for path, n in jobs.items():
        hit = re.search(r"state/batch=1/(\w+)$", path)
        if hit:
            by_name[hit.group(1)] = n
    assert by_name["politeness"] <= 4, by_name
    assert by_name["metrics"] <= 3, by_name
