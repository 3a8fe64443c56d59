"""Schema-evolution story (reference db_migration/versions/* analog).

An old-layout checkpoint (pre-retry_count frontier, pre-robots politeness —
the r1_initial revision) must be upgradeable in place with
``migrate_state`` and then resume bit-identically under current code.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pttcrawler_spark.engine import crawl as C
from pttcrawler_spark.engine import migrate as M
from pttcrawler_spark.engine import state as ST


@pytest.fixture(scope="module")
def old_store(spark, site_cfg, corpus_pdf):
    """A 2-batch crawl checkpoint downgraded to the r1_initial layout."""
    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_migrate_")
    C.crawl(spark, corpus, site_cfg.seeds(), out,
            C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, max_batches=2))
    M.downgrade_for_test(spark, out)
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_old_layout_really_lacks_new_columns(spark, old_store):
    assert M.revision(old_store) == "r1_initial"
    snap = ST.load_snapshot(spark, old_store)
    assert "retry_count" not in snap.frontier.columns
    assert "robots_rules" not in snap.politeness.columns


def test_migrate_then_resume_matches_uninterrupted(spark, site_cfg,
                                                   corpus_pdf, old_store,
                                                   crawled):
    applied = M.migrate_state(spark, old_store)
    assert M.revision(old_store) == M.HEAD
    assert applied["r2_retry_count"] > 0
    assert applied["r3_push_cascade"] == 0          # behavior-only revision
    assert applied["r4_robots_nullable"] > 0

    corpus = spark.createDataFrame(corpus_pdf)
    resumed = C.crawl(spark, corpus, site_cfg.seeds(), old_store,
                      C.CrawlConfig(delay_s=2.0, batch_seconds=20.0),
                      resume=True)
    want = crawled.frontier().orderBy("url").toPandas()
    got = resumed.frontier().orderBy("url").toPandas()
    assert got.url.tolist() == want.url.tolist()
    assert got.status.tolist() == want.status.tolist()
    assert got.retry_count.tolist() == want.retry_count.tolist()


def test_migrate_is_idempotent_and_refuses_downgrade(spark, old_store):
    # old_store is at HEAD after the resume test ran; a second migrate is a
    # clean no-op (every _add_columns sees its columns present and skips)
    again = M.migrate_state(spark, old_store)
    assert all(n == 0 for n in again.values())
    with pytest.raises(ValueError, match="downgrade"):
        M.migrate_state(spark, old_store, to_rev="r2_retry_count")


def test_fresh_store_is_stamped_head(spark, site_cfg, corpus_pdf):
    """A store created by current code is stamped HEAD at creation (round-3
    ADVICE): `migrate current` tells the truth for brand-new stores and the
    first migrate is a clean no-op, not a full directory re-walk. The
    no-marker => r1_initial fallback stays reserved for genuinely
    pre-revision stores (covered by old_store above)."""
    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_fresh_stamp_")
    try:
        C.crawl(spark, corpus, site_cfg.seeds(), out,
                C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, max_batches=1))
        assert M.revision(out) == M.HEAD
        assert M.migrate_state(spark, out) == {}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_migrate_refuses_while_crawl_lock_held(spark, old_store):
    """Exclusive access (round-3 ADVICE): migration must refuse to run while
    a live crawl holds the store lock — _add_columns has a rename window
    where a state dir does not exist."""
    lock = ST.acquire_lock(old_store, owner="crawl")
    # a DIFFERENT live process is the hazard; same-pid locks are treated as
    # stale (serialized calls in one driver), so fake another live holder
    import json as _json
    import pathlib
    p = pathlib.Path(lock)
    info = _json.loads(p.read_text())
    import subprocess
    import sys
    other = subprocess.Popen([sys.executable, "-c",
                              "import time; time.sleep(60)"])
    try:
        info["pid"] = other.pid
        p.write_text(_json.dumps(info))
        with pytest.raises(RuntimeError, match="locked by live"):
            M.migrate_state(spark, old_store)
    finally:
        other.kill()
        other.wait()
        ST.release_lock(lock)
    # dead-pid lock is stale and must NOT block (killed-run recovery)
    p.write_text(_json.dumps({"pid": other.pid, "owner": "crawl"}))
    assert isinstance(M.migrate_state(spark, old_store), dict)
    assert not p.exists()  # migrate released its own lock
