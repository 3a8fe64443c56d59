"""Post-commit verify: equivalence with a reference built from the oracle,
and crash-repair semantics.

The crawl runs the north-rule verify as a follow-on job per batch over the
COMMITTED images + parsed_articles tables. Its row set and verdicts must be
identical to the same stage run directly over the oracle's payloads, and a
kill between a batch's _COMMIT marker and its payload_verify write must heal
on resume (engine/verify.repair_missing_verify).
"""

from __future__ import annotations

import shutil
import tempfile
from pathlib import Path

import pandas as pd
import pytest

from pttcrawler_spark.engine import crawl as C
from pttcrawler_spark.engine import verify as V

PAYLOAD_DDL = ("image_id string, bytes binary, w int, h int, fmt string, "
               "caption string, phash long, expected_caption string")


def _run(spark, corpus_pdf, site_cfg, **cfg_kwargs):
    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_va_")
    res = C.crawl(spark, corpus, site_cfg.seeds(), out,
                  C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, **cfg_kwargs))
    return res, out


def _pv(res):
    pdf = res.table("payload_verify").toPandas()
    return pdf.sort_values("image_id").reset_index(drop=True)


def _oracle_payloads(corpus_pdf, oracle) -> pd.DataFrame:
    """The corpus payload rows of the articles the oracle stored, with the
    expected caption taken from each article's history title."""
    title = {h["article_id"]: h["title"] for h in oracle.histories}
    rows = corpus_pdf[(corpus_pdf["kind"] == "article")
                      & corpus_pdf["web_id"].isin(list(oracle.articles))
                      & corpus_pdf["image_bytes"].notna()]
    return pd.DataFrame({
        "image_id": rows["web_id"],
        "bytes": rows["image_bytes"],
        "w": rows["w"].astype("int32"),
        "h": rows["h"].astype("int32"),
        "fmt": rows["fmt"],
        "caption": rows["caption"],
        "phash": rows["phash"].astype("Int64"),
        "expected_caption": [title[oracle.articles[w]["id"]]
                             for w in rows["web_id"]],
    })


def test_async_matches_inline(spark, corpus_pdf, oracle, crawled):
    ref = (V.verify_payloads(spark.createDataFrame(
        _oracle_payloads(corpus_pdf, oracle), PAYLOAD_DDL)).toPandas()
        .sort_values("image_id").reset_index(drop=True))
    got = _pv(crawled)
    assert len(got) > 0
    assert got.equals(ref), "post-commit verify diverged from the oracle's"
    # derived-data trust marker: every verify dir has _SUCCESS
    for p in (Path(crawled.out_dir) / "tables" / "payload_verify").glob("batch=*"):
        assert (p / "_SUCCESS").exists()


def test_repair_after_kill_between_marker_and_verify(spark, corpus_pdf, site_cfg):
    res, out = _run(spark, corpus_pdf, site_cfg)
    try:
        want = _pv(res)
        pv_base = Path(out) / "tables" / "payload_verify"
        dirs = sorted(pv_base.glob("batch=*"))
        assert dirs, "no verify dirs written"
        # simulate a kill after batch N's marker but before (or during) its
        # verify write: one dir missing entirely, one interrupted (_SUCCESS
        # gone — Spark writes it last, so a partial dir has no marker)
        shutil.rmtree(dirs[-1])
        if len(dirs) > 1:
            (dirs[0] / "_SUCCESS").unlink()
        committed = max(int(p.name.split("=")[1])
                        for p in (Path(out) / "state").glob("batch=*")
                        if (p / "_COMMIT.json").exists())
        repaired = V.repair_missing_verify(spark, out, committed)
        assert int(dirs[-1].name.split("=")[1]) in repaired
        got = _pv(res)
        assert got.equals(want), "repair did not reproduce the verify table"
        # idempotent: a second repair pass finds nothing to do
        assert V.repair_missing_verify(spark, out, committed) == []
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_resume_heals_missing_verify(spark, corpus_pdf, site_cfg):
    """crawl(resume=True) itself performs the repair before crawling on."""
    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_va_resume_")
    try:
        cfg = C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, max_batches=3)
        C.crawl(spark, corpus, site_cfg.seeds(), out, cfg)
        pv_base = Path(out) / "tables" / "payload_verify"
        dirs = sorted(pv_base.glob("batch=*"))
        if dirs:  # first batches may be bootstrap/index-only
            shutil.rmtree(dirs[-1])
        res2 = C.crawl(spark, corpus, site_cfg.seeds(), out,
                       C.CrawlConfig(delay_s=2.0, batch_seconds=20.0),
                       resume=True)
        # every batch with an images dir has a _SUCCESS-complete verify dir
        img_batches = {p.name for p in (Path(out) / "tables" / "images").glob("batch=*")}
        for name in img_batches:
            assert (pv_base / name / "_SUCCESS").exists(), name
        pdf = res2.table("payload_verify").toPandas()
        assert len(pdf) > 0
        assert pdf["pixel_ok"].all() and pdf["caption_ok"].all()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_lock_outlives_verify_when_a_batch_raises(spark, corpus_pdf, site_cfg,
                                                  monkeypatch):
    """A batch whose commit raises must not release the store lock while
    the previous batch's post-commit verify is still running: crawl waits
    for that verify before _LOCK.json goes."""
    import threading
    import time

    from pttcrawler_spark.engine import state as ST

    fail_at = 2
    raised = threading.Event()
    ends: dict[int, float] = {}
    released: list[float] = []
    real_commit, real_verify = ST.commit_batch, V.verify_committed_batch
    real_release = ST.release_lock

    def commit(out_dir, batch_id, *args, **kwargs):
        if batch_id == fail_at:
            raised.set()
            raise RuntimeError("injected commit failure")
        return real_commit(out_dir, batch_id, *args, **kwargs)

    def verify(spark_, out_dir, batch_id, *args, **kwargs):
        if batch_id == fail_at - 1:
            # still running when the next batch's commit raises
            raised.wait(timeout=120)
            time.sleep(0.5)
        real_verify(spark_, out_dir, batch_id, *args, **kwargs)
        ends[batch_id] = time.perf_counter()

    def release(lock_path):
        released.append(time.perf_counter())
        real_release(lock_path)

    monkeypatch.setattr(ST, "commit_batch", commit)
    monkeypatch.setattr(V, "verify_committed_batch", verify)
    monkeypatch.setattr(ST, "release_lock", release)
    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_va_lock_")
    try:
        with pytest.raises(RuntimeError, match="injected"):
            C.crawl(spark, corpus, site_cfg.seeds(), out,
                    C.CrawlConfig(delay_s=2.0, batch_seconds=20.0))
        assert len(released) == 1
        assert fail_at - 1 in ends, "crawl returned before the verify ended"
        assert ends[fail_at - 1] < released[0]
    finally:
        shutil.rmtree(out, ignore_errors=True)
