"""M1/M2 golden tests: engine vs pure-Python oracle on the same corpus.

Contract (SURVEY.md §5.2 / BASELINE.md): per-host fetch order and the global
URL-seen set must match the reference-faithful oracle exactly, under the
same seed list + politeness budget; parsed fields must agree row-for-row;
a killed run must resume to a bit-identical result.
"""

from __future__ import annotations

import shutil
import tempfile
from urllib.parse import urlsplit

import pytest
from pyspark.sql import functions as F

from pttcrawler_spark.engine import crawl as C
from pttcrawler_spark.oracle.simulator import run_oracle
from pttcrawler_spark.synth.site import SiteConfig, generate_site_pandas


def test_per_host_fetch_order_matches_oracle(crawled, oracle):
    eng = crawled.fetch_order().toPandas().sort_values(["host", "ord"])
    ora = oracle.fetch_events_df()
    assert set(eng.host) == set(ora.host)
    for host in ora.host.unique():
        assert eng[eng.host == host].url.tolist() == ora[ora.host == host].url.tolist()


def test_url_seen_set_matches_oracle(crawled, oracle):
    assert set(crawled.url_seen().toPandas().url) == oracle.url_seen


def test_parsed_article_fields_match_oracle(crawled, oracle):
    eng = crawled.table("parsed_articles").toPandas().set_index("web_id").sort_index()
    t = oracle.tables()
    art = t["article"].set_index("web_id").sort_index()
    hist = t["article_history"].set_index("article_id")
    users = t["user"].set_index("id")

    assert sorted(eng.index) == sorted(art.index)
    for wid, row in eng.iterrows():
        o = art.loc[wid]
        oh = hist.loc[o["id"]]
        assert row["author_username"] == users.loc[o["user_id"], "username"], wid
        assert row["title"] == oh["title"], wid
        assert row["content"] == oh["content"], wid
        assert row["post_ip"] == o["post_ip"], wid
        assert row["post_datetime"] == o["post_datetime"], wid


def test_parsed_pushes_match_oracle(crawled, oracle):
    eng = crawled.table("parsed_pushes").toPandas()
    t = oracle.tables()
    hist = t["article_history"][["id", "article_id"]].rename(columns={"id": "article_history_id"})
    art = t["article"][["id", "web_id"]].rename(columns={"id": "article_id"})
    users = t["user"][["id", "username"]].rename(columns={"id": "push_user_id"})
    ora = (t["push"].merge(hist, on="article_history_id").merge(art, on="article_id")
           .merge(users, on="push_user_id"))

    key = ["web_id", "floor"]
    eng_s = eng.sort_values(key).reset_index(drop=True)
    ora_s = ora.sort_values(key).reset_index(drop=True)
    assert len(eng_s) == len(ora_s)
    assert eng_s["web_id"].tolist() == ora_s["web_id"].tolist()
    assert eng_s["floor"].tolist() == ora_s["floor"].tolist()
    assert eng_s["push_tag"].tolist() == ora_s["push_tag"].tolist()
    assert eng_s["push_content"].tolist() == ora_s["push_content"].tolist()
    assert eng_s["push_username"].tolist() == ora_s["username"].tolist()
    # push_ip: oracle stores '' for matched-but-empty, None for no-match
    assert [x if x is not None else None for x in eng_s["push_ip"]] == \
        [x if x is not None else None for x in ora_s["push_ip"]]
    assert [None if p != p or p is None else p for p in eng_s["push_datetime"]] == \
        [None if p != p or p is None else p for p in ora_s["push_datetime"]]


def test_payload_roundtrip_psnr(crawled):
    """input_hint: decoded-pixel allclose, PSNR >= 40 dB lossy, caption eq."""
    import numpy as np
    import pandas as pd

    from pttcrawler_spark.synth import images as I

    imgs = crawled.table("images")

    def verify(batches):
        for pdf in batches:
            ok, psnrs = [], []
            for b, fmt, iid, cap in zip(pdf["bytes"], pdf["fmt"], pdf["image_id"], pdf["caption"]):
                ref = I.make_pixels(iid, 32, 32)
                dec = I.decode(bytes(b))
                p = I.psnr(ref, dec)
                psnrs.append(p)
                # caption mirrors the parsed title; transcription pages have
                # title '' → caption '' (F7)
                ok.append((p == float("inf") if fmt == "png" else p >= 40.0)
                          and (cap == "" or iid in cap))
            yield pd.DataFrame({"image_id": pdf["image_id"], "ok": ok, "psnr": psnrs})

    res = imgs.mapInPandas(verify, schema="image_id string, ok boolean, psnr double").toPandas()
    assert len(res) > 0 and res["ok"].all()
    lossy = crawled.table("images").where(F.col("fmt") == "jpeg").count()
    assert lossy > 0  # the lossy path is actually exercised


def test_payload_verify_table(crawled):
    """Engine-side north-rule invariant stage (engine/verify.py): every
    fetched payload decodes, PSNR-passes vs the reference render, phash
    round-trips EXACTLY (regression: float64 inference in the synth
    generator silently rounded 64-bit phashes), caption == title."""
    pv = crawled.table("payload_verify").toPandas()
    assert len(pv) > 0
    assert pv.pixel_ok.all()
    assert pv.phash_ok.all()
    assert pv.caption_ok.all()
    assert (pv[pv.fmt == "jpeg"].psnr_db >= 40).all()
    assert (pv[pv.fmt == "jpeg"].psnr_db < 1e8).all()  # lossy is actually lossy


def test_f7_transcription_fallback_and_parse_errors(crawled):
    """F7 (crawler/article.py:299-313): pages without metalines either parse
    via the 轉錄者 fallback (author/date recovered, title '') or land in the
    parse_errors table (PostException analog) and nowhere else."""
    errs = crawled.table("parse_errors").toPandas()
    assert len(errs) >= 1
    assert (errs.error == "此文章被編輯過，解析出現問題。").all()
    pa = crawled.table("parsed_articles").toPandas()
    assert not set(errs.web_id) & set(pa.web_id)
    assert "parse_error" not in pa.columns
    trans = pa[pa.title == ""]
    assert len(trans) >= 1
    assert (trans.author_username != "").all()
    assert trans.post_datetime.notna().all()
    # errored pages produce no pushes/images either
    for tbl in ("parsed_pushes", "images"):
        t = crawled.table(tbl).toPandas()
        key = "web_id" if "web_id" in t.columns else "image_id"
        assert not set(errs.web_id) & set(t[key])


def test_article_index_upsert_semantics(crawled, oracle):
    eng = (crawled.table("article_index").toPandas()
           .drop_duplicates(subset=["web_id"]).set_index("web_id"))
    ora = oracle.tables()["article_index"].set_index("web_id")
    assert sorted(eng.index) == sorted(ora.index)
    assert (eng["index"].sort_index() == ora["index"].sort_index()).all()


def test_lineage_metrics_present(crawled):
    m = crawled.metrics().toPandas()
    assert m.fetched.sum() == 35  # 2 bootstraps + 6 index pages + 27 articles
    assert (m.failed == 0).all()
    assert set(m.columns) >= {"batch_id", "partition_id", "host", "fetched",
                              "deduped", "deferred", "failed"}


def test_resume_bit_identical(spark, site_cfg, corpus_pdf, crawled):
    """Kill after 2 batches → resume → identical tables, frontier and
    politeness state (the loop reads politeness back from each commit; the
    resumed run reads batch 1's from its snapshot)."""
    from pttcrawler_spark.engine import state as ST

    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_resume_")
    try:
        cfgk = C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, max_batches=2)
        C.crawl(spark, corpus, site_cfg.seeds(), out, cfgk)
        res2 = C.crawl(spark, corpus, site_cfg.seeds(), out,
                       C.CrawlConfig(delay_s=2.0, batch_seconds=20.0), resume=True)

        full = crawled  # uninterrupted run
        for name in ["parsed_articles", "parsed_pushes", "images", "article_index"]:
            a = res2.table(name).toPandas()
            b = full.table(name).toPandas()
            key = [c for c in ("web_id", "image_id", "floor") if c in a.columns]
            a = a.sort_values(key).reset_index(drop=True)
            b = b.sort_values(key).reset_index(drop=True)
            assert a.drop(columns=["bytes"], errors="ignore").equals(
                b.drop(columns=["bytes"], errors="ignore")), name
            if "bytes" in a.columns:
                assert all(bytes(x) == bytes(y) for x, y in zip(a["bytes"], b["bytes"]))
        fa = res2.frontier().toPandas().sort_values("url").reset_index(drop=True)
        fb = full.frontier().toPandas().sort_values("url").reset_index(drop=True)
        # batch_id differs by construction? No: deterministic batching → equal
        assert fa[["url", "status", "priority", "kind"]].equals(
            fb[["url", "status", "priority", "kind"]])
        assert fa["batch_id"].tolist() == fb["batch_id"].tolist()
        pa, pb = (ST.load_snapshot(spark, r.out_dir).politeness
                  .select("host", "tokens").toPandas()
                  .sort_values("host").reset_index(drop=True)
                  for r in (res2, full))
        assert len(pa) > 0 and pa.equals(pb)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_robots_blocking(spark):
    """robots disallow rules fail matching URLs and never fetch them, on
    the crawl's only admit path: the rest of the crawl keeps the oracle's
    per-host order and seen set, and the committed metrics count every
    blocked row as failed. Two rules: every article, then one article."""
    cfg1 = SiteConfig(n_boards=1, pages_per_board=2, articles_per_page=3)
    pdf = generate_site_pandas(cfg1)
    sim = run_oracle(pdf, cfg1)
    ora = sim.fetch_events_df()
    corpus = spark.createDataFrame(pdf)
    host = cfg1.host(cfg1.board_name(0))
    one = urlsplit(sorted(ora[ora.kind == "article"].url)[1]).path
    for prefix, n_blocked in (("/bbs/board00/M.", 6), (one, 1)):
        blocked = {u for u in sim.url_seen
                   if urlsplit(u).path.startswith(prefix)}
        assert len(blocked) == n_blocked, prefix
        out = tempfile.mkdtemp(prefix="crawl_robots_")
        try:
            res = C.crawl(spark, corpus, cfg1.seeds(), out,
                          C.CrawlConfig(delay_s=2.0, batch_seconds=10.0,
                                        robots={host: [prefix]}))
            fr = res.frontier().toPandas().set_index("url")
            assert (fr.loc[sorted(blocked), "status"] == "failed").all(), prefix
            assert (fr[fr.kind == "index"].status == "fetched").all(), prefix
            eng = res.fetch_order().toPandas().sort_values(["host", "ord"])
            for h in ora.host.unique():
                want = [u for u in ora[ora.host == h].url if u not in blocked]
                assert eng[eng.host == h].url.tolist() == want, prefix
            assert set(res.url_seen().toPandas().url) == sim.url_seen - blocked
            failed = res.metrics().agg(F.sum("failed")).first()[0]
            assert failed == len(blocked), prefix
        finally:
            shutil.rmtree(out, ignore_errors=True)


def test_crash_resume_replays_frontier_deltas(spark, site_cfg, corpus_pdf,
                                              crawled):
    """A TRUE crash leaves no post-loop compaction — resume must reconstruct
    the frontier from base + frontier_delta dirs (merge-on-read) and finish
    bit-identically."""
    import pathlib

    from pttcrawler_spark.engine import state as ST

    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_crash_")
    try:
        C.crawl(spark, corpus, site_cfg.seeds(), out,
                C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, max_batches=2))
        # simulate the crash: drop the graceful-exit compaction so only
        # batch 0's full frontier + batch 1's delta remain
        last = ST.latest_committed(out)
        assert last == 1
        comp = pathlib.Path(out) / "state" / f"batch={last}" / "frontier"
        assert comp.exists()
        shutil.rmtree(comp)
        assert (pathlib.Path(out) / "state" / f"batch={last}"
                / "frontier_delta").exists()

        res2 = C.crawl(spark, corpus, site_cfg.seeds(), out,
                       C.CrawlConfig(delay_s=2.0, batch_seconds=20.0),
                       resume=True)
        full = crawled
        fa = res2.frontier().toPandas().sort_values("url").reset_index(drop=True)
        fb = full.frontier().toPandas().sort_values("url").reset_index(drop=True)
        assert fa[["url", "status", "kind", "batch_id"]].equals(
            fb[["url", "status", "kind", "batch_id"]])
        for name in ["parsed_articles", "article_index"]:
            a = (res2.table(name).toPandas().sort_values("web_id")
                 .reset_index(drop=True))
            b = (full.table(name).toPandas().sort_values("web_id")
                 .reset_index(drop=True))
            assert a.equals(b), name
    finally:
        shutil.rmtree(out, ignore_errors=True)


@pytest.mark.parametrize("kill_after", [0, 1])
def test_kill_between_admit_and_commit_never_double_admits(
        spark, site_cfg, corpus_pdf, crawled, kill_after):
    """Politeness exactly-once (round-3 verdict #8): a kill BETWEEN admit
    and commit — batch k+1's state dirs written, marker absent — must not
    double-spend any host's token budget after resume. The orphan's
    depleted politeness table must be invisible to resume; the replayed
    batch re-admits the SAME rows, and every host's cumulative admissions
    stay within the token-bucket budget line in the committed metrics."""
    import pathlib

    from pttcrawler_spark.engine import state as ST

    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_killadmit_")
    try:
        cfg = C.CrawlConfig(delay_s=2.0, batch_seconds=20.0,
                            max_batches=kill_after + 1)
        C.crawl(spark, corpus, site_cfg.seeds(), out, cfg)
        last = ST.latest_committed(out)
        assert last == kill_after

        # manufacture the kill: batch k+1 computed (tokens spent, state dirs
        # written) but the _COMMIT.json marker never landed. Use the
        # UNINTERRUPTED run's committed batch k+1 state as the orphan's
        # payload — byte-what a real mid-commit kill leaves behind.
        src = pathlib.Path(crawled.out_dir) / "state" / f"batch={last + 1}"
        dst = pathlib.Path(out) / "state" / f"batch={last + 1}"
        shutil.copytree(src, dst)
        (dst / "_COMMIT.json").unlink()
        # the graceful-exit compaction of the short run would mask the
        # orphan ambiguity; a killed run has none for the orphan batch
        assert ST.latest_committed(out) == last

        res = C.crawl(spark, corpus, site_cfg.seeds(), out,
                      C.CrawlConfig(delay_s=2.0, batch_seconds=20.0),
                      resume=True)

        # 1) per-(host, batch) admissions equal the uninterrupted run's —
        #    the replay admitted the same work exactly once
        got = (res.metrics().toPandas()
               .groupby(["batch_id", "host"]).fetched.sum().sort_index())
        want = (crawled.metrics().toPandas()
                .groupby(["batch_id", "host"]).fetched.sum().sort_index())
        assert got.equals(want)

        # 2) budget line: cumulative admissions per host through batch b
        #    never exceed burst + b*refill whole tokens (refill=burst=
        #    batch_seconds/delay_s = 10). A double-admit of the orphan's
        #    batch would breach this at the replayed batch.
        budget_per_batch = cfg.batch_seconds / cfg.delay_s
        cum = got.groupby(level="host").cumsum()
        for (b, host), n in cum.items():
            assert n <= int(cfg.burst + b * budget_per_batch), (
                f"host {host} over budget at batch {b}: {n}")
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_crawl_without_articles_builds_empty_store(spark):
    """A crawl that fetches no article (its index range starts past every
    board's last page) reads its article tables as empty frames, and the
    relational store builds from them."""
    from pttcrawler_spark.engine import store as S

    cfg1 = SiteConfig(n_boards=2, pages_per_board=1, articles_per_page=4)
    corpus = spark.createDataFrame(generate_site_pandas(cfg1))
    out = tempfile.mkdtemp(prefix="crawl_noart_")
    try:
        res = C.crawl(spark, corpus, cfg1.seeds(), out,
                      C.CrawlConfig(start_index=99))
        assert sum(b["article"] for b in res.batch_stats) == 0
        for name in ("parsed_articles", "parsed_pushes", "images"):
            t = res.table(name)
            assert t is not None and t.count() == 0, name
        rel = S.build_relational(res)
        assert rel["board"].count() == 2
        assert rel["article"].count() == 0
        assert rel["push"].count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_batch_layout_follows_fetched_kinds(spark, crawled):
    """A batch writes only the tables of the page kinds it fetched: no
    article table or payload_verify dir for a bootstrap or index batch, no
    article_index dir for an article-only batch. Its small state tables
    hold at most one data file per core."""
    import pathlib

    root = pathlib.Path(crawled.out_dir)
    fr = (crawled.frontier().where(F.col("status").isin("fetched", "failed"))
          .select("batch_id", "kind").toPandas())
    kinds = {b: set(g.kind) for b, g in fr.groupby("batch_id")}
    assert {"bootstrap"} in kinds.values()
    assert {"index"} in kinds.values()
    assert {"article"} in kinds.values()
    art_tables = {"parsed_articles", "parsed_pushes", "images",
                  "parse_errors", "payload_verify"}
    for b, ks in kinds.items():
        written = {p.parent.name for p in
                   (root / "tables").glob(f"*/batch={b}")}
        if "article" not in ks:
            assert not written & art_tables, (b, ks, written)
        else:
            assert art_tables <= written, (b, ks, written)
        if ks == {"article"}:
            assert "article_index" not in written, (b, written)
    par = spark.sparkContext.defaultParallelism
    for d in (root / "state").glob("batch=*"):
        for name in ("politeness", "frontier_delta", "metrics"):
            if (d / name).exists():
                assert len(list((d / name).glob("part-*"))) <= par, d / name


def test_loop_stops_at_drained_frontier(spark, site_cfg, corpus_pdf, crawled):
    """The crawl ends with the batch that drains the frontier (five batches
    on this site), and resuming a drained store runs no batch: the same
    final_batch, and no new state dir."""
    import pathlib

    assert crawled.final_batch == 4
    assert len(crawled.batch_stats) == 5
    out = tempfile.mkdtemp(prefix="crawl_drained_")
    try:
        shutil.copytree(crawled.out_dir, out, dirs_exist_ok=True)
        state = pathlib.Path(out) / "state"
        before = sorted(p.name for p in state.iterdir())
        res = C.crawl(spark, spark.createDataFrame(corpus_pdf),
                      site_cfg.seeds(), out,
                      C.CrawlConfig(delay_s=2.0, batch_seconds=20.0),
                      resume=True)
        assert res.final_batch == crawled.final_batch
        assert res.batch_stats == [] and res.n_fetched == 0
        assert sorted(p.name for p in state.iterdir()) == before
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_replayed_batch_drops_tables_it_no_longer_writes(
        spark, site_cfg, corpus_pdf, crawled):
    """A killed attempt of batch N may have written article tables that the
    resumed batch N (index-only this time) does not write. The replay's
    commit deletes them, so no orphan row becomes visible once the batch is
    committed, and the store matches the uninterrupted run."""
    import pathlib

    fr = (crawled.frontier().where(F.col("status").isin("fetched", "failed"))
          .select("batch_id", "kind").toPandas())
    kinds = {b: set(g.kind) for b, g in fr.groupby("batch_id")}
    n = min(b for b, ks in kinds.items() if ks == {"index"})
    m = min(b for b, ks in kinds.items() if "article" in ks)
    corpus = spark.createDataFrame(corpus_pdf)
    out = tempfile.mkdtemp(prefix="crawl_replay_")
    try:
        C.crawl(spark, corpus, site_cfg.seeds(), out,
                C.CrawlConfig(delay_s=2.0, batch_seconds=20.0, max_batches=n))
        # the killed attempt's leftovers: batch m's article tables (and its
        # verify rows) under batch=n, no marker
        src, dst = (pathlib.Path(p) / "tables" for p in (crawled.out_dir, out))
        orphans = ("parsed_articles", "parsed_pushes", "images",
                   "parse_errors", "payload_verify")
        for name in orphans:
            if (src / name / f"batch={m}").exists():
                shutil.copytree(src / name / f"batch={m}",
                                dst / name / f"batch={n}")
        res = C.crawl(spark, corpus, site_cfg.seeds(), out,
                      C.CrawlConfig(delay_s=2.0, batch_seconds=20.0),
                      resume=True)
        assert res.final_batch == crawled.final_batch
        for name in orphans:
            assert not (dst / name / f"batch={n}").exists(), name
        for name in ("parsed_articles", "payload_verify"):
            key = "web_id" if name == "parsed_articles" else "image_id"
            got = res.table(name).select(key).toPandas()[key]
            want = crawled.table(name).select(key).toPandas()[key]
            assert got.is_unique, name
            assert sorted(got) == sorted(want), name
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_burst_below_one_token_raises():
    """The token bucket burst is one batch's refill, batch_seconds/delay_s;
    a burst under one token would never admit a URL, so it is refused."""
    assert C.CrawlConfig(delay_s=2.0, batch_seconds=20.0).burst == 10.0
    with pytest.raises(ValueError, match="burst must be >= 1"):
        C.CrawlConfig(delay_s=2.0, batch_seconds=1.0).burst
