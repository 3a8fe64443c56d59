"""Real-network fetch stage test (sources/http_fetch.py): a local
http.server serves the synthetic site; the engine crawls it through the
HTTP mapInPandas fetcher — actual sockets from executor tasks — and must
produce the same fetch order / URL-seen / parsed fields as the oracle.
Image payload columns are NULL on the HTTP path (pages carry no sidecar
payload), so payload verification is off."""

from __future__ import annotations

import http.server
import shutil
import socketserver
import tempfile
import threading
from pathlib import Path
from urllib.parse import urlparse

import pytest

from pttcrawler_spark.engine import crawl as C
from pttcrawler_spark.oracle.simulator import run_oracle
from pttcrawler_spark.sources import http_fetch as H
from pttcrawler_spark.synth.site import SiteConfig, generate_site_pandas


@pytest.fixture(scope="module")
def served_site():
    """Materialize the synth site to disk and serve it on 127.0.0.1."""
    cfg = SiteConfig(n_boards=2, pages_per_board=2, articles_per_page=4)
    pdf = generate_site_pandas(cfg)
    root = Path(tempfile.mkdtemp(prefix="http_site_"))
    for r in pdf.itertuples(index=False):
        p = urlparse(r.url)
        path = root / p.netloc / p.path.lstrip("/")
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(r.html, encoding="utf-8")

    class Handler(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(root), **kw)

        def log_message(self, *a):  # quiet
            pass

    httpd = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    port = httpd.server_address[1]
    th = threading.Thread(target=httpd.serve_forever, daemon=True)
    th.start()
    yield cfg, pdf, port
    httpd.shutdown()
    shutil.rmtree(root, ignore_errors=True)


def _rewrite(port):
    def rw(url: str) -> str:
        p = urlparse(url)
        return f"http://127.0.0.1:{port}/{p.netloc}{p.path}"
    return rw


def test_http_crawl_matches_oracle(spark, served_site):
    cfg, pdf, port = served_site
    sim = run_oracle(pdf, cfg)
    out = tempfile.mkdtemp(prefix="crawl_http_")
    try:
        fetcher = H.fetcher_for(timeout=10.0, url_rewrite=_rewrite(port))
        res = C.crawl(spark, None, cfg.seeds(), out,
                      C.CrawlConfig(delay_s=2.0, batch_seconds=20.0,
                                    verify_payload=False),
                      fetcher=fetcher)
        # same fetch order per host + same URL-seen set over REAL sockets
        eng = res.fetch_order().toPandas().sort_values(["host", "ord"])
        ora = sim.fetch_events_df()
        for host in ora.host.unique():
            assert eng[eng.host == host].url.tolist() == \
                ora[ora.host == host].url.tolist(), host
        assert set(res.url_seen().toPandas().url) == sim.url_seen
        # parsed fields agree with the oracle parser
        pa = res.table("parsed_articles").toPandas().set_index("web_id")
        t = sim.tables()
        hist = t["article_history"].set_index("article_id")
        art = t["article"].set_index("web_id")
        assert sorted(pa.index) == sorted(art.index)
        for wid in list(pa.index)[:5]:
            assert pa.loc[wid, "content"] == hist.loc[art.loc[wid, "id"], "content"]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_http_fetch_failure_rows(spark, served_site):
    cfg, pdf, port = served_site
    admitted = spark.createDataFrame(
        [(f"https://{cfg.host(cfg.board_name(0))}/bbs/nope/missing.html",)],
        "url string")
    out = H.fetch_http(admitted, timeout=5.0,
                       url_rewrite=_rewrite(port)).toPandas()
    assert len(out) == 1
    assert out["_html"].isna().all()
    assert out["http_status"].iloc[0] == 404
    assert out["fetch_error"].iloc[0] == "http 404"


def test_http_fetch_nulls_follow_page_cols(spark, served_site, monkeypatch):
    """The HTTP frame takes its NULL page columns from ``crawl.PAGE_COLS``:
    a column added to that contract, whatever its Spark type, needs no
    change in the fetch."""
    cfg, pdf, port = served_site
    cols = C.PAGE_COLS + [("x_double", "double"), ("x_bool", "boolean"),
                          ("x_array", "array<string>")]
    monkeypatch.setattr(H, "PAGE_COLS", cols)
    monkeypatch.setattr(H, "FETCH_COLS_DDL", ", ".join(
        [f"{c} {t}" for c, t in cols] + ["http_status int", "fetch_error string"]))
    admitted = spark.createDataFrame([(cfg.seeds()[0][1],)], "url string")
    out = H.fetch_http(admitted, timeout=5.0,
                       url_rewrite=_rewrite(port)).toPandas()
    assert len(out) == 1 and out["_html"].notna().all()
    assert out[[c for c, _ in cols if c != "_html"]].isna().all().all()
