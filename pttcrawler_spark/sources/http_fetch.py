"""Real HTTP fetch stage (S1/S2) — the production replacement for the
simulated corpus join in engine/crawl.py.

Reference analog: requests.get with the over18 cookie and a browser UA
(crawler/article.py:26-29, 267-273; crawler/article_index.py:126-131).
Engine shape: ``mapInPandas`` over the admitted frontier rows — one
requests.Session per Arrow batch, per-row GETs inside the batch function
(network-bound; politeness already bounded the batch per host upstream, so
no extra pacing happens here). Failures never throw: status/error land in
columns and the crawl loop marks the row failed.

``fetcher_for`` returns a callable matching engine/crawl.py's ``fetcher``
contract: admitted-DataFrame → DataFrame with the page columns
``crawl.PAGE_COLS`` (_html plus the image payload) — HTTP pages carry no
sidecar image metadata, so payload columns are NULL here; a production
pipeline fills them from a follow-up media-fetch stage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from ..engine.crawl import PAGE_COLS

DEFAULT_HEADERS = {
    # crawler/article.py:27-29 (public UA string + over18 gate)
    "User-Agent": "Mozilla/5.0 (compatible; spark-frontier/1.0)",
    "Cookie": "over18=1",
}

FETCH_COLS_DDL = ", ".join(
    [f"{c} {t}" for c, t in PAGE_COLS] + ["http_status int", "fetch_error string"])
# pandas dtype of an all-NULL page column by its Spark type; Arrow casts an
# object column of None to any other type
_NULL_DTYPES = {"int": "Int32", "long": "Int64"}


def fetch_http(admitted: DataFrame, timeout: float = 10.0,
               headers: dict[str, str] | None = None,
               url_rewrite=None) -> DataFrame:
    """admitted (frontier rows) → same rows + fetched page columns.

    ``url_rewrite``: optional str→str applied before the GET (tests point
    production hostnames at a local server with it).
    """
    hdrs = dict(DEFAULT_HEADERS, **(headers or {}))
    in_cols = admitted.columns

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import requests  # deferred: executors only

        sess = requests.Session()
        sess.headers.update(hdrs)
        for pdf in batches:
            bodies, statuses, errors = [], [], []
            for url in pdf["url"]:
                target = url_rewrite(url) if url_rewrite else url
                try:
                    resp = sess.get(target, timeout=timeout)
                    statuses.append(int(resp.status_code))
                    if resp.status_code == 200:
                        # servers that omit the charset default to latin-1 in
                        # requests (RFC 2616 relic), silently mangling CJK —
                        # PTT serves UTF-8, so that is our fallback
                        if "charset" not in resp.headers.get("content-type", "").lower():
                            resp.encoding = "utf-8"
                        bodies.append(resp.text)
                        errors.append(None)
                    else:
                        bodies.append(None)
                        errors.append(f"http {resp.status_code}")
                except Exception as e:  # timeouts, refused, dns — status rows
                    bodies.append(None)
                    statuses.append(-1)
                    errors.append(str(e)[:200])
            out = pdf.assign(**{
                c: pd.array([None] * len(pdf), dtype=_NULL_DTYPES.get(t, object))
                for c, t in PAGE_COLS})
            out["_html"] = bodies
            out["http_status"] = pd.array(statuses, dtype="Int32")
            out["fetch_error"] = errors
            yield out

    schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in admitted.schema.fields) + ", " + FETCH_COLS_DDL
    return admitted.mapInPandas(run, schema=schema)


def fetcher_for(timeout: float = 10.0, headers: dict[str, str] | None = None,
                url_rewrite=None):
    """engine/crawl.py fetcher contract: admitted → fetched DataFrame."""
    def fetch(admitted: DataFrame) -> DataFrame:
        return fetch_http(admitted, timeout=timeout, headers=headers,
                          url_rewrite=url_rewrite).drop(
            "http_status", "fetch_error")
    return fetch
