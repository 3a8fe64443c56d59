"""Property-based tests (SURVEY §5.5): canonicalizer idempotence over
generated URLs (single Spark job over a hypothesis-generated batch) and
pure-Python parser total-ness/round-trips."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from pttcrawler_spark.oracle import parse as OP

# --- pure-python: parsers are TOTAL (never raise) ---------------------------
printable = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=60)


@given(printable)
@settings(max_examples=200, deadline=None)
def test_push_ipdatetime_total(s):
    ip, dt = OP.parse_push_ipdatetime(s)
    if dt is not None:
        assert dt.year == 1900  # the %M:%S quirk pins year 1900
        m = re.search(OP.RE_PUSH_IPDT, s)
        assert m and ip == m.group(1)


@given(printable)
@settings(max_examples=200, deadline=None)
def test_author_parse_total(s):
    out = OP.parse_author(s)
    assert isinstance(out, str)
    if "(" not in s:
        assert out == s  # no parens → raw fallback


@given(printable)
@settings(max_examples=100, deadline=None)
def test_post_datetime_total(s):
    assert OP.parse_post_datetime(s) is None or hasattr(
        OP.parse_post_datetime(s), "year")


@given(st.lists(printable, max_size=20), st.text(max_size=10))
@settings(max_examples=100, deadline=None)
def test_clean_content_total_and_clean(lines, web_id):
    out = OP.clean_content(lines, web_id)
    assert "\n" not in out and "  " not in out
    if web_id:
        # any line containing web_id was dropped (post-charset-filter check
        # only valid when web_id survives the charset filter itself)
        if OP.RE_CHARSET.sub("", web_id) == web_id and web_id.strip():
            assert web_id not in out or any(
                web_id in OP.RE_CHARSET.sub("", ln.strip()) and False
                for ln in lines)


# --- spark: canonicalizer idempotence over one generated batch --------------
def _gen_urls(n=300):
    import random
    rng = random.Random(42)
    schemes = ["http", "https", "HTTP", "HtTpS"]
    hosts = ["Example.COM", "b.ptt.test", "X.Y.Z", "a-b.c", "host"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "//a//b", "/bbs/x/index3.html", "/a/b/../c", "/%20x"]
    tails = ["", "?", "?q=1", "#frag", "?a=b#c"]
    return [
        f"{rng.choice(schemes)}://{rng.choice(hosts)}{rng.choice(ports)}"
        f"{rng.choice(paths)}{rng.choice(tails)}"
        for _ in range(n)
    ]


def test_canonicalize_idempotent_and_host_stable(spark):
    from pyspark.sql import functions as F

    from pttcrawler_spark.functions import url as FU

    df = spark.createDataFrame([(u,) for u in _gen_urls()], "url string")
    once = FU.canonicalize(F.col("url"))
    res = df.select(
        once.alias("c1"),
        FU.canonicalize(once).alias("c2"),
        FU.host_of(F.col("url")).alias("h_raw"),
        FU.host_of(once).alias("h_canon"),
        FU.host_salt(FU.host_of(once)).alias("salt"),
    ).toPandas()
    assert (res["c1"] == res["c2"]).all()                 # idempotent
    # host_of already strips the port; canonicalization only lowercases it
    assert (res["h_canon"] == res["h_raw"].str.lower()).all()
    assert res["salt"].between(0, FU.N_HASH_PARTITIONS - 1).all()
    # no fragments or trailing '?' survive
    assert not res["c1"].str.contains("#").any()
    assert not res["c1"].str.endswith("?").any()


def test_expected_caption_equals_title(spark, corpus_pdf):
    """The post-commit verify (engine/verify.verify_committed_batch) takes
    a page's expected caption, its second metaline value
    coalesce(try_element_at(meta_values(html), 2), ''), from the committed
    parsed_articles.title — valid only because the parse's title reduces to
    the same expression in every metas branch. Pin that on the full session
    corpus plus adversarial pages (no metas / 1 meta / empty html)."""
    from pyspark.sql import functions as F

    from pttcrawler_spark.functions import parse as FP

    arts = corpus_pdf[corpus_pdf.kind == "article"][["url", "html"]].copy()
    extra = [
        ("x://no-metas", "<div id='main-content'>plain</div>"),
        ("x://empty", ""),
        ("x://one-meta", "<span class='article-meta-value'>author</span>"),
    ]
    import pandas as pd
    pdf = pd.concat([arts, pd.DataFrame(extra, columns=["url", "html"])])
    df = (spark.createDataFrame(pdf)
          .withColumn("web_id", F.col("url"))
          .withColumn("board", F.lit("b"))
          .withColumn("page_index", F.lit(1))
          .withColumn("dom_pos", F.lit(1)))
    expected_caption = F.coalesce(
        F.try_element_at(FP.meta_values(F.col("html")), F.lit(2)), F.lit(""))
    out = (FP.parse_article_pages(df).select("web_id", "title")
           .join(df.select("web_id", expected_caption.alias("expected_caption")),
                 "web_id")
           .toPandas())
    assert len(out) == len(pdf) > 3
    assert (out["title"] == out["expected_caption"]).all()
