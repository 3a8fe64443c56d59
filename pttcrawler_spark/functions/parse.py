"""Spark-side page parsing — the declarative twin of oracle/parse.py.

Every extractor is a Column expression over JVM built-ins (regexp_extract,
higher-order array functions) so the whole parse stage stays inside
whole-stage codegen: zero Python in the hot path. Regex/format semantics are
the reference's, cited per function; tests assert field-level agreement with
the pure-Python oracle parser on the same corpus.

Index page → entries is the UDTF-shaped step (one page → N rows): expressed
as regexp_extract_all + posexplode, not mapInPandas, because Catalyst can
prune/push through it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- F1: pagination ‹ link → last page (crawler/article.py:398-402) --------
RE_LAST_PAGE = r'href="/bbs/\w+/index(\d+).html">&lsaquo;'


def last_page(html: Column) -> Column:
    g = F.regexp_extract(html, RE_LAST_PAGE, 1)
    return F.when(g == "", F.lit(1)).otherwise(g.cast("int") + 1)


# --- index entries (crawler/article.py:438-459) -----------------------------
RE_ENTRY_HREF = r'<div class="r-ent"><a href="([^"]+)">'


def index_entry_hrefs(html: Column) -> Column:
    """Array of hrefs in DOM order, truncated at r-list-sep; entries without
    an <a> (deleted posts) never match, mirroring the try/except skip."""
    before_sep = F.substring_index(html, '<div class="r-list-sep"', 1)
    return F.regexp_extract_all(before_sep, F.lit(RE_ENTRY_HREF), 1)


# --- F2: web_id from href (crawler/article.py:453-454) ----------------------
def web_id_of(href: Column) -> Column:
    return F.regexp_replace(F.element_at(F.split(href, "/"), -1), r"\.html", "")


# --- metas (crawler/article.py:278-291: author/title/date by position) ------
RE_META_VALUE = r'<span class="article-meta-value">([^<]*)</span>'


def meta_values(html: Column) -> Column:
    return F.regexp_extract_all(html, F.lit(RE_META_VALUE), 1)


# --- F3: author username (crawler/article.py:134-140) -----------------------
RE_AUTHOR = r"([\S]*)\D\((.*)\)"


def author_username(author_raw: Column) -> Column:
    return F.when(
        (author_raw != "") & author_raw.rlike(RE_AUTHOR),
        F.regexp_extract(author_raw, RE_AUTHOR, 1),
    ).otherwise(author_raw)


def author_nickname(author_raw: Column) -> Column:
    return F.when(
        (author_raw != "") & author_raw.rlike(RE_AUTHOR),
        F.regexp_extract(author_raw, RE_AUTHOR, 2),
    )


# --- F10: post datetime '%a %b %d %H:%M:%S %Y' (crawler/article.py:170) -----
def post_datetime(date_str: Column) -> Column:
    # try_to_timestamp: NULL on failure = the reference's try/except → None.
    # Spark >= 3.0 rejects 'EEE' in parse patterns, so require the weekday
    # token's shape ('Xxx ') and parse the remainder.
    rest = F.when(date_str.rlike(r"^[A-Za-z]{3} "), F.substring(date_str, 5, 0x7FFFFFFF))
    return F.try_to_timestamp(rest, F.lit("MMM dd HH:mm:ss yyyy"))


# --- F5: post ip from the 發信站 line (crawler/article.py:320-324) ----------
RE_IPV4 = r"[0-9]*\.[0-9]*\.[0-9]*\.[0-9]*"


def post_ip(html: Column) -> Column:
    line = F.regexp_extract(html, r"(?m)^.*※ 發信站:.*$", 0)
    ip = F.regexp_extract(line, RE_IPV4, 0)
    return F.nullif(ip, F.lit(""))


# --- F4: push ip + datetime, %M:%S quirk kept (crawler/article.py:119-132) --
RE_PUSH_IPDT = r"([\d.]*)\W?(\d{2}/\d{2} \d{2}:\d{2})"


def push_ip(ipdt: Column) -> Column:
    return F.when(ipdt.rlike(RE_PUSH_IPDT), F.regexp_extract(ipdt, RE_PUSH_IPDT, 1))


def push_datetime(ipdt: Column) -> Column:
    """strptime('%m/%d %M:%S') → year 1900, hour 0, the HH:MM text lands in
    minute:second. Reproduced by prefixing the literal year."""
    g = F.regexp_extract(ipdt, RE_PUSH_IPDT, 2)
    return F.when(
        ipdt.rlike(RE_PUSH_IPDT),
        F.try_to_timestamp(F.concat(F.lit("1900/"), g), F.lit("yyyy/MM/dd mm:ss")),
    )


# --- push divs (crawler/article.py:343-362) ---------------------------------
RE_PUSH_DIV = r'<div class="push">.*?</div>'
RE_PUSH_TAG = r'<span class="push-tag">([^<]*)</span>'
RE_PUSH_USERID = r'<span class="push-userid">([^<]*)</span>'
RE_PUSH_CONTENT = r'<span class="push-content">([^<]*)</span>'
RE_PUSH_IPDATETIME = r'<span class="push-ipdatetime">([^<]*)</span>'


def push_divs(html: Column) -> Column:
    return F.regexp_extract_all(html, F.lit(RE_PUSH_DIV), 0)


def _trim(c: Column) -> Column:
    return F.trim(c)  # reference strips ' \t\n\r'


def push_fields(div: Column) -> dict[str, Column]:
    content = F.regexp_extract(div, RE_PUSH_CONTENT, 1)
    return {
        "push_tag": _trim(F.regexp_extract(div, RE_PUSH_TAG, 1)),
        "push_username": _trim(F.regexp_extract(div, RE_PUSH_USERID, 1)),
        # ' '.join(strings)[1:] drops the leading ':' (crawler/article.py:352-354)
        "push_content": _trim(F.substring(content, 2, 0x7FFFFFFF)),
        "push_ipdatetime": _trim(F.regexp_extract(div, RE_PUSH_IPDATETIME, 1)),
    }


# --- F6: content cleaning (crawler/article.py:326-339) ----------------------
# NB: '/-_' is a character RANGE (0x2F-0x5F: digits, uppercase, '=', '?', …)
# in the reference's class (crawler/article.py:331-333) — a quirk we keep.
# (?U): Java \w/\s are ASCII-only by default, Python's are Unicode.
RE_CHARSET_KEEP = (
    "(?U)[^\u4e00-\u9fa5\u3002\uff1b\uff0c\uff1a\u201c\u201d\uff08\uff09"
    "\u3001\uff1f\u300a\u300b\\s\\w:/-_.?~%()]"
)


def content_cleaned(html: Column, web_id: Column) -> Column:
    lines = F.split(html, "\n")
    body = F.filter(
        lines,
        lambda ln: (~ln.contains("article-metaline")) & (~ln.contains('class="push"')),
    )
    body = F.transform(body, lambda ln: F.trim(F.regexp_replace(ln, "<[^>]+>", "")))
    body = F.filter(
        body,
        lambda v: (v != "")
        & (F.substring(v, 1, 1) != "※")
        & (F.substring(v, 1, 1) != "◆")
        & (F.substring(v, 1, 2) != "--"),
    )
    body = F.transform(body, lambda v: F.regexp_replace(v, RE_CHARSET_KEEP, ""))
    body = F.filter(body, lambda v: v != "")
    body = F.filter(body, lambda v: ~v.contains(web_id))
    return F.regexp_replace(F.array_join(body, " "), r"(\s)+", " ")


# --- F7: transcription (轉錄) fallback + PostException analog ----------------
# crawler/article.py:299-313; no exceptions in dataflow → error column
RE_TRANS = (r"\W(\w+)\W\([0-9]*\.[0-9]*\.[0-9]*\.[0-9]*\),"
            r"\W([0-9]+/[0-9]+/[0-9]+\W[0-9]+:[0-9]+:[0-9]+)")
PARSE_ERROR_MSG = "此文章被編輯過，解析出現問題。"  # crawler/article.py:313


def trans_line(html: Column) -> Column:
    line = F.regexp_extract(html, r"(?m)^.*※ 轉錄者:.*$", 0)
    return F.regexp_replace(line, "<[^>]+>", "")


def trans_author(html: Column) -> Column:
    return F.regexp_extract(trans_line(html), RE_TRANS, 1)


def trans_datetime(html: Column) -> Column:
    # strptime '%m/%d/%Y %H:%M:%S' (crawler/article.py:308-309)
    return F.try_to_timestamp(F.regexp_extract(trans_line(html), RE_TRANS, 2),
                              F.lit("MM/dd/yyyy HH:mm:ss"))


def parse_error(html: Column) -> Column:
    """NULL when parseable; the PostException message when neither metalines
    nor a 轉錄者 line exist."""
    has_metas = F.size(meta_values(html)) > 0
    has_trans = html.contains("※ 轉錄者:")
    return F.when(~has_metas & ~has_trans, F.lit(PARSE_ERROR_MSG))


# --- assembled parse stages --------------------------------------------------
def parse_index_pages(fetched: DataFrame) -> DataFrame:
    """Index pages → one row per entry (web_id, href, dom_pos), DOM order.

    Input: columns (url, board, page_index, html, ...). The posexplode keeps
    order as data (dom_pos), never relying on task order.
    """
    carry = [c for c in fetched.columns if c != "html"]
    return (
        fetched.withColumn("hrefs", index_entry_hrefs(F.col("html")))
        .select(
            *carry,
            F.posexplode_outer("hrefs").alias("dom_pos", "href"),
        )
        .where(F.col("href").isNotNull())
        .withColumn("entry_web_id", web_id_of(F.col("href")))
    )


def _article_exprs(html: Column) -> list[Column]:
    """The per-article extraction expressions (aliased), shared by
    :func:`parse_articles` and :func:`parse_article_pages`."""
    metas = meta_values(html)
    has_metas = F.size(metas) > 0
    # F7: no metalines → transcription fallback (author/date from the
    # 轉錄者 line; title stays '' exactly like the reference)
    author_raw = F.when(has_metas, F.coalesce(F.try_element_at(metas, F.lit(1)), F.lit(""))) \
        .otherwise(F.coalesce(trans_author(html), F.lit("")))
    post_dt = F.when(has_metas,
                     post_datetime(F.coalesce(F.try_element_at(metas, F.lit(3)), F.lit("")))) \
        .otherwise(trans_datetime(html))
    # S9 doc date: the RAW metaline string passes through verbatim
    # (crawler/article.py:371-382 keeps self.__date, e.g. ctime-style
    # space-padded 'Aug  4', even when unparseable); only the transcription
    # fallback re-formats ('%a %b %d %H:%M:%S %Y', crawler/article.py:310)
    date_raw = F.when(has_metas,
                      F.coalesce(F.try_element_at(metas, F.lit(3)), F.lit(""))) \
        .otherwise(F.coalesce(
            F.date_format(trans_datetime(html), "EEE MMM dd HH:mm:ss yyyy"),
            F.lit("")))
    return [
        author_username(author_raw).alias("author_username"),
        author_nickname(author_raw).alias("author_nickname"),
        F.when(has_metas, F.coalesce(F.try_element_at(metas, F.lit(2)), F.lit("")))
        .otherwise(F.lit("")).alias("title"),
        post_dt.alias("post_datetime"),
        date_raw.alias("post_date_raw"),
        post_ip(html).alias("post_ip"),
        content_cleaned(html, F.col("web_id")).alias("content"),
        parse_error(html).alias("parse_error"),
    ]


def parse_articles(fetched: DataFrame) -> DataFrame:
    """Article pages → PARSED_ARTICLE-shaped rows (one per page).

    Deliberately excludes the binary payload columns: those land in the
    ``images`` table only, so the multi-KB image bytes are written (and
    shuffled) exactly once per fetch, not once per consuming table.
    """
    return fetched.select(
        F.col("web_id"),
        F.col("board"),
        F.col("page_index"),
        F.col("dom_pos"),
        *_article_exprs(F.col("html")),
    )


def parse_article_pages(fetched: DataFrame) -> DataFrame:
    """Single-pass article parse: one scan of ``html`` yields the article
    fields (= :func:`parse_articles`), the push divs as an ``array<struct>``
    column (``pushes``; explode later with :func:`pushes_from_parsed`), and
    the F7 ``parse_error`` column.

    Why: in the crawl loop the multi-KB html column is the dominant byte/CPU
    stream of a batch. Parsing articles, pushes and errors as separate
    consumers re-reads (and partially re-regexes) that column once per
    consumer; this function makes it one pass whose narrow result is
    persisted, so every downstream table write scans parsed fields instead
    of raw pages. Same extraction semantics, same citations as the split
    functions (crawler/article.py:119-382).
    """
    html = F.col("html")
    carry = [c for c in ("url",) if c in fetched.columns]
    pushes = F.transform(
        push_divs(html),
        lambda d: F.struct(*[c.alias(k) for k, c in push_fields(d).items()]),
    )
    return fetched.select(
        F.col("web_id"),
        F.col("board"),
        F.col("page_index"),
        F.col("dom_pos"),
        *_article_exprs(html),
        pushes.alias("pushes"),
        *[F.col(c) for c in carry],
    )


def pushes_from_parsed(parsed: DataFrame) -> DataFrame:
    """Explode :func:`parse_article_pages`'s ``pushes`` column into
    PARSED_PUSH rows — the cheap (short-string) half of push parsing."""
    exploded = parsed.select(
        "web_id", F.posexplode("pushes").alias("pos", "p"))
    ipdt = F.col("p.push_ipdatetime")
    return exploded.select(
        "web_id",
        (F.col("pos") + 1).cast("int").alias("floor"),
        F.col("p.push_tag").alias("push_tag"),
        F.col("p.push_username").alias("push_username"),
        F.col("p.push_content").alias("push_content"),
        ipdt.alias("push_ipdatetime"),
        push_ip(ipdt).alias("push_ip"),
        push_datetime(ipdt).alias("push_datetime"),
    )
