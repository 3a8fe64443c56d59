"""Deterministic synthetic PTT site — the crawl corpus.

Generates the HTML-ish pages the reference crawler would fetch, shaped so the
same regex/field semantics apply (index entries + r-list-sep pinned section
per crawler/article.py:444-459; article metalines/發信站/push divs per
crawler/article.py:276-384; pagination ‹ link per crawler/article.py:398-402).
Every page is a pure function of (seed, board, page_index, dom_pos) — no
global state — so generation distributes over executors via
``spark.range(...).mapInPandas`` and regenerating any slice is reproducible.

Article pages carry an image+caption payload (BASELINE.json input_hint):
the image is the "page body" the engine must round-trip with PSNR ≥ 40 dB.

URL space: one host per board by default (politeness is per-host; multiple
hosts make parallel crawl meaningful) or single-host like the real site.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from . import images as img

# PTT-ish user pool and content fragments (deterministic pick by index)
_USERS = [f"user{i:03d}" for i in range(200)]
_NICKS = ["神人", "鄉民", "路過", "alt", "dev"]
_TAGS = ["推", "噓", "→"]
_CONTENT_LINES = [
    "這是一篇測試文章的內文 line with ascii and 中文。",
    "第二行：還有更多內容，包含標點符號、以及 URL http://example.com/x?q=1 。",
    "some pure ascii content line_with_underscores and numbers 12345",
    "※ 引述《someone》之銘言：",          # dropped by content cleaning (※)
    "◆ From: 1.2.3.4",                    # dropped (◆)
    "-- 簽名檔開始",                       # dropped (--)
    "表情符號☃☄★☆→должен быть удалён",   # charset-filtered chars
    "",                                    # empty line dropped
]


@dataclass(frozen=True)
class SiteConfig:
    n_boards: int = 2
    pages_per_board: int = 3
    articles_per_page: int = 5
    pushes_per_article: int = 4
    seed: int = 42
    single_host: bool = False
    img_w: int = 32
    img_h: int = 32
    # fraction of index entries that are "deleted" (no <a> tag → skipped,
    # crawler/article.py:450-457 try/except), in 1/8 units
    deleted_every: int = 8
    # every page gets this many pinned posts after r-list-sep
    pinned_per_page: int = 1

    def board_name(self, b: int) -> str:
        return f"board{b:02d}"

    def host(self, board: str) -> str:
        return "www.ptt.test" if self.single_host else f"{board}.ptt.test"

    def base_url(self, board: str) -> str:
        return f"https://{self.host(board)}"

    def seeds(self) -> list[tuple[str, str]]:
        """[(board, index.html url)] in crawl order: the crawl's seeds."""
        return [(b, f"{self.base_url(b)}/bbs/{b}/index.html")
                for b in map(self.board_name, range(self.n_boards))]


def _rng(cfg: SiteConfig, *key: object) -> np.random.Generator:
    return np.random.default_rng(img.seed_for(f"{cfg.seed}|" + "|".join(map(str, key))))


def article_no(cfg: SiteConfig, b: int, page: int, pos: int) -> int:
    """Global article counter, unique per (board, page, dom position)."""
    return (b * cfg.pages_per_board + (page - 1)) * cfg.articles_per_page + pos


def web_id_for(cfg: SiteConfig, b: int, page: int, pos: int) -> str:
    no = article_no(cfg, b, page, pos)
    return f"M.{1100000000 + no}.A.{no:03X}"


def is_deleted(cfg: SiteConfig, b: int, page: int, pos: int) -> bool:
    return (article_no(cfg, b, page, pos) % cfg.deleted_every) == cfg.deleted_every - 1


def _post_date_str(cfg: SiteConfig, no: int) -> str:
    """'%a %b %d %H:%M:%S %Y' ascending in article number."""
    base = pd.Timestamp("2025-08-01 00:00:00")
    ts = base + pd.Timedelta(minutes=17 * no)
    return ts.strftime("%a %b %d %H:%M:%S %Y")


def _ip_for(rng: np.random.Generator) -> str:
    a, b_, c, d = rng.integers(1, 255, size=4)
    return f"{a}.{b_}.{c}.{d}"


def index_page_html(cfg: SiteConfig, b: int, page: int) -> str:
    """One board index page. Entry order = DOM order; pinned posts come
    after the r-list-sep separator and must not be crawled."""
    board = cfg.board_name(b)
    last = cfg.pages_per_board
    parts = ["<html><body>", '<div class="btn-group btn-group-paging">']
    if page > 1:
        # the ‹ 上頁 link getLastPage() regexes (crawler/article.py:398-402)
        parts.append(
            f'<a class="btn wide" href="/bbs/{board}/index{page - 1}.html">&lsaquo; 上頁</a>'
        )
    parts.append("</div>")
    parts.append('<div class="r-list-container action-bar-margin bbs-screen">')
    for pos in range(cfg.articles_per_page):
        if is_deleted(cfg, b, page, pos):
            parts.append('<div class="r-ent"><div class="title">(本文已被刪除)</div></div>')
        else:
            wid = web_id_for(cfg, b, page, pos)
            parts.append(
                f'<div class="r-ent"><a href="/bbs/{board}/{wid}.html">'
                f"[測試] article {wid}</a></div>"
            )
    parts.append('<div class="r-list-sep"></div>')
    for p in range(cfg.pinned_per_page):
        parts.append(
            f'<div class="r-ent"><a href="/bbs/{board}/M.9{b:02d}{page:03d}{p}.A.PIN.html">'
            f"[公告] pinned {p}</a></div>"
        )
    parts.append("</div></body></html>")
    # last==page is served at both index{last}.html and index.html by the site
    _ = last
    return "\n".join(parts)


def article_kind(cfg: SiteConfig, no: int) -> str:
    """'normal' | 'transcription' (F7 fallback path) | 'broken' (F7
    PostException path). Deterministic in the article number."""
    if no % 13 == 11:
        return "transcription"
    if no % 29 == 27:
        return "broken"
    return "normal"


def article_page_html(cfg: SiteConfig, b: int, page: int, pos: int) -> str:
    board = cfg.board_name(b)
    wid = web_id_for(cfg, b, page, pos)
    no = article_no(cfg, b, page, pos)
    rng = _rng(cfg, "article", wid)
    author = _USERS[int(rng.integers(0, len(_USERS)))]
    nick = _NICKS[no % len(_NICKS)]
    title = f"[測試] article {wid}"
    date_str = _post_date_str(cfg, no)
    ip = _ip_for(rng)
    kind = article_kind(cfg, no)
    # content: a deterministic selection of lines incl. ones the cleaner drops
    lines = [_CONTENT_LINES[(no + i) % len(_CONTENT_LINES)] for i in range(5)]
    lines.append(f"文章網址: https://{cfg.host(board)}/bbs/{board}/{wid}.html")  # dropped: contains web_id
    body = "\n".join(lines)

    pushes = []
    n_push = int(rng.integers(0, cfg.pushes_per_article + 1))
    for f in range(n_push):
        tag = _TAGS[int(rng.integers(0, 3))]
        uid = "" if (no + f) % 11 == 10 else _USERS[int(rng.integers(0, len(_USERS)))]
        pcontent = f"推文內容 {f} on {wid}"
        if (no + f) % 7 == 6:
            ipdt = f"{(f % 12) + 1:02d}/{(f % 27) + 1:02d} {(f * 3) % 24:02d}:{(f * 7) % 60:02d}"
        else:
            ipdt = f"{_ip_for(rng)} {(f % 12) + 1:02d}/{(f % 27) + 1:02d} {(f * 3) % 24:02d}:{(f * 7) % 60:02d}"
        pushes.append(
            '<div class="push"><span class="push-tag">{t}</span>'
            '<span class="push-userid">{u}</span>'
            '<span class="push-content">: {c}</span>'
            '<span class="push-ipdatetime">{d}</span></div>'.format(t=tag, u=uid, c=pcontent, d=ipdt)
        )

    if kind == "normal":
        head = (
            '<div class="article-metaline"><span class="article-meta-tag">作者</span>'
            f'<span class="article-meta-value">{author} ({nick})</span></div>\n'
            '<div class="article-metaline"><span class="article-meta-tag">標題</span>'
            f'<span class="article-meta-value">{title}</span></div>\n'
            '<div class="article-metaline"><span class="article-meta-tag">時間</span>'
            f'<span class="article-meta-value">{date_str}</span></div>\n'
        )
    elif kind == "transcription":
        # F7 fallback: no metalines, a 轉錄者 line instead
        # (crawler/article.py:301-310)
        trans_dt = pd.Timestamp("2025-08-01") + pd.Timedelta(minutes=17 * no)
        head = (f"※ 轉錄者: {author} ({ip}), "
                f"{trans_dt.strftime('%m/%d/%Y %H:%M:%S')}\n")
    else:  # broken: no metalines, no 轉錄者 → PostException analog
        head = "這篇文章的標頭被編輯掉了\n"
    return (
        '<html><body><div id="main-content">\n'
        + head
        + f"{body}\n"
        f"※ 發信站: 批踢踢實業坊(ptt.test), 來自: {ip}\n"
        + "\n".join(pushes)
        + "\n</div></body></html>"
    )


def page_rows(cfg: SiteConfig, b: int, page: int) -> list[dict]:
    """All corpus rows for one (board, page): 1 index page + its articles."""
    board = cfg.board_name(b)
    base = cfg.base_url(board)
    rows = [{
        "url": f"{base}/bbs/{board}/index{page}.html",
        "kind": "index",
        "board": board,
        "page_index": page,
        "dom_pos": -1,
        "web_id": None,
        "html": index_page_html(cfg, b, page),
        "image_bytes": None, "w": None, "h": None, "fmt": None,
        "caption": None, "phash": None,
    }]
    if page == cfg.pages_per_board:  # site serves newest page at index.html too
        alias = dict(rows[0])
        alias["url"] = f"{base}/bbs/{board}/index.html"
        rows.append(alias)
    for pos in range(cfg.articles_per_page):
        if is_deleted(cfg, b, page, pos):
            continue
        wid = web_id_for(cfg, b, page, pos)
        no = article_no(cfg, b, page, pos)
        fmt = "jpeg" if no % 3 == 0 else "png"
        # caption mirrors the parsed title: transcription/broken pages have
        # no 標題 metaline → title '' → caption '' (verify parity)
        caption = f"[測試] article {wid}" if article_kind(cfg, no) == "normal" else ""
        payload = img.build_payload(wid, cfg.img_w, cfg.img_h, fmt,
                                    caption=caption)
        rows.append({
            "url": f"{base}/bbs/{board}/{wid}.html",
            "kind": "article",
            "board": board,
            "page_index": page,
            "dom_pos": pos,
            "web_id": wid,
            "html": article_page_html(cfg, b, page, pos),
            "image_bytes": payload["bytes"], "w": payload["w"], "h": payload["h"],
            "fmt": payload["fmt"], "caption": payload["caption"],
            "phash": payload["phash"],
        })
    return rows


PAGES_DDL = (
    "url string, kind string, board string, page_index int, dom_pos int, "
    "web_id string, html string, image_bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def _typed_pages_df(rows: list[dict]) -> pd.DataFrame:
    """Rows → DataFrame with NULLABLE integer dtypes. Plain pd.DataFrame()
    infers float64 for int columns containing None (the index-page rows),
    which silently rounds 64-bit phash values — float64 carries 53 bits."""
    pdf = pd.DataFrame(rows) if rows else pd.DataFrame(
        {c.split(" ")[0]: [] for c in PAGES_DDL.split(", ")})
    for col, dtype in (("page_index", "Int32"), ("dom_pos", "Int32"),
                       ("w", "Int32"), ("h", "Int32"), ("phash", "Int64")):
        if col in pdf.columns and len(rows):
            # rebuild from the raw python values: pd.DataFrame() has already
            # inferred float64 (None-containing int column), and casting the
            # rounded floats back would keep the corruption
            pdf[col] = pd.array([r.get(col) for r in rows], dtype=dtype)
    return pdf


def generate_site(spark, cfg: SiteConfig, num_partitions: int | None = None):
    """Distributed corpus generation: one task slice per (board, page) range.

    Pure function of (cfg, ids) → safe to regenerate, no shuffle, embarrassingly
    parallel; this is how the corpus would be materialized at 10^10-URL scale.
    """
    total = cfg.n_boards * cfg.pages_per_board
    num_partitions = num_partitions or min(total, 64)

    def gen(batches):
        for pdf in batches:
            out: list[dict] = []
            for gid in pdf["id"].tolist():
                b, page0 = divmod(int(gid), cfg.pages_per_board)
                out.extend(page_rows(cfg, b, page0 + 1))
            yield _typed_pages_df(out)

    return (
        spark.range(0, total, 1, num_partitions)
        .mapInPandas(gen, schema=PAGES_DDL)
    )


def generate_site_pandas(cfg: SiteConfig) -> pd.DataFrame:
    """Driver-side generation for small tests / the pure-Python oracle."""
    out: list[dict] = []
    for b in range(cfg.n_boards):
        for page in range(1, cfg.pages_per_board + 1):
            out.extend(page_rows(cfg, b, page))
    return _typed_pages_df(out)
