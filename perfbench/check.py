"""Correctness gate, run after the timed region (untimed).

Every check adds to ``attempted`` and ``failed`` so the run's failure
fraction is failed ÷ attempted:

- per-host fetch order and the URL-seen set against the single-threaded
  oracle (``oracle.simulator.run_oracle``) on the same generated site;
- no frontier row ends ``failed``;
- every ``payload_verify`` row passes, one row per parsed article;
- the three exported sheets and the TW-vs-foreign-IP report equal what the
  oracle's tables give under ``engine.store.synth_asn_lookup``.
"""

from __future__ import annotations

from collections import Counter
from pathlib import Path

import pandas as pd


class Tally:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.notes: dict[str, int] = {}

    def add(self, what: str, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.notes[what] = self.notes.get(what, 0) + failed


def _read_csv_dir(path: str) -> pd.DataFrame:
    parts = sorted(Path(path).glob("part-*.csv"))
    if not parts:
        raise FileNotFoundError(f"no csv part file under {path}")
    return pd.concat([pd.read_csv(p, dtype=str, keep_default_na=False,
                                  escapechar="\\") for p in parts],
                     ignore_index=True)


def _multiset_diff(got, want) -> int:
    g, w = Counter(got), Counter(want)
    return sum(((g - w) + (w - g)).values())


def check_crawl(result, oracle, verify_payload: bool, tally: Tally) -> None:
    fr = (result.frontier()
          .select("host", "url", "status", "batch_id", "priority",
                  "discovery_seq")
          .toPandas())
    failed_rows = int((fr.status == "failed").sum())
    tally.add("frontier_failed", len(fr), failed_rows)

    fetched = fr[fr.status == "fetched"].sort_values(
        ["host", "batch_id", "priority", "discovery_seq", "url"],
        ascending=[True, True, False, True, True])
    ora = oracle.fetch_events_df()
    for host, want in ora.groupby("host", sort=False):
        want_urls = want.url.tolist()
        got_urls = fetched[fetched.host == host].url.tolist()
        bad = sum(a != b for a, b in zip(got_urls, want_urls))
        tally.add("fetch_order", len(want_urls),
                  bad + abs(len(got_urls) - len(want_urls)))
    seen = set(fetched.url)
    tally.add("url_seen", len(oracle.url_seen), len(seen ^ oracle.url_seen))

    if verify_payload:
        pv = result.table("payload_verify").toPandas()
        bad = int((~(pv.pixel_ok & pv.phash_ok & pv.caption_ok)).sum())
        n_want = len(oracle.articles)
        tally.add("payload_verify", max(len(pv), n_want),
                  bad + abs(len(pv) - n_want))


def _dt(x, fmt: str) -> str:
    return "" if x is None or pd.isna(x) else pd.Timestamp(x).strftime(fmt)


def check_report(paths: dict[str, str], report_path: str, board: str,
                 oracle, tally: Tally) -> None:
    from pttcrawler_spark.engine.store import synth_asn_lookup

    t = oracle.tables()
    ips = set(t["ip_asn"]["ip"]) if len(t["ip_asn"]) else set()
    cc = {ip: synth_asn_lookup(ip)["asn_country_code"] or "" for ip in ips}
    boards = dict(zip(t["board"].id, t["board"].name))
    users = dict(zip(t["user"].id, t["user"].username))
    hist = t["article_history"].sort_values("id").groupby("article_id").last()
    arts = t["article"]

    # Article sheet: one row per article, ordered by post time
    want = [(a.web_id, boards[a.board_id], users[a.user_id],
             hist.loc[a.id, "title"] or "", (hist.loc[a.id, "content"] or "").strip(),
             a.post_ip or "", cc.get(a.post_ip, ""),
             _dt(a.post_datetime, "%Y-%m-%d %H:%M:%S"))
            for a in arts.itertuples(index=False)]
    sheet = _read_csv_dir(paths["Article"])
    got = list(zip(sheet["Atricle.web_id"], sheet["Article.board"],
                   sheet["Atricle.author"], sheet["Atricle.title"],
                   sheet["Atricle.cotent"].str.strip(), sheet["Atricle.post_ip"],
                   sheet["Atricle.post_ip.asn_country_code"],
                   sheet["Article.post_datetime"]))
    times = [r[-1] for r in got]
    tally.add("article_sheet", len(want),
              _multiset_diff(got, want) + (times != sorted(times)))

    # Push sheet: one row per push of each article's latest history
    web_of_hist = dict(zip(t["article_history"].id,
                           t["article_history"].article_id.map(
                               dict(zip(arts.id, arts.web_id)))))
    pushes = t["push"]
    want = ([] if not len(pushes) else
            [(web_of_hist[p.article_history_id], users[p.push_user_id],
              p.push_tag or "", (p.push_content or "").strip(), p.push_ip or "",
              _dt(p.push_datetime, "%m/%d %H:%M:%S"))
             for p in pushes.itertuples(index=False)])
    sheet = _read_csv_dir(paths["Push"])
    got = list(zip(sheet["Push.article_web_id"], sheet["Push.username"],
                   sheet["Push.tag"], sheet["Push.content"].str.strip(),
                   sheet["Push.ip"], sheet["Push.datatime"]))
    tally.add("push_sheet", len(want), _multiset_diff(got, want))

    # User sheet: no last-login records, so one all-blank row per user
    sheet = _read_csv_dir(paths["User"])
    blank = int((sheet != "").any(axis=1).sum())
    tally.add("user_sheet", len(t["user"]),
              blank + abs(len(sheet) - len(t["user"])))

    # TW report for one board: inner ASN join, date range never applied
    board_id = next(i for i, n in boards.items() if n == board)
    mine = arts[arts.board_id == board_id]
    mine = mine[mine.post_ip.isin(ips)]
    a_tw = int((mine.post_ip.map(cc) == "TW").sum())
    hist_ids = set(t["article_history"][t["article_history"].article_id
                                        .isin(mine.id)].id)
    ps = pushes[pushes.article_history_id.isin(hist_ids)
                & pushes.push_ip.isin(ips)] if len(pushes) else pushes
    p_tw = int((ps.push_ip.map(cc) == "TW").sum()) if len(ps) else 0
    want = {("Article", str(a_tw), str(len(mine) - a_tw)),
            ("Push", str(p_tw), str(len(ps) - p_tw))}
    rep = _read_csv_dir(report_path)
    got = set(zip(rep["Type"], rep["TW Ip"], rep["Not TW Ip"]))
    tally.add("tw_report", 2, len(got ^ want) // 2 + abs(len(rep) - 2))
