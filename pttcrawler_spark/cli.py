"""CLI front-end — the `python -m crawler` / export.py / query.py surface.

Maps the reference's flags onto the engine, subcommand for subcommand:

- ``article``  — crawler/crawler_arg.py:38-68 (`--board-name`,
  `--start-date | --index S E | --database`, `--add | --upgrade`,
  `--json-folder/--json-prefix`) → engine.crawl.crawl / mark_for_recrawl +
  store.article_documents JSON sink.
- ``article_index`` — crawler/crawler_arg.py:21-35 (`--board-name`,
  `--index N`, `--before/--after`) → index-range crawl; article_index rows.
- ``user``     — crawler/crawler_arg.py:76-87 (`--id a,b,c | --database`)
  → engine.users enrichment over the pluggable buffer source.
- ``asn``      — crawler/crawler_arg.py:71-74 (`--ip-list | --database`)
  → engine.store.enrich_ip_asn.
- ``export``   — export.py:311-338 (`--format ods|csv|json`,
  `--output-folder`, `--output-prefix`) → engine.export.export_sheets
  (ods: one three-sheet .ods written by engine/ods.py).
- ``query``    — query.py:14-57 (`--board-name`, `--date-range`,
  `--format console|csv|ods`, `--output-folder`) → engine.query.tw_ip_report.

config.ini (utils.py:59-63, config_example.ini) is honored for the
engine-relevant keys: [Database] Name → the store directory, [PttArticle]
Delaytime / VersionRotate / Output.

Engine-specific additions (no live PTT in this environment): the page source
is ``--corpus <parquet>`` (url/html/image columns) or ``--synth
B,P,A[,seed]`` (deterministic synthetic site); ``--store`` overrides the
store directory.
"""

from __future__ import annotations

import argparse
import configparser
import datetime as _dt
import sys
from pathlib import Path


def valid_date_type(arg_date_str: str) -> _dt.datetime:
    """'YYYY-MM-DD' (utils.py:50-56)."""
    try:
        return _dt.datetime.strptime(arg_date_str, "%Y-%m-%d")
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"Given Datetime ({arg_date_str}) not valid! Expected format, 'YYYY-MM-DD'!")


def valid_datetime_minute_type(arg: str) -> _dt.datetime:
    """'YYYY-MM-DD HH:MM' (utils.py valid_datetime_type analog)."""
    try:
        return _dt.datetime.strptime(arg, "%Y-%m-%d %H:%M")
    except ValueError:
        raise argparse.ArgumentTypeError(
            f"Given Datetime ({arg}) not valid! Expected format, "
            "'YYYY-MM-DD HH:MM'!")


def _base_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(add_help=False)
    p.add_argument("--debug-mode", action="store_true")
    p.add_argument("--verbose", action="store_true")
    p.add_argument("--config-path", type=str, default="")
    p.add_argument("--version", action="version", version="%(prog)s 1.0")
    # engine extensions
    p.add_argument("--store", type=str, default="",
                   help="store directory (overrides config [Database] Name)")
    p.add_argument("--corpus", type=str, default="",
                   help="page-corpus parquet (simulated fetch source)")
    p.add_argument("--synth", type=str, default="",
                   help="synthetic site 'boards,pages,articles[,seed]'")
    p.add_argument("--cores", type=str, default="*")
    return p


def build_parser() -> argparse.ArgumentParser:
    base = _base_parser()
    parser = argparse.ArgumentParser(prog="pttcrawler_spark", parents=[base])
    sub = parser.add_subparsers(dest="module", required=True)

    pa = sub.add_parser("article", parents=[base])
    g_in = pa.add_mutually_exclusive_group(required=True)
    g_in.add_argument("--start-date", type=valid_date_type)
    g_in.add_argument("--index", type=int, nargs=2,
                      metavar=("START_INDEX", "END_INDEX"))
    g_in.add_argument("--database", action="store_true")
    pa.add_argument("--board-name", type=str.lower, required=True)
    g_act = pa.add_mutually_exclusive_group(required=True)
    g_act.add_argument("--add", action="store_false", dest="upgrade")
    g_act.add_argument("--upgrade", action="store_true", dest="upgrade")
    pa.add_argument("--json-folder", type=str, default="")
    pa.add_argument("--json-prefix", type=str, default="")

    pi = sub.add_parser("article_index", parents=[base])
    pi.add_argument("--board-name", type=str.lower, required=True)
    pi.add_argument("--index", type=int)
    g_dir = pi.add_mutually_exclusive_group()
    g_dir.add_argument("--before", action="store_true", dest="before")
    g_dir.add_argument("--after", action="store_false", dest="before")
    pi.set_defaults(before=True)

    pu = sub.add_parser("user", parents=[base])
    g_u = pu.add_mutually_exclusive_group(required=True)
    g_u.add_argument("--id", type=str)
    g_u.add_argument("--database", action="store_true")
    pu.add_argument("--json-prefix", type=str, default="")

    pn = sub.add_parser("asn", parents=[base])
    g_n = pn.add_mutually_exclusive_group(required=True)
    g_n.add_argument("--ip-list", type=str)
    g_n.add_argument("--database", action="store_true")
    pn.add_argument("--real-whois", action="store_true",
                    help="resolve through ipwhois (needs the ipwhois package "
                         "and network egress) instead of the synth lookup")

    pe = sub.add_parser("export", parents=[base])
    pe.add_argument("--format", type=str, required=True,
                    choices=["ods", "csv", "json"])
    pe.add_argument("--output-folder", type=str, required=True)
    pe.add_argument("--output-prefix", type=str, default="")

    # schedule.py:136-157 surface: update/remove keyed by (module, --args),
    # plus engine extensions list / run-due
    ps = sub.add_parser("schedule", parents=[base])
    act = ps.add_subparsers(dest="action", required=True)
    pu_ = act.add_parser("update")
    pu_.add_argument("crawler_module",
                     choices=["article_index", "article", "asn", "user"])
    pu_.add_argument("-c", "--cycle-time", dest="cycle_time", type=int,
                     required=True)
    pu_.add_argument("-s", "--start-datetime", dest="start_datetime",
                     type=valid_datetime_minute_type, default=None,
                     help='start datetime "YYYY-MM-DD HH:MM"')
    pu_.add_argument("--args", type=str, required=True)
    pr_ = act.add_parser("remove")
    pr_.add_argument("crawler_module",
                     choices=["article_index", "article", "asn", "user"])
    pr_.add_argument("--args", type=str, required=True)
    act.add_parser("list")
    pd_ = act.add_parser("run-due")
    pd_.add_argument("--now", type=valid_datetime_minute_type, default=None)

    # alembic-CLI analog (db_migration/versions/*): upgrade a store's
    # on-disk state layout along engine/migrate.py's revision chain
    pm = sub.add_parser("migrate", parents=[base])
    act_m = pm.add_subparsers(dest="action", required=True)
    up_ = act_m.add_parser("upgrade")
    up_.add_argument("--revision", type=str, default="head",
                     help='target revision (default "head")')
    act_m.add_parser("current")

    pq = sub.add_parser("query", parents=[base])
    pq.add_argument("--board-name", type=str.lower, required=True)
    pq.add_argument("--date-range", type=str, nargs=2, required=True,
                    metavar=("START", "END"))
    pq.add_argument("--format", type=str, default="console",
                    choices=["console", "csv", "ods"])
    pq.add_argument("--output-folder", type=str, default=".")
    return parser


def load_config(config_path: str) -> configparser.ConfigParser:
    cfg = configparser.ConfigParser()
    if config_path:
        cfg.read(config_path)
    return cfg


def _store_dir(args, cfg) -> str:
    if args.store:
        return args.store
    if cfg.has_option("Database", "Name"):
        return cfg.get("Database", "Name")
    return "./ptt_store"


def _spark(args):
    from .session import get_spark
    return get_spark(args.cores, app_name="pttcrawler_spark_cli")


def _corpus_and_seeds(spark, args, board: str | None):
    """Page source: --corpus parquet or --synth spec. Seeds = the board's
    bootstrap index.html (crawler/article.py:417-421 analog)."""
    from pyspark.sql import functions as F
    if args.corpus:
        corpus = spark.read.parquet(args.corpus)
        # a board's bootstrap seed is its index.html (served as kind=index)
        boot = corpus.where(F.col("url").rlike(r"/index\.html$"))
        if board:
            seeds_rows = (boot.where(F.col("board") == board)
                          .select("board", "url").distinct().collect())
        else:
            seeds_rows = boot.select("board", "url").distinct().collect()
        seeds = [(r["board"], r["url"]) for r in seeds_rows]
        return corpus, seeds
    if args.synth:
        from .synth.site import SiteConfig, generate_site
        parts = [int(x) for x in args.synth.split(",")]
        site = SiteConfig(n_boards=parts[0], pages_per_board=parts[1],
                          articles_per_page=parts[2],
                          seed=parts[3] if len(parts) > 3 else 42)
        corpus = generate_site(spark, site)
        seeds = site.seeds()
        if board:
            boards = [b for b, _ in seeds]
            if board not in boards:
                raise SystemExit(f"board {board!r} not in synthetic site {boards}")
            seeds = [s for s in seeds if s[0] == board]
        return corpus, seeds
    raise SystemExit("need --corpus or --synth (no live PTT in this environment)")


def _open_result(spark, store: str):
    from .engine import state as ST
    from .engine.crawl import CrawlResult
    bid = ST.latest_committed(store)
    if bid is None:
        raise SystemExit(f"no committed crawl state under {store!r} — run "
                         "`article` first")
    return CrawlResult(out_dir=store, final_batch=bid, n_fetched=-1, spark=spark)


def _tables(spark, store: str, cfg):
    from .engine import store as S
    rotate = int(cfg.get("PttArticle", "VersionRotate", fallback="30") or 30)
    return S.build_relational(_open_result(spark, store), version_rotate=rotate)


def cmd_article(args, cfg) -> int:
    from .engine.crawl import CrawlConfig, crawl, mark_for_recrawl
    spark = _spark(args)
    store = _store_dir(args, cfg)
    board = args.board_name
    corpus, seeds = _corpus_and_seeds(spark, args, board)

    ccfg = CrawlConfig(
        delay_s=float(cfg.get("PttArticle", "Delaytime", fallback="2.0")),
        verify_payload=False,
    )
    if args.start_date is not None:
        ccfg.start_date = args.start_date
    if args.index is not None:
        ccfg.start_index, ccfg.end_index = args.index

    resume = False
    if args.database or args.upgrade:
        from .engine import state as ST
        resume = ST.latest_committed(store) is not None
    if args.upgrade and resume:
        from pyspark.sql import functions as F
        res = _open_result(spark, store)
        arts = (res.frontier()
                .where((F.col("kind") == "article") & (F.col("board") == board)
                       & (F.col("status") == "fetched"))
                .select("url"))
        mark_for_recrawl(spark, store, arts)

    result = crawl(spark, corpus, seeds, store, ccfg, resume=resume)
    print(f"crawled: {result.n_fetched} pages into {store} "
          f"(final batch {result.final_batch})")

    out_mode = cfg.get("PttArticle", "Output", fallback="both")
    if args.json_folder and out_mode in ("json", "both"):
        from .engine.store import article_documents
        dest = str(Path(args.json_folder) /
                   f"{args.json_prefix or 'articles'}_{board}")
        article_documents(result).write.mode("overwrite").json(dest)
        print(f"json documents: {dest}")
    return 0


def cmd_article_index(args, cfg) -> int:
    from .engine.crawl import CrawlConfig, crawl
    spark = _spark(args)
    store = _store_dir(args, cfg)
    corpus, seeds = _corpus_and_seeds(spark, args, args.board_name)
    ccfg = CrawlConfig(verify_payload=False)
    # --index N --before → pages 1..N; --after → pages N..last
    # (crawler/article_index.py upserts the chosen index range)
    if args.index is not None:
        if args.before:
            ccfg.end_index = args.index
        else:
            ccfg.start_index = args.index
    result = crawl(spark, corpus, seeds, store, ccfg, resume=False)
    aidx = result.table("article_index")
    n = aidx.count() if aidx is not None else 0
    print(f"article_index rows: {n}")
    return 0


def cmd_user(args, cfg) -> int:
    from .engine import users as U
    spark = _spark(args)
    store = _store_dir(args, cfg)
    tables = _tables(spark, store, cfg)
    if args.id:
        names = [s.strip() for s in args.id.split(",") if s.strip()]
        queue = spark.createDataFrame([(n,) for n in names], "username string")
    else:
        # W6 queue order: login_times asc, id asc (crawler/user.py:157-158)
        queue = (U.fetch_queue(tables["user"])
                 .orderBy("fetch_rank").select("username"))
    buffers = U.synth_buffers(queue)
    scraped = U.scrape_buffers(buffers)
    out = U.apply_user_records(tables, scraped)
    n = out["user_last_record"].count()
    print(f"user records appended: {n}")
    if args.json_prefix:
        dest = f"{args.json_prefix}_user_records"
        out["user_last_record"].write.mode("overwrite").json(dest)
        print(f"json: {dest}")
    return 0


def cmd_asn(args, cfg) -> int:
    from .engine.store import enrich_ip_asn, ipwhois_asn_lookup
    spark = _spark(args)
    if args.ip_list:
        ips = [s.strip() for s in args.ip_list.split(",") if s.strip()]
        df = spark.createDataFrame([(ip,) for ip in ips], "ip string")
    else:
        store = _store_dir(args, cfg)
        df = _tables(spark, store, cfg)["ip_asn"].select("ip")
    enriched = enrich_ip_asn(
        df, lookup=ipwhois_asn_lookup if args.real_whois else None)
    for row in enriched.collect():
        print(f"{row['ip']}\t{row['asn']}\t{row['asn_country_code']}")
    return 0


def cmd_export(args, cfg) -> int:
    from .engine.export import export_sheets
    spark = _spark(args)
    store = _store_dir(args, cfg)
    tables = _tables(spark, store, cfg)
    out_dir = str(Path(args.output_folder) / (args.output_prefix or ""))
    paths = export_sheets(tables, out_dir, fmt=args.format)
    for name, path in paths.items():
        print(f"{name}: {path}")
    return 0


def cmd_query(args, cfg) -> int:
    from .engine.query import (tw_ip_report, write_report_csv,
                               write_report_ods)
    spark = _spark(args)
    store = _store_dir(args, cfg)
    tables = _tables(spark, store, cfg)
    start, end = args.date_range
    rep = tw_ip_report(tables, args.board_name, start, end)
    if args.format == "console":
        rep.show(truncate=False)
    elif args.format == "ods":
        path = write_report_ods(rep, args.output_folder)
        print(f"query ods: {path}")
    else:
        path = write_report_csv(rep, args.output_folder)
        print(f"query csv: {path}")
    return 0


def cmd_schedule(args, cfg) -> int:
    import datetime as dt

    from . import schedule as SCH
    store = _store_dir(args, cfg)
    if args.action == "update":
        start = args.start_datetime or (dt.datetime.now()
                                        + dt.timedelta(minutes=1))
        spec = SCH.update_job(store, args.crawler_module, args.args,
                              start, args.cycle_time)
        print(f"{spec.minute} {spec.hour} */{spec.dom_every} * * "
              f"pttcrawler_spark {spec.module} {spec.args}")
    elif args.action == "remove":
        removed = SCH.remove_job(store, args.crawler_module, args.args)
        print("removed" if removed else "no such job")
    elif args.action == "list":
        for j in SCH.load_jobs(store):
            print(f"{j.module}\t{j.args}\t{j.minute} {j.hour} "
                  f"*/{j.dom_every}\tlast_run={j.last_run}")
    elif args.action == "run-due":
        fired = SCH.run_due(store, now=args.now)
        print(f"fired: {len(fired)}")
    return 0


def cmd_migrate(args, cfg) -> int:
    from .engine import migrate as M
    store = _store_dir(args, cfg)
    if args.action == "current":
        print(M.revision(store))
        return 0
    rev = M.HEAD if args.revision == "head" else args.revision
    spark = _spark(args)
    applied = M.migrate_state(spark, store, rev)
    for r, n in applied.items():
        print(f"{r}: {n} dirs rewritten")
    if not applied:
        print(f"already at {M.revision(store)}")
    return 0


COMMANDS = {
    "article": cmd_article,
    "article_index": cmd_article_index,
    "user": cmd_user,
    "asn": cmd_asn,
    "export": cmd_export,
    "query": cmd_query,
    "schedule": cmd_schedule,
    "migrate": cmd_migrate,
}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    cfg = load_config(args.config_path)
    return COMMANDS[args.module](args, cfg)


if __name__ == "__main__":
    sys.exit(main())
