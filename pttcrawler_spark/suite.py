"""Driver-facing query suite: SURVEY.md §2 operators + training-data-pipeline
ops (dedup / similarity / text analysis) over the driver's TPC-H-ish tables.

Every entry returns a DataFrame whose column names match its DuckDB oracle in
ORACLE_SQL exactly (the driver sorts columns by name and value-hashes).
Doubles are rounded on BOTH sides; derived timestamps are emitted as
formatted strings to dodge tz-representation drift (session TZ is UTC).

Each query's docstring cites the SURVEY §2 operator it evidences and the
reference site it models. Every queries() key now carries a DuckDB oracle
(historically the MinHash/SimHash/image-codec keys were rows-only; their
oracles recompute via fixture side-tables — FIXTURES.md §7 — and their
plan shapes are additionally pinned in tests/test_plan_quality.py).
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.seq import with_global_seq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Flagship: the TW-IP report (query.py:78-118 — A4+J3+J4).
# 'NATION_19' plays the role of 'TW' on TPC-H-ish data.
# ---------------------------------------------------------------------------
def flagship_tw_report(spark, sf_dir):
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    sup = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    cust_nat = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    art = (
        orders.join(cust_nat, orders.o_custkey == cust_nat.c_custkey)
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_19", 1).otherwise(0)).alias("tw_count"),
            F.sum(F.when(F.col("n_name") != "NATION_19", 1).otherwise(0)).alias("not_tw_count"),
        )
        .select(F.lit("Article").alias("report_type"), "tw_count", "not_tw_count")
    )
    sup_nat = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
    psh = (
        li.join(F.broadcast(sup_nat), li.l_suppkey == sup_nat.s_suppkey)
        .agg(
            F.sum(F.when(F.col("n_name") == "NATION_19", 1).otherwise(0)).alias("tw_count"),
            F.sum(F.when(F.col("n_name") != "NATION_19", 1).otherwise(0)).alias("not_tw_count"),
        )
        .select(F.lit("Push").alias("report_type"), "tw_count", "not_tw_count")
    )
    return art.unionByName(psh)


FLAGSHIP_SQL = """
SELECT 'Article' AS report_type,
       CAST(sum(CASE WHEN n_name = 'NATION_19' THEN 1 ELSE 0 END) AS BIGINT) AS tw_count,
       CAST(sum(CASE WHEN n_name <> 'NATION_19' THEN 1 ELSE 0 END) AS BIGINT) AS not_tw_count
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
UNION ALL
SELECT 'Push' AS report_type,
       CAST(sum(CASE WHEN n_name = 'NATION_19' THEN 1 ELSE 0 END) AS BIGINT) AS tw_count,
       CAST(sum(CASE WHEN n_name <> 'NATION_19' THEN 1 ELSE 0 END) AS BIGINT) AS not_tw_count
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
"""


# --- P: projections / filters (SURVEY §2.2) --------------------------------
def p1_point_lookup(spark, sf_dir):
    """P1: get() point lookup, models/base.py:76-78."""
    return (t(spark, sf_dir, "orders")
            .where(F.col("o_orderkey") == 7)
            .select("o_orderkey", "o_custkey", "o_orderstatus",
                    F.round("o_totalprice", 2).alias("total")))


def p2_conj_filter(spark, sf_dir):
    """P2: get_list conjunctive equality filter, models/base.py:80-82."""
    return (t(spark, sf_dir, "lineitem")
            .where((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F"))
            .select("l_orderkey", "l_linenumber",
                    F.round("l_quantity", 2).alias("qty")))


def p3_filter_board(spark, sf_dir):
    """P3: filter-by-board, crawler/article.py:524-526."""
    return (t(spark, sf_dir, "nation").where(F.col("n_regionkey") == 2)
            .select("n_nationkey", "n_name"))


def p4_date_cutoff(spark, sf_dir):
    """P4: start-date cutoff filter, crawler/article.py:486-503."""
    return (t(spark, sf_dir, "lineitem")
            .where(F.col("l_shipdate") >= "1996-06-01")
            .select("l_orderkey", "l_linenumber",
                    F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day")))


def p6_in_list_semi(spark, sf_dir):
    """P6: IN-list over a query-derived id list, query.py:109."""
    urgent = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (t(spark, sf_dir, "lineitem")
            .join(urgent.select("o_orderkey"),
                  F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
            .groupBy("l_returnflag").agg(F.count("*").alias("n")))


def p7_seen_anti(spark, sf_dir):
    """P7: URL-seen skip as anti-join, crawler/article.py:152-157."""
    orders = t(spark, sf_dir, "orders")
    return (t(spark, sf_dir, "customer")
            .join(orders.select("o_custkey"),
                  F.col("c_custkey") == F.col("o_custkey"), "left_anti")
            .select("c_custkey", "c_name"))


def p7b_seen_bloom(spark, sf_dir):
    """P7's SCALE path, graded: the partitioned-bloom URL-seen split
    (operators/bloom.py — the engine's crawl-loop stage) composed with the
    exact anti-join patch-up. split() routes every probe row through the
    blob of its hash partition (cogroup applyInPandas, Arrow-vectorized
    bit tests); `definitely_new` skips the shuffle-heavy anti-join
    entirely, `maybe_seen` (true hits + false positives) is re-checked
    exactly. At 10^10 URLs this cuts the anti-join's probe side to the
    maybe fraction; correctness relies on the filter having NO false
    negatives — which is exactly what the oracle (the plain anti-join)
    certifies: one leaked seen key ⇒ row-count/hash mismatch."""
    from .operators.bloom import BloomState
    seen = t(spark, sf_dir, "orders").select(
        F.xxhash64(F.col("o_custkey")).alias("url_hash"))
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.xxhash64(F.col("c_custkey")).alias("url_hash"))
    bloom = BloomState(partitions=16, bits_per_key=16)
    bloom.rebuild(seen)
    maybe, new = bloom.split(cust)
    survivors = maybe.join(
        t(spark, sf_dir, "orders").select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (new.unionByName(survivors).select("c_custkey", "c_name"))


def p7c_seen_cuckoo(spark, sf_dir):
    """The DELETABLE seen-filter variant, graded: cuckoo filter
    (operators/cuckoo.py, Fan et al. CoNEXT'14) with a real DELETE round —
    the north rule's re-crawl case (reference --upgrade re-fetch,
    crawler/article.py:152-157, must UN-mark a URL as seen). Insert every
    customer key that has orders, then delete the `custkey % 10 == 0`
    cohort (mark-for-recrawl), then split all customers and patch the
    maybe side exactly. Result must equal "customers not in the
    post-delete seen set" — the oracle certifies both no-false-negatives
    AND that deletion really removed its keys (a bloom filter cannot
    express this query)."""
    from .operators.cuckoo import CuckooState
    seen_keys = t(spark, sf_dir, "orders").select("o_custkey").distinct()
    ins = seen_keys.select(F.xxhash64(F.col("o_custkey")).alias("url_hash"))
    dels = (seen_keys.where(F.pmod(F.col("o_custkey"), F.lit(10)) == 0)
            .select(F.xxhash64(F.col("o_custkey")).alias("url_hash")))
    ck = CuckooState(partitions=16)
    ck.rebuild(ins)
    ck.remove(dels)
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.xxhash64(F.col("c_custkey")).alias("url_hash"))
    maybe, new = ck.split(cust)
    final_seen = seen_keys.where(F.pmod(F.col("o_custkey"), F.lit(10)) != 0)
    survivors = maybe.join(
        final_seen, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (new.unionByName(survivors).select("c_custkey", "c_name"))


def p8_page_complete(spark, sf_dir):
    """P8: page-complete count check, crawler/article.py:462-468."""
    return (t(spark, sf_dir, "orders").groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"))
            .where(F.col("n_orders") >= 15))


def _p9_frontier(spark, sf_dir, with_index_rows: bool):
    """One micro-batch of a synthetic URL frontier derived from orders:
    37 hosts, priority in 0..6, discovery_seq = o_orderkey (unique, so the
    url tiebreak in the politeness sort never fires and the order is total).
    Every 11th URL lands under /private/ (the robots-gated path)."""
    hid = (F.col("o_custkey") % 37).cast("int")
    kind = (F.when(F.col("o_orderkey") % 13 == 0, "index")
            .otherwise("article") if with_index_rows
            else F.lit("article"))
    return t(spark, sf_dir, "orders").select(
        F.concat(F.lit("host_"), hid.cast("string")).alias("host"),
        F.concat(F.lit("https://host"), hid.cast("string"),
                 F.when(F.col("o_orderkey") % 11 == 0, "/private/")
                 .otherwise("/bbs/"),
                 F.col("o_orderkey").cast("string"),
                 F.lit(".html")).alias("url"),
        (F.col("o_orderkey") % 7).cast("int").alias("priority"),
        F.col("o_orderkey").cast("long").alias("discovery_seq"),
        kind.alias("kind"),
    )


def _p9_state(spark, sf_dir):
    """Per-host token-bucket balance: floor(tokens) = host_id % 5 whole
    tokens to spend this batch (0..4), fractional 0.5 carries over."""
    hid = (F.col("o_custkey") % 37).cast("int")
    return (t(spark, sf_dir, "orders").select(hid.alias("hid")).distinct()
            .select(F.concat(F.lit("host_"), F.col("hid").cast("string"))
                    .alias("host"),
                    ((F.col("hid") % 5) + F.lit(0.5)).cast("double")
                    .alias("tokens")))


def p9_politeness_admit(spark, sf_dir):
    """P9 (north rule): one micro-batch of per-host token-bucket admission
    with a robots.txt gate, through the REAL groupBy(host).applyInPandas
    operator the crawl engine runs (operators/politeness.py
    admit_apply_in_pandas — reference analog: the per-fetch sleep loop,
    crawler/article.py:480,512,554 + config_example.ini:14-15). Hosts whose
    id %3 == 0 disallow the /private/ prefix. The oracle re-states the
    operator's exact semantics declaratively: rank over ALL rows caps the
    group at ceil(tokens) (the skew pre-truncation — a hot host never
    builds an oversized pandas group), then a running count of non-blocked
    rows inside that capped prefix spends floor(tokens) whole tokens;
    blocked rows spend nothing; rows beyond the cap are deferred with
    robots_blocked=false (never evaluated). One mis-admitted, mis-ordered
    or budget-overrunning row ⇒ hash mismatch."""
    from .operators.politeness import admit_apply_in_pandas
    pending = _p9_frontier(spark, sf_dir, with_index_rows=False)
    state = _p9_state(spark, sf_dir)
    robots = {f"host_{i}": ["/private/"] for i in range(0, 37, 3)}
    out = admit_apply_in_pandas(pending, state, robots=robots)
    return out.select("host", "url", "admit", "robots_blocked")


def p9b_politeness_window(spark, sf_dir):
    """P9b: the engine's default pure-Catalyst admission path
    (operators/politeness.py admit_window — whole-stage-codegen'd rank
    window + broadcast state join) on a frontier that mixes index and
    article rows, grading the DISCOVERY BARRIER: admission for a host
    stops at its first index-kind row in (priority desc, discovery_seq)
    order, because that row spawns higher-priority work that must be
    fetched first — the distributed restatement of the reference's
    sequential page-then-articles loop (crawler/article.py:419-511).

    Graded through the hot-host SCALE path (max_budget=5 = ceil of the
    fixture's max 4.5 tokens — the literal budget ceiling the engine
    derives from its burst capacity): rank <= lit(5) triggers
    WindowGroupLimit, so each map task keeps only its per-host top-5
    before the host shuffle and a 10^9-row hot host never sorts in one
    reducer; flags join back to pending by url. Bit-identical to the
    exact path (operators/politeness.py admit_window docstring; equality
    property-tested in tests/test_politeness_skew.py)."""
    from .operators.politeness import admit_window
    pending = _p9_frontier(spark, sf_dir, with_index_rows=True)
    state = _p9_state(spark, sf_dir)
    out = admit_window(pending, state, max_budget=5)
    return out.select("host", "url", "kind", "admit")


# --- J: joins (SURVEY §2.3) --------------------------------------------------
def j1_join_count(spark, sf_dir):
    """J1: COUNT of index⋈article join, crawler/article.py:462-465."""
    orders = t(spark, sf_dir, "orders").where(
        F.date_format("o_orderdate", "yyyy-MM") == "1996-03")
    n = (t(spark, sf_dir, "lineitem")
         .join(orders.select("o_orderkey"),
               F.col("l_orderkey") == F.col("o_orderkey"))
         .agg(F.count("*").alias("n_rows")))
    return n


def j2_left_anti(spark, sf_dir):
    """J2: frontier not-yet-fetched anti-join, crawler/article.py:528-531."""
    li = t(spark, sf_dir, "lineitem")
    return (t(spark, sf_dir, "part")
            .join(li.select("l_partkey"), F.col("p_partkey") == F.col("l_partkey"),
                  "left_anti")
            .select("p_partkey", "p_name"))


def j3_four_way(spark, sf_dir):
    """J3: 4-way equi join + agg, query.py:87-93."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
             .alias("revenue"),
             F.count("*").alias("n_rows"))
    )


def j5_broadcast_left(spark, sf_dir):
    """J5: export's per-row dim lookup → broadcast left join, export.py:69-76."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left")
            .select("o_orderkey", "c_name", "c_mktsegment"))


def j6_dim_nav(spark, sf_dir):
    """J6: ORM relationship navigation = chained dim joins, export.py:64,85-86."""
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region")
    return (cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .select("c_custkey", "n_name", "r_name"))


def j7_upsert_new_keys(spark, sf_dir):
    """J7: get_or_create WHEN NOT MATCHED key probe, models/base.py:54-65."""
    existing = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 50)
    return (t(spark, sf_dir, "orders").select("o_custkey").distinct()
            .join(existing.select("c_custkey"),
                  F.col("o_custkey") == F.col("c_custkey"), "left_anti")
            .select(F.col("o_custkey").alias("new_key")))


# --- A: aggregations (SURVEY §2.4) -------------------------------------------
def a1_minmax_group(spark, sf_dir):
    """A1: frontier resume min/max index per board, crawler/article_index.py:77-82."""
    return (t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
            .groupBy("o_custkey")
            .agg(F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


def a3_push_tally(spark, sf_dir):
    """A3: push/boo/neutral tally + count=p-b, crawler/article.py:343-365."""
    return (t(spark, sf_dir, "lineitem").groupBy("l_orderkey")
            .agg(F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("p"),
                 F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0)).alias("b"),
                 F.sum(F.when(~F.col("l_returnflag").isin("R", "A"), 1).otherwise(0)).alias("n"))
            .select("l_orderkey", "p", "b", "n",
                    (F.col("p") - F.col("b")).alias("cnt"),
                    (F.col("p") + F.col("b") + F.col("n")).alias("all_cnt")))


def a5_latest_per_group(spark, sf_dir):
    """A5: latest-history-per-article via group-by-pick, query.py:90-92."""
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
    return (t(spark, sf_dir, "orders")
            .withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
            .select("o_custkey", F.col("o_orderkey").alias("latest_key")))


# --- W: windows (SURVEY §2.5) ------------------------------------------------
def w1_latest_version(spark, sf_dir):
    """W1: history[0] = latest by start_at desc, models/article.py:54-55."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (t(spark, sf_dir, "orders")
            .withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
            .select("o_custkey", "o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day")))


def w2_latest_login(spark, sf_dir):
    """W2: last_record[0] per user, models/user.py:22-23, export.py:110-111."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (t(spark, sf_dir, "events")
            .withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type",
                    F.round("value", 2).alias("val")))


def w4_floor_enumerate(spark, sf_dir):
    """W4: push floor = 1-based enumerate in page order, crawler/article.py:211,228."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (t(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_linenumber",
                    F.row_number().over(w).alias("floor")))


def w5_version_rotation(spark, sf_dir):
    """W5: keep newest VERSION_ROTATE versions, crawler/article.py:256-259 (top-3 here)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (t(spark, sf_dir, "orders")
            .withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "rn"))


def w6_fetch_priority(spark, sf_dir):
    """W6: user queue order (login_times asc, id asc), crawler/user.py:157-158.
    Scale-safe global rank (operators/seq) — no single-partition window."""
    return (with_global_seq(t(spark, sf_dir, "customer"),
                            [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
                            "fetch_rank")
            .select("c_custkey", F.round("c_acctbal", 2).alias("bal"), "fetch_rank"))


def w7_asn_queue(spark, sf_dir):
    """W7: the ASN crawler's db-input queue — ORDER BY IpAsn.asn (SQLite asc,
    NULLs first) with insertion-id tiebreak, flushed every 100 rows
    (crawler/asn.py:34-37,60-63). asn-analog: NULL for un-enriched rows
    (negative acctbal), else mktsegment. Scale-safe global rank."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment")).alias("asn"))
    return (with_global_seq(
                cust,
                [F.col("asn").asc_nulls_first(), F.col("c_custkey").asc()],
                "queue_pos")
            .select("c_custkey", "asn", "queue_pos",
                    F.floor((F.col("queue_pos") - 1) / 100)
                    .cast("bigint").alias("flush_no")))


def w8_export_order(spark, sf_dir):
    """W8: export ordered by post_datetime, export.py:59-60. Scale-safe
    global rank (operators/seq) — no single-partition window."""
    return (with_global_seq(t(spark, sf_dir, "orders"),
                            [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
                            "pos")
            .select("o_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
                    "pos"))


# --- F: scalar functions (SURVEY §2.8) ---------------------------------------
def f1_last_page_regex(spark, sf_dir):
    """F1: pagination regex with default 1, crawler/article.py:398-402."""
    g = F.regexp_extract(F.col("source"), "src([0-9]+)", 1)
    return (t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.when(g == "", F.lit(1)).otherwise(g.cast("int") + 1)
                    .alias("last_page")))


def f2_web_id_roundtrip(spark, sf_dir):
    """F2+F12: URL assembly + web_id extraction, crawler/article.py:24-26,453-454."""
    url = F.format_string("/bbs/%s/M.%d.A.html", F.col("lang"), F.col("doc_id"))
    web_id = F.regexp_replace(F.element_at(F.split(url, "/"), -1), r"\.html", "")
    return t(spark, sf_dir, "documents").select("doc_id", url.alias("url"),
                                                web_id.alias("web_id"))


def f4_push_ipdatetime(spark, sf_dir):
    """F4: push ip+datetime regex with the %M:%S quirk, crawler/article.py:119-132."""
    raw = F.format_string("10.0.0.%d %s", F.pmod(F.col("user_id"), F.lit(256)),
                          F.date_format("ts", "MM/dd HH:mm"))
    pat = r"([\d.]*)\W?(\d{2}/\d{2} \d{2}:\d{2})"
    ip = F.regexp_extract(raw, pat, 1)
    dt = F.try_to_timestamp(F.concat(F.lit("1900/"), F.regexp_extract(raw, pat, 2)),
                            F.lit("yyyy/MM/dd mm:ss"))
    return (t(spark, sf_dir, "events")
            .select("event_id", ip.alias("push_ip"),
                    F.date_format(dt, "yyyy-MM-dd HH:mm:ss").alias("push_dt")))


def f10_date_format(spark, sf_dir):
    """F10: output format '%m/%d %H:%M:%S', export.py:101,215."""
    return (t(spark, sf_dir, "orders")
            .select("o_orderkey",
                    F.date_format("o_orderdate", "MM/dd HH:mm:ss").alias("fmt")))


def f11_lower_board(spark, sf_dir):
    """F11: board-name lowercasing, crawler/crawler_arg.py:23,50."""
    return (t(spark, sf_dir, "customer")
            .groupBy(F.lower("c_mktsegment").alias("segment"))
            .agg(F.count("*").alias("n")))


def f12_url_assembly(spark, sf_dir):
    """F12: index URL from format template, crawler/article.py:420-422."""
    return (t(spark, sf_dir, "nation")
            .select("n_nationkey",
                    F.format_string("/bbs/%s/index%d.html",
                                    F.lower("n_name"), F.col("n_nationkey"))
                    .alias("url")))


def a7_skew_agg(spark, sf_dir):
    """Skew-safe aggregation over a deliberately hot key (90% of events map
    to one host — the head-host shape of a real crawl frontier, which the
    north star kills with host-hash salting). Two patterns in one result:
    (1) exact per-host distinct users via pre-dedup on (host, user) — the
    hot host's rows spread across reducers by user, so no single task sees
    90% of the data (a naive count(DISTINCT) funnels them to one); (2) a
    salted two-phase sum — groupBy(host, salt=user%16) partials, then a
    host-only combine that moves ≤ hosts×16 rows. Value sums run in exact
    integer cents (floor(v*100+0.5)) so shuffle order can't change a bit.
    Oracle: plain GROUP BY host (salt-invariant by construction)."""
    ev = t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 10 < 9, F.lit("hot.ptt.cc"))
        .otherwise(F.concat(F.lit("c"), (F.col("event_id") % 97)
                            .cast("string"))).alias("host"),
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).alias("cents"))
    users = (ev.select("host", "user_id").distinct()
             .groupBy("host").agg(F.count("*").alias("n_users")))
    salted = (ev.withColumn("salt", F.pmod(F.col("user_id"), F.lit(16)))
              .groupBy("host", "salt")
              .agg(F.sum("cents").alias("s"), F.count("*").alias("n")))
    tot = (salted.groupBy("host")
           .agg(F.sum("s").alias("sum_cents"),
                F.sum("n").alias("n_events")))
    return tot.join(users, "host")


def a8_percentile(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ≡
    DuckDB `quantile_cont`, verified bit-equal). Exact order statistics
    buffer each group's values, so this is the right tool at
    moderate-group-cardinality (5 event types here, one shuffle);
    for 10^8-member groups the scale path is `approx_percentile`
    (KLL/GK sketch, mergeable map-side) at the cost of a bounded error —
    which is also why the approx variant can't be oracle-checked."""
    return (t(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.percentile("value", 0.5).alias("p50"),
                 F.percentile("value", 0.95).alias("p95"),
                 F.percentile("value", 0.99).alias("p99"),
                 F.count("*").alias("n")))


def a8b_percentile_approx(spark, sf_dir):
    """The SCALE path of a8: `approx_percentile` (KLL/GK sketch — mergeable
    map-side partials, O(sketch) per group instead of buffering every
    value, the only viable plan for 10^8-member groups). A sketch value
    can't be hash-compared to DuckDB, so the query attests its own error
    contract instead: with accuracy=10000 the returned value's rank is
    within ±n/10000 of target, so it must lie inside the EXACT interpolated
    [q-0.01, q+0.01] percentile window computed in the same single-shuffle
    aggregate. The oracle pins every within-tolerance flag to true — the
    hash matches iff the sketch really met its bound on this data."""
    qs = [0.5, 0.95, 0.99]
    lo = [max(q - 0.01, 0.0) for q in qs]
    hi = [min(q + 0.01, 1.0) for q in qs]
    agg = (t(spark, sf_dir, "events")
           .groupBy("event_type")
           .agg(F.count("*").alias("n"),
                F.expr(f"approx_percentile(value, array({','.join(map(str, qs))}), 10000)").alias("ap"),
                F.expr(f"percentile(value, array({','.join(map(str, lo))}))").alias("lo"),
                F.expr(f"percentile(value, array({','.join(map(str, hi))}))").alias("hi")))
    flags = [((F.col("ap")[i] >= F.col("lo")[i])
              & (F.col("ap")[i] <= F.col("hi")[i])).alias(f"p{int(q * 100)}_within_tol")
             for i, q in enumerate(qs)]
    return agg.select("event_type", "n", *flags)


def a9_rollup(spark, sf_dir):
    """Grouping-sets aggregation (ROLLUP): per-(returnflag, linestatus)
    totals plus the per-returnflag and grand-total superaggregates in ONE
    pass. Catalyst plans rollup as an Expand (each input row emitted once
    per grouping set) feeding a single partial-aggregatable shuffle — at
    100 TB that is 3x map-side rows but still one shuffle keyed on the
    grouping-set id + keys, vs three separate scans+shuffles for the naive
    union. grouping_id() disambiguates the NULL-as-subtotal rows exactly
    like DuckDB's GROUPING(). Quantities are integral, so the BIGINT cast
    keeps the value-hash representation-stable (round-1 lesson)."""
    li = t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().alias("gid"),
                 F.sum("l_quantity").cast("bigint").alias("sum_qty"),
                 F.count("*").alias("n"))
            .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n"))


def a10_hll_distinct(spark, sf_dir):
    """Approx distinct-count (HyperLogLog++) graded like a8b: the sketch
    can't be hash-compared to an oracle, so the query attests its own
    error contract in the same aggregate. Exact count_distinct buffers
    every key per group (two-phase expand at scale); HLL++ is one
    mergeable O(kB)-per-group sketch pass — the only viable plan for
    10^9-cardinality groups. rsd=0.01 ⇒ stderr ~1% of the true count;
    the flag allows 5σ. The oracle pins every flag true, so a hash match
    certifies the sketch met its bound on this data."""
    ev = t(spark, sf_dir, "events")
    agg = (ev.groupBy("event_type")
           .agg(F.count_distinct("user_id").alias("n_exact"),
                F.expr("approx_count_distinct(user_id, 0.01)").alias("ap")))
    within = (F.abs(F.col("ap") - F.col("n_exact"))
              <= F.col("n_exact") * 0.05).alias("within_tol")
    return agg.select("event_type", "n_exact", within)


def f13_url_canonical(spark, sf_dir):
    """URL canonicalization as the SEEN-SET key (functions/url.canonicalize
    — the north star's 'canonicalized murmur3-hashed URLs'; the reference
    string-formats URLs and has no canonicalizer, so dup variants would
    refetch at scale). Six deterministic messy variants per orderkey
    (uppercase scheme/host, default ports, fragments, duplicate slashes,
    trailing '?', padding) collapse onto k-keyed canonical URLs; groupBy
    canonical = the dedup the URL-seen filter performs. All JVM regexp
    (whole-stage codegen, no shuffle before the final agg); oracle =
    the identical rule chain in DuckDB RE2."""
    from .functions import url as FU
    o = t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 6).alias("v"),
        (F.col("o_orderkey") % 1000).alias("k"))
    board = F.concat(F.lit("Board"), (F.col("k") % 50).cast("string"))
    ks = F.col("k").cast("string")
    path = F.concat(F.lit("/bbs/"), board, F.lit("/index"), ks,
                    F.lit(".html"))
    v = F.col("v")
    raw = (F.when(v == 0, F.concat(F.lit("https://WWW.PTT.CC:443/bbs/"),
                                   board, F.lit("//index"), ks,
                                   F.lit(".html#frag")))
           .when(v == 1, F.concat(F.lit("https://www.ptt.cc"), path))
           .when(v == 2, F.concat(F.lit("HTTPS://www.Ptt.cc"), path,
                                  F.lit("?")))
           .when(v == 3, F.concat(F.lit("http://MIRROR.ptt.cc:80/bbs///"),
                                  board, F.lit("/index"), ks, F.lit(".html")))
           .when(v == 4, F.concat(F.lit("https://www.ptt.cc:443"), path,
                                  F.lit("#a#b")))
           .otherwise(F.concat(F.lit("  https://www.ptt.cc"), path,
                               F.lit("  "))))
    return (o.select(FU.canonicalize(raw).alias("url_canon"),
                     FU.host_of(FU.canonicalize(raw)).alias("host"))
            .groupBy("url_canon", "host")
            .agg(F.count("*").alias("n_variants")))


# --- dedup suite (training-data ops, documents table) ------------------------
def _words(col):
    return F.split(F.trim(col), r"\s+")


def dedup_exact(spark, sf_dir):
    """Exact dedup via content-key hash-groupBy (key: first 5 words, so the
    synthetic corpus actually has groups)."""
    key = F.md5(F.array_join(F.slice(_words(F.col("text")), 1, 5), " "))
    return (t(spark, sf_dir, "documents")
            .groupBy(key.alias("content_key"))
            .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
            .where(F.col("n_copies") >= 2))


def _shingles_of_words(words, n=3):
    """Word n-gram shingle array via zip_with over n shifted slices.

    Deliberately NOT ``transform(sequence(...), i -> join(slice(words, i,
    n)))``: any free sub-expression inside a lambda BODY is re-evaluated
    per element, and CollapseProject happily inlines the upstream
    ``split(text)`` into the lambda — making the regex split run once per
    shingle INDEX (measured 12× slower on dedup_minhash_lsh at sf0.1).
    Here every lambda body touches only its own lambda variables; the
    slices/size reference ``words`` a constant number of times per doc, so
    the plan stays O(words) no matter how Catalyst collapses projections."""
    m = F.greatest(F.size(words) - (n - 1), F.lit(0))
    out = F.slice(words, 1, m)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(words, j + 1, m),
                         lambda acc, w_: F.concat(acc, F.lit(" "), w_))
    return F.array_distinct(out)


def dedup_ngram_jaccard(spark, sf_dir):
    """N-gram Jaccard near-dup pairs within a language partition."""
    docs = (t(spark, sf_dir, "documents")
            .select("doc_id", "lang", _words(F.col("text")).alias("ws"))
            .select("doc_id", "lang",
                    _shingles_of_words(F.col("ws")).alias("sh")))
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = inter / union
    return (a.join(b, (F.col("a.lang") == F.col("b.lang"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .where(jac >= 0.18)
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                    F.round(jac, 4).alias("jaccard")))


def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs: cosine >= 0.4 (brute force; LSH path = ann_ivf)."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    a, b = e.alias("a"), e.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.transform(F.col("a.v"), lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.transform(F.col("b.v"), lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    cos = dot / (na * nb)
    return (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
            .where(cos >= 0.4)
            .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"),
                    F.round(cos, 4).alias("cosine")))


_EMB_LSH_BANDS, _EMB_LSH_ROWS = 4, 4  # 16 sign bits → 4 bands × 4 bits


def dedup_embedding_lsh(spark, sf_dir):
    """Embedding near-dup, SCALE path: random-hyperplane (sign) LSH.

    dedup_embedding_cosine above is the O(n²) correctness twin; this is the
    production shape — 16 signed projections per vector → 4 bands of 4 bits
    → bucket self-join emits candidates in O(n·H + candidates), and the exact
    cosine (same ≥ 0.4 predicate as the brute-force query) verifies ONLY the
    candidates. The 16 hyperplanes are a seeded fixture dim table
    (tests/fixtures/gen_hyperplanes16.py) broadcast to executors; the DuckDB
    oracle joins the SAME parquet and recomputes signatures independently.
    Projections use floor(x·1000) integer embeddings and integer plane
    components, so every dot product is exactly representable and the sign
    bit cannot drift between engines.

    Recall is the usual LSH knob (bands × rows): at sf0.01 the buckets admit
    24% of all pairs (29,458 / 124,750) and recover 100% of pairs at
    cosine ≥ 0.5 and 56% of the marginal 0.40-0.45 tail — sign-LSH is built
    for the high-similarity regime; raise bands (or rows) to trade candidate
    volume for tail recall. The oracle checks the operator's defined
    semantics (shared-band ∧ cosine ≥ 0.4), engine-for-engine."""
    import pathlib

    hp = spark.read.parquet(str(
        pathlib.Path(__file__).resolve().parent.parent
        / "tests" / "fixtures" / "hyperplanes16.parquet"))
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * 1000)).alias("iv"))
    dot_i = F.aggregate(
        F.zip_with(F.col("iv"), F.col("hv"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    proj = (e.crossJoin(F.broadcast(hp))
            .select("vec_id", "plane_id",
                    F.when(dot_i >= 0, F.lit("1")).otherwise(F.lit("0"))
                    .alias("bit")))
    bits = (proj.groupBy("vec_id")
            .agg(F.array_sort(F.collect_list(F.struct("plane_id", "bit")))
                 .alias("pb"))
            .select("vec_id",
                    F.transform("pb", lambda p: p["bit"]).alias("bits")))
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(_EMB_LSH_BANDS - 1)),
        lambda j: F.array_join(
            F.slice(F.col("bits"), j * _EMB_LSH_ROWS + 1, _EMB_LSH_ROWS), ""))
    bd = bits.select("vec_id", F.posexplode(bands).alias("band", "sig"))
    a, b = bd.alias("a"), bd.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())
    # exact-cosine verify on candidates only. The norm is a PER-VECTOR
    # quantity — compute it once on the 5k-row vector side (identical
    # aggregate expression ⇒ bit-identical doubles), never per candidate
    # pair: HOF lambdas run interpreted, and re-deriving two 64-element
    # norms for every pair tripled the verify cost (measured 10.5 s → 3.9 s
    # at sf0.1 for the identical result).
    norm = F.sqrt(F.aggregate(F.transform(F.col("v"), lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))
    en = e.select("vec_id", "v", norm.alias("nrm"))
    ea = en.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                   F.col("nrm").alias("na"))
    eb = en.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                   F.col("nrm").alias("nb"))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("na") * F.col("nb"))
    return (cand.join(ea, "vec_a").join(eb, "vec_b")
            .where(cos >= 0.4)
            .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine")))


_EMB_LSH_SC_BANDS = 4            # bands stay fixed; band WIDTH scales
_EMB_LSH_SC_MIN_R, _EMB_LSH_SC_MAX_R = 4, 24  # 2^24 ≈ 16.7M-vector capacity


def dedup_embedding_lsh_scaled(spark, sf_dir):
    """Embedding near-dup, sign-LSH with CORPUS-SCALED band width — the
    round-5 answer to what BENCH_SF1_FULL measured on the fixed-width
    key: `dedup_embedding_lsh`'s 4-bit bands admit a RANDOM pair with
    probability 2⁻⁴ per band, so random candidates grow ≈ bands·n²/2^rows
    — 46.3M candidate pairs at n = 20k (sf1), 99.7% of them rejected by
    the exact-cosine verify. Same family of fix as dedup_semantic_scaled
    (k ∝ n there): hold the EXPECTED random collisions per item constant
    by growing the band width logarithmically — rows =
    clamp(bit_length(n−1), 4, 24), i.e. the smallest r with 2^r ≥ n, so
    n/2^rows ≤ 1 and random candidates stay O(bands·n) while
    near-identical pairs (the actual dups) still collide with high
    probability; the 24-bit cap binds only beyond 2²⁴ ≈ 16.7M vectors.
    bit_length is INTEGER-exact on both engines (the oracle
    counts powers of two below n — no float log2 boundary risk). The 96
    seeded integer hyperplanes (tests/fixtures/gen_hyperplanes96.py)
    cover bands·max_rows; the query uses the first 4·rows of them, band j
    = planes [j·rows, (j+1)·rows). Projection, candidate join and
    exact-cosine verify are the dedup_embedding_lsh devices unchanged
    (integer projections < 2⁵³ ⇒ bit-identical sign bits; sequential
    double fold for the cosine, matching the oracle's evaluation order).

    The recall trade is the documented LSH knob: wider bands lower the
    0.4-0.6 marginal-tail recall (use more bands to buy it back); the
    near-identical regime — what dedup at corpus scale is for — keeps
    colliding because a cosine≈1 pair flips each of the 4·rows sign bits
    with probability ≈ 0."""
    import pathlib

    hp = spark.read.parquet(str(
        pathlib.Path(__file__).resolve().parent.parent
        / "tests" / "fixtures" / "hyperplanes96.parquet"))
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.transform("embedding",
                    lambda x: F.floor(x.cast("double") * 1000)).alias("iv"))
    n = e.count()  # bounded control-plane scalar (sets the band width)
    rows = max(_EMB_LSH_SC_MIN_R,
               min(_EMB_LSH_SC_MAX_R, (n - 1).bit_length()))
    planes = hp.where(F.col("plane_id") < _EMB_LSH_SC_BANDS * rows)
    dot_i = F.aggregate(
        F.zip_with(F.col("iv"), F.col("hv"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    proj = (e.crossJoin(F.broadcast(planes))
            .select("vec_id", "plane_id",
                    F.when(dot_i >= 0, F.lit("1")).otherwise(F.lit("0"))
                    .alias("bit")))
    bd = (proj.groupBy("vec_id",
                       F.floor(F.col("plane_id") / rows).cast("int")
                       .alias("band"))
          .agg(F.array_join(
              F.transform(
                  F.array_sort(F.collect_list(F.struct("plane_id", "bit"))),
                  lambda p: p["bit"]), "").alias("sig")))
    # the candidate self-join would otherwise COMPUTE the projection +
    # signature aggregation twice (Spark does not share subplans across
    # self-join branches): materialize the O(n·bands) signature table once
    bd = bd.localCheckpoint()
    a, b = bd.alias("a"), bd.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())
    norm = F.sqrt(F.aggregate(F.transform(F.col("v"), lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))
    en = e.select("vec_id", "v", norm.alias("nrm"))
    ea = en.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                   F.col("nrm").alias("na"))
    eb = en.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                   F.col("nrm").alias("nb"))
    dot = F.aggregate(F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    cos = dot / (F.col("na") * F.col("nb"))
    return (cand.join(ea, "vec_a").join(eb, "vec_b")
            .where(cos >= 0.4)
            .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine")))


_MINHASH_K, _LSH_BANDS, _LSH_ROWS = 12, 4, 3
_MH_P = 2147483647  # 2^31-1 Mersenne prime — the universal-hash field


def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates — the SCALE path for pair generation:
    shingle → k minhashes → band signatures → bucket self-join. Cost is
    O(n·k + candidate pairs), never O(n²).

    Hashing layout (the production trick): ONE md5 per shingle (the only
    strong hash), folded to a 28-bit int, then k cheap universal-hash mixes
    (h·a_i + b_i mod 2^31-1) give the k minhash coordinates — k× fewer
    md5 evaluations than hashing (i, shingle) pairs, and every op is
    integer arithmetic both engines implement identically (DuckDB folds
    the same hex prefix via CAST('0x…' AS BIGINT), Spark via conv(,16,10)).
    28-bit coordinates are plenty below ~10^7 shingles per doc-set slice;
    widen the fold to 14 hex chars if collisions ever matter."""
    # the "has any shingle" gate is equivalently "has >= 3 words" — filter
    # on the CHEAP bound column, never on size(sh): a pushed-down filter on
    # the shingle expression would inline (and re-evaluate) the whole
    # transform+split per doc a second time
    docs = (t(spark, sf_dir, "documents")
            .select("doc_id", _words(F.col("text")).alias("ws"))
            .where(F.size("ws") >= 3)
            .select("doc_id", _shingles_of_words(F.col("ws")).alias("sh")))
    # Vectorized formulation: explode shingles so md5/fold/mixes are
    # TOP-LEVEL columns (whole-stage codegen), never lambdas inside
    # higher-order array functions (those run on the interpreted expression
    # path — measured ~15× slower here). The k minima then come from one
    # partial-aggregated groupBy: map-side combine reduces each partition to
    # ≤ docs×k longs before the (tiny) shuffle.
    ex = docs.select("doc_id", F.explode("sh").alias("s"))
    h0 = F.conv(F.substring(F.md5("s"), 1, 7), 16, 10).cast("long")
    hx = ex.select("doc_id", h0.alias("h"))
    mh = hx.groupBy("doc_id").agg(*[
        F.min((F.col("h") * ((2654435761 * (i + 1)) % _MH_P)
               + (40503 * (i + 7)) % _MH_P) % _MH_P).alias(f"m{i}")
        for i in range(_MINHASH_K)])
    bands = F.array(*[
        F.md5(F.concat_ws("|", *[
            F.col(f"m{j * _LSH_ROWS + r}").cast("string")
            for r in range(_LSH_ROWS)]))
        for j in range(_LSH_BANDS)])
    bd = mh.select("doc_id", F.posexplode(bands).alias("band", "sig"))
    a, b = bd.alias("a"), bd.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


def dedup_cluster_cc(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the MinHash-LSH pair
    graph (:func:`dedup_minhash_lsh`) — the step a production dedup pipeline
    runs after pair generation, so each transitive cluster keeps exactly one
    canonical document (pairwise keep-lowest breaks on chains A~B~C).

    Components via ``operators/cc.connected_components`` — alternating
    large-star/small-star contraction (Kiveris et al., "Connected Components
    in MapReduce and Beyond"), O(log n) rounds of pure shuffle-on-key
    joins/groupBys with per-round ``localCheckpoint`` lineage truncation; no
    driver-side data, no cartesian (tests/test_plan_quality.py). The DuckDB
    oracle computes the same components independently via WITH RECURSIVE
    transitive closure over the identical pair set; operators-level parity
    vs a union-find oracle is pinned by tests/test_cc.py."""
    from .operators.cc import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    comp = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (comp.join(sizes, "component")
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_id"), "cluster_size"))


def dedup_pipeline_e2e(spark, sf_dir):
    """END-TO-END fuzzy-dedup pipeline as ONE graded query: MinHash-LSH
    candidate pairs (:func:`dedup_minhash_lsh`) → connected-component
    clusters (operators/cc.py) → keeper selection (min doc_id per cluster)
    → per-document survivor verdict over the FULL corpus (singletons kept).

    The per-stage oracles grade each piece; this grades the composition —
    interface bugs (band-hash collisions flowing into CC, docs dropped
    between stages, keeper ties) only surface when the stages are chained.
    Output: every document with its cluster id (own id for singletons) and
    whether dedup keeps it. `keep ⇔ doc_id == cluster_id` because the CC
    label IS the component's min doc id — the keeper rule. Scale shape:
    the LSH pair graph is O(n·k + candidates), CC is O(log n) shuffle
    rounds, the final verdict is one broadcast-able left join onto the
    corpus scan; nothing is O(n²). Oracle = DuckDB recursive closure over
    the identical pair set, left-joined back to documents."""
    from .operators.cc import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir)
    comp = (connected_components(pairs, src="doc_a", dst="doc_b")
            .select(F.col("node").alias("doc_id"),
                    F.col("component").alias("cid")))
    docs = t(spark, sf_dir, "documents").select("doc_id")
    cluster = F.coalesce(F.col("cid"), F.col("doc_id"))
    return (docs.join(comp, "doc_id", "left")
            .select("doc_id", cluster.alias("cluster_id"),
                    (F.col("doc_id") == cluster).alias("keep")))


def text_simhash(spark, sf_dir):
    """64-bit SimHash fingerprint per document (near-dup sketch): per bit p,
    majority vote of bit p of md5(token) over distinct tokens. Emitted as a
    64-char bitstring so the DuckDB oracle is byte-identical."""
    # Explode + 64 partial-aggregated sums, NOT a transform(0..63) lambda
    # with an inner aggregate: there the per-bit arithmetic runs on the
    # interpreted expression path per (doc, token, bit) — measured 17 s at
    # sf0.1 vs ~1 s for this shape. Here the bit position p is a PYTHON
    # constant, so substring offsets and powers constant-fold and the whole
    # vote is whole-stage-codegen'd; map-side combine reduces each
    # partition to ≤ docs x 64 longs before the shuffle (minhash shape).
    # explode_OUTER: a doc whose token array is empty/NULL (NULL text) must
    # still emit a row — its single NULL token hashes to NULL, every bit sum
    # aggregates to NULL, and `when(NULL > 0)` falls through to '0', giving
    # the all-zeros fingerprint the DuckDB oracle produces for such docs.
    # Plain explode() silently dropped these docs (ADVICE round 3), a latent
    # row-count mismatch on any corpus with empty documents.
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(_words(F.col("text"))).alias("toks"))
    hx = (docs.select("doc_id", F.explode_outer("toks").alias("w"))
          .select("doc_id", F.md5("w").alias("h")))

    def bit_of(p):
        digit = F.conv(F.substring("h", p // 4 + 1, 1), 16, 10).cast("int")
        return (F.floor(digit / F.lit(float(2 ** (3 - p % 4)))).cast("int") % 2)

    agg = hx.groupBy("doc_id").agg(*[
        F.sum(2 * bit_of(p) - 1).alias(f"b{p}") for p in range(64)])
    return agg.select("doc_id", F.concat(*[
        F.when(F.col(f"b{p}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(64)]).alias("simhash"))


_LANG_MARKERS = [
    ("en", ("the", "a", "of")),
    ("de", ("der", "die", "und")),
    ("es", ("el", "los", "y")),
    ("fr", ("le", "les", "et")),
]


def text_langid(spark, sf_dir):
    """Language-ID heuristic: stopword-marker counts per language + CJK char
    count for zh; first-wins argmax chain (deterministic, CASE-identical in
    the DuckDB oracle)."""
    words = _words(F.col("text"))
    scores = {lang: F.size(F.filter(words, lambda w_: w_.isin(*m)))
              for lang, m in _LANG_MARKERS}
    scores["zh"] = F.length(F.regexp_replace(F.col("text"), "[^一-龥]", ""))
    order = ["en", "de", "es", "fr", "zh"]
    pred = F.lit(order[-1])
    chain = None
    for i, lang in enumerate(order[:-1]):
        cond = None
        for later in order[i + 1:]:
            c = scores[lang] >= scores[later]
            cond = c if cond is None else (cond & c)
        chain = F.when(cond, F.lit(lang)) if chain is None else chain.when(cond, F.lit(lang))
    pred = chain.otherwise(pred)
    return (t(spark, sf_dir, "documents")
            .select("doc_id", *[scores[o].alias(f"s_{o}") for o in order],
                    pred.alias("pred_lang")))


# --- similarity search --------------------------------------------------------
def ann_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 query vector."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = F.aggregate(F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nv = F.sqrt(F.aggregate(F.transform(F.col("v"), lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    nq = F.sqrt(F.aggregate(F.transform(F.col("qv"), lambda x: x * x),
                            F.lit(0.0), lambda acc, x: acc + x))
    cos = (dot / (nv * nq)).alias("cosine")
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (e.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
            .select("vec_id", F.round(cos, 4).alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10))


def ann_ivf_label(spark, sf_dir):
    """IVF-style bucketed ANN: label = the coarse cell; search only the
    query's nearest-centroid cell (the scale path vs brute force)."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    # centroids per label
    cent = (e.select("label", F.posexplode("v").alias("pos", "x"))
            .groupBy("label", "pos").agg(F.avg("x").alias("m"))
            .groupBy("label")
            .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "m"))),
                             lambda s: s.m).alias("cv")))
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def cosine(u, w_):
        dot = F.aggregate(F.zip_with(u, w_, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        nu = F.sqrt(F.aggregate(F.transform(u, lambda x: x * x),
                                F.lit(0.0), lambda acc, x: acc + x))
        nw = F.sqrt(F.aggregate(F.transform(w_, lambda x: x * x),
                                F.lit(0.0), lambda acc, x: acc + x))
        return dot / (nu * nw)

    best = (cent.crossJoin(F.broadcast(q))
            .select("label", cosine(F.col("cv"), F.col("qv")).alias("ccos"))
            .orderBy(F.col("ccos").desc(), F.col("label").asc()).limit(1)
            .select(F.col("label").alias("best_label")))
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (e.join(F.broadcast(best), e.label == F.col("best_label"))
            .where(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select("vec_id", "label", F.round(cosine(F.col("v"), F.col("qv")), 4)
                    .alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 5))


_IVF_NPROBE = 2


def ann_ivf_topk(spark, sf_dir):
    """IVF MULTI-PROBE top-k: search the query's ``nprobe=2`` nearest
    centroid cells (vs :func:`ann_ivf_label`'s single cell — the standard
    recall knob of an IVF index), exact cosine re-rank inside the probed
    cells only, global top-10. Scale shape: the probe set is a broadcast
    2-row dim joined into the fact scan (partition-prunable when the
    embedding table is partitioned/bucketed by label), so cost is
    O(n/cells · nprobe), never a full scan."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    cent = (e.select("label", F.posexplode("v").alias("pos", "x"))
            .groupBy("label", "pos").agg(F.avg("x").alias("m"))
            .groupBy("label")
            .agg(F.transform(F.array_sort(F.collect_list(F.struct("pos", "m"))),
                             lambda s: s.m).alias("cv")))
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def cosine(u, w_):
        dot = F.aggregate(F.zip_with(u, w_, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        nu = F.sqrt(F.aggregate(F.transform(u, lambda x: x * x),
                                F.lit(0.0), lambda acc, x: acc + x))
        nw = F.sqrt(F.aggregate(F.transform(w_, lambda x: x * x),
                                F.lit(0.0), lambda acc, x: acc + x))
        return dot / (nu * nw)

    probes = (cent.crossJoin(F.broadcast(q))
              .select("label", cosine(F.col("cv"), F.col("qv")).alias("ccos"))
              .orderBy(F.col("ccos").desc(), F.col("label").asc())
              .limit(_IVF_NPROBE)
              .select(F.col("label").alias("probe_label")))
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (e.join(F.broadcast(probes), e.label == F.col("probe_label"))
            .where(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(q))
            .select("vec_id", "label",
                    F.round(cosine(F.col("v"), F.col("qv")), 4).alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10))


# --- text analysis -------------------------------------------------------------
def text_token_count(spark, sf_dir):
    """Whitespace token counting per document."""
    return (t(spark, sf_dir, "documents")
            .select("doc_id", F.size(_words(F.col("text"))).alias("n_tokens")))


def text_token_count_bpe(spark, sf_dir):
    """BPE-style token counting: the GPT-2 pre-tokenizer's split classes
    (leading-space word / number / punctuation runs, whitespace runs) as a
    single regexp_extract_all — the standard train-data token budget proxy
    when running the real BPE merge table per row would be a Python UDF.
    The class regex is the RE2/Java-common subset so Spark codegen and the
    DuckDB oracle tokenize identically; count-only output keeps the 100-TB
    plan a pure JVM map (no explode, no shuffle before nothing — there is
    no agg at all)."""
    pat = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
    return (t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0)))
                    .cast("bigint").alias("n_bpe_tokens")))


def text_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al. 2003, MOSS): a
    polynomial rolling hash over every 8-char gram, then the minimum hash
    of each 4-hash window — the classic local fingerprint set whose
    guarantee (any ≥11-char shared substring yields a shared fingerprint)
    underpins plagiarism/copy detection. All arithmetic is mod 2^31-1 with
    precomputed 257^j coefficients so every intermediate fits signed-64 on
    both engines and Spark matches the DuckDB oracle bit-for-bit.

    Shape: posexplode the text into narrow (doc_id, pos, charcode) rows
    ONCE, then both the 8-char polynomial (lead() × 7) and the 4-gram
    minimum (ROWS BETWEEN 0 AND 3) are window functions over the same
    (doc_id, pos) sort — one shuffle of ~20-byte rows, everything
    whole-stage codegen. Rejected alternatives, both measured at sf0.1:
    transform(sequence, i -> substr(text, i+j, 1)) is an interpreted
    lambda AND substr-by-index is an O(i) UTF8 codepoint scan (O(L²)/doc,
    19.5 s); carrying a per-doc char ARRAY through the gram explode copies
    (and, post-CollapseProject, recomputes) the array per gram row (63 s).
    This formulation runs ~1.5 s, and the text column never reaches an
    Exchange — the only viable layout at 100 TB."""
    P = 2147483647
    cs = [pow(257, j, P) for j in range(7, -1, -1)]
    docs = t(spark, sf_dir, "documents").where(F.length("text") >= 11)
    ch = (docs.select("doc_id", F.length("text").alias("L"),
                      F.posexplode(F.split("text", "")).alias("pos", "c"))
          .select("doc_id", "L", "pos", F.ascii("c").alias("a")))
    w = Window.partitionBy("doc_id").orderBy("pos")
    h = sum((F.lead("a", j).over(w) if j else F.col("a")).cast("long")
            * F.lit(c).cast("long") for j, c in enumerate(cs)) % P
    grams = (ch.select("doc_id", "L", "pos", h.alias("h"))
             .where(F.col("pos") <= F.col("L") - 8))
    wmin = (grams.select(
        "doc_id", "pos", "L",
        F.min("h").over(w.rowsBetween(0, 3)).alias("w"))
        .where(F.col("pos") <= F.col("L") - 11))
    return (wmin.select("doc_id", "w").distinct()
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_fp"),
                 F.sum("w").alias("fp_digest")))


def text_quality_score(spark, sf_dir):
    """Quality scoring: length + stopword-ratio heuristic."""
    words = _words(F.col("text"))
    n = F.size(words)
    stop = F.size(F.filter(words, lambda w_: w_.isin("the", "a")))
    score = F.round(F.least(n.cast("double") / 200.0, F.lit(1.0))
                    - 0.5 * stop.cast("double") / n, 4)
    return (t(spark, sf_dir, "documents")
            .select("doc_id", n.alias("n_tokens"), stop.alias("n_stop"),
                    score.alias("quality")))


def text_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of whitespace-normalized lowercase text."""
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"(\s)+", " "))
    return (t(spark, sf_dir, "documents")
            .select("doc_id", F.md5(norm).alias("fingerprint")))


def text_substr_dedup(spark, sf_dir):
    """Cross-document repeated-substring detection — the distributed
    approximation of ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): suffix arrays are a
    single-node luxury, the cluster path is hashed fixed-width grams.
    Every 32-char window at stride 16 becomes a gram; a gram seen in >=2
    distinct docs marks a duplicated span; per-doc count of such grams is
    the dedup signal. Two shuffles, both on the gram hash: the explode is
    the big intermediate (rows = chars/16), so the gram is reduced to a
    64-bit md5 prefix before either shuffle — at 100 TB the wide text
    column never moves, only (hash64, doc_id) pairs; stride controls the
    blowup and AQE handles the skew of boilerplate grams."""
    docs = t(spark, sf_dir, "documents").where(F.length("text") >= 32)
    grams = docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, length(text) - 31, 16),"
            "          i -> substr(text, i, 32))")).alias("g"))
    # 64-bit hash proxy for the shuffle (exact-gram collision odds at
    # 10^10 grams ~ birthday(2^64) — negligible, and the oracle twin
    # below hashes identically so the comparison stays exact)
    grams = grams.select("doc_id", F.substring(F.md5("g"), 1, 16).alias("h"))
    dup = (grams.groupBy("h")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .where(F.col("nd") >= 2))
    return (grams.join(dup.select("h"), "h")
            .groupBy("doc_id").agg(F.count("*").alias("n_dup_grams")))


def text_top_tokens(spark, sf_dir):
    """Global token frequency top-10 (explode + agg + deterministic top-k)."""
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return (t(spark, sf_dir, "documents")
            .select(F.explode(_words(F.col("text"))).alias("token"))
            .groupBy("token").agg(F.count("*").alias("n"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 10))


def text_pii_scrub(spark, sf_dir):
    """Training-data PII redaction (C4-style cleanup): email + intl-phone
    patterns replaced JVM-side with typed placeholders — no Python in the
    row path. The synthetic corpus carries no PII, so a deterministic
    contact-line suffix is appended first; the scrub then provably removes
    it (removed_chars > 0 for every row)."""
    raw = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com tel +886-912-345-678"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(raw, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
                         "<EMAIL>"),
        r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{3}", "<PHONE>")
    return (t(spark, sf_dir, "documents")
            .select("doc_id", F.md5(scrubbed).alias("scrub_md5"),
                    (F.length(raw) - F.length(scrubbed))
                    .cast("bigint").alias("removed_chars")))


def text_repetition(spark, sf_dir):
    """Gopher-style repetition signal: the fraction of a document's tokens
    taken by its single most frequent token (high ⇒ templated/spammy text —
    a standard pre-training quality gate). Two partial-agg passes keyed by
    doc_id; no window, no shuffle beyond the groupBys."""
    words = (t(spark, sf_dir, "documents")
             .select("doc_id", F.explode(_words(F.col("text"))).alias("w")))
    per_word = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return (per_word.groupBy("doc_id")
            .agg(F.round(F.max("c") / F.sum("c"), 4).alias("rep_ratio"),
                 F.sum("c").cast("bigint").alias("n_tokens")))


def text_ngram_lm_score(spark, sf_dir):
    """Unigram language-model quality score (the CCNet/Gopher perplexity
    gate, unigram flavour): corpus token frequencies → per-document mean
    -ln p(token); LOW = natural text, HIGH = rare-token noise. Two partial
    aggregations plus one join keyed on token (the frequency table is tiny
    relative to the corpus — broadcast-able at any scale); the corpus total
    arrives as a broadcast 1-row dim, never a driver round-trip."""
    words = (t(spark, sf_dir, "documents")
             .select("doc_id", F.explode(_words(F.col("text"))).alias("w")))
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").cast("double").alias("tot"))
    return (words.join(freq, "w")
            .crossJoin(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(F.round(F.avg(-F.log(F.col("c") / F.col("tot"))), 4)
                 .alias("lm_score"),
                 F.count("*").cast("bigint").alias("n_tokens")))


def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (the GPT-3 appendix-C / Gopher eval-overlap
    gate): a pre-training corpus must drop documents that contain an n-gram
    from the eval/benchmark set. The benchmark here is derived
    deterministically — one 8-gram lifted from words 3-10 of every
    doc_id % 7 == 0 document — and a corpus doc is contaminated iff any of
    its distinct word 8-grams md5-matches a benchmark gram. Scale shape:
    the benchmark gram set is tiny relative to the corpus (eval suites are
    KBs, corpora are TBs) → broadcast join; the corpus side shuffles
    nothing — grams are generated and probed map-side, only (doc_id,
    n_hits) survives to the aggregate. Gram construction reuses the
    codegen-safe zip_with shingle builder (no interpreted HOF re-eval).
    The doc spine rides the gram stream via explode_outer (a doc with no
    8-grams keeps one NULL-gram row, which can never match the bench
    set), so the fact side is ONE corpus scan — no third scan to left-join
    the spine back (plan-asserted 2 scans total: fact + tiny bench
    derivation)."""
    docs = (t(spark, sf_dir, "documents")
            .select("doc_id", _words(F.col("text")).alias("ws")))
    bench = (docs.where(F.col("doc_id") % 7 == 0)
             .select(F.md5(F.array_join(F.slice("ws", 3, 8), " ")).alias("g"))
             .distinct().withColumn("_hit", F.lit(1)))
    grams = (docs.select(
                 "doc_id",
                 F.explode_outer(_shingles_of_words(F.col("ws"), 8))
                 .alias("gram"))
             .select("doc_id", F.md5("gram").alias("g")))
    return (grams.join(F.broadcast(bench), "g", "left")
            .groupBy("doc_id")
            .agg(F.count("_hit").cast("bigint").alias("n_hits"))
            .select("doc_id", "n_hits",
                    (F.col("n_hits") > 0).alias("contaminated")))


def text_line_dedup(spark, sf_dir):
    """C4-style line-level dedup: exact duplicate lines are removed
    corpus-wide, keeping only the FIRST occurrence (by doc_id, then line
    position) — the cleanup C4 §2.2 applies before doc-level dedup. The
    synthetic corpus has no newlines, so a 'line' is a deterministic
    4-token chunk. Fully distributed: tokens shuffle once on
    (doc_id, line_no) to assemble lines, lines shuffle once on the line
    text for the first-occurrence window, and the per-doc rebuild
    aggregates on doc_id — three shuffles, all narrow rows, text chunks
    ≤ 4 words each; no driver round-trips, no interpreted HOFs."""
    toks = (t(spark, sf_dir, "documents")
            .select("doc_id", F.posexplode(_words(F.col("text")))
                    .alias("pos", "tok")))
    lines = (toks.withColumn("line_no", (F.col("pos") / 4).cast("int"))
             .groupBy("doc_id", "line_no")
             .agg(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                     lambda x: x.tok), " ").alias("line")))
    w = Window.partitionBy("line").orderBy("doc_id", "line_no")
    kept = lines.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("line_no", "line"))
    return (kept.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_lines"),
                 F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
                 .cast("bigint").alias("n_kept"),
                 F.md5(F.coalesce(
                     F.array_join(
                         F.transform(F.array_sort(F.collect_list(kept_struct)),
                                     lambda x: x.line), "\n"),
                     F.lit(""))).alias("kept_md5")))


def text_heavy_hitters(spark, sf_dir):
    """Frequent-token heavy hitters with a Count-Min sketch attested
    in-query against the exact counts (the a8b/a10 self-grading pattern).
    The exact path is a plain token groupBy; the scale path — the only
    mergeable plan when the token universe no longer fits an executor —
    is a d=4 × w=512 CMS built as ONE extra partial-aggregatable shuffle
    on (row, bucket): each token's count feeds 4 buckets via universal
    hashes (a_i·h + b_i mod p mod w), and the estimate is the min over
    its 4 buckets. CMS guarantees est ≥ exact; the oracle pins cms_ok
    true, so a hash match certifies every token's estimate landed within
    the N/64 overcount bound (ε = 8/w at d=4 — generous; the expected
    collision mass is N/512 per row, min over 4 rows far below N/64)."""
    P = 2147483647
    A = [1299709, 15485863, 32452843, 49979687]
    B = [104729, 224737, 350377, 479909]
    W_BUCKETS = 512
    words = (t(spark, sf_dir, "documents")
             .select(F.explode(_words(F.col("text"))).alias("w")))
    freq = words.groupBy("w").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").cast("bigint").alias("N"))
    h = (F.conv(F.substring(F.md5("w"), 1, 7), 16, 10).cast("long") % P)
    buckets = freq.select(
        "w", "c",
        F.posexplode(F.array(*[
            ((F.lit(A[i]) * h + F.lit(B[i])) % P % W_BUCKETS).cast("int")
            for i in range(4)])).alias("row", "bucket"))
    cms = (buckets.groupBy("row", "bucket")
           .agg(F.sum("c").alias("bc")))
    est = (buckets.join(cms, ["row", "bucket"])
           .groupBy("w").agg(F.min("bc").alias("est"), F.first("c").alias("c")))
    return (est.crossJoin(F.broadcast(tot))
            .select(F.col("w").alias("token"),
                    F.col("c").cast("bigint").alias("n_exact"),
                    (F.col("c") * 40 > F.col("N")).alias("is_heavy"),
                    ((F.col("est") >= F.col("c"))
                     & (F.col("est") <= F.col("c") + F.col("N") / 64))
                    .alias("cms_ok")))


def sample_reservoir(spark, sf_dir):
    """Fixed-size uniform sample, reservoir semantics, RNG-free: the
    k-minimum-values trick (rank every key by a uniform hash, keep the k
    smallest) yields exactly the uniform-without-replacement sample a
    sequential reservoir would, but is order-independent, deterministic on
    any cluster size, and mergeable — each partition keeps its local k
    smallest, the driver merges (Spark's TakeOrderedAndProject: no global
    sort, no reservoir state to serialize). Complements sample_stratified
    (per-stratum rate gate) with the fixed-SIZE sample a training-mix
    builder needs."""
    k = 64
    ranked = (t(spark, sf_dir, "documents")
              .select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("h"))
              .orderBy("h").limit(k))
    w = Window.orderBy("h")
    return (ranked.withColumn("sample_rank", F.row_number().over(w))
            .select("doc_id", "sample_rank"))


def text_bm25(spark, sf_dir):
    """BM25 relevance scoring against a fixed query (k1=1.2, b=0.75) — the
    retrieval scorer data-curation stacks use for quality-by-query and
    dedup-by-retrieval. All corpus statistics arrive as broadcast dims:
    df (one row per query term), N and avgdl (one row total); the fact
    side shuffles once on doc_id for term frequencies. idf uses the
    monotone BM25+ form ln(1 + (N - df + .5)/(df + .5)) so scores stay
    positive."""
    terms = ["join", "hash", "window"]
    k1, b = 1.2, 0.75
    words = (t(spark, sf_dir, "documents")
             .select("doc_id", F.explode(_words(F.col("text"))).alias("w")))
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(F.count("*").cast("double").alias("N"),
                   F.avg("dl").alias("avgdl"))
    tf = (words.where(F.col("w").isin(terms))
          .groupBy("doc_id", "w").agg(F.count("*").alias("tf")))
    df_ = tf.groupBy("w").agg(F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))))
    return (tf.join(F.broadcast(df_), "w")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(F.sum(idf * tf_part), 4).alias("bm25"),
                 F.count("*").cast("bigint").alias("n_terms")))


_BPE_ITERS = 5


def bpe_train_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich et al. 2016), 5 merges —
    the canonical tokenizer-training job over a pre-training corpus. The
    100-TB trick is the classic one: the corpus is read ONCE to build the
    word-frequency table (Zipf: ~10M distinct words even at web scale), and
    the merge loop runs entirely on that persisted vocab table — per
    iteration one pair-count partial-agg shuffle over exploded symbol pairs
    plus a 1-row driver collect (the kmeans_lloyd control-plane pattern:
    loop state is the merge table, never data). Merges apply to the vocab
    as a whole-stage-codegen replace() chain; tokenizing the corpus with
    the learned merges is then a broadcast-join of this table.

    Exactness device: a word is encoded ' c1  c2  ...  cn ' (single-space
    flanks, DOUBLE-space separators), so the symbol pair (x, y) is the
    literal string ' x  y ' and replace(enc, ' x  y ', ' xy ') IS
    greedy-leftmost non-overlapping BPE pair merging — boundary-safe
    (every symbol is space-flanked, so a pair cannot match across symbol
    boundaries: ' ab  b ' has no ' b  b ') and overlap-correct
    (' a  a  a  a ' → ' aa  aa ', ' a  a  a ' → ' aa  a ') on BOTH
    engines, which share left-to-right non-overlapping literal-replace
    semantics (verified). Tie-break: max pair count, then
    lexicographically smallest pattern — fully deterministic, so the
    DuckDB oracle (the same 5 iterations unrolled as CTEs) reproduces the
    merge table and every word's final segmentation bit-for-bit."""
    vocab, enc = _bpe_learn(spark, sf_dir)
    return vocab.select(
        F.col("w").alias("word"),
        F.col("c").cast("bigint").alias("freq"),
        F.size(F.split(F.trim(enc), "  ")).cast("int").alias("n_tokens"),
        enc.alias("seg"))


def _bpe_learn(spark, sf_dir, iters=None, flatten_every=16, on_iter=None):
    """Run the merge iterations (default _BPE_ITERS); return (vocab df with
    (w, c), final-encoding Column over it). Shared by bpe_train_merges and
    bpe_apply_tokenize (the _km_fit pattern).

    The corpus-scanning word-frequency aggregate is localCheckpoint()ed,
    so the corpus really is read ONCE for everything: the merge loop AND
    the callers' returned output plans all scan the checkpointed vocab
    blocks, never the parquet again (plan-asserted in
    tests/test_plan_quality.py). A merge iteration with no remaining
    symbol pair (every word fully merged, or an all-single-char corpus)
    stops the loop early instead of indexing an empty top-1. (On such a
    degenerate corpus the unrolled DuckDB oracle degenerates to an empty
    result instead — the graded tables are never degenerate; the guard
    exists so the failure mode is a clean early stop, not an
    IndexError.)

    MERGE-DEPTH SCALE PATH: production vocabs need 10^4-10^5 merges, and a
    naive loop's encoding expression is a replace() chain that deepens by
    one per merge — iteration i pays O(i) replaces over the vocab, so the
    total is quadratic in depth. Every `flatten_every` merges the encoding
    is materialized into the checkpointed vocab (a vocab-sized string
    column — O(distinct words), never corpus-sized) and the expression
    resets to a single column reference, so per-iteration cost is flat and
    bounded by `flatten_every` replaces. The default 16 never triggers at
    the graded depth (_BPE_ITERS=5), keeping the graded plans and oracle
    bit-identical; scripts/bench_bpe_depth.py drives THIS function to 200
    merges and commits the flat-vs-quadratic curve (BENCH_BPE_DEPTH.json).
    `on_iter(i, seconds)` is a timing hook for that bench; `iters`
    overrides the merge count."""
    words = (t(spark, sf_dir, "documents")
             .select(F.explode(_words(F.col("text"))).alias("w"))
             .where(F.length("w") >= 1))
    vocab = words.groupBy("w").agg(F.count("*").alias("c")).localCheckpoint()
    enc = F.concat(F.lit(" "),
                   F.array_join(F.split(F.col("w"), ""), "  "),
                   F.lit(" "))
    n_iters = _BPE_ITERS if iters is None else iters
    for i in range(n_iters):
        t0 = time.perf_counter() if on_iter is not None else 0.0
        syms = F.split(F.trim(enc), "  ")
        m = F.greatest(F.size(syms) - 1, F.lit(0))
        pairs = F.zip_with(
            F.slice(syms, 1, m), F.slice(syms, 2, m),
            lambda x, y: F.concat(F.lit(" "), x, F.lit("  "), y,
                                  F.lit(" ")))
        top = (vocab.select("c", F.explode(pairs).alias("pat"))
               .groupBy("pat").agg(F.sum("c").alias("cnt"))
               .orderBy(F.col("cnt").desc(), F.col("pat").asc())
               .limit(1).collect())  # bounded: 1 row per iteration
        if not top:  # vocab fully merged before _BPE_ITERS: stop cleanly
            break
        pat = top[0]["pat"]
        rep = " " + pat.strip().replace("  ", "") + " "
        enc = F.replace(enc, F.lit(pat), F.lit(rep))
        if flatten_every and (i + 1) % flatten_every == 0:
            vocab = (vocab.select("w", "c", enc.alias("_enc"))
                     .localCheckpoint())
            enc = F.col("_enc")
        if on_iter is not None:
            on_iter(i, time.perf_counter() - t0)
    return vocab, enc


def bpe_apply_tokenize(spark, sf_dir):
    """The APPLY half of tokenizer training: tokenize the corpus with the
    merges bpe_train_merges learned. The learned segmentation is a
    vocab-sized table, so tokenizing TBs of text is one BROADCAST hash
    join of the corpus word stream against it (plan-asserted) — the
    per-doc token budget under the learned tokenizer, computed without the
    text column ever reaching an Exchange. Grades the train→apply
    composition: a segmentation that drifted from the oracle's merge
    table would surface here as a per-doc token-count mismatch."""
    vocab, enc = _bpe_learn(spark, sf_dir)
    seg = vocab.select(
        "w", F.size(F.split(F.trim(enc), "  ")).cast("long").alias("nt"))
    toks = (t(spark, sf_dir, "documents")
            .select("doc_id", F.explode(_words(F.col("text"))).alias("w"))
            .where(F.length("w") >= 1))
    return (toks.join(F.broadcast(seg), "w")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_words"),
                 F.sum("nt").cast("bigint").alias("n_bpe_tokens")))


_DSIR_B = 1024


def text_dsir_weights(spark, sf_dir):
    """DSIR data-selection importance weights (Xie et al. 2023,
    arXiv:2302.03169): log p_target(x) − log p_raw(x) under hashed-ngram
    bag-of-features models — the published recipe for selecting
    pre-training data that matches a target distribution. Features =
    unigrams + bigrams hashed to B=1024 buckets (md5-prefix, identical in
    both engines); target model = the doc_id % 5 == 0 slice (the
    deterministic stand-in for a curated quality target), raw model = the
    full corpus; add-1 smoothing over the B buckets. Scale shape: target
    and raw models plus both totals come out of ONE corpus aggregation
    pass (conditional count + a global window over the O(B)-row result)
    and broadcast; the fact side computes features map-side and shuffles
    once on doc_id for the final partial-agg sum — exactly 2 corpus
    scans, no corpus-sized join side ever shuffles, and the text column
    never reaches an Exchange."""
    ws = (t(spark, sf_dir, "documents")
          .select("doc_id", _words(F.col("text")).alias("ws")))
    m = F.greatest(F.size("ws") - 1, F.lit(0))
    bigrams = F.zip_with(F.slice("ws", 1, m), F.slice("ws", 2, m),
                         lambda x, y: F.concat(x, F.lit(" "), y))
    feats = (ws.select("doc_id",
                       F.explode(F.concat(F.col("ws"), bigrams)).alias("f"))
             .select("doc_id",
                     (F.conv(F.substring(F.md5("f"), 1, 7), 16, 10)
                      .cast("long") % _DSIR_B).alias("b")))
    # BOTH models + their totals from ONE corpus pass: conditional count
    # for the target slice inside the raw aggregation, totals as a global
    # window over the resulting O(B)-row table (tiny — one partition).
    # With the fact-side probe scan that makes 2 corpus scans total, vs 5
    # for the naive tgt/raw/totals branches — at 100 TB the scans ARE the
    # cost, the models are noise.
    wall = Window.partitionBy()
    model = (feats.groupBy("b")
             .agg(F.count("*").alias("cr"),
                  F.count(F.when(F.col("doc_id") % 5 == 0, True)).alias("ct"))
             .select("b", "cr", "ct",
                     F.sum("cr").over(wall).cast("double").alias("tr"),
                     F.sum("ct").over(wall).cast("double").alias("tt")))
    llr = (F.log((F.col("ct") + 1.0) / (F.col("tt") + _DSIR_B))
           - F.log((F.col("cr") + 1.0) / (F.col("tr") + _DSIR_B)))
    return (feats.join(F.broadcast(model), "b")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_feats"),
                 F.round(F.sum(llr), 4).alias("dsir_logw")))


def quality_pipeline_e2e(spark, sf_dir):
    """The CCNet-style quality-filter PIPELINE as one graded query
    (Wenzek et al. 2020 composition: language-ID → LM perplexity bucket →
    format rules → keep verdict) — the dedup_pipeline_e2e pattern applied
    to the quality family: each stage has its own graded oracle
    (text_langid / text_ngram_lm_score / text_gopher_rules); this grades
    their COMPOSITION, where a doc dropped by one stage must still carry
    the other stages' verdicts. Buckets are CCNet's head/middle/tail via
    global lm_score tertiles; the thresholds arrive as a broadcast 1-row
    dim (exact interpolated percentile here for oracle parity — at 10^10
    docs swap in approx_percentile, the graded a8b scale path). keep =
    gopher_passes ∧ bucket ≠ tail. The three per-doc branches equi-join on
    doc_id (narrow rows: id + verdicts; text never joins). Deliberate
    trade: the threshold branch RE-DERIVES the lm subplan (two extra
    corpus scans) rather than computing tertiles as a global window over
    lm — a single-partition window over one-row-per-doc is the known
    scale anti-pattern (operators/seq.py rationale), and a production
    pipeline would instead checkpoint the per-doc lm table once and read
    it twice; as a stateless query, re-derivation is the distributed
    choice."""
    lang = text_langid(spark, sf_dir).select("doc_id", "pred_lang")
    gopher = (text_gopher_rules(spark, sf_dir)
              .select("doc_id", F.col("passes").alias("gopher_passes")))
    lm = text_ngram_lm_score(spark, sf_dir).select("doc_id", "lm_score")
    th = lm.agg(F.percentile("lm_score", 1.0 / 3).alias("p33"),
                F.percentile("lm_score", 2.0 / 3).alias("p66"))
    bucket = (F.when(F.col("lm_score") <= F.col("p33"), F.lit("head"))
              .when(F.col("lm_score") <= F.col("p66"), F.lit("middle"))
              .otherwise(F.lit("tail")))
    return (lm.crossJoin(F.broadcast(th))
            .join(lang, "doc_id").join(gopher, "doc_id")
            .select("doc_id", "pred_lang", "lm_score",
                    bucket.alias("ppl_bucket"), "gopher_passes",
                    (F.col("gopher_passes")
                     & (F.col("lm_score") <= F.col("p66"))).alias("keep")))


def mix_allocation(spark, sf_dir):
    """Training-mix allocation (The Pile / DoReMi-style weight
    application): per language stratum, available tokens vs its target
    share of the global token budget, and the oversampling factor
    (epochs) the trainer must apply — the step that turns curated corpora
    into a training mixture. Weights: en 50%, zh 30%, other 20%; budget =
    the corpus's own total (a self-referential reshape, so the instance
    is parameter-free). One groupBy(lang) partial-agg shuffle, then the
    global budget as a window over the O(#langs)-row result — a single
    corpus scan (plan-asserted); all arithmetic is floor() over products
    < 2^53, so both engines agree bit-for-bit."""
    avail = (t(spark, sf_dir, "documents")
             .select("lang",
                     F.size(_words(F.col("text"))).cast("long").alias("nt"))
             .groupBy("lang").agg(F.sum("nt").alias("avail_tokens")))
    # budget = global sum as a window over the O(#langs)-row aggregate —
    # ONE corpus scan total (the dsir fused-model trick; a second agg
    # branch would re-scan the corpus just to add ≤5 numbers)
    budget = F.sum("avail_tokens").over(Window.partitionBy())
    w = (F.when(F.col("lang") == "en", F.lit(50))
         .when(F.col("lang") == "zh", F.lit(30))
         .otherwise(F.lit(20))).cast("long")
    base = avail.withColumn(
        "quota_tokens", F.floor(w * budget / 100.0).cast("long"))
    return base.select(
        "lang",
        F.col("avail_tokens").cast("bigint").alias("avail_tokens"),
        F.col("quota_tokens").cast("bigint").alias("quota_tokens"),
        F.floor(F.col("quota_tokens") * 1000.0 / F.col("avail_tokens"))
        .cast("bigint").alias("epochs_milli"),
        (F.col("quota_tokens") > F.col("avail_tokens")).alias("oversampled"))


# --- remaining SURVEY §2 operators -------------------------------------------
def j4_enrich_semi(spark, sf_dir):
    """J4: push ⋈ ip_asn + semi-filter on history ids, query.py:107-109 —
    fact ⋈ broadcast dim + left_semi against a query-derived key list."""
    sup = t(spark, sf_dir, "supplier")
    urgent = (t(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey"))
    return (t(spark, sf_dir, "lineitem")
            .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
            .join(urgent, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
            .groupBy("s_nationkey")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_extendedprice"), 2).alias("total")))


def f3_author_regex(spark, sf_dir):
    """F3: author 'username (nick)' split, crawler/article.py:134-140 —
    regex with raw-value fallback when the pattern misses."""
    raw = F.concat(F.col("c_name"), F.lit(" ("), F.col("c_mktsegment"), F.lit(")"))
    pat = r"([\S]*)\D\((.*)\)"
    return (t(spark, sf_dir, "customer")
            .select("c_custkey",
                    F.when(raw.rlike(pat), F.regexp_extract(raw, pat, 1))
                    .otherwise(raw).alias("username"),
                    F.when(raw.rlike(pat), F.regexp_extract(raw, pat, 2)).alias("nickname")))


def f5_ip_extract(spark, sf_dir):
    """F5: post-ip from the 發信站 line, crawler/article.py:320-324."""
    line = F.format_string("※ 發信站: 批踢踢實業坊(ptt.test), 來自: 10.%d.%d.%d",
                           F.pmod(F.col("user_id"), F.lit(200)),
                           F.pmod(F.col("event_id"), F.lit(250)),
                           F.pmod(F.col("user_id") + F.col("event_id"), F.lit(250)))
    ip = F.regexp_extract(line, r"[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+", 0)
    return (t(spark, sf_dir, "events")
            .select("event_id", F.nullif(ip, F.lit("")).alias("post_ip")))


def export_article_sheet(spark, sf_dir):
    """§3.2 export sheet: dims via broadcast joins + global export order
    (export.py:44-125 N+1 loop → one declarative plan)."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    joined = (orders
              .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey))
    return (with_global_seq(
                joined,
                [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
                "row_no")
            .select(F.col("o_orderkey").alias("article_id"),
                    F.col("c_name").alias("author"),
                    F.col("n_name").alias("board"),
                    F.date_format("o_orderdate", "MM/dd HH:mm:ss").alias("post_dt"),
                    F.round("o_totalprice", 2).alias("total"),
                    "row_no"))


# --- multimodal image ops (rows-only: custom codec has no SQL oracle; the
# invariants are pinned by tests/test_image_ops.py goldens instead) ----------
def _doc_image_ids(spark, sf_dir, modulo=None):
    ids = t(spark, sf_dir, "documents").select(
        (F.pmod(F.col("doc_id"), F.lit(modulo)) if modulo else F.col("doc_id"))
        .cast("string").alias("image_id"))
    return ids


def img_decode_stats(spark, sf_dir):
    """Multimodal feature-extract: deterministic image table from doc ids
    (folded mod 40, matching the fixture oracle) → decode → channel stats via
    mapInPandas (functions/image_ops.py). Oracle: independent driver-side
    numpy recompute (tests/fixtures/gen_img_stats40.py)."""
    from .functions import image_ops as IMG
    return IMG.decode_stats(
        IMG.build_images_df(_doc_image_ids(spark, sf_dir, modulo=40)))


def img_resize_thumb(spark, sf_dir):
    """Multimodal thumbnail stage: decode → 8×8 NN-resize → re-encode;
    bytes dropped from the result (driver hashes values). Oracle: inline-math
    NN-resize + phash fixture (tests/fixtures/gen_img_stats40.py)."""
    from .functions import image_ops as IMG
    return (IMG.resize(
                IMG.build_images_df(_doc_image_ids(spark, sf_dir, modulo=40)),
                8, 8)
            .select("image_id", "w", "h", "fmt", "thumb_phash"))


def img_phash_dedup(spark, sf_dir):
    """Image near-dup via perceptual hash: ids folded mod 40 so exact
    duplicate images exist; group by recomputed phash."""
    from .functions import image_ops as IMG
    imgs = IMG.build_images_df(_doc_image_ids(spark, sf_dir, modulo=40))
    return (IMG.phash_col(imgs)
            .groupBy("phash64").agg(F.count("*").alias("n_copies"))
            .where(F.col("n_copies") >= 2))


def img_phash_near_dup(spark, sf_dir):
    """Image NEAR-dup with a scale path: LSH banding over the 64-bit
    perceptual hash (8 bands × 8 bits — band-bucket joins prune the O(n²)
    pair space; pigeonhole guarantees recall for hamming < 8, probabilistic
    above), then exact hamming verify (bit_count(xor) ≤ 27) on candidates
    only. The DuckDB oracle replicates the banding over the same phash
    fixture (the md5-band parity pattern of dedup_minhash_lsh), so candidate
    generation AND verification are cross-checked."""
    from .functions import image_ops as IMG
    imgs = IMG.build_images_df(_doc_image_ids(spark, sf_dir, modulo=40))
    ph = (IMG.phash_col(imgs).select("image_id", "phash64").distinct())
    bands = ph.select(
        "image_id", "phash64",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("b"),
                     F.shiftright(F.col("phash64"), 8 * b)
                     .bitwiseAND(F.lit(255)).alias("bv"))
            for b in range(8)])).alias("band")
    ).select("image_id", "phash64", "band.b", "band.bv")
    left = bands.select(F.col("image_id").alias("i1"),
                        F.col("phash64").alias("p1"), "b", "bv")
    right = bands.select(F.col("image_id").alias("i2"),
                         F.col("phash64").alias("p2"), "b", "bv")
    cand = (left.join(right, ["b", "bv"])
            .where(F.col("i1") < F.col("i2"))
            .select("i1", "i2", "p1", "p2").distinct())
    return (cand.select(
        "i1", "i2",
        F.bit_count(F.col("p1").bitwiseXOR(F.col("p2")))
        .cast("int").alias("hamming"))
        .where(F.col("hamming") <= 27))


def img_crop_dup(spark, sf_dir):
    """CROP-resistant image near-dup: per-aligned-tile phash (16px grid)
    instead of one whole-image hash. A top-left 32x32 crop of a 48x48
    source shares its 2x2 block of tiles byte-for-byte, so the tile-hash
    equi-join finds (source, crop) pairs that whole-image phash misses
    entirely (every 8x8 phash block shifts). Plan shape at scale: tiles =
    O(9n) narrow rows, bucketed equi-join on tile_hash, partial-agg pair
    count — no cartesian, same family as dedup_minhash_lsh's band join.
    Oracle: independent numpy tile-hash fixture
    (tests/fixtures/gen_img_tiles40.py) joined the same way."""
    from .functions import image_ops as IMG
    ids = _doc_image_ids(spark, sf_dir, modulo=40).distinct()
    tiles = IMG.tile_phash(IMG.build_images_with_crops(ids))
    a = tiles.select(F.col("image_id").alias("id_a"), "tile_hash")
    b = tiles.select(F.col("image_id").alias("id_b"), "tile_hash")
    return (a.join(b, "tile_hash")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("shared_tiles"))
            .where(F.col("shared_tiles") >= 4))


def img_phash_cluster(spark, sf_dir):
    """Image near-dup CLUSTERS: connected components (operators/cc.py
    large-star/small-star) over the banded-phash candidate pair graph
    (:func:`img_phash_near_dup`) — transitive closure turns pairwise hamming
    matches into keep-one-per-cluster groups, the same post-pair step the
    text pipeline runs (dedup_cluster_cc). Oracle: DuckDB WITH RECURSIVE
    closure over the identical pair set from the phash fixture."""
    from .operators.cc import connected_components

    pairs = img_phash_near_dup(spark, sf_dir).select(
        F.col("i1").cast("long").alias("src"),
        F.col("i2").cast("long").alias("dst"))
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (comp.join(sizes, "component")
            .select(F.col("node").cast("string").alias("image_id"),
                    F.col("component").cast("long").alias("cluster_id"),
                    "cluster_size"))


def img_aspect_bucket(spark, sf_dir):
    """Aspect-ratio BUCKETING for training-batch packing (the SDXL-style
    prep step: group images into portrait/square/landscape/wide bins so a
    batch shares one resize target). Variable-dimension payloads
    (functions/image_ops.build_images_df_varied — ragged binaries through the
    same Arrow decode path) → decoded aspect via mapInPandas → JVM CASE
    bucketing → groupBy(bucket). Oracle: driver-side numpy decode fixture
    (tests/fixtures/gen_img_aspect40.py)."""
    from .functions import image_ops as IMG
    stats = IMG.decode_stats(
        IMG.build_images_df_varied(_doc_image_ids(spark, sf_dir, modulo=40)))
    a = F.col("aspect")
    bucket = (F.when(a < 0.8, "portrait")
              .when(a <= 1.25, "square")
              .when(a <= 1.75, "landscape")
              .otherwise("wide"))
    return (stats.select(bucket.alias("bucket"), "aspect")
            .groupBy("bucket")
            .agg(F.count("*").alias("n_images"),
                 F.round(F.avg("aspect"), 4).alias("avg_aspect")))


def img_dedup_bytes(spark, sf_dir):
    """Exact image dedup at the BYTE level: md5 over the encoded binary
    payload, hash-groupBy — the first (cheapest) gate of an image dedup
    pipeline, catching mirrored/re-hosted copies before any decode; phash
    (img_phash_dedup / img_phash_near_dup) handles re-encoded copies. Ids
    folded mod 40 so byte-identical copies exist. Oracle: driver-side md5
    over the same deterministic codec (tests/fixtures/gen_img_md5_40.py)."""
    from .functions import image_ops as IMG
    imgs = IMG.build_images_df(_doc_image_ids(spark, sf_dir, modulo=40))
    return (imgs.select("image_id", F.md5(F.col("bytes")).alias("bytes_md5"))
            .groupBy("bytes_md5")
            .agg(F.min("image_id").alias("keeper_id"),
                 F.count("*").alias("n_copies"))
            .where(F.col("n_copies") >= 2))


def img_verify_psnr(spark, sf_dir):
    """North-rule per-row payload invariant AS A GRADED QUERY
    (BASELINE.json input_hint: "decoded-pixel allclose (PSNR>=40dB for
    lossy) + caption equality"): decode every fetched image payload, score
    PSNR against the independently re-rendered reference pixels (>= 40 dB
    passes for lossy; lossless must be pixel-exact), re-check the carried
    phash metadata, and test caption equality — one Arrow mapInPandas stage
    (engine/verify.py), zero per-row Python outside the batch loop. Ids
    folded mod 40; expected captions are deliberately corrupted for
    image_id % 7 == 0 so caption_ok is a discriminating column, not a
    constant. psnr is truncated via floor(x*100)/100 on BOTH sides (same
    double → same bits; F.round is HALF_UP while Python round is
    half-even, which would skew the driver's value hash). Oracle:
    independent driver-side numpy recompute of decode/PSNR/phash
    (tests/fixtures/gen_img_verify40.py) + the %-7 caption rule in SQL."""
    from .engine.verify import verify_payloads
    from .functions import image_ops as IMG
    imgs = IMG.build_images_df(_doc_image_ids(spark, sf_dir, modulo=40))
    imgs = imgs.withColumn(
        "expected_caption",
        F.when(F.col("image_id").cast("int") % 7 == 0,
               F.concat(F.lit("CORRUPTED "), F.col("image_id")))
        .otherwise(F.concat(F.lit("caption "), F.col("image_id"))))
    return (verify_payloads(imgs)
            .select("image_id", "fmt",
                    (F.floor(F.col("psnr_db") * 100) / 100).alias("psnr_db"),
                    "pixel_ok", "phash_ok", "caption_ok"))


def text_gopher_rules(spark, sf_dir):
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1) as one
    JVM-only projection — the standard pre-training repetition/format gate
    that runs BEFORE dedup in an LLM data pipeline. Per document:
    word count bounds, mean word length bounds, symbol-to-word ratio
    (# / ellipsis), fraction of alphabetic words, and a stopword-presence
    floor; `passes` is the conjunction. All five signals are array/higher-
    order Column expressions over one split — no UDF, whole-stage codegen,
    scales as a pure map (no shuffle)."""
    words = _words(F.col("text"))
    n = F.size(words)
    nd = n.cast("double")
    mean_wlen = (F.aggregate(words, F.lit(0).cast("long"),
                             lambda acc, w_: acc + F.length(w_).cast("long"))
                 .cast("double") / nd)
    n_sym = F.size(F.filter(words, lambda w_: w_.contains("#")
                            | w_.contains("...") | w_.contains("…")))
    n_alpha = F.size(F.filter(words, lambda w_: w_.rlike("[A-Za-z]")))
    n_stop = F.size(F.filter(
        words, lambda w_: F.lower(w_).isin("the", "be", "to", "of", "and",
                                           "that", "have", "with")))
    sym_ratio = F.round(n_sym.cast("double") / nd, 4)
    alpha_frac = F.round(n_alpha.cast("double") / nd, 4)
    passes = ((n >= 5) & (n <= 100000)
              & (mean_wlen >= 2.0) & (mean_wlen <= 12.0)
              & (sym_ratio <= 0.1) & (alpha_frac >= 0.6) & (n_stop >= 1))
    return (t(spark, sf_dir, "documents")
            .select("doc_id", n.alias("n_words"),
                    F.round(mean_wlen, 4).alias("mean_word_len"),
                    sym_ratio.alias("symbol_ratio"),
                    alpha_frac.alias("alpha_frac"),
                    n_stop.alias("n_stop"),
                    passes.alias("passes")))


def sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling for training-data mixing: each
    language stratum keeps a different fixed fraction via an md5-prefix
    threshold (zh 8/16, en 4/16, everything else 2/16). Hash-gate sampling
    is the scale idiom — a pure filter (no shuffle, no RNG state, no
    .sample() nondeterminism across retries/speculative tasks), identical
    on any cluster size, and the oracle reproduces it exactly because md5
    is md5 everywhere. Returns the kept rows so the driver value-hashes
    membership, not just counts."""
    docs = t(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    thresh = (F.when(F.col("lang") == "zh", F.lit("8"))
              .when(F.col("lang") == "en", F.lit("4"))
              .otherwise(F.lit("2")))
    return (docs.where(gate < thresh)
            .select("doc_id", "lang", "source"))


def j8_asof_join(spark, sf_dir):
    """As-of join — each click event matched to the latest preceding view
    by the same user (Spark has no ASOF JOIN; DuckDB's native one is the
    oracle). Scale path: NOT a per-row range probe (O(n·m) nested-loop) —
    tag both sides, union, then one window over (user_id, ts) carrying the
    last non-null view forward. One shuffle on user_id total, linear in
    events, skew-bounded by the hottest user. Views sort before clicks at
    equal ts (side 0 < 1), matching the oracle's v.ts <= c.ts inclusive
    bound. NULL match → -1/epoch sentinels on BOTH sides (nullable int64
    lands as float64 in Arrow, which would poison the driver's hash)."""
    ev = t(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(0).alias("side"))
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(None).cast("long").alias("view_event_id"),
        F.lit(None).cast("timestamp").alias("view_ts"),
        F.col("event_id").alias("click_id"),
        F.lit(1).alias("side"))
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts").asc(), F.col("side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = (views.unionByName(clicks)
               .withColumn("m_id", F.last("view_event_id", ignorenulls=True).over(w))
               .withColumn("m_ts", F.last("view_ts", ignorenulls=True).over(w)))
    return (carried.where(F.col("side") == 1)
            .select(F.col("click_id"), "user_id",
                    F.col("ts").alias("click_ts"),
                    F.coalesce("m_id", F.lit(-1)).alias("view_event_id"),
                    F.coalesce("m_ts", F.lit("1970-01-01").cast("timestamp"))
                    .alias("view_ts")))


def j9_ip_range_lookup(spark, sf_dir):
    """Range join (ip BETWEEN cidr_lo AND cidr_hi — the ASN-enrichment
    shape of crawler/asn.py) rewritten as an EQUI-join: a naive
    non-equi join against a range table compiles to
    BroadcastNestedLoopJoin, O(n·ranges) at 100 TB; instead each side maps
    to a /4 prefix (ranges here are sub-prefix-aligned, the general case
    needs prefix expansion per range), the join is hash-on-prefix, and the
    BETWEEN survives only as a residual filter on the handful of same-prefix
    candidates. Dim is 32 rows → broadcast; fact side never shuffles.
    ips derive deterministically from event_id (Knuth multiplicative
    hash mod 2^32) so the oracle rebuilds the identical input."""
    ip32 = ((F.col("event_id") * F.lit(2654435761)) % F.lit(4294967296)) \
        .alias("ip32")
    e = t(spark, sf_dir, "events").select(ip32)
    i = F.col("id")
    dim = spark.range(32).select(
        (i / 2).cast("long").alias("prefix"),
        ((i / 2).cast("long") * 268435456
         + (i % 2) * 134217728).alias("lo"),
        ((i / 2).cast("long") * 268435456
         + (i % 2) * 134217728 + 134217727).alias("hi"),
        (F.lit(64500) + i).alias("asn"))
    joined = e.join(
        F.broadcast(dim),
        (F.shiftright(F.col("ip32"), 28) == F.col("prefix"))
        & F.col("ip32").between(F.col("lo"), F.col("hi")))
    return (joined.groupBy("asn")
            .agg(F.count("*").alias("n_events"),
                 F.min("ip32").alias("min_ip"),
                 F.max("ip32").alias("max_ip")))


_KM_K = 4
_KM_ITERS = 2
_KM_DIM = 64


def _km_quantize(spark, sf_dir):
    """embeddings → (vec_id, q: array<long>) with q[i] = floor(x*1e6 + 0.5).

    Integer quantization is what makes distributed k-means CROSS-ENGINE
    exact: float sums depend on addition order (non-associative), so a
    Spark shuffle-order sum and a DuckDB sum of the same floats can differ
    in the last ulps and flip a near-tie assignment. Scaled longs sum
    exactly in any order; floor(x*1e6+0.5) is the identical double op on
    both sides."""
    return t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000000 + 0.5).alias("e"))
        .alias("q"))


def _km_assign(q, cents):
    """Add (cluster, dist_q) = argmin over the k literal centroids.
    Broadcast-by-literal: k·d longs baked into the plan (the same shape
    MLlib uses — centroids are always tiny; the DATA never moves). Ties
    break to the lowest cluster id via lexicographic struct array_min."""
    structs = []
    for ci, cv in sorted(cents.items()):
        lit = F.array(*[F.lit(int(v)) for v in cv])
        d = F.aggregate(
            F.zip_with("q", lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x_: acc + x_)
        structs.append(F.struct(d.alias("d"), F.lit(int(ci)).alias("c")))
    m = F.array_min(F.array(*structs))
    return q.withColumn("cluster", m["c"]).withColumn("dist_q", m["d"])


def kmeans_lloyd(spark, sf_dir):
    """Distributed k-means (Lloyd), k=4, 2 iterations — the iterative-
    algorithm representative of the pipeline suite (IVF cells, dedup
    centroids, data-mixing clusters all start here). Per iteration: one
    map-side assignment against broadcast centroids (no shuffle), one
    groupBy(cluster, pos) partial-agg shuffle of k·d longs, one O(k·d)
    driver collect — the loop state is centroids only, never data, so the
    shape survives 10^10 rows. Init = the k lowest vec_ids; empty clusters
    keep their previous centroid (both engines implement the same rule).
    Centroid update floor(sum/count) runs in exact integer space (see
    _km_quantize) so the DuckDB oracle — the same two iterations unrolled
    as CTEs — reproduces every assignment bit-for-bit."""
    q, cents = _km_fit(spark, sf_dir)
    return (_km_assign(q, cents)
            .select("vec_id", "cluster", "dist_q"))


def _km_fit(spark, sf_dir):
    """Run the _KM_ITERS Lloyd iterations; return (quantized vectors df,
    final centroids dict). Shared by kmeans_lloyd and dedup_semantic."""
    q = _km_quantize(spark, sf_dir).persist()
    try:
        init = (q.where(F.col("vec_id") < _KM_K).orderBy("vec_id")
                .select("vec_id", "q").collect())
        cents = {int(r.vec_id): list(r.q) for r in init}
        for _ in range(_KM_ITERS):
            sums = (_km_assign(q, cents)
                    .select("cluster", F.posexplode("q").alias("pos", "e"))
                    .groupBy("cluster", "pos")
                    .agg(F.sum("e").alias("s"), F.count("*").alias("n"))
                    .collect())
            upd = {}
            for r in sums:
                upd.setdefault(int(r.cluster), [0] * _KM_DIM)[int(r.pos)] = \
                    math.floor(r.s / r.n)
            cents = {ci: upd.get(ci, cv) for ci, cv in cents.items()}
        return q, cents
    finally:
        q.unpersist()


def dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup =
    k-means partition of the embedding space, then cosine near-dup checks
    ONLY within a cluster — the published answer to embedding dedup at
    corpus scale, where the all-pairs O(n²) join (dedup_embedding_cosine)
    and even LSH banding (dedup_embedding_lsh) leave too many candidates.
    k grows with n so cluster size stays bounded: the within-cluster
    self-join is O(n²/k) total and every pair is confined to one shuffle
    partition (cluster id is the join key). NOTE: this graded instance
    pins k = _KM_K = 4 so the unrolled-CTE oracle stays writable — at
    fixed k the pair stage is O(n²/4), i.e. like dedup_ngram_jaccard /
    dedup_embedding_cosine it is the documented small-scale oracle twin;
    the production setting scales k ∝ n (SemDeDup uses k = 11k at 134M
    docs) so cluster population — and the per-cluster pair count — stays
    constant as the corpus grows. That production setting IS graded too:
    `dedup_semantic_scaled` runs k = max(16, ceil(n/32)) with
    DataFrame-resident centroids and its own exact dynamic-k oracle —
    this fixed-k key remains as the oracle twin that cross-checks the
    family against the kmeans_lloyd CTE chain.

    Verdict rule (deterministic keeper): doc j is a semantic dup iff some
    i < j in the SAME cluster has cos(i,j) ≥ 0.5. Cosine runs on the
    ×10⁶-quantized integer vectors (cosine is scale-invariant): every
    product (≤10¹²) and 64-term sum (≤6.4×10¹³) is an exactly-representable
    integer in a double, so the dot/norm sums are order-invariant and the
    DuckDB oracle — the kmeans_lloyd CTE chain extended with the pair
    verdict — reproduces every is_dup bit."""
    q, cents = _km_fit(spark, sf_dir)
    assigned = (_km_assign(q, cents)
                .select("vec_id", "cluster",
                        F.transform("q", lambda x: x.cast("double"))
                        .alias("v")))
    norm = F.sqrt(F.aggregate(
        F.transform(F.col("v"), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x))
    sided = assigned.withColumn("nv", norm)
    a, b = sided.alias("a"), sided.alias("b")
    dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"),
                                 lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    dups = (a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .where(dot / (F.col("a.nv") * F.col("b.nv")) >= 0.5)
            .select(F.col("b.vec_id").alias("vec_id")).distinct())
    return (assigned.join(dups.withColumn("_d", F.lit(True)), "vec_id", "left")
            .select("vec_id", "cluster",
                    F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup")))


_SEM_C = 32       # SemDeDup target cluster population (k = ceil(n / _SEM_C))
_SEM_MIN_K = 16
_SEM_ITERS = 2


def _sem_centroids(q, assign):
    """Centroid table (cluster, cent: array<long>) from an assignment —
    one partial-agg shuffle of k·d longs (posexplode feeds map-side
    combine), then an O(k) regroup to arrays. floor(sum/count) runs on
    exactly-representable doubles so DuckDB reproduces every element.
    Clusters that lost all members simply vanish (their rows never reach
    the GROUP BY) — derived-from-assignment centroids need no
    carry-previous rule."""
    return (q.join(assign, "vec_id")
            .select("cluster", F.posexplode("q").alias("pos", "e"))
            .groupBy("cluster", "pos")
            .agg(F.floor(F.sum("e").cast("double") / F.count("*"))
                 .cast("long").alias("ce"))
            .groupBy("cluster")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ce"))),
                lambda s: s["ce"]).alias("cent")))


def _sem_assign(q, cents_path):
    """Argmin assignment of every vector against the k-centroid table as
    ONE exact BLAS matmul per Arrow batch (mapInPandas) — the round-5 fix
    for the full-suite 10x measurement, where the first cut (crossJoin +
    zip_with distance per (vector, centroid) row) put n·k·d interpreted
    higher-order-function ops on the hot path: with k ∝ n that stage is
    quadratic with a catastrophic constant (~4M HOF-ops/s measured ⇒
    218 s at sf1). Here each task reads the k×d centroid side-table once
    (Arrow parquet read of the path the driver just wrote — broadcast-
    equivalent distribution with NO driver round-trip, k·d = n·d/32 stays
    off the driver), then computes the b×k distance matrix as float64
    GEMM at memory bandwidth.

    Exactness (the oracle is unchanged): argmin_c |v-c|² = argmin_c
    (|c|² − 2·v·c) — the per-row |v|² constant cannot change the argmin
    or its ties. All terms are ×10⁶-quantized integers: products ≤ 10¹²,
    64-term partial sums ≤ 6.4×10¹³ < 2⁵³, so every float64 intermediate
    in the GEMM is an exactly-representable integer regardless of BLAS
    summation order. Ties break to the lowest cluster id: the centroid
    columns are sorted by cluster id and np.argmin takes the FIRST
    minimum — the exact QUALIFY row_number() ORDER BY dist, cid rule.

    Scale note: exact assignment is Θ(n·k·d) FLOPs — with k ∝ n that is
    n²·d/32 through GEMM (SemDeDup's own published compute; Abbas et al.
    run exact faiss assignment on GPUs). At 10⁸+ vectors the standard
    escape is IVF two-level assignment (√k super-centroids probed first,
    Θ(n·√k·d)); the side-table + per-batch-GEMM shape here extends to it
    unchanged — only the probe list narrows."""
    def assign_batches(batches):
        import numpy as np
        import pandas as pd
        import pyarrow.parquet as pq

        tb = pq.read_table(cents_path)
        cid = np.asarray(tb.column("cluster").to_pylist(), dtype=np.int64)
        cent = np.asarray(tb.column("cent").to_pylist(), dtype=np.float64)
        order = np.argsort(cid)           # column order = cluster id asc
        cid, cent = cid[order], cent[order]
        cn = (cent * cent).sum(axis=1)    # |c|², exact ints in float64
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.asarray(list(pdf["q"]), dtype=np.float64)
            dist = cn[None, :] - 2.0 * (v @ cent.T)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "cluster": cid[np.argmin(dist, axis=1)]})

    return q.mapInPandas(assign_batches, "vec_id long, cluster long")


def dedup_semantic_scaled(spark, sf_dir):
    """SemDeDup's SCALE path (round-4 verdict #1): k grows with the corpus
    — k = max(16, ceil(n / 32)) — so expected cluster population stays a
    CONSTANT 32 as n grows, the within-cluster pair stage is O(n·c̄)
    expected (not O(n²/k) at fixed k), and the pair join fans out over
    O(n/32) cluster keys instead of capping parallelism at 4. This is the
    published SemDeDup operating point (Abbas et al. 2023 run k = 11,000
    at 134M docs ≈ constant cluster size); `dedup_semantic` remains the
    fixed-k oracle twin.

    What makes dynamic k exactly gradeable where the fixed-k twin needed
    literal centroids: the seed rule is an ASSIGNMENT (cluster₀ =
    vec_id % k), not a centroid list, so centroids are always derived
    from the previous assignment by a plain GROUP BY — no driver collect,
    no k·d literals in the plan, and the DuckDB oracle mirrors every
    stage as ordinary SQL (centroid CTE = GROUP BY, assignment CTE =
    argmin join) with k itself computed by the oracle from count(*).
    Loop state per iteration is the O(k·d) centroid table, written as a
    parquet side-table that `_sem_assign`'s Arrow tasks read directly —
    a lineage break like engine/crawl.py's, and the assignment itself is
    one exact float64 GEMM per batch instead of n·k interpreted
    expression rows (see _sem_assign; the driver never holds anything
    O(k)). In production the side-path is the job's shared state dir
    (DFS), exactly like the crawl loop's frontier snapshots. The
    quantized vectors are scanned from cache, never re-derived. All
    distance/centroid/cosine arithmetic is the integer-quantized exact
    math of kmeans_lloyd/_km_quantize, so every cluster id and is_dup
    bit hash-matches the oracle."""
    q = _km_quantize(spark, sf_dir).persist()
    tmp = tempfile.mkdtemp(prefix="semdedup_cents_")
    try:
        n = q.count()  # bounded control-plane scalar (sets k)
        k = max(_SEM_MIN_K, math.ceil(n / _SEM_C))
        assign = q.select(
            "vec_id",
            F.pmod(F.col("vec_id"), F.lit(k)).cast("long").alias("cluster"))
        for it in range(_SEM_ITERS):
            # distinct path per iteration: writing iteration i+1's
            # centroids executes iteration i's assignment, which is still
            # reading iteration i's side-table
            cpath = os.path.join(tmp, f"iter_{it}")
            _sem_centroids(q, assign).write.mode("overwrite").parquet(cpath)
            assign = _sem_assign(q, cpath)
        # the output plan references the assignment from THREE branches
        # (spine + both pair sides): checkpoint it so the n×k GEMM runs
        # once, not three times (eager — after this the side-tables are
        # no longer read, so the finally-cleanup below is safe)
        assign = assign.localCheckpoint()
        assigned = (q.join(assign, "vec_id")
                    .select("vec_id", "cluster",
                            F.transform("q", lambda x: x.cast("double"))
                            .alias("v")))
        norm = F.sqrt(F.aggregate(
            F.transform(F.col("v"), lambda x: x * x),
            F.lit(0.0), lambda acc, x: acc + x))
        sided = assigned.withColumn("nv", norm)
        a, b = sided.alias("a"), sided.alias("b")
        dot = F.aggregate(F.zip_with(F.col("a.v"), F.col("b.v"),
                                     lambda x, y: x * y),
                          F.lit(0.0), lambda acc, x: acc + x)
        dups = (a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
                       & (F.col("a.vec_id") < F.col("b.vec_id")))
                .where(dot / (F.col("a.nv") * F.col("b.nv")) >= 0.5)
                .select(F.col("b.vec_id").alias("vec_id")).distinct())
        return (assigned
                .join(dups.withColumn("_d", F.lit(True)), "vec_id", "left")
                .select("vec_id", "cluster",
                        F.coalesce(F.col("_d"), F.lit(False)).alias("is_dup")))
    finally:
        q.unpersist()
        shutil.rmtree(tmp, ignore_errors=True)


_PR_N = 500          # link-graph node universe
_PR_SCALE = 10**12   # rank mass in integer micro-units
_PR_ITERS = 3


def graph_pagerank(spark, sf_dir):
    """Crawl-priority PageRank (Page et al. 1999) — the canonical frontier
    prioritisation signal a production crawler feeds into the (priority
    desc, discovery_ts asc) ordering the north rule requires. Deterministic
    link graph from lineitem: edge (l_orderkey % 500 → l_partkey % 500),
    self-loops dropped, multi-edges deduped. 3 power iterations; per
    iteration the 500-row rank table BROADCASTS into the edge list (the
    iteration-invariant big side never re-shuffles) and one partial-agg
    shuffle on dst sums the inflow — the same loop shape as kmeans_lloyd,
    state = O(nodes), data moves once per iteration. At 10^10 edges the
    rank side is still tiny relative to edges (rank rows = hosts, edge rows
    = links), so broadcast-into-edges remains the right plan; GraphX/Pregel
    adds nothing for plain power iteration. All arithmetic is integer
    (contribution = pr div outdeg; pr' = teleport + (85·inflow) div 100
    with teleport = (15·(SCALE div N)) div 100), so shuffle order cannot
    drift a bit and the DuckDB oracle (3 unrolled CTE iterations)
    reproduces every rank exactly.

    Loop-state discipline (round-5 form): rank lives as a DataFrame and
    NEVER round-trips the driver — each iteration ends in
    localCheckpoint(), which (a) materializes the O(nodes) rank on the
    executors (one bounded job per iteration, the engine/crawl.py:37-40
    per-batch lineage break) and (b) truncates lineage so the next
    iteration's plan starts from the checkpointed blocks instead of
    re-deriving the whole chain (the lazy alternative re-derived the edge
    table 14× for 3 iterations, measured in round 4). The only scalar
    that ever reaches the driver is count(nodes) for the teleport
    constant. At 10^7+ nodes the same loop works unchanged: checkpointed
    rank blocks shard across executors, the rank-update join is a
    node-keyed shuffle of O(nodes) rows, and the broadcast hint on the
    rank→edges join hands over to AQE's shuffle join when rank outgrows
    the broadcast threshold."""
    edges = _pr_edges(spark, sf_dir).persist()
    try:
        nodes = (edges.select(F.col("src").alias("node"))
                 .union(edges.select(F.col("dst").alias("node")))
                 .distinct().localCheckpoint())
        n = nodes.count()  # the ONLY driver-side value: one scalar
        base = _PR_SCALE // n
        teleport = (15 * base) // 100
        outdeg = (edges.groupBy("src").agg(F.count("*").alias("deg"))
                  .localCheckpoint())
        rank = nodes.select(
            "node", F.lit(base).cast("long").alias("pr")).localCheckpoint()
        for _ in range(_PR_ITERS):
            inflow = _pr_inflow(
                edges, outdeg, rank.select(F.col("node").alias("src"), "pr"))
            rank = (nodes.join(inflow, nodes["node"] == inflow["dst"], "left")
                    .select(
                        "node",
                        F.expr(f"{teleport}L + (85 * coalesce(s, 0L)) div 100")
                        .cast("long").alias("pr"))
                    .localCheckpoint())
        return rank
    finally:
        edges.unpersist()


def _pr_edges(spark, sf_dir):
    """Deterministic deduped link graph from lineitem."""
    return (t(spark, sf_dir, "lineitem")
            .select((F.col("l_orderkey") % _PR_N).cast("long").alias("src"),
                    (F.col("l_partkey") % _PR_N).cast("long").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def _pr_inflow(edges, outdeg, rdf):
    """One power-iteration job: broadcast the O(nodes) rank table into the
    edge list, one partial-agg shuffle on dst. Split out so the plan is
    test-assertable (tests/test_plan_quality.py)."""
    return (edges
            .join(F.broadcast(rdf), "src")
            .join(F.broadcast(outdeg), "src")
            .select("dst", F.expr("pr div deg").alias("c"))
            .groupBy("dst").agg(F.sum("c").alias("s")))


# F6/F7 raw-page parse suite entries: a fixed 192-slot synthetic site
# (normal / transcription / broken page mix) rendered ON EXECUTORS, parsed by
# the distributed Column-expression parser, checked against the pure-Python
# oracle parser via a driver-side fixture (tests/fixtures/gen_parse192.py).
PARSE_SITE = {"n_boards": 4, "pages_per_board": 2, "articles_per_page": 24}
_PARSE_SLOTS = (PARSE_SITE["n_boards"] * PARSE_SITE["pages_per_board"]
                * PARSE_SITE["articles_per_page"])


def _parsed_slots(spark, sf_dir):
    """(parsed DF incl. parse_error, slot↔web_id map, per-document slot ids)."""
    import pandas as pd

    from .functions import parse as FP

    ids = (t(spark, sf_dir, "documents")
           .select(F.pmod(F.col("doc_id"), F.lit(_PARSE_SLOTS))
                   .cast("long").alias("slot")))
    slots = ids.distinct()

    def gen(batches):
        from .synth.site import (SiteConfig, article_page_html, is_deleted,
                                 web_id_for)
        cfg = SiteConfig(**PARSE_SITE)
        arts, pages = cfg.articles_per_page, cfg.pages_per_board
        cols = ["slot", "web_id", "board", "page_index", "dom_pos", "html"]
        for pdf in batches:
            rows = []
            for s in pdf["slot"]:
                s = int(s)
                b, rem = divmod(s, pages * arts)
                p0, pos = divmod(rem, arts)
                page = p0 + 1
                if is_deleted(cfg, b, page, pos):
                    continue  # deleted slots absent on both sides
                rows.append({
                    "slot": s, "web_id": web_id_for(cfg, b, page, pos),
                    "board": cfg.board_name(b), "page_index": page,
                    "dom_pos": pos, "html": article_page_html(cfg, b, page, pos),
                })
            yield (pd.DataFrame(rows) if rows else pd.DataFrame(columns=cols))

    raw = slots.mapInPandas(
        gen, schema=("slot long, web_id string, board string, "
                     "page_index int, dom_pos int, html string"))
    parsed = FP.parse_articles(
        raw.select("web_id", "board", "page_index", "dom_pos", "html"))
    idmap = raw.select("slot", "web_id")
    return parsed, idmap, ids


def f6_content_clean(spark, sf_dir):
    """F6 oracle entry: content cleaning (charset filter, tag/meta/push
    stripping, url-line drop) byte-checked via md5 against the pure-Python
    oracle parse — parse-ok pages only (crawler/article.py:326-339)."""
    parsed, idmap, ids = _parsed_slots(spark, sf_dir)
    return (parsed.where(F.col("parse_error").isNull())
            .join(idmap, "web_id")
            .join(ids, "slot")
            .select("slot", "web_id", "title",
                    F.md5(F.col("content")).alias("content_md5"),
                    F.col("post_ip").alias("ip"),
                    F.col("post_date_raw").alias("date_raw")))


def f7_transcription(spark, sf_dir):
    """F7 oracle entry: transcription fallback + PostException analog — every
    page's parse_error verdict, title ('' when no metalines) and the
    date field (raw metaline / reformatted 轉錄者 date / '' when broken)
    (crawler/article.py:299-313, 472-483)."""
    parsed, idmap, ids = _parsed_slots(spark, sf_dir)
    return (parsed.join(idmap, "web_id")
            .join(ids, "slot")
            .select("slot", "web_id", "parse_error", "title",
                    F.col("post_date_raw").alias("date_raw")))


def av_frame_sample(spark, sf_dir):
    """Video→stills fan-out: deterministic video table from doc ids →
    decode container → sample a frame every 500 ms media time
    (functions/image_ops.frame_sample). Emits (video_id, frame_idx, ts_ms);
    the sampled-frame bytes are exercised (decoded/encoded on executors) but
    dropped here — the oracle checks the sampling grid, the golden test
    (tests/test_image_ops.py) checks the pixels."""
    from .functions import image_ops as IMG
    ids = (t(spark, sf_dir, "documents")
           .select(F.col("doc_id").cast("string").alias("video_id")))
    vids = IMG.build_videos_df(ids, n_frames=12)  # fps 10 → 1200 ms media
    return (IMG.frame_sample(vids, every_ms=500)
            .select("video_id", F.col("frame_idx").cast("int"),
                    F.col("ts_ms").cast("bigint")))


def av_audio_features(spark, sf_dir):
    """Audio feature extraction: ids folded mod 40 → deterministic PCM →
    duration/RMS/peak via mapInPandas; oracle = numpy fixture table
    (tests/fixtures/audio_feat40.parquet)."""
    from .functions import image_ops as IMG
    ids = (t(spark, sf_dir, "documents")
           .select(F.pmod(F.col("doc_id"), F.lit(40)).cast("string")
                   .alias("audio_id")))
    feats = IMG.audio_features(IMG.build_audio_df(ids))
    return feats.select(
        "audio_id",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"))


# --- streaming-analog + misc ----------------------------------------------------
def stream_tumbling_agg(spark, sf_dir):
    """A6/streaming: tumbling 1h window agg over the events stream table."""
    bucket = (F.floor(F.unix_timestamp("ts") / 3600) * 3600).cast("long")
    return (t(spark, sf_dir, "events")
            .groupBy(bucket.alias("bucket"), F.col("event_type"))
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total")))


def stream_sessionize(spark, sf_dir):
    """Sessionization: 30-min-gap sessions via lag + cumulative sum."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (t(spark, sf_dir, "events")
            .withColumn("new_sess",
                        F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
            .withColumn("session_id", F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .select("user_id", "event_id", "session_id"))


def events_json_extract(spark, sf_dir):
    """JSON field extraction from the props column."""
    k = F.get_json_object("props", "$.k").cast("int")
    return (t(spark, sf_dir, "events")
            .groupBy("event_type").agg(F.sum(k).alias("k_sum"),
                                       F.count("*").alias("n")))


def _messy_url(k, v):
    """Deterministic messy URL variant v (0..5) for key k — the f13 variant
    set (uppercase scheme/host, default ports, fragments, dup slashes,
    trailing '?', padding); all six canonicalize to the same URL per k."""
    board = F.concat(F.lit("Board"), (k % 50).cast("string"))
    ks = k.cast("string")
    path = F.concat(F.lit("/bbs/"), board, F.lit("/index"), ks,
                    F.lit(".html"))
    return (F.when(v == 0, F.concat(F.lit("https://WWW.PTT.CC:443/bbs/"),
                                    board, F.lit("//index"), ks,
                                    F.lit(".html#frag")))
            .when(v == 1, F.concat(F.lit("https://www.ptt.cc"), path))
            .when(v == 2, F.concat(F.lit("HTTPS://www.Ptt.cc"), path,
                                   F.lit("?")))
            .when(v == 3, F.concat(F.lit("http://MIRROR.ptt.cc:80/bbs///"),
                                   board, F.lit("/index"), ks,
                                   F.lit(".html")))
            .when(v == 4, F.concat(F.lit("https://www.ptt.cc:443"), path,
                                   F.lit("#a#b")))
            .otherwise(F.concat(F.lit("  https://www.ptt.cc"), path,
                                F.lit("  "))))


def stream_urlseen_twin(spark, sf_dir):
    """Batch-semantics twin of a streaming URL-seen dedup
    (``dropDuplicatesWithinWatermark`` on the canonical URL): with the
    watermark horizon ≥ the data's event-time span, such a streaming
    operator emits exactly the FIRST-arriving event per canonical key —
    i.e. this window query. The driver grades this twin against the DuckDB
    oracle (tests/test_suite_oracle.py); the crawl's own URL-seen set is
    the frontier anti-join in engine/crawl.py.

    Input: events mapped to messy URL variants (event_id%6 picks the f13
    variant, event_id%400 the canonical key) so canonicalization is load-
    bearing. One shuffle (window on canon key); variant synthesis and the
    RE2 canonicalizer chain are all whole-stage codegen."""
    from .functions import url as FU

    ev = t(spark, sf_dir, "events")
    raw = _messy_url(F.col("event_id") % 400, F.col("event_id") % 6)
    d = ev.select(FU.canonicalize(raw).alias("canon_url"), "event_id", "ts")
    w = Window.partitionBy("canon_url").orderBy("ts", "event_id")
    return (d.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("canon_url",
                    F.col("event_id").alias("first_event_id"),
                    F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                    .alias("first_ts")))


_LATENCY_MAX_LAG_S = 86400  # 1 day — sized to the sparse per-user event rate


def stream_latency_twin(spark, sf_dir):
    """Batch-semantics twin of a watermarked stream-stream INTERVAL join
    (crawl latency): with watermarks ≥ the data span nothing is evicted or
    late-dropped, so such a stream's inner interval join ≡ this
    bounded-range batch join exactly. Graded here against the DuckDB oracle
    (tests/test_suite_oracle.py).

    discoveries = 'view' events, fetches = 'click' events, keyed by a per-
    user URL; a fetch joins its discovery iff it lands within
    [disc_ts, disc_ts + max_lag]. Equi-join on url + range residual — a
    SortMergeJoin with a pushed residual filter, never a BNLJ."""
    ev = t(spark, sf_dir, "events")
    url = F.concat(F.lit("https://www.ptt.cc/u/"),
                   F.col("user_id").cast("string"))
    d = (ev.where(F.col("event_type") == "view")
         .select(url.alias("url"), F.col("ts").alias("disc_ts"),
                 F.col("event_id").alias("disc_event_id")))
    fch = (ev.where(F.col("event_type") == "click")
           .select(url.alias("f_url"), F.col("ts").alias("fetch_ts"),
                   F.col("event_id").alias("fetch_event_id")))
    j = d.join(fch, (F.col("url") == F.col("f_url"))
               & (F.col("fetch_ts") >= F.col("disc_ts"))
               & (F.col("fetch_ts") <= F.col("disc_ts")
                  + F.expr(f"INTERVAL {_LATENCY_MAX_LAG_S} SECOND")))
    return j.select("url", "disc_event_id", "fetch_event_id",
                    (F.unix_timestamp("fetch_ts")
                     - F.unix_timestamp("disc_ts")).alias("latency_s"))


# ---------------------------------------------------------------------------
# Shared 5-iteration BPE merge chain (greedy-leftmost via space-flank
# replace; see bpe_train_merges docstring) — suffixed by the train and
# apply oracles below.
_BPE_CTE_CHAIN = """
        WITH vocab AS (
          SELECT w, count(*) AS c FROM (
            SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
            FROM documents)
          WHERE length(w) >= 1 GROUP BY w),
        enc0 AS (
          SELECT w, c,
                 ' ' || array_to_string(string_split(w, ''), '  ') || ' ' AS e
          FROM vocab),
        p0 AS (
          SELECT ' ' || s[j] || '  ' || s[j+1] || ' ' AS pat,
                 ' ' || s[j] || s[j+1] || ' ' AS rep, sum(c) AS cnt
          FROM (SELECT c, string_split(trim(e), '  ') AS s FROM enc0),
               LATERAL (SELECT unnest(range(1, len(s))) AS j)
          GROUP BY 1, 2),
        t0 AS (SELECT pat, rep FROM p0 ORDER BY cnt DESC, pat ASC LIMIT 1),
        enc1 AS (SELECT w, c, replace(e, pat, rep) AS e FROM enc0, t0),
        p1 AS (
          SELECT ' ' || s[j] || '  ' || s[j+1] || ' ' AS pat,
                 ' ' || s[j] || s[j+1] || ' ' AS rep, sum(c) AS cnt
          FROM (SELECT c, string_split(trim(e), '  ') AS s FROM enc1),
               LATERAL (SELECT unnest(range(1, len(s))) AS j)
          GROUP BY 1, 2),
        t1 AS (SELECT pat, rep FROM p1 ORDER BY cnt DESC, pat ASC LIMIT 1),
        enc2 AS (SELECT w, c, replace(e, pat, rep) AS e FROM enc1, t1),
        p2 AS (
          SELECT ' ' || s[j] || '  ' || s[j+1] || ' ' AS pat,
                 ' ' || s[j] || s[j+1] || ' ' AS rep, sum(c) AS cnt
          FROM (SELECT c, string_split(trim(e), '  ') AS s FROM enc2),
               LATERAL (SELECT unnest(range(1, len(s))) AS j)
          GROUP BY 1, 2),
        t2 AS (SELECT pat, rep FROM p2 ORDER BY cnt DESC, pat ASC LIMIT 1),
        enc3 AS (SELECT w, c, replace(e, pat, rep) AS e FROM enc2, t2),
        p3 AS (
          SELECT ' ' || s[j] || '  ' || s[j+1] || ' ' AS pat,
                 ' ' || s[j] || s[j+1] || ' ' AS rep, sum(c) AS cnt
          FROM (SELECT c, string_split(trim(e), '  ') AS s FROM enc3),
               LATERAL (SELECT unnest(range(1, len(s))) AS j)
          GROUP BY 1, 2),
        t3 AS (SELECT pat, rep FROM p3 ORDER BY cnt DESC, pat ASC LIMIT 1),
        enc4 AS (SELECT w, c, replace(e, pat, rep) AS e FROM enc3, t3),
        p4 AS (
          SELECT ' ' || s[j] || '  ' || s[j+1] || ' ' AS pat,
                 ' ' || s[j] || s[j+1] || ' ' AS rep, sum(c) AS cnt
          FROM (SELECT c, string_split(trim(e), '  ') AS s FROM enc4),
               LATERAL (SELECT unnest(range(1, len(s))) AS j)
          GROUP BY 1, 2),
        t4 AS (SELECT pat, rep FROM p4 ORDER BY cnt DESC, pat ASC LIMIT 1),
        enc5 AS (SELECT w, c, replace(e, pat, rep) AS e FROM enc4, t4)"""

ORACLE_SQL: dict[str, str] = {
    "flagship_tw_report": FLAGSHIP_SQL,
    "p1_point_lookup": """
        SELECT o_orderkey, o_custkey, o_orderstatus, round(o_totalprice, 2) AS total
        FROM orders WHERE o_orderkey = 7""",
    "p2_conj_filter": """
        SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
        FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'""",
    "p3_filter_board": """
        SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2""",
    "p4_date_cutoff": """
        SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-06-01 00:00:00'""",
    "p6_in_list_semi": """
        SELECT l_returnflag, count(*) AS n FROM lineitem
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
        GROUP BY l_returnflag""",
    "p7_seen_anti": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    # p7b composes bloom-split + exact patch-up; result must EQUAL the
    # plain anti-join — the oracle certifies the no-false-negative contract
    "p7b_seen_bloom": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    # post-delete seen set: custkeys with orders MINUS the %10 recrawl
    # cohort — certifies cuckoo deletion actually removed its keys
    "p7c_seen_cuckoo": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND c_custkey % 10 <> 0)""",
    "p8_page_complete": """
        SELECT o_custkey, count(*) AS n_orders FROM orders
        GROUP BY o_custkey HAVING count(*) >= 15""",
    # p9: declarative restatement of admit_apply_in_pandas — cap the group
    # at ceil(tokens) by all-rows rank (skew pre-truncation), then spend
    # floor(tokens) whole tokens on the non-blocked prefix; blocked rows
    # spend nothing; rows beyond the cap are deferred unevaluated
    "p9_politeness_admit": """
        WITH pending AS (
            SELECT 'host_' || (o_custkey % 37) AS host,
                   'https://host' || (o_custkey % 37) ||
                     CASE WHEN o_orderkey % 11 = 0 THEN '/private/'
                          ELSE '/bbs/' END || o_orderkey || '.html' AS url,
                   CAST(o_orderkey % 7 AS INT) AS priority,
                   o_orderkey AS discovery_seq,
                   (o_custkey % 37) AS hid,
                   ((o_custkey % 37) % 3 = 0 AND o_orderkey % 11 = 0) AS blocked
            FROM orders),
        ranked AS (
            SELECT *,
                   row_number() OVER w AS rank_all,
                   sum(CASE WHEN NOT blocked THEN 1 ELSE 0 END) OVER
                     (PARTITION BY host ORDER BY priority DESC, discovery_seq
                      ROWS UNBOUNDED PRECEDING) AS rank_nb
            FROM pending
            WINDOW w AS (PARTITION BY host
                         ORDER BY priority DESC, discovery_seq))
        SELECT host, url,
               (rank_all <= hid % 5 + 1 AND NOT blocked
                AND rank_nb <= hid % 5) AS admit,
               (rank_all <= hid % 5 + 1 AND blocked) AS robots_blocked
        FROM ranked""",
    # p9b: admit_window — rank <= floor(tokens) AND rank <= first index row
    # (the discovery barrier: an admitted index page spawns higher-priority
    # work, so nothing ranked below it rides in the same batch)
    "p9b_politeness_window": """
        WITH pending AS (
            SELECT 'host_' || (o_custkey % 37) AS host,
                   'https://host' || (o_custkey % 37) ||
                     CASE WHEN o_orderkey % 11 = 0 THEN '/private/'
                          ELSE '/bbs/' END || o_orderkey || '.html' AS url,
                   CAST(o_orderkey % 7 AS INT) AS priority,
                   o_orderkey AS discovery_seq,
                   (o_custkey % 37) AS hid,
                   CASE WHEN o_orderkey % 13 = 0 THEN 'index'
                        ELSE 'article' END AS kind
            FROM orders),
        ranked AS (
            SELECT *, row_number() OVER w AS rank_all
            FROM pending
            WINDOW w AS (PARTITION BY host
                         ORDER BY priority DESC, discovery_seq)),
        fi AS (
            SELECT host, min(rank_all) AS first_idx
            FROM ranked WHERE kind <> 'article' GROUP BY host)
        SELECT r.host, r.url, r.kind,
               (r.rank_all <= r.hid % 5
                AND r.rank_all <= coalesce(f.first_idx, 9223372036854775807))
                 AS admit
        FROM ranked r LEFT JOIN fi f ON r.host = f.host""",
    "j1_join_count": """
        SELECT count(*) AS n_rows FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE strftime(o_orderdate, '%Y-%m') = '1996-03'""",
    "j2_left_anti": """
        SELECT p_partkey, p_name FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""",
    "j3_four_way": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_rows
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""",
    "j5_broadcast_left": """
        SELECT o_orderkey, c_name, c_mktsegment
        FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
    "j6_dim_nav": """
        SELECT c_custkey, n_name, r_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey""",
    "j7_upsert_new_keys": """
        SELECT DISTINCT o_custkey AS new_key FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey <= 50)""",
    "a1_minmax_group": """
        SELECT o_custkey, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey""",
    "a3_push_tally": """
        SELECT l_orderkey, p, b, n, p - b AS cnt, p + b + n AS all_cnt FROM (
          SELECT l_orderkey,
                 CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS p,
                 CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS b,
                 CAST(sum(CASE WHEN l_returnflag NOT IN ('R','A') THEN 1 ELSE 0 END) AS BIGINT) AS n
          FROM lineitem GROUP BY l_orderkey)""",
    "a5_latest_per_group": """
        SELECT o_custkey, max(o_orderkey) AS latest_key FROM orders GROUP BY o_custkey""",
    "w1_latest_version": """
        SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        WHERE rn = 1""",
    "w2_latest_login": """
        SELECT user_id, event_id, event_type, round(value, 2) AS val
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        WHERE rn = 1""",
    "w4_floor_enumerate": """
        SELECT l_orderkey, l_linenumber,
               row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber)
               AS floor FROM lineitem""",
    "w5_version_rotation": """
        SELECT o_custkey, o_orderkey, rn
        FROM (SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        WHERE rn <= 3""",
    "w6_fetch_priority": """
        SELECT c_custkey, round(c_acctbal, 2) AS bal,
               row_number() OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS fetch_rank
        FROM customer""",
    "w7_asn_queue": """
        WITH q AS (
          SELECT c_custkey,
                 CASE WHEN c_acctbal < 0 THEN NULL ELSE c_mktsegment END AS asn
          FROM customer)
        SELECT c_custkey, asn,
               CAST(row_number() OVER
                    (ORDER BY asn ASC NULLS FIRST, c_custkey ASC) AS BIGINT)
                 AS queue_pos,
               CAST(floor((row_number() OVER
                    (ORDER BY asn ASC NULLS FIRST, c_custkey ASC) - 1) / 100)
                 AS BIGINT) AS flush_no
        FROM q""",
    "w8_export_order": """
        SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day,
               row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey ASC) AS pos
        FROM orders""",
    "f1_last_page_regex": """
        SELECT doc_id, CASE WHEN regexp_extract(source, 'src([0-9]+)', 1) = ''
               THEN 1 ELSE cast(regexp_extract(source, 'src([0-9]+)', 1) AS int) + 1
               END AS last_page
        FROM documents""",
    "f2_web_id_roundtrip": """
        SELECT doc_id, printf('/bbs/%s/M.%d.A.html', lang, doc_id) AS url,
               regexp_replace(
                 str_split(printf('/bbs/%s/M.%d.A.html', lang, doc_id), '/')[-1],
                 '\\.html', '') AS web_id
        FROM documents""",
    "f4_push_ipdatetime": """
        WITH raw AS (
          SELECT event_id,
                 printf('10.0.0.%d %s', user_id % 256,
                        strftime(ts, '%m/%d %H:%M')) AS s FROM events)
        SELECT event_id,
               regexp_extract(s, '([\\d.]*)\\W?(\\d{2}/\\d{2} \\d{2}:\\d{2})', 1)
                 AS push_ip,
               strftime(strptime('1900/' ||
                   regexp_extract(s, '([\\d.]*)\\W?(\\d{2}/\\d{2} \\d{2}:\\d{2})', 2),
                   '%Y/%m/%d %M:%S'), '%Y-%m-%d %H:%M:%S') AS push_dt
        FROM raw""",
    "f10_date_format": """
        SELECT o_orderkey, strftime(o_orderdate, '%m/%d %H:%M:%S') AS fmt FROM orders""",
    "f11_lower_board": """
        SELECT lower(c_mktsegment) AS segment, count(*) AS n
        FROM customer GROUP BY lower(c_mktsegment)""",
    "f12_url_assembly": """
        SELECT n_nationkey, printf('/bbs/%s/index%d.html', lower(n_name), n_nationkey)
               AS url FROM nation""",
    "dedup_exact": """
        SELECT md5(array_to_string(string_split_regex(trim(text), '\\s+')[1:5], ' '))
                 AS content_key,
               min(doc_id) AS keeper_id, count(*) AS n_copies
        FROM documents
        GROUP BY 1 HAVING count(*) >= 2""",
    "dedup_ngram_jaccard": """
        WITH d AS (
          SELECT doc_id, lang,
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0) + 1),
                   i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')
                 )) AS sh
          FROM documents)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(cast(len(list_intersect(a.sh, b.sh)) AS double)
                     / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE cast(len(list_intersect(a.sh, b.sh)) AS double)
              / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.18""",
    "dedup_embedding_cosine": """
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> cast(x AS double)) AS v
                   FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v) /
                     (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
                     4) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""",
    # Independent sign-LSH recomputation over the SAME hyperplane fixture:
    # DuckDB derives the 16 sign bits, bands, buckets, and candidate pairs
    # itself — only the seeded plane table is shared with the Spark path.
    # Integer projections (floor(x*1000) · int planes) are exact in a double,
    # so the sign bits agree between engines by construction.
    "dedup_embedding_lsh": """
        WITH hp AS (SELECT plane_id, hv
                    FROM '/root/repo/tests/fixtures/hyperplanes16.parquet'),
        e AS (SELECT vec_id,
                     list_transform(embedding, x -> cast(x AS double)) AS v,
                     list_transform(embedding,
                         x -> CAST(floor(cast(x AS double) * 1000) AS BIGINT)) AS iv
              FROM embeddings),
        bits AS (SELECT vec_id, plane_id,
                        CASE WHEN list_dot_product(iv, hv) >= 0
                             THEN '1' ELSE '0' END AS bit
                 FROM e, hp),
        sig AS (SELECT vec_id, plane_id // 4 AS band,
                       string_agg(bit, '' ORDER BY plane_id) AS s
                FROM bits GROUP BY vec_id, plane_id // 4),
        cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM sig a JOIN sig b
                   ON a.band = b.band AND a.s = b.s AND a.vec_id < b.vec_id)
        SELECT c.vec_a, c.vec_b,
               round(list_dot_product(ea.v, eb.v) /
                     (sqrt(list_dot_product(ea.v, ea.v)) *
                      sqrt(list_dot_product(eb.v, eb.v))), 4) AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.vec_a
        JOIN e eb ON eb.vec_id = c.vec_b
        WHERE list_dot_product(ea.v, eb.v) /
              (sqrt(list_dot_product(ea.v, ea.v)) *
               sqrt(list_dot_product(eb.v, eb.v))) >= 0.4""",
    # dedup_embedding_lsh_scaled: band width rows = clamp(bit_length(n-1),
    # 4, 24) computed INTEGER-exactly by counting powers of two below n
    "dedup_embedding_lsh_scaled": """
        WITH hp AS (SELECT plane_id, hv
                    FROM '/root/repo/tests/fixtures/hyperplanes96.parquet'),
        e AS (SELECT vec_id,
                     list_transform(embedding, x -> cast(x AS double)) AS v,
                     list_transform(embedding,
                         x -> CAST(floor(cast(x AS double) * 1000) AS BIGINT)) AS iv
              FROM embeddings),
        rr AS (SELECT greatest(4, least(24,
                   (SELECT count(*) FROM range(0, 62) t(i)
                    WHERE (1::BIGINT << CAST(i AS INT)) <
                          (SELECT count(*) FROM e)))) AS r),
        bits AS (SELECT vec_id, plane_id,
                        CASE WHEN list_dot_product(iv, hv) >= 0
                             THEN '1' ELSE '0' END AS bit
                 FROM e, hp, rr WHERE plane_id < 4 * rr.r),
        sig AS (SELECT vec_id, plane_id // (SELECT r FROM rr) AS band,
                       string_agg(bit, '' ORDER BY plane_id) AS s
                FROM bits GROUP BY vec_id, plane_id // (SELECT r FROM rr)),
        cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM sig a JOIN sig b
                   ON a.band = b.band AND a.s = b.s AND a.vec_id < b.vec_id)
        SELECT c.vec_a, c.vec_b,
               round(list_dot_product(ea.v, eb.v) /
                     (sqrt(list_dot_product(ea.v, ea.v)) *
                      sqrt(list_dot_product(eb.v, eb.v))), 4) AS cosine
        FROM cand c
        JOIN e ea ON ea.vec_id = c.vec_a
        JOIN e eb ON eb.vec_id = c.vec_b
        WHERE list_dot_product(ea.v, eb.v) /
              (sqrt(list_dot_product(ea.v, ea.v)) *
               sqrt(list_dot_product(eb.v, eb.v))) >= 0.4""",
    "ann_topk_bruteforce": """
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x -> cast(x AS double)) AS v
                   FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        scored AS (
          SELECT vec_id,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                       4) AS cosine
          FROM e, q WHERE vec_id <> 0)
        SELECT vec_id, cosine,
               row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored QUALIFY rank <= 10""",
    "ann_ivf_label": """
        WITH e AS (SELECT vec_id, label,
                          list_transform(embedding, x -> cast(x AS double)) AS v
                   FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        expl AS (SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
        cent AS (SELECT label, list(m ORDER BY pos) AS cv
                 FROM (SELECT label, pos, avg(x) AS m FROM expl GROUP BY label, pos)
                 GROUP BY label),
        best AS (SELECT label AS best_label FROM cent, q
                 ORDER BY list_dot_product(cv, qv) /
                          (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
                          DESC, label ASC LIMIT 1),
        scored AS (
          SELECT vec_id, label,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                       4) AS cosine
          FROM e JOIN best ON label = best_label, q WHERE vec_id <> 0)
        SELECT vec_id, label, cosine,
               row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored QUALIFY rank <= 5""",
    "ann_ivf_topk": """
        WITH e AS (SELECT vec_id, label,
                          list_transform(embedding, x -> cast(x AS double)) AS v
                   FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        expl AS (SELECT label, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e),
        cent AS (SELECT label, list(m ORDER BY pos) AS cv
                 FROM (SELECT label, pos, avg(x) AS m FROM expl GROUP BY label, pos)
                 GROUP BY label),
        probes AS (SELECT label AS probe_label FROM cent, q
                   ORDER BY list_dot_product(cv, qv) /
                            (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv)))
                            DESC, label ASC LIMIT 2),
        scored AS (
          SELECT vec_id, label,
                 round(list_dot_product(v, qv) /
                       (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                       4) AS cosine
          FROM e JOIN probes ON label = probe_label, q WHERE vec_id <> 0)
        SELECT vec_id, label, cosine,
               row_number() OVER (ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored QUALIFY rank <= 10""",
    "text_token_count": """
        SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_tokens
        FROM documents""",
    "text_quality_score": """
        WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
                   FROM documents)
        SELECT doc_id, len(words) AS n_tokens,
               len(list_filter(words, x -> x IN ('the','a'))) AS n_stop,
               round(least(cast(len(words) AS double) / 200.0, 1.0)
                     - 0.5 * len(list_filter(words, x -> x IN ('the','a')))
                       / cast(len(words) AS double), 4) AS quality
        FROM w""",
    "text_fingerprint": """
        SELECT doc_id, md5(lower(regexp_replace(trim(text), '(\\s)+', ' ', 'g')))
               AS fingerprint FROM documents""",
    "text_pii_scrub": """
        WITH raw AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@example.com tel +886-912-345-678' AS r
          FROM documents),
        s AS (
          SELECT doc_id, r,
                 regexp_replace(
                   regexp_replace(r,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                     '<EMAIL>', 'g'),
                   '\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{3}', '<PHONE>', 'g')
                 AS sc
          FROM raw)
        SELECT doc_id, md5(sc) AS scrub_md5,
               CAST(length(r) - length(sc) AS BIGINT) AS removed_chars
        FROM s""",
    "text_repetition": """
        WITH words AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents),
        pw AS (SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2)
        SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS rep_ratio,
               CAST(sum(c) AS BIGINT) AS n_tokens
        FROM pw GROUP BY doc_id""",
    "text_ngram_lm_score": """
        WITH words AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents),
        freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM freq)
        SELECT doc_id,
               round(avg(-ln(CAST(c AS DOUBLE) / tot)), 4) AS lm_score,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM words JOIN freq USING (w), tot
        GROUP BY doc_id""",
    "text_top_tokens": """
        SELECT token, n, rank FROM (
          SELECT token, count(*) AS n,
                 row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rank
          FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
                FROM documents)
          GROUP BY token)
        WHERE rank <= 10""",
    # Benchmark set = one 8-gram (words 3-10) per doc_id%7==0 doc; a doc is
    # contaminated iff any of its DISTINCT word 8-grams md5-matches one.
    "text_decontaminate": """
        WITH ws AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM documents),
        bench AS (
          SELECT DISTINCT md5(array_to_string(w[3:10], ' ')) AS g
          FROM ws WHERE doc_id % 7 = 0),
        grams AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, greatest(len(w) - 7, 0) + 1),
                   i -> md5(array_to_string(w[i:i+7], ' '))))) AS g
          FROM ws),
        hits AS (
          SELECT doc_id, count(*) AS hits
          FROM grams JOIN bench USING (g) GROUP BY doc_id)
        SELECT ws.doc_id,
               CAST(coalesce(hits, 0) AS BIGINT) AS n_hits,
               coalesce(hits, 0) > 0 AS contaminated
        FROM ws LEFT JOIN hits ON ws.doc_id = hits.doc_id""",
    # 'Lines' are deterministic 4-token chunks; first occurrence
    # (doc_id, line_no) of each exact line is the keeper.
    "text_line_dedup": """
        WITH ws AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM documents),
        toks AS (
          SELECT doc_id, i - 1 AS pos, w[i] AS tok
          FROM ws, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
        lines AS (
          SELECT doc_id, CAST(pos // 4 AS INT) AS line_no,
                 string_agg(tok, ' ' ORDER BY pos) AS line
          FROM toks GROUP BY doc_id, pos // 4),
        marked AS (
          SELECT doc_id, line_no, line,
                 row_number() OVER (PARTITION BY line
                                    ORDER BY doc_id, line_no) AS rn
          FROM lines)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_kept,
               md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END,
                                       chr(10) ORDER BY line_no), ''))
                 AS kept_md5
        FROM marked GROUP BY doc_id""",
    # the oracle IS the tolerance contract (a8b/a10 pattern): every token's
    # CMS estimate must satisfy exact <= est <= exact + N/64
    "text_heavy_hitters": """
        WITH words AS (
          SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents),
        freq AS (SELECT w, count(*) AS c FROM words GROUP BY w),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS N FROM freq)
        SELECT w AS token, CAST(c AS BIGINT) AS n_exact,
               (c * 40 > N) AS is_heavy, TRUE AS cms_ok
        FROM freq, tot""",
    "sample_reservoir": """
        SELECT doc_id, CAST(sample_rank AS INT) AS sample_rank FROM (
          SELECT doc_id,
                 row_number() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR))) AS sample_rank
          FROM documents)
        WHERE sample_rank <= 64""",
    "text_bm25": """
        WITH words AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM words GROUP BY doc_id),
        stats AS (SELECT CAST(count(*) AS DOUBLE) AS N,
                         avg(dl) AS avgdl FROM dl),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM words
               WHERE w IN ('join', 'hash', 'window') GROUP BY doc_id, w),
        dfreq AS (SELECT w, CAST(count(*) AS DOUBLE) AS df
                  FROM tf GROUP BY w)
        SELECT tf.doc_id,
               round(sum(ln(1.0 + (N - df + 0.5) / (df + 0.5))
                         * (tf * 2.2
                            / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))), 4)
                 AS bm25,
               CAST(count(*) AS BIGINT) AS n_terms
        FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id), stats
        GROUP BY tf.doc_id""",
    # 5 BPE merge iterations unrolled; the ' x  y ' space-flank encoding
    # makes literal replace() exactly greedy-leftmost BPE (see
    # bpe_train_merges docstring). Tie-break: cnt DESC, pat ASC.
    "bpe_train_merges": _BPE_CTE_CHAIN + """
        SELECT w AS word, CAST(c AS BIGINT) AS freq,
               CAST(len(string_split(trim(e), '  ')) AS INT) AS n_tokens,
               e AS seg
        FROM enc5""",
    # train→apply composition: per-doc token budget under the learned
    # merges; inner join vs seg drops empty words on both engines.
    "bpe_apply_tokenize": _BPE_CTE_CHAIN + """,
        seg AS (SELECT w, len(string_split(trim(e), '  ')) AS nt FROM enc5),
        toks AS (
          SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
          FROM documents)
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(nt) AS BIGINT) AS n_bpe_tokens
        FROM toks JOIN seg USING (w)
        GROUP BY doc_id""",
    "text_dsir_weights": """
        WITH ws AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
          FROM documents),
        feats AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(f), 1, 7)) AS BIGINT)
                   % 1024 AS b
          FROM (
            SELECT doc_id, unnest(w) AS f FROM ws
            UNION ALL
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w)),
                                         i -> w[i] || ' ' || w[i+1])) AS f
            FROM ws)),
        tgt AS (SELECT b, count(*) AS ct FROM feats
                WHERE doc_id % 5 = 0 GROUP BY b),
        rawm AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
        tott AS (SELECT CAST(sum(ct) AS DOUBLE) AS tt FROM tgt),
        totr AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr FROM rawm)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_feats,
               round(sum(ln((coalesce(ct, 0) + 1.0) / (tt + 1024))
                         - ln((cr + 1.0) / (tr + 1024))), 4) AS dsir_logw
        FROM feats LEFT JOIN tgt USING (b) JOIN rawm USING (b), tott, totr
        GROUP BY doc_id""",
    # composition of the text_langid / text_ngram_lm_score /
    # text_gopher_rules oracles + CCNet head/middle/tail tertiles
    # (quantile_cont ≡ Spark percentile, the a8 parity).
    "quality_pipeline_e2e": """
        WITH w AS (SELECT doc_id, text,
                          string_split_regex(trim(text), '\\s+') AS words
                   FROM documents),
        s AS (SELECT doc_id,
                     len(list_filter(words, x -> x IN ('the','a','of'))) AS s_en,
                     len(list_filter(words, x -> x IN ('der','die','und'))) AS s_de,
                     len(list_filter(words, x -> x IN ('el','los','y'))) AS s_es,
                     len(list_filter(words, x -> x IN ('le','les','et'))) AS s_fr,
                     length(regexp_replace(text, '[^一-龥]', '', 'g')) AS s_zh
              FROM w),
        lang AS (
          SELECT doc_id,
                 CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                           AND s_en >= s_zh THEN 'en'
                      WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh
                        THEN 'de'
                      WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                      WHEN s_fr >= s_zh THEN 'fr'
                      ELSE 'zh' END AS pred_lang
          FROM s),
        gopher AS (
          SELECT doc_id,
                 (len(words) BETWEEN 5 AND 100000
                  AND (list_aggregate(list_transform(words, x -> length(x)),
                                      'sum')
                       / cast(len(words) AS double)) BETWEEN 2.0 AND 12.0
                  AND round(len(list_filter(words, x -> contains(x, '#')
                                                     OR contains(x, '...')
                                                     OR contains(x, '…')))
                            / cast(len(words) AS double), 4) <= 0.1
                  AND round(len(list_filter(words,
                                            x -> regexp_matches(x, '[A-Za-z]')))
                            / cast(len(words) AS double), 4) >= 0.6
                  AND len(list_filter(words, x -> lower(x) IN
                      ('the','be','to','of','and','that','have','with'))) >= 1)
                 AS gopher_passes
          FROM w),
        toks AS (SELECT doc_id, unnest(words) AS tok FROM w),
        freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        tot AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM freq),
        lm AS (SELECT doc_id,
                      round(avg(-ln(CAST(c AS DOUBLE) / tot)), 4) AS lm_score
               FROM toks JOIN freq USING (tok), tot GROUP BY doc_id),
        th AS (SELECT quantile_cont(lm_score, 1.0/3) AS p33,
                      quantile_cont(lm_score, 2.0/3) AS p66 FROM lm)
        SELECT lm.doc_id, pred_lang, lm_score,
               CASE WHEN lm_score <= p33 THEN 'head'
                    WHEN lm_score <= p66 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket,
               gopher_passes,
               (gopher_passes AND lm_score <= p66) AS keep
        FROM lm JOIN lang USING (doc_id) JOIN gopher USING (doc_id), th""",
    "mix_allocation": """
        WITH avail AS (
          SELECT lang,
                 CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                      AS BIGINT) AS avail_tokens
          FROM documents GROUP BY lang),
        tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS budget
                FROM avail)
        SELECT lang, avail_tokens, quota_tokens,
               CAST(floor(quota_tokens * 1000.0 / avail_tokens) AS BIGINT)
                 AS epochs_milli,
               quota_tokens > avail_tokens AS oversampled
        FROM (
          SELECT lang, avail_tokens,
                 CAST(floor((CASE WHEN lang = 'en' THEN 50
                                  WHEN lang = 'zh' THEN 30
                                  ELSE 20 END * budget) / 100.0) AS BIGINT)
                   AS quota_tokens
          FROM avail, tot)""",
    "dedup_minhash_lsh": """
        WITH d AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0) + 1),
                   i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')
                 )) AS sh
          FROM documents),
        hd AS (
          SELECT doc_id,
                 list_transform(sh, s ->
                   CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT)) AS hs
          FROM d WHERE len(sh) > 0),
        mh AS (
          SELECT doc_id,
                 list_transform(range(0, 12), i ->
                   list_aggregate(list_transform(hs, h ->
                     (h * ((2654435761 * (i + 1)) % 2147483647)
                      + (40503 * (i + 7)) % 2147483647) % 2147483647),
                     'min')) AS m
          FROM hd),
        bands AS (
          SELECT doc_id, cast(j AS int) AS band,
                 md5(array_to_string(list_transform(m[j*3+1 : j*3+3],
                     x -> CAST(x AS VARCHAR)), '|')) AS sig
          FROM mh, range(0, 4) t(j))
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id""",
    # Independent connected-components: DuckDB recomputes the identical LSH
    # pair set, then closes it transitively with WITH RECURSIVE (UNION dedups
    # the worklist, so the closure terminates); Spark's iterative min-label
    # propagation must land on the same (doc_id, min-reachable-id) map.
    "dedup_cluster_cc": """
        WITH RECURSIVE d AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0) + 1),
                   i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')
                 )) AS sh
          FROM documents),
        hd AS (
          SELECT doc_id,
                 list_transform(sh, s ->
                   CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT)) AS hs
          FROM d WHERE len(sh) > 0),
        mh AS (
          SELECT doc_id,
                 list_transform(range(0, 12), i ->
                   list_aggregate(list_transform(hs, h ->
                     (h * ((2654435761 * (i + 1)) % 2147483647)
                      + (40503 * (i + 7)) % 2147483647) % 2147483647),
                     'min')) AS m
          FROM hd),
        bands AS (
          SELECT doc_id, cast(j AS int) AS band,
                 md5(array_to_string(list_transform(m[j*3+1 : j*3+3],
                     x -> CAST(x AS VARCHAR)), '|')) AS sig
          FROM mh, range(0, 4) t(j)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL
                  SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(doc_id, lab) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM edges e JOIN reach r ON r.doc_id = e.src),
        comp AS (SELECT doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc_id)
        SELECT c.doc_id, c.cluster_id, s.cluster_size
        FROM comp c
        JOIN (SELECT cluster_id, count(*) AS cluster_size
              FROM comp GROUP BY cluster_id) s USING (cluster_id)""",
    # End-to-end fuzzy-dedup pipeline: the identical LSH pair set closed
    # transitively, keeper = min doc id per cluster, verdict LEFT-joined
    # onto the full corpus (singletons keep themselves).
    "dedup_pipeline_e2e": """
        WITH RECURSIVE d AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 0) + 1),
                   i -> array_to_string(string_split_regex(trim(text), '\\s+')[i:i+2], ' ')
                 )) AS sh
          FROM documents),
        hd AS (
          SELECT doc_id,
                 list_transform(sh, s ->
                   CAST(concat('0x', substr(md5(s), 1, 7)) AS BIGINT)) AS hs
          FROM d WHERE len(sh) > 0),
        mh AS (
          SELECT doc_id,
                 list_transform(range(0, 12), i ->
                   list_aggregate(list_transform(hs, h ->
                     (h * ((2654435761 * (i + 1)) % 2147483647)
                      + (40503 * (i + 7)) % 2147483647) % 2147483647),
                     'min')) AS m
          FROM hd),
        bands AS (
          SELECT doc_id, cast(j AS int) AS band,
                 md5(array_to_string(list_transform(m[j*3+1 : j*3+3],
                     x -> CAST(x AS VARCHAR)), '|')) AS sig
          FROM mh, range(0, 4) t(j)),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL
                  SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(doc_id, lab) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM edges e JOIN reach r ON r.doc_id = e.src),
        comp AS (SELECT doc_id, min(lab) AS cid FROM reach GROUP BY doc_id)
        SELECT doc.doc_id,
               coalesce(c.cid, doc.doc_id) AS cluster_id,
               (doc.doc_id = coalesce(c.cid, doc.doc_id)) AS keep
        FROM documents doc LEFT JOIN comp c USING (doc_id)""",
    "text_simhash": """
        WITH h AS (
          SELECT doc_id,
                 list_transform(list_distinct(string_split_regex(trim(text), '\\s+')),
                                t -> md5(t)) AS hs
          FROM documents)
        SELECT doc_id,
               array_to_string(list_transform(range(0, 64), p ->
                 CASE WHEN list_sum(list_transform(hs, x ->
                        2 * (cast(floor((instr('0123456789abcdef',
                                    substr(x, cast(floor(p/4) AS int) + 1, 1)) - 1)
                                  / pow(2, 3 - (p % 4))) AS int) % 2) - 1)) > 0
                      THEN '1' ELSE '0' END), '') AS simhash
        FROM h""",
    "text_langid": """
        WITH w AS (SELECT doc_id, text,
                          string_split_regex(trim(text), '\\s+') AS words
                   FROM documents),
        s AS (SELECT doc_id,
                     len(list_filter(words, x -> x IN ('the','a','of'))) AS s_en,
                     len(list_filter(words, x -> x IN ('der','die','und'))) AS s_de,
                     len(list_filter(words, x -> x IN ('el','los','y'))) AS s_es,
                     len(list_filter(words, x -> x IN ('le','les','et'))) AS s_fr,
                     length(regexp_replace(text, '[^一-龥]', '', 'g')) AS s_zh
              FROM w)
        SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
               CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                    WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS pred_lang
        FROM s""",
    "j4_enrich_semi": """
        SELECT s_nationkey, count(*) AS n, round(sum(l_extendedprice), 2) AS total
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
        GROUP BY s_nationkey""",
    "f3_author_regex": """
        WITH r AS (SELECT c_custkey,
                          c_name || ' (' || c_mktsegment || ')' AS raw
                   FROM customer)
        SELECT c_custkey,
               CASE WHEN regexp_matches(raw, '([\\S]*)\\D\\((.*)\\)')
                    THEN regexp_extract(raw, '([\\S]*)\\D\\((.*)\\)', 1)
                    ELSE raw END AS username,
               CASE WHEN regexp_matches(raw, '([\\S]*)\\D\\((.*)\\)')
                    THEN regexp_extract(raw, '([\\S]*)\\D\\((.*)\\)', 2)
                    END AS nickname
        FROM r""",
    "f5_ip_extract": """
        WITH l AS (
          SELECT event_id,
                 printf('※ 發信站: 批踢踢實業坊(ptt.test), 來自: 10.%d.%d.%d',
                        user_id % 200, event_id % 250,
                        (user_id + event_id) % 250) AS line
          FROM events)
        SELECT event_id,
               nullif(regexp_extract(line, '[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+', 0), '')
                 AS post_ip
        FROM l""",
    "export_article_sheet": """
        SELECT o_orderkey AS article_id, c_name AS author, n_name AS board,
               strftime(o_orderdate, '%m/%d %H:%M:%S') AS post_dt,
               round(o_totalprice, 2) AS total,
               row_number() OVER (ORDER BY o_orderdate ASC, o_orderkey ASC) AS row_no
        FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey""",
    "stream_tumbling_agg": """
        SELECT cast(floor(epoch(ts) / 3600) * 3600 AS bigint) AS bucket,
               event_type, count(*) AS n, round(sum(value), 2) AS total
        FROM events GROUP BY 1, 2""",
    "stream_sessionize": """
        SELECT user_id, event_id,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM (SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                                             ORDER BY ts, event_id)) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events)""",
    "events_json_extract": """
        SELECT event_type,
               CAST(sum(cast(json_extract_string(props, '$.k') AS int)) AS BIGINT) AS k_sum,
               count(*) AS n
        FROM events GROUP BY event_type""",
    # Batch twin of url_seen_stream (dropDuplicatesWithinWatermark): first
    # event per CANONICAL key — the f13 messy-variant chain keyed by
    # event_id, canonicalized with the identical RE2 rule chain.
    "stream_urlseen_twin": """
        WITH src AS (
          SELECT event_id, ts,
                 event_id % 400 AS k, event_id % 6 AS v FROM events),
        raw AS (
          SELECT event_id, ts, CASE v
            WHEN 0 THEN 'https://WWW.PTT.CC:443/bbs/Board' || (k % 50)
                        || '//index' || k || '.html#frag'
            WHEN 1 THEN 'https://www.ptt.cc/bbs/Board' || (k % 50)
                        || '/index' || k || '.html'
            WHEN 2 THEN 'HTTPS://www.Ptt.cc/bbs/Board' || (k % 50)
                        || '/index' || k || '.html?'
            WHEN 3 THEN 'http://MIRROR.ptt.cc:80/bbs///Board' || (k % 50)
                        || '/index' || k || '.html'
            WHEN 4 THEN 'https://www.ptt.cc:443/bbs/Board' || (k % 50)
                        || '/index' || k || '.html#a#b'
            ELSE '  https://www.ptt.cc/bbs/Board' || (k % 50)
                 || '/index' || k || '.html  '
          END AS url FROM src),
        s1 AS (SELECT event_id, ts,
                      regexp_replace(trim(url), '#.*$', '') AS c FROM raw),
        s2 AS (SELECT event_id, ts,
                 regexp_replace(regexp_replace(
                     lower(regexp_extract(c,
                         '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)', 1)),
                     '^(https://[^/:]+):443$', '\\1'),
                     '^(http://[^/:]+):80$', '\\1') AS sh,
                 regexp_replace(regexp_replace(
                     regexp_replace(c,
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+', ''),
                     '//+', '/', 'g'),
                     '\\?$', '') AS rest
               FROM s1),
        canon AS (SELECT event_id, ts,
                         sh || (CASE WHEN rest = '' THEN '/' ELSE rest END)
                         AS canon_url FROM s2),
        r AS (SELECT canon_url, event_id, ts,
                     row_number() OVER (PARTITION BY canon_url
                                        ORDER BY ts, event_id) AS rn
              FROM canon)
        SELECT canon_url, event_id AS first_event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        FROM r WHERE rn = 1""",
    # Batch twin of fetch_latency_stream (watermarked stream-stream interval
    # join): bounded-range join, latency in floored whole seconds on both
    # engines (Spark unix_timestamp floors).
    "stream_latency_twin": """
        WITH d AS (SELECT 'https://www.ptt.cc/u/' || user_id AS url,
                          ts AS disc_ts, event_id AS disc_event_id
                   FROM events WHERE event_type = 'view'),
        f AS (SELECT 'https://www.ptt.cc/u/' || user_id AS f_url,
                     ts AS fetch_ts, event_id AS fetch_event_id
              FROM events WHERE event_type = 'click')
        SELECT url, disc_event_id, fetch_event_id,
               CAST(floor(epoch(fetch_ts)) - floor(epoch(disc_ts)) AS BIGINT)
                 AS latency_s
        FROM d JOIN f
          ON url = f_url
         AND fetch_ts >= disc_ts
         AND fetch_ts <= disc_ts + INTERVAL 86400 SECOND""",
    # Oracle side-table: 40-row parquet of (image_id, phash64) computed
    # driver-side with pure numpy (tests/fixtures/gen_img_phash40.py) — the
    # independent twin of the distributed decode→phash mapInPandas path.
    "img_decode_stats": """
        WITH fx AS (SELECT * FROM '/root/repo/tests/fixtures/img_stats40.parquet'),
        ids AS (SELECT cast(doc_id % 40 AS varchar) AS image_id FROM documents)
        SELECT image_id, mean_r, mean_g, mean_b, std_gray, aspect,
               TRUE AS decode_ok
        FROM ids JOIN fx USING (image_id)""",
    "img_resize_thumb": """
        WITH fx AS (SELECT * FROM '/root/repo/tests/fixtures/img_stats40.parquet'),
        ids AS (SELECT cast(doc_id % 40 AS varchar) AS image_id FROM documents)
        SELECT image_id, CAST(8 AS INTEGER) AS w, CAST(8 AS INTEGER) AS h,
               'png' AS fmt, thumb_phash
        FROM ids JOIN fx USING (image_id)""",
    # Oracle side-table: independent driver-side decode + PSNR/phash recompute
    # (tests/fixtures/gen_img_verify40.py); the %-7 caption corruption is
    # re-derived in SQL. floor(x*100)/100 mirrors the Spark projection exactly
    # (same double in, same bits out — see img_verify_psnr docstring).
    "img_verify_psnr": """
        WITH fx AS (SELECT * FROM '/root/repo/tests/fixtures/img_verify40.parquet'),
        ids AS (SELECT cast(doc_id % 40 AS varchar) AS image_id FROM documents)
        SELECT image_id, fmt,
               floor(psnr_db * 100) / 100 AS psnr_db,
               pixel_ok, phash_ok,
               (CAST(image_id AS INT) % 7 <> 0) AS caption_ok
        FROM ids JOIN fx USING (image_id)""",
    "text_gopher_rules": """
        WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
                   FROM documents)
        SELECT doc_id,
               len(words) AS n_words,
               round(list_aggregate(list_transform(words, x -> length(x)), 'sum')
                     / cast(len(words) AS double), 4) AS mean_word_len,
               round(len(list_filter(words, x -> contains(x, '#')
                                               OR contains(x, '...')
                                               OR contains(x, '…')))
                     / cast(len(words) AS double), 4) AS symbol_ratio,
               round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                     / cast(len(words) AS double), 4) AS alpha_frac,
               len(list_filter(words, x -> lower(x) IN
                   ('the','be','to','of','and','that','have','with'))) AS n_stop,
               (len(words) BETWEEN 5 AND 100000
                AND (list_aggregate(list_transform(words, x -> length(x)), 'sum')
                     / cast(len(words) AS double)) BETWEEN 2.0 AND 12.0
                AND round(len(list_filter(words, x -> contains(x, '#')
                                                   OR contains(x, '...')
                                                   OR contains(x, '…')))
                          / cast(len(words) AS double), 4) <= 0.1
                AND round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                          / cast(len(words) AS double), 4) >= 0.6
                AND len(list_filter(words, x -> lower(x) IN
                    ('the','be','to','of','and','that','have','with'))) >= 1)
               AS passes
        FROM w""",
    "sample_stratified": """
        SELECT doc_id, lang, source
        FROM documents
        WHERE substr(md5(cast(doc_id AS varchar)), 1, 1) <
              CASE WHEN lang = 'zh' THEN '8'
                   WHEN lang = 'en' THEN '4'
                   ELSE '2' END""",
    "a8_percentile": """
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.95) AS p95,
               quantile_cont(value, 0.99) AS p99,
               count(*) AS n
        FROM events GROUP BY event_type""",
    # independent numpy tile-hash fixture joined exactly like the Spark
    # side; base_id restricts to ids derivable from documents at this sf
    "img_crop_dup": """
        WITH ids AS (SELECT DISTINCT CAST(doc_id % 40 AS VARCHAR) AS bid
                     FROM documents),
        t AS (SELECT f.* FROM '/root/repo/tests/fixtures/img_tiles40.parquet' f
              JOIN ids ON f.base_id = ids.bid)
        SELECT a.image_id AS id_a, b.image_id AS id_b,
               count(*) AS shared_tiles
        FROM t a JOIN t b ON a.tile_hash = b.tile_hash
                         AND a.image_id < b.image_id
        GROUP BY 1, 2 HAVING count(*) >= 4""",
    "text_substr_dedup": """
        WITH grams AS (
          SELECT doc_id,
                 substr(md5(unnest(list_transform(
                     range(1, greatest(length(text) - 31, 0) + 1, 16),
                     i -> substr(text, CAST(i AS INT), 32)))), 1, 16) AS h
          FROM documents WHERE length(text) >= 32),
        dup AS (
          SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
        SELECT doc_id, count(*) AS n_dup_grams
        FROM grams JOIN dup USING (h) GROUP BY doc_id""",
    # winnowing fingerprints: identical mod-2^31-1 polynomial rolling hash
    # + window-min selection on both engines (see text_winnow_fingerprint)
    "text_winnow_fingerprint": """
        WITH h AS (
          SELECT doc_id,
                 list_transform(range(1, length(text) - 6),
                     i -> (CAST(ascii(substr(text, CAST(i + 0 AS INT), 1)) AS BIGINT) * 623063367 + CAST(ascii(substr(text, CAST(i + 1 AS INT), 1)) AS BIGINT) * 336663071 + CAST(ascii(substr(text, CAST(i + 2 AS INT), 1)) AS BIGINT) * 168429323 + CAST(ascii(substr(text, CAST(i + 3 AS INT), 1)) AS BIGINT) * 67503107 + CAST(ascii(substr(text, CAST(i + 4 AS INT), 1)) AS BIGINT) * 16974593 + CAST(ascii(substr(text, CAST(i + 5 AS INT), 1)) AS BIGINT) * 66049 + CAST(ascii(substr(text, CAST(i + 6 AS INT), 1)) AS BIGINT) * 257 + CAST(ascii(substr(text, CAST(i + 7 AS INT), 1)) AS BIGINT) * 1) % 2147483647) AS hs
          FROM documents WHERE length(text) >= 11),
        w AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                     range(1, greatest(len(hs) - 3, 0) + 1),
                     p -> list_min(list_slice(hs, p, p + 3)))) AS fps
          FROM h)
        SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
               CAST(list_sum(fps) AS BIGINT) AS fp_digest
        FROM w""",
    # GPT-2-pretokenizer class regex — identical RE2/Java-subset pattern on
    # both engines, so the token counts match exactly
    "text_token_count_bpe": r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(
                   text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'))
                    AS BIGINT) AS n_bpe_tokens
        FROM documents""",
    # ROLLUP superaggregates: DuckDB GROUPING() bit order (first arg = MSB)
    # matches Spark grouping_id()
    "a9_rollup": """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag, l_linestatus) AS gid,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
               count(*) AS n
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)""",
    # the oracle IS the tolerance contract (a8b pattern): the HLL estimate
    # must land within 5 sigma of the exact per-group distinct count
    "a10_hll_distinct": """
        SELECT event_type, count(DISTINCT user_id) AS n_exact,
               TRUE AS within_tol
        FROM events GROUP BY event_type""",
    # the oracle IS the tolerance contract: every sketch percentile must
    # land inside the exact +/-0.01 quantile window (see a8b docstring)
    "a8b_percentile_approx": """
        SELECT event_type, count(*) AS n,
               true AS p50_within_tol,
               true AS p95_within_tol,
               true AS p99_within_tol
        FROM events GROUP BY event_type""",
    "a7_skew_agg": """
        WITH ev AS (
          SELECT CASE WHEN event_id % 10 < 9 THEN 'hot.ptt.cc'
                      ELSE 'c' || CAST(event_id % 97 AS VARCHAR) END AS host,
                 user_id,
                 CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          FROM events)
        SELECT host,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM ev GROUP BY host""",
    # The identical canonicalization rule chain in DuckDB RE2 (\\1 backrefs,
    # 'g' flag where Spark's regexp_replace is implicitly global)
    "f13_url_canonical": """
        WITH src AS (
          SELECT o_orderkey % 6 AS v, o_orderkey % 1000 AS k FROM orders),
        raw AS (
          SELECT CASE v
            WHEN 0 THEN 'https://WWW.PTT.CC:443/bbs/Board' || (k % 50)
                        || '//index' || k || '.html#frag'
            WHEN 1 THEN 'https://www.ptt.cc/bbs/Board' || (k % 50)
                        || '/index' || k || '.html'
            WHEN 2 THEN 'HTTPS://www.Ptt.cc/bbs/Board' || (k % 50)
                        || '/index' || k || '.html?'
            WHEN 3 THEN 'http://MIRROR.ptt.cc:80/bbs///Board' || (k % 50)
                        || '/index' || k || '.html'
            WHEN 4 THEN 'https://www.ptt.cc:443/bbs/Board' || (k % 50)
                        || '/index' || k || '.html#a#b'
            ELSE '  https://www.ptt.cc/bbs/Board' || (k % 50)
                 || '/index' || k || '.html  '
          END AS url FROM src),
        s1 AS (SELECT regexp_replace(trim(url), '#.*$', '') AS c FROM raw),
        s2 AS (SELECT
                 regexp_replace(regexp_replace(
                     lower(regexp_extract(c,
                         '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)', 1)),
                     '^(https://[^/:]+):443$', '\\1'),
                     '^(http://[^/:]+):80$', '\\1') AS sh,
                 regexp_replace(regexp_replace(
                     regexp_replace(c,
                         '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+', ''),
                     '//+', '/', 'g'),
                     '\\?$', '') AS rest
               FROM s1),
        canon AS (SELECT sh || (CASE WHEN rest = '' THEN '/' ELSE rest END)
                         AS url_canon FROM s2)
        SELECT url_canon,
               lower(regexp_extract(url_canon,
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)', 1)) AS host,
               count(*) AS n_variants
        FROM canon GROUP BY url_canon""",
    # The same two Lloyd iterations unrolled as CTEs. All arithmetic is in
    # the quantized-long space (floor(x*1e6+0.5)) so sums are exact and the
    # assignment sequence matches Spark's bit-for-bit; centroid update =
    # floor(sum::double / count) both sides; argmin ties break to the lowest
    # cluster id (QUALIFY row_number ORDER BY dist, cid ≡ struct array_min).
    "kmeans_lloyd": """
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                     CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                 AS q
          FROM embeddings),
        c0 AS (SELECT vec_id AS cid, q FROM q WHERE vec_id < 4),
        d1 AS (SELECT v.vec_id, c.cid,
                      sum((v.q[i.i] - c.q[i.i]) * (v.q[i.i] - c.q[i.i])) AS dist
               FROM q v CROSS JOIN c0 c CROSS JOIN range(1, 65) i(i)
               GROUP BY v.vec_id, c.cid),
        a1 AS (SELECT vec_id, cid AS cluster FROM d1
               QUALIFY row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) = 1),
        s1 AS (SELECT a1.cluster, i.i AS pos,
                      CAST(floor(CAST(sum(v.q[i.i]) AS DOUBLE) / count(*))
                           AS BIGINT) AS ce
               FROM a1 JOIN q v USING (vec_id) CROSS JOIN range(1, 65) i(i)
               GROUP BY a1.cluster, i.i),
        u1 AS (SELECT cluster, list(ce ORDER BY pos) AS q FROM s1
               GROUP BY cluster),
        c1 AS (SELECT c0.cid, coalesce(u1.q, c0.q) AS q
               FROM c0 LEFT JOIN u1 ON u1.cluster = c0.cid),
        d2 AS (SELECT v.vec_id, c.cid,
                      sum((v.q[i.i] - c.q[i.i]) * (v.q[i.i] - c.q[i.i])) AS dist
               FROM q v CROSS JOIN c1 c CROSS JOIN range(1, 65) i(i)
               GROUP BY v.vec_id, c.cid),
        a2 AS (SELECT vec_id, cid AS cluster FROM d2
               QUALIFY row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) = 1),
        s2 AS (SELECT a2.cluster, i.i AS pos,
                      CAST(floor(CAST(sum(v.q[i.i]) AS DOUBLE) / count(*))
                           AS BIGINT) AS ce
               FROM a2 JOIN q v USING (vec_id) CROSS JOIN range(1, 65) i(i)
               GROUP BY a2.cluster, i.i),
        u2 AS (SELECT cluster, list(ce ORDER BY pos) AS q FROM s2
               GROUP BY cluster),
        c2 AS (SELECT c1.cid, coalesce(u2.q, c1.q) AS q
               FROM c1 LEFT JOIN u2 ON u2.cluster = c1.cid),
        d3 AS (SELECT v.vec_id, c.cid,
                      sum((v.q[i.i] - c.q[i.i]) * (v.q[i.i] - c.q[i.i])) AS dist
               FROM q v CROSS JOIN c2 c CROSS JOIN range(1, 65) i(i)
               GROUP BY v.vec_id, c.cid)
        SELECT vec_id, cid AS cluster, CAST(dist AS BIGINT) AS dist_q
        FROM d3
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, cid) = 1""",
    # dedup_semantic: the kmeans_lloyd chain (identical CTEs) extended with
    # the SemDeDup within-cluster pair verdict — quantized-integer dot/norm
    # sums are exact in doubles, so is_dup reproduces bit-for-bit
    "dedup_semantic": """
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                     CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                 AS q
          FROM embeddings),
        c0 AS (SELECT vec_id AS cid, q FROM q WHERE vec_id < 4),
        d1 AS (SELECT v.vec_id, c.cid,
                      sum((v.q[i.i] - c.q[i.i]) * (v.q[i.i] - c.q[i.i])) AS dist
               FROM q v CROSS JOIN c0 c CROSS JOIN range(1, 65) i(i)
               GROUP BY v.vec_id, c.cid),
        a1 AS (SELECT vec_id, cid AS cluster FROM d1
               QUALIFY row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) = 1),
        s1 AS (SELECT a1.cluster, i.i AS pos,
                      CAST(floor(CAST(sum(v.q[i.i]) AS DOUBLE) / count(*))
                           AS BIGINT) AS ce
               FROM a1 JOIN q v USING (vec_id) CROSS JOIN range(1, 65) i(i)
               GROUP BY a1.cluster, i.i),
        u1 AS (SELECT cluster, list(ce ORDER BY pos) AS q FROM s1
               GROUP BY cluster),
        c1 AS (SELECT c0.cid, coalesce(u1.q, c0.q) AS q
               FROM c0 LEFT JOIN u1 ON u1.cluster = c0.cid),
        d2 AS (SELECT v.vec_id, c.cid,
                      sum((v.q[i.i] - c.q[i.i]) * (v.q[i.i] - c.q[i.i])) AS dist
               FROM q v CROSS JOIN c1 c CROSS JOIN range(1, 65) i(i)
               GROUP BY v.vec_id, c.cid),
        a2 AS (SELECT vec_id, cid AS cluster FROM d2
               QUALIFY row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) = 1),
        s2 AS (SELECT a2.cluster, i.i AS pos,
                      CAST(floor(CAST(sum(v.q[i.i]) AS DOUBLE) / count(*))
                           AS BIGINT) AS ce
               FROM a2 JOIN q v USING (vec_id) CROSS JOIN range(1, 65) i(i)
               GROUP BY a2.cluster, i.i),
        u2 AS (SELECT cluster, list(ce ORDER BY pos) AS q FROM s2
               GROUP BY cluster),
        c2 AS (SELECT c1.cid, coalesce(u2.q, c1.q) AS q
               FROM c1 LEFT JOIN u2 ON u2.cluster = c1.cid),
        d3 AS (SELECT v.vec_id, c.cid,
                      sum((v.q[i.i] - c.q[i.i]) * (v.q[i.i] - c.q[i.i])) AS dist
               FROM q v CROSS JOIN c2 c CROSS JOIN range(1, 65) i(i)
               GROUP BY v.vec_id, c.cid),
        a3 AS (SELECT vec_id, cid AS cluster FROM d3
               QUALIFY row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) = 1),
        nrm AS (SELECT vec_id,
                       sqrt(sum(CAST(q[i.i] AS DOUBLE) * q[i.i])) AS nv
                FROM q CROSS JOIN range(1, 65) i(i) GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                        sum(CAST(qa.q[i.i] AS DOUBLE) * qb.q[i.i]) AS dot
                 FROM a3 a JOIN a3 b
                        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                 JOIN q qa ON qa.vec_id = a.vec_id
                 JOIN q qb ON qb.vec_id = b.vec_id
                 CROSS JOIN range(1, 65) i(i)
                 GROUP BY a.vec_id, b.vec_id),
        dups AS (SELECT DISTINCT d.ib AS vec_id
                 FROM dots d
                 JOIN nrm na ON na.vec_id = d.ia
                 JOIN nrm nb ON nb.vec_id = d.ib
                 WHERE d.dot / (na.nv * nb.nv) >= 0.5)
        SELECT a.vec_id, a.cluster,
               (dp.vec_id IS NOT NULL) AS is_dup
        FROM a3 a LEFT JOIN dups dp ON dp.vec_id = a.vec_id""",
    # dedup_semantic_scaled: dynamic k = max(16, ceil(n/32)). The seed rule
    # is an ASSIGNMENT (vec_id % k), so every centroid CTE is a plain GROUP
    # BY over the previous assignment — no literal centroids, and k itself
    # comes from count(*). Same exact integer distance / floor(sum/count) /
    # double dot-product devices as kmeans_lloyd.
    "dedup_semantic_scaled": """
        WITH q AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                     CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
                 AS q
          FROM embeddings),
        kk AS (SELECT greatest(16, CAST(ceil(count(*) / 32.0) AS BIGINT))
                      AS k FROM q),
        a0 AS (SELECT vec_id, vec_id % (SELECT k FROM kk) AS cluster FROM q),
        s1 AS (SELECT a.cluster, i.i AS pos,
                      CAST(floor(CAST(sum(v.q[i.i]) AS DOUBLE) / count(*))
                           AS BIGINT) AS ce
               FROM a0 a JOIN q v USING (vec_id) CROSS JOIN range(1, 65) i(i)
               GROUP BY a.cluster, i.i),
        c1 AS (SELECT cluster AS cid, list(ce ORDER BY pos) AS q FROM s1
               GROUP BY cluster),
        d1 AS (SELECT v.vec_id, c.cid,
                      sum((v.q[i.i] - c.q[i.i]) * (v.q[i.i] - c.q[i.i])) AS dist
               FROM q v CROSS JOIN c1 c CROSS JOIN range(1, 65) i(i)
               GROUP BY v.vec_id, c.cid),
        a1 AS (SELECT vec_id, cid AS cluster FROM d1
               QUALIFY row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) = 1),
        s2 AS (SELECT a.cluster, i.i AS pos,
                      CAST(floor(CAST(sum(v.q[i.i]) AS DOUBLE) / count(*))
                           AS BIGINT) AS ce
               FROM a1 a JOIN q v USING (vec_id) CROSS JOIN range(1, 65) i(i)
               GROUP BY a.cluster, i.i),
        c2 AS (SELECT cluster AS cid, list(ce ORDER BY pos) AS q FROM s2
               GROUP BY cluster),
        d2 AS (SELECT v.vec_id, c.cid,
                      sum((v.q[i.i] - c.q[i.i]) * (v.q[i.i] - c.q[i.i])) AS dist
               FROM q v CROSS JOIN c2 c CROSS JOIN range(1, 65) i(i)
               GROUP BY v.vec_id, c.cid),
        a2 AS (SELECT vec_id, cid AS cluster FROM d2
               QUALIFY row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, cid) = 1),
        nrm AS (SELECT vec_id,
                       sqrt(sum(CAST(q[i.i] AS DOUBLE) * q[i.i])) AS nv
                FROM q CROSS JOIN range(1, 65) i(i) GROUP BY vec_id),
        dots AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                        sum(CAST(qa.q[i.i] AS DOUBLE) * qb.q[i.i]) AS dot
                 FROM a2 a JOIN a2 b
                        ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                 JOIN q qa ON qa.vec_id = a.vec_id
                 JOIN q qb ON qb.vec_id = b.vec_id
                 CROSS JOIN range(1, 65) i(i)
                 GROUP BY a.vec_id, b.vec_id),
        dups AS (SELECT DISTINCT d.ib AS vec_id
                 FROM dots d
                 JOIN nrm na ON na.vec_id = d.ia
                 JOIN nrm nb ON nb.vec_id = d.ib
                 WHERE d.dot / (na.nv * nb.nv) >= 0.5)
        SELECT a.vec_id, a.cluster,
               (dp.vec_id IS NOT NULL) AS is_dup
        FROM a2 a LEFT JOIN dups dp ON dp.vec_id = a.vec_id""",
    # graph_pagerank: 3 unrolled power iterations, all-integer arithmetic
    # (pr // deg contributions, (85*inflow) // 100 damping) — bit-exact
    "graph_pagerank": """
        WITH edges AS (
            SELECT DISTINCT l_orderkey % 500 AS src, l_partkey % 500 AS dst
            FROM lineitem WHERE l_orderkey % 500 <> l_partkey % 500),
        nodes AS (SELECT src AS node FROM edges
                  UNION SELECT dst FROM edges),
        deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        c AS (SELECT 1000000000000 // count(*) AS base,
                     (15 * (1000000000000 // count(*))) // 100 AS tp
              FROM nodes),
        r0 AS (SELECT node, (SELECT base FROM c) AS pr FROM nodes),
        i1 AS (SELECT e.dst, sum(r.pr // d.deg) AS s
               FROM edges e JOIN r0 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
               GROUP BY e.dst),
        r1 AS (SELECT node, (SELECT tp FROM c)
                            + (85 * coalesce(i1.s, 0)) // 100 AS pr
               FROM nodes LEFT JOIN i1 ON i1.dst = node),
        i2 AS (SELECT e.dst, sum(r.pr // d.deg) AS s
               FROM edges e JOIN r1 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
               GROUP BY e.dst),
        r2 AS (SELECT node, (SELECT tp FROM c)
                            + (85 * coalesce(i2.s, 0)) // 100 AS pr
               FROM nodes LEFT JOIN i2 ON i2.dst = node),
        i3 AS (SELECT e.dst, sum(r.pr // d.deg) AS s
               FROM edges e JOIN r2 r ON r.node = e.src
                            JOIN deg d ON d.src = e.src
               GROUP BY e.dst),
        r3 AS (SELECT node, (SELECT tp FROM c)
                            + (85 * coalesce(i3.s, 0)) // 100 AS pr
               FROM nodes LEFT JOIN i3 ON i3.dst = node)
        SELECT node, CAST(pr AS BIGINT) AS pr FROM r3""",
    # DuckDB's native ASOF JOIN is the oracle for the union+window rewrite
    "j8_asof_join": """
        WITH v AS (SELECT user_id, ts, event_id FROM events
                   WHERE event_type = 'view'),
             c AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click')
        SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
               coalesce(v.event_id, -1) AS view_event_id,
               coalesce(v.ts, TIMESTAMP '1970-01-01') AS view_ts
        FROM c ASOF LEFT JOIN v
          ON c.user_id = v.user_id AND v.ts <= c.ts""",
    "j9_ip_range_lookup": """
        WITH e AS (SELECT (event_id * 2654435761) % 4294967296 AS ip32
                   FROM events),
             d AS (SELECT i // 2 AS prefix,
                          (i // 2) * 268435456 + (i % 2) * 134217728 AS lo,
                          (i // 2) * 268435456 + (i % 2) * 134217728
                              + 134217727 AS hi,
                          64500 + i AS asn
                   FROM range(0, 32) t(i))
        SELECT asn, count(*) AS n_events,
               min(ip32) AS min_ip, max(ip32) AS max_ip
        FROM e JOIN d ON e.ip32 // 268435456 = d.prefix
                     AND e.ip32 BETWEEN d.lo AND d.hi
        GROUP BY asn""",
    "img_phash_dedup": """
        WITH ph AS (SELECT image_id, phash64
                    FROM '/root/repo/tests/fixtures/img_phash40.parquet'),
        ids AS (SELECT cast(doc_id % 40 AS varchar) AS image_id FROM documents)
        SELECT phash64, count(*) AS n_copies
        FROM ids JOIN ph USING (image_id)
        GROUP BY phash64 HAVING count(*) >= 2""",
    "img_phash_near_dup": """
        WITH ph AS (SELECT image_id, phash64
                    FROM '/root/repo/tests/fixtures/img_phash40.parquet'),
        ids AS (SELECT DISTINCT cast(doc_id % 40 AS varchar) AS image_id
                FROM documents),
        imgs AS (SELECT image_id, phash64 FROM ids JOIN ph USING (image_id)),
        bands AS (SELECT image_id, phash64, bb.b,
                         (phash64 >> (8 * bb.b)) & 255 AS bv
                  FROM imgs CROSS JOIN
                       (SELECT unnest([0,1,2,3,4,5,6,7]) AS b) bb),
        cand AS (SELECT DISTINCT a.image_id AS i1, c.image_id AS i2,
                        a.phash64 AS p1, c.phash64 AS p2
                 FROM bands a JOIN bands c
                   ON a.b = c.b AND a.bv = c.bv AND a.image_id < c.image_id)
        SELECT i1, i2, CAST(bit_count(xor(p1, p2)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(p1, p2)) <= 27""",
    "img_phash_cluster": """
        WITH RECURSIVE ph AS (SELECT image_id, phash64
                    FROM '/root/repo/tests/fixtures/img_phash40.parquet'),
        ids AS (SELECT DISTINCT cast(doc_id % 40 AS varchar) AS image_id
                FROM documents),
        imgs AS (SELECT image_id, phash64 FROM ids JOIN ph USING (image_id)),
        bands AS (SELECT image_id, phash64, bb.b,
                         (phash64 >> (8 * bb.b)) & 255 AS bv
                  FROM imgs CROSS JOIN
                       (SELECT unnest([0,1,2,3,4,5,6,7]) AS b) bb),
        cand AS (SELECT DISTINCT a.image_id AS i1, c.image_id AS i2,
                        a.phash64 AS p1, c.phash64 AS p2
                 FROM bands a JOIN bands c
                   ON a.b = c.b AND a.bv = c.bv AND a.image_id < c.image_id),
        pairs AS (SELECT CAST(i1 AS BIGINT) AS doc_a, CAST(i2 AS BIGINT) AS doc_b
                  FROM cand WHERE bit_count(xor(p1, p2)) <= 27),
        edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                  UNION ALL
                  SELECT doc_b AS src, doc_a AS dst FROM pairs),
        reach(node, lab) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM edges e JOIN reach r ON r.node = e.src),
        comp AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
        SELECT CAST(c.node AS varchar) AS image_id, c.cluster_id,
               s.cluster_size
        FROM comp c
        JOIN (SELECT cluster_id, count(*) AS cluster_size
              FROM comp GROUP BY cluster_id) s USING (cluster_id)""",
    "img_aspect_bucket": """
        WITH fx AS (SELECT * FROM '/root/repo/tests/fixtures/img_aspect40.parquet'),
        ids AS (SELECT cast(doc_id % 40 AS varchar) AS image_id FROM documents)
        SELECT bucket, count(*) AS n_images,
               round(avg(aspect), 4) AS avg_aspect
        FROM ids JOIN fx USING (image_id)
        GROUP BY bucket""",
    "img_dedup_bytes": """
        WITH fx AS (SELECT * FROM '/root/repo/tests/fixtures/img_md5_40.parquet'),
        ids AS (SELECT cast(doc_id % 40 AS varchar) AS image_id FROM documents)
        SELECT bytes_md5, min(image_id) AS keeper_id, count(*) AS n_copies
        FROM ids JOIN fx USING (image_id)
        GROUP BY bytes_md5 HAVING count(*) >= 2""",
    # frame_sample grid: fps=10, 12 frames, every_ms=500 → step 5 → frames
    # {0,5,10} at media time {0,500,1000} ms for EVERY video — the sampling
    # arithmetic is the oracle; frame pixel parity is pytest-golden-checked.
    "av_frame_sample": """
        SELECT cast(doc_id AS varchar) AS video_id,
               CAST(f.frame_idx AS INTEGER) AS frame_idx,
               CAST(f.frame_idx * 100 AS BIGINT) AS ts_ms
        FROM documents
        CROSS JOIN (VALUES (0), (5), (10)) AS f(frame_idx)""",
    # Oracle side-table: 40-row parquet of (audio_id, duration_s, rms, peak)
    # computed driver-side with pure numpy (tests/fixtures/gen_audio_feat40.py)
    "av_audio_features": """
        WITH af AS (SELECT * FROM '/root/repo/tests/fixtures/audio_feat40.parquet'),
        ids AS (SELECT cast(doc_id % 40 AS varchar) AS audio_id FROM documents)
        SELECT audio_id, duration_s, rms, peak
        FROM ids JOIN af USING (audio_id)""",
    # F6/F7 oracle side-table: 168-row parquet of oracle-parsed fields over
    # the fixed 192-slot page mix (tests/fixtures/gen_parse192.py)
    "f6_content_clean": """
        WITH fx AS (SELECT * FROM '/root/repo/tests/fixtures/parse192.parquet'),
        ids AS (SELECT doc_id % 192 AS slot FROM documents)
        SELECT slot, web_id, title, content_md5, ip, date_raw
        FROM ids JOIN fx USING (slot) WHERE parse_error IS NULL""",
    "f7_transcription": """
        WITH fx AS (SELECT * FROM '/root/repo/tests/fixtures/parse192.parquet'),
        ids AS (SELECT doc_id % 192 AS slot FROM documents)
        SELECT slot, web_id, parse_error, title, date_raw
        FROM ids JOIN fx USING (slot)""",
}


def queries():
    """name → callable(spark, sf_dir) → DataFrame. Superset of ORACLE_SQL
    keys: entries without an oracle get the driver's rows-only check.

    ORDER MATTERS: the driver records correctness rows for the first ~50
    entries in insertion order. STANDING RULE (round-3 verdict #1): any key
    whose implementation changed since its last green driver row goes
    FIRST, so every key's latest driver row postdates its latest
    implementation change. ROTATION RULE (round-4 verdict #5): remaining
    window slots go to the keys whose latest green row is OLDEST, so no
    attestation ages beyond ~2 rounds. Round-5 window: (a) keys changed or
    new in round 5 — dedup_semantic_scaled (new; then rewritten to the
    GEMM assignment after the first BENCH_SF1_FULL run),
    dedup_embedding_lsh_scaled (new: corpus-scaled band width),
    graph_pagerank
    (checkpointed-rank rewrite), bpe_train_merges / bpe_apply_tokenize
    (_bpe_learn now localCheckpoints the vocab and guards empty top-1);
    (b) oldest attestations first: the one r01 key, the twelve r02 keys,
    then the r03 keys — the r03 tail past slot ~50 is unchanged since its
    green row, which is fine; (c) keys attested green in r04 and
    unchanged since fill the tail (newest attestations last)."""
    q = {
        # -- (a) implementation changed or new in round 5 --
        "dedup_semantic_scaled": dedup_semantic_scaled,  # NEW: k ∝ n SemDeDup
        # NEW: rows ∝ log n sign-LSH (fixed-width key measured 46M
        # candidates at sf1 in BENCH_SF1_FULL)
        "dedup_embedding_lsh_scaled": dedup_embedding_lsh_scaled,
        "graph_pagerank": graph_pagerank,    # r5 checkpointed-rank rewrite
        "bpe_train_merges": bpe_train_merges,      # r5 _bpe_learn change
        "bpe_apply_tokenize": bpe_apply_tokenize,  # r5 _bpe_learn change
        # r5 politeness change: admit_apply_in_pandas pins the group-shuffle
        # partition count (AQE byte-coalescing vs per-group Python cost)
        "p9_politeness_admit": p9_politeness_admit,
        # r5: p9b now grades admit_window's WindowGroupLimit hot-host path
        "p9b_politeness_window": p9b_politeness_window,
        # -- (b) oldest attestation first: r01 --
        "stream_tumbling_agg": stream_tumbling_agg,
        # -- (b) r02 --
        "w2_latest_login": w2_latest_login,
        "w4_floor_enumerate": w4_floor_enumerate,
        "w5_version_rotation": w5_version_rotation,
        "w6_fetch_priority": w6_fetch_priority,
        "w7_asn_queue": w7_asn_queue,
        "w8_export_order": w8_export_order,
        "f1_last_page_regex": f1_last_page_regex,
        "f2_web_id_roundtrip": f2_web_id_roundtrip,
        "f4_push_ipdatetime": f4_push_ipdatetime,
        "f10_date_format": f10_date_format,
        "f11_lower_board": f11_lower_board,
        "f12_url_assembly": f12_url_assembly,
        # -- (b) r03 --
        "flagship_tw_report": flagship_tw_report,
        "p1_point_lookup": p1_point_lookup,
        "p2_conj_filter": p2_conj_filter,
        "p3_filter_board": p3_filter_board,
        "p4_date_cutoff": p4_date_cutoff,
        "p6_in_list_semi": p6_in_list_semi,
        "p7_seen_anti": p7_seen_anti,
        "p7b_seen_bloom": p7b_seen_bloom,
        "p7c_seen_cuckoo": p7c_seen_cuckoo,
        "p8_page_complete": p8_page_complete,
        "j1_join_count": j1_join_count,
        "j2_left_anti": j2_left_anti,
        "j3_four_way": j3_four_way,
        "j5_broadcast_left": j5_broadcast_left,
        "j6_dim_nav": j6_dim_nav,
        "j7_upsert_new_keys": j7_upsert_new_keys,
        "j8_asof_join": j8_asof_join,
        "j9_ip_range_lookup": j9_ip_range_lookup,
        "a1_minmax_group": a1_minmax_group,
        "a3_push_tally": a3_push_tally,
        "a5_latest_per_group": a5_latest_per_group,
        "a7_skew_agg": a7_skew_agg,
        "a8_percentile": a8_percentile,
        "a8b_percentile_approx": a8b_percentile_approx,
        "a9_rollup": a9_rollup,
        "a10_hll_distinct": a10_hll_distinct,
        "w1_latest_version": w1_latest_version,
        "f6_content_clean": f6_content_clean,
        "f7_transcription": f7_transcription,
        "f13_url_canonical": f13_url_canonical,
        "text_ngram_lm_score": text_ngram_lm_score,
        "text_gopher_rules": text_gopher_rules,
        "text_token_count_bpe": text_token_count_bpe,
        "text_winnow_fingerprint": text_winnow_fingerprint,
        "text_substr_dedup": text_substr_dedup,
        # ~window boundary: the r03 tail below is unchanged since its row
        "sample_stratified": sample_stratified,
        "stream_sessionize": stream_sessionize,
        "events_json_extract": events_json_extract,
        # -- (c) attested green in CORRECTNESS_r04, unchanged since --
        "text_simhash": text_simhash,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_embedding_lsh": dedup_embedding_lsh,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_cluster_cc": dedup_cluster_cc,
        "kmeans_lloyd": kmeans_lloyd,
        "dedup_pipeline_e2e": dedup_pipeline_e2e,
        "stream_urlseen_twin": stream_urlseen_twin,
        "stream_latency_twin": stream_latency_twin,
        "text_decontaminate": text_decontaminate,
        "text_line_dedup": text_line_dedup,
        "text_heavy_hitters": text_heavy_hitters,
        "sample_reservoir": sample_reservoir,
        "text_bm25": text_bm25,
        "dedup_semantic": dedup_semantic,
        "text_dsir_weights": text_dsir_weights,
        "quality_pipeline_e2e": quality_pipeline_e2e,
        "mix_allocation": mix_allocation,
        "img_decode_stats": img_decode_stats,
        "img_resize_thumb": img_resize_thumb,
        "img_phash_dedup": img_phash_dedup,
        "img_phash_near_dup": img_phash_near_dup,
        "img_phash_cluster": img_phash_cluster,
        "img_crop_dup": img_crop_dup,
        "img_dedup_bytes": img_dedup_bytes,
        "img_aspect_bucket": img_aspect_bucket,
        "av_frame_sample": av_frame_sample,
        "av_audio_features": av_audio_features,
        "img_verify_psnr": img_verify_psnr,
        "dedup_exact": dedup_exact,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "text_langid": text_langid,
        "j4_enrich_semi": j4_enrich_semi,
        "f3_author_regex": f3_author_regex,
        "f5_ip_extract": f5_ip_extract,
        "export_article_sheet": export_article_sheet,
        "ann_topk_bruteforce": ann_topk_bruteforce,
        "ann_ivf_label": ann_ivf_label,
        "ann_ivf_topk": ann_ivf_topk,
        "text_token_count": text_token_count,
        "text_quality_score": text_quality_score,
        "text_fingerprint": text_fingerprint,
        "text_pii_scrub": text_pii_scrub,
        "text_repetition": text_repetition,
        "text_top_tokens": text_top_tokens,
    }
    return q
