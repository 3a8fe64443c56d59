"""The micro-batch frontier crawl loop — the heart of the engine.

Re-expresses the reference's single-threaded loop (crawler/article.py:419-511
+ crawler/article_index.py:119-174) as a Structured-Streaming-style
micro-batch drain over a frontier table:

  pending → [robots split → per-host token bucket admit]  (operators/politeness)
          → [simulated fetch = join corpus] (network I/O stand-in)
          → bootstrap: getLastPage → seed index rows L..1     (F1)
          → index: parse entries → canonicalize → ANTI-JOIN dedupe → enqueue
          → article: parse fields/pushes/payload → append output tables
          → frontier/politeness/metrics snapshot (engine/state)

Ordering is DATA, not task order. Per-host sort key (priority desc,
discovery_seq asc) with

  priority = board_major(board_rank) + local
  local    = bootstrap: 1<<21 | index p: 2p+1 | article p: 2p

reproduces the reference's exact order — boards sequentially (single-host
case), within a board: index L, its articles in DOM order, index L-1, ... —
under any parallelism and any politeness budget ≥ 1: admission is a prefix
of the sort order, and the politeness operator's *discovery barrier* stops
each host's admission after the first index/bootstrap row so pages spawned
later can claim their rightful place in the order.

Scale design notes (100 TB / 10^10 URLs):
- every join/agg keys on url/host which are hash-partitionable; host skew is
  bounded by the pre-truncation in operators/politeness (a host contributes
  at most ceil(tokens) rows to any per-host group);
- the candidate anti-join is the scale hot spot → operators/bloom provides a
  partitioned Bloom pre-filter so the exact join only sees maybe-seen URLs;
- frontier durability is merge-on-read: each batch commits an O(changes)
  delta, periodically compacted to a full snapshot (engine/state docstring) —
  the Iceberg MERGE INTO analog at the parquet level;
- lineage is broken every batch by an eager localCheckpoint of the frontier
  and politeness state, so the plan never grows with batch count (the
  classic iterative-job trap) without a per-batch parquet round-trip.
"""

from __future__ import annotations

import datetime as _dt
import math
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import parse as FP
from ..functions import url as FU
from ..operators import politeness as POL
from . import state as ST
from . import taskmetrics as TM
from . import verify as V

# Storage level for the per-batch HEAVY caches (raw html + image payload
# columns): written once, read by every consumer job in the batch,
# unpersisted at batch end. HOW the blocks are built matters more than where
# they live (all measured on the scaling corpus, 172k-URL steady batches, G1):
# - in-memory columnar CACHE COMPRESSION on image payload bytes is pure
#   waste (they are already codec-compressed): cache build 2x slower at
#   every core count. Payload-heavy sessions should set
#   spark.sql.inMemoryColumnarStorage.compressed=false (bench does).
# - an ADAPTIVE (unbounded) G1 young gen re-copies the GBs of surviving
#   cache blocks on every young pause: 2.3 s pauses, 50-80 % of task time
#   in GC at local[32]. A bounded young gen (-XX:G1MaxNewSizePercent=10)
#   promotes the blocks once and cuts GC wall ~6x.
# - OFF_HEAP (tried as the GC fix before the two findings above) builds
#   blocks ~2x slower than on-heap uncompressed (an extra serialization
#   pass into Unsafe buffers) and lost end-to-end once young-gen was
#   bounded: steady batch 49.5 s vs 25.4 s at local[32].
_HEAVY_CACHE = StorageLevel.MEMORY_AND_DISK

_COMPACT_EVERY = 64                  # full-frontier compaction cadence (batches)


class _Phase:
    """Per-batch phase timer; records into ``times`` (surfaced via
    ``CrawlResult.batch_stats[i]['phase_s']`` — the per-phase scaling
    evidence in BENCH_SCALING.json)."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.times: dict[str, float] = {}

    def mark(self, label: str) -> None:
        now = time.perf_counter()
        self.times[label] = round(self.times.get(label, 0.0) + (now - self.t), 3)
        self.t = now


_LOCAL_BITS = 22                     # local priority fits in 22 bits
_BOOT_LOCAL = 1 << 21                # bootstrap outranks any page of its board
_MAX_BOARD_RANK = 1 << 20

FRONTIER_COLS = [
    "url", "url_hash", "url_hash32", "host", "host_salt", "kind",
    "board", "board_rank", "page_index", "dom_pos", "priority",
    "discovery_seq", "status", "retry_count", "batch_id",
]


@dataclass
class CrawlConfig:
    delay_s: float = 2.0            # config_example.ini:14
    batch_seconds: float = 60.0     # logical clock advance per micro-batch
    capacity: float | None = None   # token bucket burst; default = one batch refill
    # host → disallowed URL path prefixes; a matching row ends `failed` in
    # the batch where it is first pending and spends no tokens
    robots: dict[str, list[str]] | None = None
    start_date: _dt.datetime | None = None  # P4 cutoff + early stop
    start_index: int = 1
    end_index: int | None = None    # CLI --index S E upper bound (crawler_arg.py:44-46)
    max_batches: int = 10_000
    seen_filter: str = ""           # '' (exact anti-join) | 'bloom' | 'cuckoo'
    bloom_partitions: int = 16
    # North-rule per-row PSNR/phash/caption check, run as a FOLLOW-ON job per
    # batch: batch k's verify reads the COMMITTED images+parsed tables (not
    # the in-memory cache) and overlaps batch k+1's admit/fetch/parse. It
    # pins no heavy cache — the verify input is the just-written parquet —
    # and its output is derived data committed outside the batch marker
    # (trusted via _SUCCESS, repaired on resume by
    # engine/verify.repair_missing_verify). Measured at local[32] on the
    # 860k-URL scaling corpus against the same stage as a write inside the
    # commit barrier: the barrier drops 12.9 s → ~8 s of an ~18 s steady
    # batch; batch wall is ~unchanged on THIS host because the loop is
    # memory-bus-bound — on a real cluster (per-node buses) the overlap is
    # throughput.
    verify_payload: bool = True

    @property
    def burst(self) -> float:
        b = self.capacity if self.capacity is not None else self.batch_seconds / self.delay_s
        if b < 1.0:
            raise ValueError("token bucket burst must be >= 1 (nothing would ever be admitted)")
        return b


@dataclass
class CrawlResult:
    out_dir: str
    final_batch: int
    n_fetched: int
    spark: SparkSession = field(repr=False)
    batch_stats: list[dict] = field(default_factory=list)

    def frontier(self) -> DataFrame:
        return ST.load_snapshot(self.spark, self.out_dir).frontier

    def table(self, name: str, with_batch: bool = False) -> DataFrame | None:
        return ST.read_table(self.spark, self.out_dir, name,
                             max_batch=self.final_batch, with_batch=with_batch)

    def metrics(self) -> DataFrame | None:
        return ST.read_metrics(self.spark, self.out_dir)

    def fetch_order(self) -> DataFrame:
        """Per-host fetch order as data: (host, ord, url, kind). Global order
        across hosts is undefined under parallel crawl (contract: per-host
        order + global seen-set match the single-threaded oracle)."""
        w = Window.partitionBy("host").orderBy(
            F.col("batch_id").asc(), F.col("priority").desc(),
            F.col("discovery_seq").asc(), F.col("url").asc())
        return (
            self.frontier()
            .where(F.col("status") == "fetched")
            .withColumn("ord", F.row_number().over(w))
            .select("host", "ord", "url", "kind", "board", "page_index")
        )

    def url_seen(self) -> DataFrame:
        return self.frontier().where(F.col("status") == "fetched").select("url")


def _priority() -> F.Column:
    board_major = (
        (F.lit(_MAX_BOARD_RANK).cast("long") - F.col("board_rank")) * F.lit(1 << _LOCAL_BITS)
    )
    local = (
        F.when(F.col("kind") == "bootstrap", F.lit(_BOOT_LOCAL))
        .when(F.col("kind") == "index", 2 * F.col("page_index") + 1)
        .otherwise(2 * F.col("page_index"))
    ).cast("long")
    return (board_major + local).cast("long")


def _frontier_row_cols(df: DataFrame) -> DataFrame:
    """Attach hash/host/salt/priority columns. Input columns: url, kind,
    board, board_rank, page_index, dom_pos, discovery_seq."""
    url = FU.canonicalize(F.col("url"))
    return (
        df.withColumn("url", url)
        .withColumn("url_hash", FU.url_hash64(F.col("url")))
        .withColumn("url_hash32", FU.url_hash32(F.col("url")))
        .withColumn("host", FU.host_of(F.col("url")))
        .withColumn("host_salt", FU.host_salt(F.col("host")))
        .withColumn("priority", _priority())
        .withColumn("status", F.lit("pending"))
        .withColumn("retry_count", F.lit(0))
        .withColumn("batch_id", F.lit(-1).cast("long"))
        .select("url", "url_hash", "url_hash32", "host", "host_salt", "kind",
                "board", "board_rank", "page_index", "dom_pos", "priority",
                "discovery_seq", "status", "retry_count", "batch_id")
    )


def seed_frontier(spark: SparkSession, seeds: list[tuple[str, str]]) -> DataFrame:
    """seeds: [(board, index_html_url)] in crawl order → bootstrap rows."""
    rows = [(board, url, rank) for rank, (board, url) in enumerate(seeds)]
    df = spark.createDataFrame(rows, "board string, url string, board_rank long")
    df = (
        df.withColumn("kind", F.lit("bootstrap"))
        .withColumn("page_index", F.lit(-1))
        .withColumn("dom_pos", F.lit(-1))
        .withColumn("discovery_seq", F.lit(0).cast("long"))
    )
    return _frontier_row_cols(df)


def _seen_filter(cfg: CrawlConfig):
    """The URL-seen pre-filter state ``cfg.seen_filter`` names: None for the
    exact anti-join alone, else an empty BloomState / CuckooState."""
    if cfg.seen_filter == "bloom":
        from ..operators import bloom as BL
        return BL.BloomState(cfg.bloom_partitions)
    if cfg.seen_filter == "cuckoo":
        from ..operators import cuckoo as CK
        return CK.CuckooState(cfg.bloom_partitions)
    if cfg.seen_filter:
        raise ValueError(f"unknown seen_filter {cfg.seen_filter!r}")
    return None


def _init_politeness(hosts: DataFrame, cfg: CrawlConfig) -> DataFrame:
    return (
        hosts.select("host").distinct()
        .withColumn("tokens", F.lit(float(cfg.burst)))
        .withColumn("last_refill_seq", F.lit(0).cast("long"))
        .withColumn("delay_s", F.lit(float(cfg.delay_s)))
        .withColumn("robots_rules", F.lit(None).cast("string"))
        .withColumn("robots_fetched_seq", F.lit(None).cast("long"))
    )


def crawl(spark: SparkSession, corpus: DataFrame | None,
          seeds: list[tuple[str, str]],
          out_dir: str, cfg: CrawlConfig | None = None,
          resume: bool = False, fetcher=None) -> CrawlResult:
    """``corpus``: simulated-fetch page table (tests/benches), or None when
    ``fetcher`` is given — a callable admitted-DataFrame → fetched-DataFrame
    (same rows + _html/payload columns), e.g. sources.http_fetch.fetcher_for
    for a REAL network fetch stage.

    Holds the store lock (_LOCK.json) for the whole run: a migration
    (engine/migrate.migrate_state) must never rewrite state dirs under a
    live crawl and vice versa. A brand-new store is stamped at the HEAD
    schema revision before batch 0 (engine/migrate.stamp_new_store), so
    `migrate current` reports the truth and the first migrate is a no-op."""
    from . import migrate as MG

    lock = ST.acquire_lock(out_dir, owner="crawl")
    try:
        # no-op unless the store is genuinely brand-new (no marker AND no
        # committed state) — resume of a pre-revision store keeps the
        # no-marker => r1_initial fallback
        MG.stamp_new_store(out_dir)
        # single-slot pool for the post-commit verify jobs; leaving the
        # `with` waits for a running one, so the lock is released after
        # it even when a batch raises
        with ThreadPoolExecutor(max_workers=1) as verify_pool:
            return _crawl_impl(spark, corpus, seeds, out_dir, cfg, resume,
                               fetcher, verify_pool)
    finally:
        ST.release_lock(lock)


def _crawl_impl(spark: SparkSession, corpus: DataFrame | None,
                seeds: list[tuple[str, str]], out_dir: str,
                cfg: CrawlConfig | None, resume: bool, fetcher,
                verify_pool: ThreadPoolExecutor) -> CrawlResult:
    cfg = cfg or CrawlConfig()
    if corpus is None and fetcher is None:
        raise ValueError("need a corpus or a fetcher")
    bloom = _seen_filter(cfg)
    pages = None if corpus is None else corpus.select(
        "url", "kind", "page_index", F.col("html").alias("_html"),
        "image_bytes", "w", "h", "fmt", "caption", "phash",
    )

    snap = ST.load_snapshot(spark, out_dir) if resume else None
    if snap is not None:
        frontier, politeness, batch_id = snap.frontier, snap.politeness, snap.batch_id
        if cfg.verify_payload:
            # a kill between a batch's _COMMIT marker and its (post-marker,
            # derived) payload_verify write leaves a hole — recompute it
            # from the committed tables before crawling on (idempotent)
            V.repair_missing_verify(spark, out_dir, batch_id)
    else:
        frontier = seed_frontier(spark, seeds)
        politeness = _init_politeness(frontier, cfg)
        batch_id = -1

    if bloom is not None and (snap is None or not bloom.load(out_dir, batch_id)):
        bloom.rebuild(frontier.select("url_hash"))

    n_fetched_total = 0
    batches_run = 0
    batch_stats: list[dict] = []
    # None unless the Spark UI is up (taskmetrics reads its REST API)
    tm_before = TM.sample(spark)
    verify_fut = None

    def _submit_verify(bid: int) -> None:
        """Queue batch ``bid``'s post-commit verify job. Awaiting the
        previous future first bounds outstanding verify work to one batch
        (backpressure — in steady state verify (~5 s) finishes well inside
        the next batch (~13 s), so the await is normally instant)."""
        nonlocal verify_fut
        if not cfg.verify_payload:
            return
        if verify_fut is not None:
            verify_fut.result()
        verify_fut = verify_pool.submit(
            V.verify_committed_batch, spark, out_dir, bid)
    # loop-critical jobs (materialize, checkpoints) share executors FAIRly
    # with the commit writes and the previous batch's verify (pool
    # "commit", engine/state.py and engine/verify.py)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "loop")
    while batches_run < cfg.max_batches:
        batches_run += 1
        batch_id += 1
        t_batch = time.perf_counter()
        ph = _Phase()
        pending = frontier.where(F.col("status") == "pending")
        if pending.isEmpty():
            batch_id -= 1
            break

        politeness = POL.refill(politeness, cfg.batch_seconds, cfg.burst)
        blocked = None
        if cfg.robots:
            pending, blocked = POL.split_robots(pending, cfg.robots)
        # burst capacity is the literal per-host budget ceiling →
        # WindowGroupLimit hot-host path (admit_window docstring)
        marked = POL.admit_window(pending, politeness,
                                  strict_barrier=cfg.start_date is not None,
                                  max_budget=math.ceil(cfg.burst))

        # marked is read by MANY consumers per batch (admitted → fetch join,
        # deferred → metrics/cancel, politeness spend, delta) — persist the
        # narrow frame so the per-host admit window computes once, not once
        # per consuming job
        marked = marked.persist()
        admitted = marked.where(F.col("admit")).drop("admit")
        if fetcher is not None:
            # real fetch stage (e.g. HTTP mapInPandas, sources/http_fetch):
            # network I/O happens on executors, politeness already bounded
            # the per-host batch upstream
            fetched = fetcher(admitted).persist(_HEAVY_CACHE)
        else:
            # simulated fetch: URL → page body. The admitted set (bounded by
            # the politeness budget) is broadcast into the corpus scan, so
            # the multi-GB corpus is never shuffled — a single pass with a
            # runtime filter, not a sort-merge join spilling both sides.
            # Scan pruning: the admitted set has page LOCALITY (the discovery
            # barrier admits ~one index page's articles per host per batch),
            # so when the corpus is partitioned by (kind, page_index)
            # (bench.prepare_corpus) a static filter over the batch's
            # distinct (kind, page_index) pairs prunes the scan to the
            # partitions actually being "fetched" — the simulated-network
            # analog of fetch cost scaling with the batch, not the site.
            # The collect is over the aggregated pair set (≤ pages per
            # board), not rows. Corpus contract: an article row's page_index
            # is the index page that lists it (synth/site.py guarantees it).
            pairs = admitted.groupBy("kind", "page_index").count().collect()
            art_pages = sorted({r["page_index"] for r in pairs
                                if r["kind"] == "article"})
            prune = F.lit(False)
            if any(r["kind"] != "article" for r in pairs):
                # bootstrap rows are index.html pages, served as kind=index
                prune = prune | (F.col("kind") == "index")
            if art_pages:
                prune = prune | ((F.col("kind") == "article")
                                 & F.col("page_index").isin(art_pages))
            pages_b = pages.where(prune)
            adm = admitted.withColumn(
                "_page_kind",
                F.when(F.col("kind") == "bootstrap", F.lit("index"))
                .otherwise(F.col("kind")))
            matched = (
                pages_b.drop("page_index")
                .withColumnRenamed("kind", "_page_kind")
                .join(F.broadcast(adm), ["url", "_page_kind"])
                .drop("_page_kind"))
            missing = admitted.join(pages_b.select("url"), "url", "left_anti")
            for c, typ in [("_html", "string"), ("image_bytes", "binary"),
                           ("w", "int"), ("h", "int"), ("fmt", "string"),
                           ("caption", "string"), ("phash", "long")]:
                missing = missing.withColumn(c, F.lit(None).cast(typ))
            fetched = matched.unionByName(missing).persist(_HEAVY_CACHE)
        ph.mark("admit+fetch(lazy)")

        ok = fetched.where(F.col("_html").isNotNull())

        # --- bootstrap → seed the descending index range (F1) --------------
        boot = ok.where(F.col("kind") == "bootstrap")
        new_index = (
            boot.select("board", "board_rank", "url",
                        FP.last_page(F.col("_html")).alias("last"))
            .withColumn("_hi", F.least(F.col("last"), F.lit(cfg.end_index))
                        if cfg.end_index is not None else F.col("last"))
            .select("board", "board_rank", "url",
                    F.explode(F.when(
                        F.col("_hi") >= cfg.start_index,
                        F.sequence(F.lit(cfg.start_index), F.col("_hi")))
                        .otherwise(F.array().cast("array<int>")))
                    .alias("page_index"))
            .select(
                F.concat(
                    F.regexp_extract(F.col("url"), r"^(.*/)index\.html$", 1),
                    F.format_string("index%d.html", F.col("page_index")),
                ).alias("url"),
                F.lit("index").alias("kind"), "board", "board_rank", "page_index",
                F.lit(-1).alias("dom_pos"), F.lit(0).cast("long").alias("discovery_seq"),
            )
        )

        # --- index pages → entries → candidate article URLs (J2 dedupe) ----
        idx = ok.where(F.col("kind") == "index")
        entries = FP.parse_index_pages(
            idx.select("url", "board", "board_rank", "page_index",
                       F.col("_html").alias("html")))
        candidates = entries.select(
            FU.join_url(F.col("url"), F.col("href")).alias("url"),
            F.lit("article").alias("kind"), "board", "board_rank", "page_index",
            "dom_pos", F.col("dom_pos").cast("long").alias("discovery_seq"),
        )
        pre_anti = _frontier_row_cols(candidates.unionByName(new_index))
        # dedupe within the batch (same URL discovered twice), deterministic
        w_url = Window.partitionBy("url").orderBy(
            F.col("priority").desc(), F.col("discovery_seq").asc())
        pre_anti = (
            pre_anti.withColumn("_rn", F.row_number().over(w_url))
            .where(F.col("_rn") == 1).drop("_rn")
        )
        # URL-seen: bloom pre-filter (scale path) + exact anti-join (truth)
        if bloom is not None:
            maybe_seen, definitely_new = bloom.split(pre_anti)
            verified_new = maybe_seen.join(frontier.select("url"), "url", "left_anti")
            new_rows = definitely_new.unionByName(verified_new)
        else:
            new_rows = pre_anti.join(frontier.select("url"), "url", "left_anti")
        new_rows = new_rows.persist()
        ph.mark("discover(lazy)")

        # --- article pages → parsed outputs ---------------------------------
        # SINGLE-PASS parse: the multi-KB html column is the batch's dominant
        # byte/CPU stream; articles+pushes+errors+verify-caption are all
        # extracted in ONE scan whose narrow result is persisted (materialized
        # below, before the parallel commit writes), so each downstream table
        # write reads parsed fields, never raw pages. Measured at local[32]:
        # the split-consumer version re-streamed the cached html 3-4x/batch.
        tables: dict = {}
        art = ok.where(F.col("kind") == "article").withColumn(
            "web_id", FP.web_id_of(F.col("url")))
        parsed_all = FP.parse_article_pages(
            art.select("web_id", "board", "page_index", "dom_pos", "url",
                       F.col("_html").alias("html"))).persist(_HEAVY_CACHE)
        # F7: unparseable pages (PostException analog) become status rows
        # in parse_errors; everything downstream sees only parse-ok pages
        # (the reference's per-article try/except skip,
        # crawler/article.py:472-483)
        parse_errors = parsed_all.where(F.col("parse_error").isNotNull()).select(
            "web_id", "board", "url", F.col("parse_error").alias("error"))
        parsed_ok = parsed_all.where(F.col("parse_error").isNull())
        # P4: start-date cutoff + early stop (crawler/article.py:486-503).
        # Unparseable dates drop silently; a parseable date BELOW the cutoff
        # both drops the article and stops that board's crawl at this page
        # (pending lower pages are cancelled below).
        stop_pages = None
        if cfg.start_date is not None:
            dt_ok = F.col("post_datetime").isNotNull()
            cut = F.lit(cfg.start_date)
            stop_pages = (parsed_ok
                          .where(dt_ok & (F.col("post_datetime") < cut))
                          .groupBy("board")
                          .agg(F.min("page_index").alias("_stop_page")))
            parsed_ok = parsed_ok.where(dt_ok & (F.col("post_datetime") >= cut))
        parsed_articles = parsed_ok.drop(
            "parse_error", "pushes", "expected_caption", "url")
        parsed_pushes = FP.pushes_from_parsed(parsed_ok)
        # images read the binary column from the fetched cache; the
        # parse-ok + date-kept row set arrives as a BROADCAST join against
        # the narrow parsed frame's web_ids, not an html re-scan
        kept = F.broadcast(parsed_ok.select(F.col("web_id").alias("image_id")))
        images = (art.where(F.col("image_bytes").isNotNull())
                  .select(F.col("web_id").alias("image_id"),
                          F.col("image_bytes").alias("bytes"),
                          "w", "h", "fmt", "caption", "phash")
                  .join(kept, "image_id"))
        tables["parsed_articles"] = parsed_articles
        tables["parsed_pushes"] = parsed_pushes
        tables["images"] = images
        tables["parse_errors"] = parse_errors
        article_index = entries.select(
            F.col("entry_web_id").alias("web_id"), "board",
            F.col("page_index").alias("index"))
        tables["article_index"] = article_index

        # --- frontier DELTA (merge-on-read): O(changes) rows, not O(|frontier|)
        status_override = [
            F.when(F.col("_html").isNotNull(), F.lit("fetched"))
            .otherwise(F.lit("failed")).alias("status")
            if c == "status" else
            F.lit(batch_id).cast("long").alias("batch_id")
            if c == "batch_id" else c
            for c in FRONTIER_COLS
        ]
        changed = fetched.select(*status_override)
        if blocked is not None:
            changed = changed.unionByName(blocked.select(
                *[F.lit("failed").alias("status") if c == "status" else
                  F.lit(batch_id).cast("long").alias("batch_id")
                  if c == "batch_id" else c for c in FRONTIER_COLS]))
        delta_new = new_rows.withColumn("batch_id", F.lit(batch_id).cast("long"))
        if stop_pages is not None:
            # early stop: cancel this board's not-yet-fetched lower pages —
            # both freshly discovered rows and older deferred pending rows
            def _cancel(df: DataFrame) -> DataFrame:
                return (
                    df.join(F.broadcast(stop_pages), "board", "left")
                    .withColumn(
                        "status",
                        F.when((F.col("status") == "pending")
                               & F.col("_stop_page").isNotNull()
                               & (F.col("page_index") < F.col("_stop_page")),
                               F.lit("cancelled"))
                        .otherwise(F.col("status")))
                    .drop("_stop_page")
                )

            delta_new = _cancel(delta_new)
            cancelled_old = (
                _cancel(marked.where(~F.col("admit")).drop("admit"))
                .where(F.col("status") == "cancelled"))
            delta = (changed.unionByName(delta_new.select(*FRONTIER_COLS))
                     .unionByName(cancelled_old.select(*FRONTIER_COLS)))
        else:
            delta = changed.unionByName(delta_new.select(*FRONTIER_COLS))

        # next frontier = merge(delta over current) — the SAME latest-wins
        # semantics state.load_frontier replays from the delta files, so the
        # in-memory path and the resume path agree by construction
        frontier_next = (
            frontier.join(delta.select("url"), "url", "left_anti")
            .unionByName(delta)
        )

        n_admitted = admitted.groupBy("host").agg(F.count("*").alias("n_admitted"))
        politeness_next = POL.spend(politeness, n_admitted)
        politeness_next = politeness_next.unionByName(
            _init_politeness(new_rows.join(politeness.select("host"), "host", "left_anti"), cfg)
        ).groupBy("host").agg(
            F.max("tokens").alias("tokens"),
            F.max("last_refill_seq").alias("last_refill_seq"),
            F.max("delay_s").alias("delay_s"),
            F.max("robots_rules").alias("robots_rules"),
            F.max("robots_fetched_seq").alias("robots_fetched_seq"),
        )

        deferred = marked.where(~F.col("admit")).groupBy("host").agg(
            F.count("*").alias("_deferred"))
        # per-partition lineage: deduped = discovered-this-batch minus
        # actually-new, PER HOST (north rule: per-partition lineage/metrics)
        cand_cnt = pre_anti.groupBy("host").agg(F.count("*").alias("_cand"))
        new_cnt = new_rows.groupBy("host").agg(F.count("*").alias("_new"))
        metrics = (
            changed.groupBy("host", "host_salt")
            .agg(
                F.sum(F.when(F.col("status") == "fetched", 1).otherwise(0)).alias("fetched"),
                F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed"),
            )
            .join(deferred, "host", "left")
            .join(cand_cnt, "host", "left")
            .join(new_cnt, "host", "left")
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .withColumn("partition_id", F.col("host_salt"))
            .withColumn("deduped",
                        (F.coalesce(F.col("_cand"), F.lit(0))
                         - F.coalesce(F.col("_new"), F.lit(0))).cast("long"))
            .withColumn("deferred", F.coalesce(F.col("_deferred"), F.lit(0)).cast("long"))
            .select("batch_id", "partition_id", "host", "fetched", "deduped",
                    "deferred", "failed")
        )

        if bloom is not None:
            bloom.add(new_rows.select("url_hash"))
            bloom.save(out_dir, batch_id)

        ph.mark("plan frontier/politeness/metrics")
        # materialize the batch ONCE: this kind-count collect is the batch's
        # single full pass over `fetched` (the corpus scan / network fetch).
        # It must COMPLETE before the parallel commit writes are submitted —
        # concurrent jobs over a still-lazy persist each race to compute the
        # missing partitions, re-scanning the corpus up to once per job
        # (measured on the 2.7 GB scaling corpus: 9 concurrent writes turned
        # a 256-URL bootstrap batch into 60 s of redundant scans; with the
        # pass completed first the same batch is ~2 s).
        kc = {r["kind"]: (r["cnt"], r["n_fail"]) for r in (
            fetched.groupBy("kind")
            .agg(F.count("*").alias("cnt"),
                 F.sum(F.when(F.col("_html").isNull(), 1).otherwise(0))
                 .alias("n_fail"))
            .collect())}
        ph.mark("materialize fetched (kind counts)")
        # materialize the single-pass parse BEFORE the parallel commit
        # writes for the same reason as above: concurrent jobs over a lazy
        # persist race to compute missing partitions, re-running the parse
        # once per consumer. One count = one parse pass, then every write
        # job reads the narrow cached result.
        parsed_all.count()
        ph.mark("materialize parsed (single-pass)")
        # lineage break WITHOUT a parquet round-trip: the checkpointed
        # frontier/politeness live in executor block storage; the next batch
        # plans against a compact leaf, and plan depth stays O(1) in batch
        # count. (Reliable checkpoint dir on a real cluster.) The explicit
        # repartition pins the partition count — a bare anti-join ∪ delta
        # union would ADD the delta's partitions to the frontier's every
        # batch, growing task counts without bound. The checkpoint jobs run
        # CONCURRENTLY with the commit writes (safe now that `fetched` is
        # fully materialized — every job reads the cache, nothing races to
        # recompute it), so their wall time hides behind the write jobs.
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))

        def _in_loop_pool(fn):
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "loop")
            return fn()

        with ThreadPoolExecutor(max_workers=2) as ckpt_pool:
            fut_frontier = ckpt_pool.submit(
                _in_loop_pool,
                lambda: frontier_next.repartition(n_shuffle, "url")
                .localCheckpoint(eager=True))
            fut_politeness = ckpt_pool.submit(
                _in_loop_pool,
                lambda: politeness_next.localCheckpoint(eager=True))
            # the durability writes (output tables + state + marker) run on
            # this thread beside the two checkpoint jobs; the batch ends when
            # its own commit lands, so one batch's heavy caches are resident
            # at a time
            full_due = batch_id % _COMPACT_EVERY == 0
            ST.commit_batch(out_dir, batch_id,
                            frontier=frontier_next if full_due else None,
                            politeness=politeness_next, metrics=metrics,
                            tables=tables,
                            frontier_delta=None if full_due else delta)
        frontier = fut_frontier.result()
        politeness = fut_politeness.result()
        for df in (fetched, parsed_all, new_rows, marked):
            df.unpersist()
        # batch N durably committed → its verify runs while batch N+1
        # computes (reads the committed parquet, pins no cache)
        _submit_verify(batch_id)
        ph.mark("commit + checkpoint")
        n_rows = sum(c for c, _ in kc.values())
        stats = {
            "batch_id": batch_id,
            "fetched": n_rows,
            "bootstrap": kc.get("bootstrap", (0, 0))[0] - kc.get("bootstrap", (0, 0))[1],
            "index": kc.get("index", (0, 0))[0] - kc.get("index", (0, 0))[1],
            "article": kc.get("article", (0, 0))[0] - kc.get("article", (0, 0))[1],
            "wall_s": round(time.perf_counter() - t_batch, 3),
            "phase_s": dict(ph.times),
        }
        tm_after = TM.sample(spark)
        d = TM.delta(tm_before, tm_after)
        if d is not None:
            stats["task_metrics"] = d
        # re-arm even when this batch's delta was lost (e.g. the UI
        # wasn't up for the baseline sample) so later batches meter
        if tm_after is not None:
            tm_before = tm_after
        batch_stats.append(stats)
        n_fetched_total += n_rows

    if verify_fut is not None:
        verify_fut.result()

    if batch_stats and batch_id % _COMPACT_EVERY != 0:
        # cheap-read compaction: downstream consumers (store/export) read
        # result.frontier() many times — give them a single parquet dir
        # instead of a base+delta merge. Written AFTER the final marker;
        # readers only trust it once _SUCCESS lands (see engine/state doc).
        ST.write_frontier_compaction(out_dir, batch_id, frontier)

    return CrawlResult(out_dir=out_dir, final_batch=batch_id,
                       n_fetched=n_fetched_total, spark=spark,
                       batch_stats=batch_stats)


def mark_for_recrawl(spark: SparkSession, out_dir: str, urls,
                     cfg: CrawlConfig | None = None) -> int:
    """--upgrade analog (crawler/article.py:152-157: the seen-skip applies
    only when NOT upgrading): flip the given fetched URLs back to pending in
    a NEW committed snapshot. A subsequent ``crawl(..., resume=True)``
    refetches them, appending fresh rows to the per-batch output tables (the
    SCD-2 history append — old parsed rows stay in their batch directories).

    The URL-seen filter is deliberately NOT touched: the URL remains
    *enqueued* (dedupe is about enqueueing, refetch is about status), so a
    re-discovered link to it must still dedupe away. Deleting from the seen
    set is the job of :func:`purge_urls`.

    ``urls``: DataFrame with a ``url`` column (or list of url strings).
    Returns the number of frontier rows flipped.
    """
    seen = _seen_filter(cfg or CrawlConfig())
    if not isinstance(urls, DataFrame):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")
    snap = ST.load_snapshot(spark, out_dir)
    if snap is None:
        raise ValueError(f"no committed snapshot under {out_dir}")
    urls = urls.select("url").distinct()
    n = (snap.frontier.join(urls, "url", "left_semi")
         .where(F.col("status") == "fetched").count())
    frontier_next = (
        snap.frontier.join(urls.withColumn("_re", F.lit(True)), "url", "left")
        .withColumn(
            "status",
            F.when(F.col("_re") & (F.col("status") == "fetched"), F.lit("pending"))
            .otherwise(F.col("status")))
        .drop("_re")
    )
    new_batch = snap.batch_id + 1
    # carry the seen-filter blobs forward so the new snapshot is complete
    if seen is not None and seen.load(out_dir, snap.batch_id):
        seen.save(out_dir, new_batch)
    ST.commit_batch(out_dir, new_batch, frontier_next, snap.politeness,
                    extra={"recrawl_marked": n})
    return n


def purge_urls(spark: SparkSession, out_dir: str, urls,
               cfg: CrawlConfig | None = None) -> int:
    """Retire URLs entirely: DELETE their frontier rows and remove them from
    the URL-seen filter — the flow the deletable cuckoo variant exists for
    (a Bloom filter cannot un-see, so under seen_filter='bloom' this rebuilds
    the filter from the surviving frontier — correct but a full pass).
    Purged URLs CAN later be re-discovered and re-crawled as brand-new
    frontier rows. Returns the number of rows deleted."""
    cfg = cfg or CrawlConfig()
    seen = _seen_filter(cfg)
    if not isinstance(urls, DataFrame):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")
    snap = ST.load_snapshot(spark, out_dir)
    if snap is None:
        raise ValueError(f"no committed snapshot under {out_dir}")
    urls = urls.select("url").distinct()
    doomed = snap.frontier.join(urls, "url", "left_semi")
    n = doomed.count()
    frontier_next = snap.frontier.join(urls, "url", "left_anti")
    new_batch = snap.batch_id + 1
    if cfg.seen_filter == "cuckoo":
        if seen.load(out_dir, snap.batch_id):
            seen.remove(doomed.select("url_hash"))
            seen.save(out_dir, new_batch)
    elif seen is not None:
        seen.rebuild(frontier_next.select("url_hash"))
        seen.save(out_dir, new_batch)
    ST.commit_batch(out_dir, new_batch, frontier_next, snap.politeness,
                    extra={"purged": n})
    return n

