"""The micro-batch frontier crawl loop — the heart of the engine.

Re-expresses the reference's single-threaded loop (crawler/article.py:419-511
+ crawler/article_index.py:119-174) as a Structured-Streaming-style
micro-batch drain over a frontier table:

  pending → [robots split → per-host token bucket admit]  (operators/politeness)
          → [fetch: simulated corpus join | HTTP]  → persist + kind counts
          → bootstrap: getLastPage → seed index rows L..1     (F1)
          → index: parse entries → canonicalize → ANTI-JOIN dedupe → enqueue
          → article: parse fields/pushes/payload → append output tables
          → one per-host tally → politeness spend + lineage metrics
          → frontier/politeness/metrics snapshot (engine/state)

The kind counts are the batch's first job, and they decide what the rest
of it plans: discovery only when a bootstrap or index page was fetched,
``article_index`` only when an index page was, the article parse and its
four tables (hence the post-commit verify) only when an article was. The
frontier checkpoint observes the next batch's pending count, so the loop
ends without a job of its own.

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
- the candidate anti-join is the scale hot spot → ``seen_filter`` opts into
  a partitioned Bloom (or deletable cuckoo) pre-filter, operators/seenfilter,
  so the exact join only sees maybe-seen URLs;
- frontier durability is merge-on-read: each batch commits an O(changes)
  delta, periodically compacted to a full snapshot (engine/state docstring) —
  the Iceberg MERGE INTO analog at the parquet level;
- lineage is broken every batch, so the plan never grows with batch count
  (the classic iterative-job trap): the frontier, which no batch writes in
  full, by an eager localCheckpoint; the small state (politeness, the
  seen-filter blobs) by reading it back from the batch's own commit — the
  files resume reads.
"""

from __future__ import annotations

import datetime as _dt
import functools
import math
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import parse as FP
from ..functions import url as FU
from ..operators import politeness as POL
from . import state as ST
from . import verify as V

# Storage level for the per-batch HEAVY caches (raw html + image payload
# columns): written once, read by every consumer job in the batch,
# unpersisted at batch end. HOW the blocks are built matters more than where
# they live (all measured on the scaling corpus, 172k-URL steady batches, G1):
# - in-memory columnar CACHE COMPRESSION on image payload bytes is pure
#   waste (they are already codec-compressed): cache build 2x slower at
#   every core count. get_spark leaves it on (no perfbench workload told
#   spark.sql.inMemoryColumnarStorage.compressed=false apart from noise);
#   the scaling bench's worker turns it off (bench.WORKER_CONF).
# - an ADAPTIVE (unbounded) G1 young gen re-copies the GBs of surviving
#   cache blocks on every young pause: 2.3 s pauses, 50-80 % of task time
#   in GC at local[32]. A bounded young gen (-XX:G1MaxNewSizePercent=10, a
#   deployment JVM flag the scaling bench's worker sets) promotes the
#   blocks once and cuts GC wall ~6x.
# - OFF_HEAP (tried as the GC fix before the two findings above) builds
#   blocks ~2x slower than on-heap uncompressed (an extra serialization
#   pass into Unsafe buffers) and lost end-to-end once young-gen was
#   bounded: steady batch 49.5 s vs 25.4 s at local[32].
_HEAVY_CACHE = StorageLevel.MEMORY_AND_DISK

_COMPACT_EVERY = 64                  # full-frontier compaction cadence (batches)


class _Phase:
    """Per-batch phase timer; records into ``times``, surfaced as
    ``CrawlResult.batch_stats[i]['phase_s']`` (bench.py's per-phase
    breakdown of the steady batches)."""

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
# the fetcher contract (see crawl): the page columns a fetch adds to its
# admitted frontier rows, NULL for a URL the fetch could not get
PAGE_COLS = [("_html", "string"), ("image_bytes", "binary"), ("w", "int"),
             ("h", "int"), ("fmt", "string"), ("caption", "string"),
             ("phash", "long")]


@dataclass
class CrawlConfig:
    delay_s: float = 2.0            # config_example.ini:14
    batch_seconds: float = 60.0     # logical clock advance per micro-batch
    # host → disallowed URL path prefixes; a matching row ends `failed` in
    # the batch where it is first pending and spends no tokens
    robots: dict[str, list[str]] | None = None
    start_date: _dt.datetime | None = None  # P4 cutoff + early stop
    start_index: int = 1
    end_index: int | None = None    # CLI --index S E upper bound (crawler_arg.py:44-46)
    max_batches: int = 10_000
    seen_filter: str = ""           # '' (exact anti-join) | 'bloom' | 'cuckoo'
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
        """Token bucket burst: one batch's refill."""
        b = self.batch_seconds / self.delay_s
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
        """The latest committed frontier (mark_for_recrawl and purge_urls
        commit past ``final_batch``), without the rest of the snapshot."""
        return ST.load_frontier(self.spark, self.out_dir,
                                ST.latest_committed(self.out_dir))

    def table(self, name: str, with_batch: bool = False) -> DataFrame | None:
        """Output table ``name`` over the committed batches; an output table
        no batch wrote reads as an empty frame of its schema."""
        df = ST.read_table(self.spark, self.out_dir, name,
                           max_batch=self.final_batch, with_batch=with_batch)
        if df is None:
            df = _empty_table(self.spark, name)
            if df is not None and with_batch:
                df = df.withColumn("batch", F.lit(None).cast("int"))
        return df

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


def _frontier_row_cols(df: DataFrame, *extra: str) -> DataFrame:
    """Attach hash/host/salt/priority columns. Input columns: url, kind,
    board, board_rank, page_index, dom_pos, discovery_seq, then ``extra``,
    which pass through last."""
    url = FU.canonicalize(F.col("url"))
    host = FU.host_of(url)
    return df.select(
        url.alias("url"), FU.url_hash64(url).alias("url_hash"),
        FU.url_hash32(url).alias("url_hash32"), host.alias("host"),
        FU.host_salt(host).alias("host_salt"), "kind", "board", "board_rank",
        "page_index", "dom_pos", _priority().alias("priority"),
        "discovery_seq", F.lit("pending").alias("status"),
        F.lit(0).alias("retry_count"), F.lit(-1).cast("long").alias("batch_id"),
        *extra)


def seed_frontier(spark: SparkSession, seeds: list[tuple[str, str]]) -> DataFrame:
    """seeds: [(board, index_html_url)] in crawl order → bootstrap rows."""
    rows = [(board, url, rank) for rank, (board, url) in enumerate(seeds)]
    df = spark.createDataFrame(rows, "board string, url string, board_rank long")
    return _frontier_row_cols(df.select(
        "url", F.lit("bootstrap").alias("kind"), "board", "board_rank",
        F.lit(-1).alias("page_index"), F.lit(-1).alias("dom_pos"),
        F.lit(0).cast("long").alias("discovery_seq")))


def _seen_filter(kind: str):
    """The URL-seen pre-filter state ``kind`` names: None for the exact
    anti-join alone, else an empty BloomState / CuckooState."""
    if kind == "bloom":
        from ..operators import bloom as BL
        return BL.BloomState()
    if kind == "cuckoo":
        from ..operators import cuckoo as CK
        return CK.CuckooState()
    if kind:
        raise ValueError(f"unknown seen_filter {kind!r}")
    return None


# the per-host tally's tags, one count column each
_TALLY = ("admitted", "deferred", "fetched", "failed", "cand", "new")


def _tally(*parts: tuple[DataFrame, F.Column]) -> DataFrame:
    """A batch's per-host numbers from ONE aggregation: each (frame, tag)
    part is projected to (host, host_salt, _k), the parts are unioned and
    every tag of ``_TALLY`` counts into its own column (``count_if``, not
    ``pivot``, which Spark plans as two aggregations). It groups by host
    alone (host_salt, a function of host, rides as ``any_value``), so the
    politeness join on host reuses its shuffle. Not persisted: each of its
    two writes (politeness, metrics) recomputes it from the batch's cached
    frames, which costs fewer jobs than materializing it."""
    tagged = [df.select("host", "host_salt", k.alias("_k")) for df, k in parts]
    return (functools.reduce(DataFrame.unionByName, tagged)
            .groupBy("host")
            .agg(F.any_value("host_salt").alias("host_salt"),
                 *[F.count_if(F.col("_k") == k).alias(k) for k in _TALLY]))


def _stamp(df: DataFrame, batch_id: int,
           status: F.Column | None = None) -> DataFrame:
    """``df``'s frontier columns as rows changed in batch ``batch_id``,
    with ``status`` when given (replaced in place: column order holds)."""
    cols = {"batch_id": F.lit(batch_id).cast("long")}
    if status is not None:
        cols["status"] = status
    return df.withColumns(cols).select(*FRONTIER_COLS)


def _index_entries(ok: DataFrame) -> DataFrame:
    """Index pages → one row per listed article entry."""
    idx = ok.where(F.col("kind") == "index")
    return FP.parse_index_pages(
        idx.select("url", "board", "board_rank", "page_index",
                   F.col("_html").alias("html")))


def _discover(ok: DataFrame, cfg: CrawlConfig) -> DataFrame:
    """A batch's discovered frontier rows: each bootstrap page's descending
    index range (F1) and each index entry's article, with the entry's
    ``entry_web_id`` (NULL on an index row). Every entry keeps its row, so
    ``article_index`` reads the same frame; ``_rn == 1`` marks the one row
    per URL that the batch enqueues (the same URL discovered twice)."""
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
            F.lit(None).cast("string").alias("entry_web_id"),
        )
    )
    candidates = _index_entries(ok).select(
        FU.join_url(F.col("url"), F.col("href")).alias("url"),
        F.lit("article").alias("kind"), "board", "board_rank", "page_index",
        "dom_pos", F.col("dom_pos").cast("long").alias("discovery_seq"),
        "entry_web_id",
    )
    rows = _frontier_row_cols(candidates.unionByName(new_index), "entry_web_id")
    # dedupe within the batch (same URL discovered twice), deterministic
    w_url = Window.partitionBy("url").orderBy(
        F.col("priority").desc(), F.col("discovery_seq").asc())
    return rows.withColumn("_rn", F.row_number().over(w_url))


def _article_index(entries: DataFrame) -> DataFrame:
    return entries.select(F.col("entry_web_id").alias("web_id"), "board",
                          F.col("page_index").alias("index"))


def _articles(ok: DataFrame) -> DataFrame:
    return ok.where(F.col("kind") == "article").withColumn(
        "web_id", FP.web_id_of(F.col("url")))


def _parse_articles(art: DataFrame) -> DataFrame:
    """SINGLE-PASS parse: the multi-KB html column is the batch's dominant
    byte/CPU stream; articles+pushes+errors are all extracted in ONE scan
    whose narrow result the loop persists, so each downstream table write
    reads parsed fields, never raw pages. Measured at local[32]: the
    split-consumer version re-streamed the cached html 3-4x/batch."""
    return FP.parse_article_pages(
        art.select("web_id", "board", "page_index", "dom_pos", "url",
                   F.col("_html").alias("html")))


def _article_tables(art: DataFrame, parsed_all: DataFrame,
                    start_date: _dt.datetime | None
                    ) -> tuple[dict[str, DataFrame], DataFrame | None]:
    """The four article output tables from the single-pass parse, plus the
    per-board stop pages of the start-date cutoff (None without one)."""
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
    # (the loop cancels the pending lower pages).
    stop_pages = None
    if start_date is not None:
        dt_ok = F.col("post_datetime").isNotNull()
        cut = F.lit(start_date)
        stop_pages = (parsed_ok
                      .where(dt_ok & (F.col("post_datetime") < cut))
                      .groupBy("board")
                      .agg(F.min("page_index").alias("_stop_page")))
        parsed_ok = parsed_ok.where(dt_ok & (F.col("post_datetime") >= cut))
    # images read the binary column from the fetched cache; the
    # parse-ok + date-kept row set arrives as a BROADCAST join against
    # the narrow parsed frame's web_ids, not an html re-scan
    kept = F.broadcast(parsed_ok.select(F.col("web_id").alias("image_id")))
    images = (art.where(F.col("image_bytes").isNotNull())
              .select(F.col("web_id").alias("image_id"),
                      F.col("image_bytes").alias("bytes"),
                      "w", "h", "fmt", "caption", "phash")
              .join(kept, "image_id"))
    return {
        "parsed_articles": parsed_ok.drop("parse_error", "pushes", "url"),
        "parsed_pushes": FP.pushes_from_parsed(parsed_ok),
        "images": images,
        "parse_errors": parse_errors,
    }, stop_pages


def _cancel(df: DataFrame, stop_pages: DataFrame) -> DataFrame:
    """Early stop: cancel the pending rows of each stopped board below its
    stop page."""
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


def _empty_table(spark: SparkSession, name: str) -> DataFrame | None:
    """An empty frame with output table ``name``'s schema. A batch writes
    only the tables of the page kinds it fetched, so a crawl that never
    fetched an article (or an index page) has no such dir to read."""
    pages = seed_frontier(spark, []).select(
        "*", *[F.lit(None).cast(t).alias(c) for c, t in PAGE_COLS])
    if name == "article_index":
        return _article_index(_index_entries(pages))
    art = _articles(pages)
    return _article_tables(art, _parse_articles(art), None)[0].get(name)


def _fetch_corpus(corpus: DataFrame, admitted: DataFrame) -> DataFrame:
    """Simulated fetch: URL → page body from the ``corpus`` page table. The
    admitted set (bounded by the politeness budget) is broadcast into the
    corpus scan, so the multi-GB corpus is never shuffled — a single pass
    with a runtime filter, not a sort-merge join spilling both sides.

    Scan pruning: the admitted set has page LOCALITY (the discovery barrier
    admits ~one index page's articles per host per batch), so when the
    corpus is partitioned by (kind, page_index) (bench.prepare_corpus) a
    static filter over the batch's distinct (kind, page_index) pairs prunes
    the scan to the partitions actually being "fetched" — the
    simulated-network analog of fetch cost scaling with the batch, not the
    site. The collect is over the aggregated pair set (≤ pages per board),
    not rows. Corpus contract: an article row's page_index is the index page
    that lists it (synth/site.py guarantees it)."""
    pages = corpus.select("url", "kind", "page_index", *[
        F.col("html").alias(c) if c == "_html" else c for c, _ in PAGE_COLS])
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
    pages = pages.where(prune)
    adm = admitted.withColumn(
        "_page_kind",
        F.when(F.col("kind") == "bootstrap", F.lit("index"))
        .otherwise(F.col("kind")))
    matched = (
        pages.drop("page_index")
        .withColumnRenamed("kind", "_page_kind")
        .join(F.broadcast(adm), ["url", "_page_kind"])
        .drop("_page_kind"))
    missing = admitted.join(pages.select("url"), "url", "left_anti")
    missing = missing.select(
        "*", *[F.lit(None).cast(t).alias(c) for c, t in PAGE_COLS])
    return matched.unionByName(missing)


def crawl(spark: SparkSession, corpus: DataFrame | None,
          seeds: list[tuple[str, str]],
          out_dir: str, cfg: CrawlConfig | None = None,
          resume: bool = False, fetcher=None) -> CrawlResult:
    """``corpus``: simulated-fetch page table (tests/benches), or None when
    ``fetcher`` is given — a callable admitted-DataFrame → fetched-DataFrame
    (same rows + the ``PAGE_COLS`` columns), e.g.
    sources.http_fetch.fetcher_for for a REAL network fetch stage; the
    politeness operator has already bounded each host's admitted rows.

    Holds the store lock (_LOCK.json) for the whole run: a migration
    (engine/migrate.migrate_state) must never rewrite state dirs under a
    live crawl and vice versa. A brand-new store is stamped at the HEAD
    schema revision before batch 0 (engine/migrate.stamp_new_store), so
    `migrate current` reports the truth and the first migrate is a no-op."""
    from . import migrate as MG

    if fetcher is None:
        if corpus is None:
            raise ValueError("need a corpus or a fetcher")
        fetcher = functools.partial(_fetch_corpus, corpus)
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
            return _crawl_impl(spark, fetcher, seeds, out_dir, cfg, resume,
                               verify_pool)
    finally:
        ST.release_lock(lock)


def _crawl_impl(spark: SparkSession, fetch, seeds: list[tuple[str, str]],
                out_dir: str, cfg: CrawlConfig | None, resume: bool,
                verify_pool: ThreadPoolExecutor) -> CrawlResult:
    cfg = cfg or CrawlConfig()
    bloom = _seen_filter(cfg.seen_filter)

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
        politeness = POL.spend(None, _tally((frontier, F.lit("new"))),
                               cfg.burst, cfg.delay_s)
        batch_id = -1

    if bloom is not None:
        if snap is not None and snap.seen and snap.seen[0] == bloom.NAME:
            bloom.restore(snap.seen[1])
        else:
            bloom.rebuild(frontier.select("url_hash"))

    n_fetched_total = 0
    batches_run = 0
    batch_stats: list[dict] = []
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
    # the one explicit pending check: no checkpoint has counted this
    # (seeded or resumed) frontier yet; every later batch's frontier
    # checkpoint observes its own pending count
    has_pending = not frontier.where(F.col("status") == "pending").isEmpty()
    while has_pending and batches_run < cfg.max_batches:
        batches_run += 1
        batch_id += 1
        t_batch = time.perf_counter()
        ph = _Phase()
        pending = frontier.where(F.col("status") == "pending")
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
        # admitted/deferred → the tally under the politeness and metrics
        # writes, deferred → early-stop cancel) — persist the narrow frame
        # so the per-host admit window computes once, not once per
        # consuming job
        marked = marked.persist()
        admitted = marked.where(F.col("admit")).drop("admit")
        fetched = fetch(admitted).persist(_HEAVY_CACHE)
        # materialize the batch ONCE, before anything else is planned: this
        # kind-count collect is the batch's single full pass over `fetched`
        # (the corpus scan / network fetch), and its per-kind OK counts
        # decide which of the stages below the batch needs at all — an
        # index batch plans no article parse or article-table writes, an
        # article batch no discovery. The pass must also COMPLETE before
        # the parallel commit writes are submitted: concurrent jobs over a
        # still-lazy persist each race to compute the missing partitions,
        # re-scanning the corpus up to once per job (measured on the 2.7 GB
        # scaling corpus: 9 concurrent writes turned a 256-URL bootstrap
        # batch into 60 s of redundant scans; with the pass completed first
        # the same batch is ~2 s).
        kc = {r["kind"]: (r["cnt"], r["n_fail"]) for r in (
            fetched.groupBy("kind")
            .agg(F.count("*").alias("cnt"),
                 F.sum(F.when(F.col("_html").isNull(), 1).otherwise(0))
                 .alias("n_fail"))
            .collect())}
        n_ok = {k: cnt - n_fail for k, (cnt, n_fail) in kc.items()}
        ph.mark("admit+fetch (kind counts)")

        ok = fetched.where(F.col("_html").isNotNull())
        tables: dict[str, DataFrame] = {}
        discovered = pre_anti = new_rows = None
        if n_ok.get("bootstrap") or n_ok.get("index"):
            # one cache holds the index parse: the enqueue side and the
            # article_index write both read it, so each page parses once
            discovered = _discover(ok, cfg).persist()
            pre_anti = discovered.where(F.col("_rn") == 1).select(*FRONTIER_COLS)
            # URL-seen: bloom pre-filter (scale path) + exact anti-join (truth)
            if bloom is not None:
                maybe_seen, definitely_new = bloom.split(pre_anti)
                verified_new = maybe_seen.join(frontier.select("url"), "url", "left_anti")
                new_rows = definitely_new.unionByName(verified_new)
            else:
                new_rows = pre_anti.join(frontier.select("url"), "url", "left_anti")
            # materialize discovery once (the count also fills
            # discovered's cache): the checkpoints, the delta, politeness and
            # metrics writes all read it concurrently, and racing a lazy
            # persist would re-run the index parse and anti-join once per job
            new_rows = new_rows.persist()
            new_rows.count()
            if n_ok.get("index"):
                tables["article_index"] = _article_index(
                    discovered.where(F.col("entry_web_id").isNotNull()))
        ph.mark("discover")

        parsed_all = stop_pages = None
        if n_ok.get("article"):
            art = _articles(ok)
            parsed_all = _parse_articles(art).persist(_HEAVY_CACHE)
            art_tables, stop_pages = _article_tables(art, parsed_all,
                                                     cfg.start_date)
            tables.update(art_tables)
            # materialize the single-pass parse BEFORE the parallel commit
            # writes for the same reason as the kind counts: concurrent jobs
            # over a lazy persist race to compute missing partitions,
            # re-running the parse once per consumer. One count = one parse
            # pass, then every write job reads the narrow cached result.
            parsed_all.count()
        ph.mark("parse articles (single-pass)")

        # --- frontier DELTA (merge-on-read): O(changes) rows, not O(|frontier|)
        changed = _stamp(fetched, batch_id, F.when(
            F.col("_html").isNotNull(), F.lit("fetched")).otherwise(F.lit("failed")))
        if blocked is not None:
            changed = changed.unionByName(
                _stamp(blocked, batch_id, F.lit("failed")))
        delta = changed
        if new_rows is not None:
            delta_new = _stamp(new_rows, batch_id)
            if stop_pages is not None:
                delta_new = _cancel(delta_new, stop_pages)
            delta = delta.unionByName(delta_new)
        if stop_pages is not None:
            # early stop also cancels this board's older deferred rows
            cancelled_old = (
                _cancel(marked.where(~F.col("admit")).drop("admit"), stop_pages)
                .where(F.col("status") == "cancelled"))
            delta = delta.unionByName(cancelled_old.select(*FRONTIER_COLS))

        # next frontier = merge(delta over current) — the SAME latest-wins
        # semantics state.load_frontier replays from the delta files, so the
        # in-memory path and the resume path agree by construction
        frontier_next = (
            frontier.join(delta.select("url"), "url", "left_anti")
            .unionByName(delta)
        )

        # the batch's per-host numbers: admitted/deferred from the admit,
        # fetched/failed (robots-blocked rows included) from the status
        # change, and on discovery batches the candidates and the new rows
        parts = [(marked, F.when(F.col("admit"), F.lit("admitted"))
                  .otherwise(F.lit("deferred"))),
                 (changed, F.col("status"))]
        if new_rows is not None:
            parts += [(pre_anti, F.lit("cand")), (new_rows, F.lit("new"))]
        tally = _tally(*parts)
        # spend the admitted tokens; each newly seen host opens a bucket
        politeness_next = POL.spend(politeness, tally, cfg.burst, cfg.delay_s)
        # per-partition lineage (north rule): a row per host whose status
        # changed, deduped = discovered-this-batch minus actually-new
        metrics = tally.where(F.col("fetched") + F.col("failed") > 0).select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            F.col("host_salt").alias("partition_id"), "host", "fetched",
            (F.col("cand") - F.col("new")).alias("deduped"), "deferred",
            "failed")

        if bloom is not None and new_rows is not None:
            bloom.add(new_rows.select("url_hash"))

        ph.mark("plan frontier/politeness/metrics")
        # lineage break: the frontier is merge-on-read (a batch commits
        # only its delta), so it is checkpointed WITHOUT a parquet
        # round-trip into executor block storage; the next batch plans
        # against a compact leaf, and plan depth stays O(1) in batch count.
        # (Reliable checkpoint dir on a real cluster.) The explicit
        # repartition pins the partition count — a bare anti-join ∪ delta
        # union would ADD the delta's partitions to the frontier's every
        # batch, growing task counts without bound. The checkpoint also
        # observes the next batch's pending count, so the loop needs no job
        # of its own to know whether to go on. It runs CONCURRENTLY with
        # the commit writes (safe now that `fetched` is fully materialized —
        # every job reads the cache, nothing races to recompute it), so its
        # wall time hides behind the write jobs. The small state comes back
        # from the commit itself (at most one file per core, so its
        # partition count stays bounded too).
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        pending_next = Observation()

        def _in_loop_pool(fn):
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", "loop")
            return fn()

        with ThreadPoolExecutor(max_workers=1) as ckpt_pool:
            fut_frontier = ckpt_pool.submit(
                _in_loop_pool,
                lambda: frontier_next.repartition(n_shuffle, "url")
                .observe(pending_next, F.count_if(F.col("status") == "pending")
                         .alias("n"))
                .localCheckpoint(eager=True))
            # the durability writes (output tables + state + marker) run on
            # this thread beside the checkpoint job; the batch ends when
            # its own commit lands, so one batch's heavy caches are resident
            # at a time
            full_due = batch_id % _COMPACT_EVERY == 0
            small = ST.commit_batch(
                out_dir, batch_id,
                frontier=frontier_next if full_due else None,
                politeness=politeness_next, metrics=metrics, tables=tables,
                frontier_delta=None if full_due else delta,
                seen=None if bloom is None else (bloom.NAME, bloom.blobs))
        frontier = fut_frontier.result()
        politeness = small["politeness"]
        if bloom is not None:
            bloom.blobs = small[bloom.NAME]
        has_pending = pending_next.get["n"] > 0
        for df in (fetched, parsed_all, discovered, new_rows, marked):
            if df is not None:
                df.unpersist()
        # batch N durably committed → its verify runs while batch N+1
        # computes (reads the committed parquet, pins no cache)
        _submit_verify(batch_id)
        ph.mark("commit + checkpoint")
        n_rows = sum(c for c, _ in kc.values())
        stats = {
            "batch_id": batch_id,
            "fetched": n_rows,
            "bootstrap": n_ok.get("bootstrap", 0),
            "index": n_ok.get("index", 0),
            "article": n_ok.get("article", 0),
            "wall_s": round(time.perf_counter() - t_batch, 3),
            "phase_s": dict(ph.times),
        }
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


def _edit_snapshot(spark: SparkSession, out_dir: str, urls, key: str,
                   edit) -> int:
    """Commit the latest snapshot's frontier as edited by ``edit(snap,
    urls)`` → (next frontier, rows touched, seen-filter state) as the next
    batch, with the snapshot's politeness and the rows touched under
    ``key`` in its marker. ``urls``: a DataFrame with a ``url`` column or a
    list of url strings, taken distinct. Returns the rows touched."""
    if not isinstance(urls, DataFrame):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")
    snap = ST.load_snapshot(spark, out_dir)
    if snap is None:
        raise ValueError(f"no committed snapshot under {out_dir}")
    frontier_next, n, seen = edit(snap, urls.select("url").distinct())
    ST.commit_batch(out_dir, snap.batch_id + 1, frontier_next, snap.politeness,
                    extra={key: n}, seen=seen)
    return n


def mark_for_recrawl(spark: SparkSession, out_dir: str, urls) -> int:
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
    def edit(snap: ST.Snapshot, urls: DataFrame):
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
        # carry the seen-filter blobs forward so the new snapshot is complete
        return frontier_next, n, snap.seen
    return _edit_snapshot(spark, out_dir, urls, "recrawl_marked", edit)


def purge_urls(spark: SparkSession, out_dir: str, urls) -> int:
    """Retire URLs entirely: DELETE their frontier rows and remove them from
    the URL-seen filter — the flow the deletable cuckoo variant exists for
    (a Bloom filter cannot un-see, so under seen_filter='bloom' this rebuilds
    the filter from the surviving frontier — correct but a full pass).
    Purged URLs CAN later be re-discovered and re-crawled as brand-new
    frontier rows. Returns the number of rows deleted."""
    def edit(snap: ST.Snapshot, urls: DataFrame):
        doomed = snap.frontier.join(urls, "url", "left_semi")
        n = doomed.count()
        frontier_next = snap.frontier.join(urls, "url", "left_anti")
        seen = snap.seen
        if seen is not None:             # the store's own filter kind
            kind, blobs = seen
            filt = _seen_filter(kind)
            if kind == "cuckoo":
                filt.restore(blobs)
                filt.remove(doomed.select("url_hash"))
            else:
                filt.rebuild(frontier_next.select("url_hash"))
            seen = (kind, filt.blobs)
        return frontier_next, n, seen
    return _edit_snapshot(spark, out_dir, urls, "purged", edit)
