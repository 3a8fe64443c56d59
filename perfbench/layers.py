"""The traced run: span wrappers around each layer's public functions, the
report over the drained store, replays that give the lazy layers' executor
busy time, and the per-layer metrics (names and units in perfbench/README.md).
Metrics of the crawl's layers cover the timed drain only, from the warm-up
batch's commit to the end of the crawl call.
"""

from __future__ import annotations

import math
import statistics
import time
from pathlib import Path

from perfbench.tracing import Tracer

# lazy DataFrame builders: a call only plans, so its span is driver plan time
LAZY = {
    "politeness.refill": ("operators.politeness", "refill"),
    "politeness.admit_window": ("operators.politeness", "admit_window"),
    "politeness.spend": ("operators.politeness", "spend"),
    "parse.parse_index_pages": ("functions.parse", "parse_index_pages"),
    "parse.parse_article_pages": ("functions.parse", "parse_article_pages"),
    "url.canonicalize": ("functions.url", "canonicalize"),
}
# eager calls: a span is the call's busy time
EAGER = {
    "state.commit_batch": ("engine.state", "commit_batch"),
    "verify.verify_committed_batch": ("engine.verify", "verify_committed_batch"),
    "store.build_relational": ("engine.store", "build_relational"),
    "seq.with_global_seq": ("engine.store", "with_global_seq"),
    "export.export_sheets": ("engine.export", "export_sheets"),
    "query.write_report_csv": ("engine.query", "write_report_csv"),
}
READS = {
    "state.load_snapshot": ("engine.state", "load_snapshot"),
    "state.load_frontier": ("engine.state", "load_frontier"),
    "state.read_table": ("engine.state", "read_table"),
}


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest whole percentile that keeps
    at least ten samples beyond it; the maximum when there are too few."""
    n = len(values)
    if n <= 10:
        return max(values), 100.0, n
    q = math.floor(100.0 * (n - 10) / n)
    return _percentile(values, q), float(q), n


def _module(path: str):
    import importlib
    return importlib.import_module(f"pttcrawler_spark.{path}")


def _data_files(d: Path) -> list[Path]:
    return [p for p in d.glob("part-*") if p.is_file()]


def _frontier_files(spark, out_dir, bid, *a, **kw) -> dict:
    from pttcrawler_spark.engine import state as ST
    state = Path(out_dir) / ST.STATE
    base = next((b for b in range(bid, -1, -1)
                 if (state / f"batch={b}" / "frontier" / "_SUCCESS").exists()), 0)
    dirs = [state / f"batch={base}" / "frontier"] + [
        state / f"batch={b}" / "frontier_delta" for b in range(base + 1, bid + 1)]
    return {"files": sum(len(_data_files(d)) for d in dirs)}


def _table_files(spark, out_dir, name, max_batch=None, *a, **kw) -> dict:
    base = Path(out_dir) / "tables" / name
    dirs = [p for p in base.glob("batch=*")
            if max_batch is None or int(p.name.split("=")[1]) <= max_batch]
    return {"files": sum(len(_data_files(d)) for d in dirs)}


def install(run_id: str, spark) -> Tracer:
    """Wrap every layer's public functions in spans, and take the Spark
    task-metric totals (``tracer.tm0``) when the warm-up batch's commit
    returns: the start of the timed drain."""
    from pttcrawler_spark.engine import state as ST
    from pttcrawler_spark.engine import taskmetrics as TM
    tracer = Tracer(run_id)
    counters = {"state.load_frontier": _frontier_files,
                "state.read_table": _table_files}
    for table in (LAZY, EAGER, READS):
        for name, (mod, attr) in table.items():
            tracer.wrap(_module(mod), attr, name, counters.get(name))
    commit = ST.commit_batch
    tracer.tm0 = None

    def commit_batch(out_dir, batch_id, *args, **kwargs):
        out = commit(out_dir, batch_id, *args, **kwargs)
        if batch_id == 0:
            tracer.tm0 = TM.sample(spark)
        return out
    tracer.patch(ST, "commit_batch", commit_batch)
    return tracer


def spark_sample(spark) -> dict:
    """Cumulative task-metric totals from the UI REST API, once the status
    store has caught up with the finished stages."""
    from pttcrawler_spark.engine import taskmetrics as TM
    prev = TM.sample(spark)
    for _ in range(20):
        time.sleep(0.25)
        cur = TM.sample(spark)
        if prev is not None and cur == prev:
            return cur
        prev = cur
    if prev is None:
        raise RuntimeError("task metrics unavailable: is the Spark UI up?")
    return prev


def traced_crawl(tracer: Tracer, bench) -> dict:
    with tracer.span("crawl", root=True):
        return bench.crawl()


def traced_report(tracer: Tracer, bench, store: Path) -> tuple[dict, float]:
    t0 = time.time()
    with tracer.span("report", root=True):
        outputs = bench.report(store)
    return outputs, time.time() - t0


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def replay(bench, store: Path, first_batch: int, last_batch: int,
           ips) -> dict:
    """Call the lazy layers' public functions again on inputs read back from
    the committed store and the corpus, each forced through the noop sink
    over cached inputs: the wall time of that job is the layer's executor
    busy time for the whole drain. ``ips`` is the report's ``ip_asn`` table
    before enrichment."""
    from pyspark.sql import functions as F

    from pttcrawler_spark.engine import state as ST
    from pttcrawler_spark.functions import parse as FP
    from pttcrawler_spark.functions import url as FU
    from pttcrawler_spark.operators import politeness as POL

    spark, cfg = bench.spark, bench.crawl_cfg
    out = {"politeness.admit_s": 0.0}
    for bid in range(first_batch, last_batch + 1):
        pending = (ST.load_frontier(spark, str(store), bid - 1)
                   .where(F.col("status") == "pending").cache())
        pol = spark.read.parquet(
            str(store / ST.STATE / f"batch={bid - 1}" / "politeness")).cache()
        pending.count(), pol.count()
        out["politeness.admit_s"] += _noop(POL.admit_window(
            pending, POL.refill(pol, cfg.batch_seconds, cfg.burst),
            max_budget=math.ceil(cfg.burst)))
        pending.unpersist(), pol.unpersist()

    final = ST.load_frontier(spark, str(store), last_batch).cache()
    corpus = bench.corpus()
    fetched = final.where(F.col("status") == "fetched")
    arts = (corpus.where(F.col("kind") == "article")
            .join(fetched.select("url"), "url", "left_semi")
            .select("web_id", "board", "page_index", "dom_pos", "url", "html")
            .cache())
    idx = (corpus.where(F.col("kind") == "index").drop("page_index", "board")
           .join(fetched.where(F.col("kind") != "article")
                 .select("url", "board", "board_rank", "page_index"), "url")
           .select("url", "board", "board_rank", "page_index", "html").cache())
    arts.count(), idx.count()
    out["parse.article_s"] = _noop(FP.parse_article_pages(arts))
    out["parse.index_s"] = _noop(FP.parse_index_pages(idx))
    url = FU.canonicalize(F.col("url"))
    out["url.rows_s"] = _noop(final.select(
        FU.url_hash64(url), FU.url_hash32(url), FU.host_salt(FU.host_of(url))))
    for df in (arts, idx, final):
        df.unpersist()

    from pttcrawler_spark.engine import store as S
    ips = ips.cache()
    ips.count()
    out["store.enrich_s"] = _noop(S.enrich_ip_asn(ips))
    ips.unpersist()
    return out


def _store_counts(bench, store: Path, last_batch: int) -> dict:
    from pyspark.sql import functions as F

    from pttcrawler_spark.engine import state as ST
    spark = bench.spark
    m = ST.read_metrics(spark, str(store)).agg(
        F.sum("fetched"), F.sum("failed"), F.sum("deferred"),
        F.sum("deduped")).first()
    fetched, failed, deferred, deduped = (int(x or 0) for x in m)
    frontier_rows = ST.load_frontier(spark, str(store), last_batch).count()

    def rows(name):
        df = ST.read_table(spark, str(store), name)
        return 0 if df is None else df.count()

    files = [p for p in store.rglob("*")
             if p.is_file() and p.name.startswith("part-")
             and "report" not in p.parts]
    return {
        "admitted": fetched + failed, "deferred": deferred, "deduped": deduped,
        # every frontier row but the seeds was a candidate that survived the
        # URL-seen anti-join; deduped ones did not
        "candidates": frontier_rows - len(bench.seeds) + deduped,
        "parse_errors": rows("parse_errors"), "verify_rows": rows("payload_verify"),
        "files": len(files), "bytes": sum(p.stat().st_size for p in files),
    }


def per_layer(tracer: Tracer, bench, drained: dict, tm1: dict,
              urls_per_s: float, report_s: float, replayed: dict) -> dict:
    if tracer.tm0 is None:
        raise RuntimeError("task metrics unavailable: is the Spark UI up?")
    tm0 = tracer.tm0
    drain = tracer.since(drained["start"])      # the timed drain
    report = tracer.since(drained["end"])       # the report path
    batches = drained["batches"]
    crawl_wall = drained["crawl_s"]
    final_batch = drained["result"].final_batch
    counts = _store_counts(bench, drained["store"], final_batch)
    n_store_batches = final_batch + 1
    d = {k: tm1[k] - tm0[k] for k in tm1}
    run_s = d["run_ms"] / 1e3
    commits = [s["end"] - s["start"] for s in drain.named("state.commit_batch")]
    commit_tail, _, _ = tail(commits)
    verifies = [s["end"] - s["start"]
                for s in drain.named("verify.verify_committed_batch")]
    srv = (bench.server.window(drained["start"], drained["end"])
           if bench.server else None)
    fetched = drained["fetched"]
    crawl_spans = drain.named("crawl")
    reads = [s for n in READS for s in report.named(n)]
    read_ids = {s["id"] for s in reads}
    return {
        "crawl.batches": (batches, "count"),
        "crawl.stages_per_batch": (d["stages"] / batches, "count"),
        "crawl.plan_s": (sum(drain.total(n) for n in LAZY), "s"),
        "crawl.self_s": (sum(drain.self_time(s) for s in crawl_spans), "s"),
        "crawl.core_util": (run_s / (bench.cores * crawl_wall), "ratio"),
        "politeness.admit_s": (replayed["politeness.admit_s"], "s"),
        "politeness.admitted": (counts["admitted"], "count"),
        "politeness.deferred": (counts["deferred"], "count"),
        "politeness.admit_frac": (counts["admitted"] / max(
            counts["admitted"] + counts["deferred"], 1), "ratio"),
        "url.rows_s": (replayed["url.rows_s"], "s"),
        "seen.candidates": (counts["candidates"], "count"),
        "seen.deduped": (counts["deduped"], "count"),
        "parse.article_s": (replayed["parse.article_s"], "s"),
        "parse.index_s": (replayed["parse.index_s"], "s"),
        "parse.errors": (counts["parse_errors"], "count"),
        "state.commit_p50_s": (statistics.median(commits), "s"),
        "state.commit_tail_s": (commit_tail, "s"),
        "state.bytes_per_batch": (counts["bytes"] / n_store_batches, "B"),
        "state.files_per_batch": (counts["files"] / n_store_batches, "count"),
        # load_snapshot calls load_frontier: count outermost reads only
        "state.load_s": (sum(s["end"] - s["start"] for s in reads
                             if s["parent"] not in read_ids), "s"),
        "state.files_read": (sum(s.get("files", 0) for s in reads), "count"),
        "verify.batch_s": (statistics.median(verifies) if verifies else 0.0, "s"),
        "verify.rows": (counts["verify_rows"], "count"),
        "http.requests": (srv["requests"] if srv else 0, "count"),
        "http.requests_per_url": ((srv["requests"] / fetched) if srv else 0.0,
                                  "ratio"),
        "http.service_s": (srv["service_s"] if srv else 0.0, "s"),
        "http.inflight_max": (srv["inflight_max"] if srv else 0, "count"),
        "store.build_s": (report.total("store.build_relational"), "s"),
        "store.enrich_s": (replayed["store.enrich_s"], "s"),
        "export.sheets_s": (report.total("export.export_sheets"), "s"),
        "query.report_s": (report.total("query.write_report_csv"), "s"),
        "report.report_s": (report_s, "s"),
        "spark.run_s": (run_s, "s"),
        "spark.cpu_frac": (d["cpu_ns"] / 1e9 / run_s, "ratio"),
        "spark.gc_frac": (d["gc_ms"] / 1e3 / run_s, "ratio"),
        "spark.input_bytes": (d["input_bytes"], "B"),
        "spark.shuffle_bytes": (d["shuffle_write_bytes"], "B"),
        "trace.urls_per_s": (urls_per_s, "URL/s"),
    }
