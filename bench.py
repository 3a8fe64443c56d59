#!/usr/bin/env python
"""Benchmark entry point (driver contract).

Prints ONE COMPACT JSON line (stdout carries nothing else; the driver's
capture truncates, so the line stays well under 2000 chars — round 2's
BENCH_r02.json had parsed:null because the full scaling blob rode along):
  {"metric": ..., "value": N, "unit": "sec", "queries": {name: sec, ...},
   "sf": ..., "crawl_urls_per_sec": N, "scaling": {<summary only>}}
Full per-batch / per-phase detail goes to BENCH_DETAIL.json
next to this file; the scaling run's full blob goes to BENCH_SCALING.json.

Parts:
- headline relational/dedup/text/ann queries from pttcrawler_spark.suite at
  $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
  local[$SPARK_GRAFT_CPUS] (default 32), each materialized through the noop
  sink (full execution, no driver collect);
- the crawl-engine throughput microbench (BASELINE.md target metric,
  URLs/sec) over a deterministic synthetic multi-host site;
- the N-vs-4N scaling run (--scaling): the SAME crawl job on the SAME
  pre-generated corpus at local[2] / local[8] / local[32], each level in a
  fresh JVM built by ``session.get_spark`` plus the worker's fixed
  ``WORKER_CONF`` — the sandbox substitution for the north rule's
  two-cluster-size criterion. The full result goes to BENCH_SCALING.json;
  the printed line carries its summary only when this run measured it.

Worker mode (internal): ``python bench.py --crawl-worker --cores K
--corpus DIR --site '<json>' --out F`` crawls a pre-generated corpus in a
fresh interpreter and writes its JSON to F.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
# bench scratch lives on tmpfs when available: we benchmark the engine's
# compute + orchestration, not the sandbox VM's virtual-disk jitter
SCRATCH = "/dev/shm" if os.path.isdir("/dev/shm") else None

# Headline set: one representative per operator family; the O(n^2) pair
# queries (dedup_ngram_jaccard / dedup_embedding_cosine) are correctness-only
# and excluded here — their scale path is the LSH/banded variants.
HEADLINE = [
    "flagship_tw_report",
    "j3_four_way",
    "p6_in_list_semi",
    "a3_push_tally",
    "w1_latest_version",
    "w4_floor_enumerate",
    "stream_sessionize",
    "events_json_extract",
    "text_top_tokens",
    "text_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "img_verify_psnr",
]

# default crawl microbench site (≈99k URLs, ~33k-article steady batches —
# big enough that the ~3-4 s per-batch fixed cost is <15% of a steady batch
# at local[32]; the tiny 64-articles/page site reported a third of the
# engine's sustained rate for fixed-cost reasons alone)
SITE_DEFAULT = {"n_boards": 128, "pages_per_board": 3, "articles_per_page": 256,
                "img_w": 64, "img_h": 64}
# scaling site: wide pages (~172k-article steady batches) so executor-parallel
# compute dominates the per-batch fixed cost — the sandbox stand-in for
# production batches of 10^6-10^7 URLs where fixed cost is <1% (BASELINE.md)
# 5 pages/board → 7 identical full-size drain batches: JIT/codegen warmup
# keeps improving through the first ~2 minutes of hot loop, so a short run
# taxes the FAST level proportionally more; a longer steady window (first
# full batch dropped, 6 metered) makes the per-level medians comparable
SITE_SCALING = {"n_boards": 128, "pages_per_board": 5,
                "articles_per_page": 1536, "img_w": 64, "img_h": 64}
SCALING_LEVELS = (2, 8, 32)

# Crawl-worker JVM and cache layout for the large steady batches above,
# applied on top of get_spark's settings. Every scaling number in
# BASELINE.md ran with these; they stay until the local[2]/[8]/[32] ladder
# is re-measured without them (ROADMAP.md, open items). The perfbench
# workloads could not tell any of them apart from noise.
WORKER_CONF = {
    # the fetch scan's partition count caps the parallelism of every
    # downstream stage in the batch (parse/verify/write); coarse splits of
    # a ~2 GB page partition give fewer tasks than cores at local[32]
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    # the per-batch heavy caches are dominated by image payload bytes that
    # are ALREADY codec-compressed: compressing them again doubles
    # cache-build time at every core count (engine.crawl._HEAVY_CACHE)
    "spark.sql.inMemoryColumnarStorage.compressed": "false",
    # G1 with a BOUNDED young gen: the per-batch cache blocks survive while
    # the batch runs, and an adaptive young gen re-copies those GBs on
    # every young pause (2.3 s pauses at local[32]; bounded: 0.27 s, GC
    # wall cut ~6x). AlwaysPreTouch zeroes the committed heap at startup,
    # before the timed region.
    "spark.driver.extraJavaOptions":
        "-XX:+AlwaysPreTouch -XX:+UseG1GC "
        "-XX:+UnlockExperimentalVMOptions -XX:G1MaxNewSizePercent=10",
    # a forced periodic full GC is a stop-the-world pause whose cost does
    # not shrink with cores; inside a ~4 min measured run it lands as random
    # 5-15 s stalls. One run fits in one interval; the crawl loop's explicit
    # unpersists cover steady-state block cleanup.
    "spark.cleaner.periodicGC.interval": "600s",
}


def _noop_run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _site_cfg(site: dict):
    from pttcrawler_spark.synth import site as S
    return S.SiteConfig(**site)


def prepare_corpus(spark, site: dict, path: str) -> None:
    from pttcrawler_spark.synth import site as S
    # (kind, page_index)-partitioned: each crawl batch admits ~one index
    # page's articles per host (discovery barrier), and the fetch stage
    # statically prunes the scan to the batch's (kind, page_index) pairs —
    # so simulated fetch cost scales with the batch, not the whole site
    (S.generate_site(spark, _site_cfg(site)).write.mode("overwrite")
     .partitionBy("kind", "page_index").parquet(path))


def crawl_corpus(cores: int, site: dict, corpus_path: str) -> dict:
    """Crawl a pre-generated corpus as fast as politeness allows (budget set
    non-binding) and report overall + sustained URLs/sec."""
    from pttcrawler_spark.engine import crawl as C
    from pttcrawler_spark.session import get_spark

    local_dir = tempfile.mkdtemp(prefix=f"spark_local_{cores}_", dir=SCRATCH)
    out = tempfile.mkdtemp(prefix="crawl_bench_out_", dir=SCRATCH)
    try:
        # the engine's own settings come from get_spark
        spark = get_spark(cores, app_name=f"crawl_bench_{cores}", extra_conf={
            **WORKER_CONF,
            # shuffle files + cache overflow on fast scratch, not the VM's
            # virtual disk (a real executor's local NVMe)
            "spark.local.dir": local_dir,
            # heap ∝ cores + a fixed driver allowance: "4N executors" means
            # 4N x the executor MEMORY as well as the CPU — a flat heap
            # hands the small level more GB/core than the large one,
            # inflating the low-core baseline (less GC) and deflating every
            # N→4N ratio. 1 GB/core plus a 4 GB share for the driver itself
            # (a real cluster's driver is a separate fixed-size process).
            "spark.driver.memory": f"{4 + cores}g",
        })
        cfg = _site_cfg(site)
        # NOT persisted: each batch re-scans the corpus through the
        # broadcast fetch join (no shuffle); the OS page cache serves the
        # re-reads, which is both faster and more stable than JVM
        # storage-memory eviction
        corpus = spark.read.parquet(corpus_path)
        ccfg = C.CrawlConfig(delay_s=0.01, batch_seconds=60.0)
        t0 = time.perf_counter()
        res = C.crawl(spark, corpus, cfg.seeds(), out, ccfg)
        wall = time.perf_counter() - t0
        n_fetched = res.frontier().where("status = 'fetched'").count()
        # sustained = throughput over the steady-state drain batches (>=50%
        # of peak batch size). Production batches are 10^6-10^7 URLs where
        # the fixed per-batch cost is <1%; sandbox batches are 10^3-10^4, so
        # the overall number still carries bootstrap/discovery fixed costs —
        # report both.
        peak = max((b["fetched"] for b in res.batch_stats), default=0)
        steady = [b for b in res.batch_stats if b["fetched"] >= peak / 2 and peak > 0]
        if len(steady) >= 3:
            # the first full-size batch carries one-time JIT/codegen/Arrow
            # warmup (measured ~2-3x the warm batch time) — drop it
            steady = steady[1:]
        sustained = (sum(b["fetched"] for b in steady)
                     / max(sum(b["wall_s"] for b in steady), 1e-9))
        # median batch throughput: this sandbox VM shows occasional
        # multi-second host stalls (steal time up to ~13% observed; one
        # measured batch took 111 s against 22-24 s identical neighbors) —
        # the mean is poisoned by a single stall, the across-batch median of
        # IDENTICAL drain batches is the honest steady-state figure. Both
        # are reported.
        rates = sorted(b["fetched"] / b["wall_s"] for b in steady if b["wall_s"] > 0)
        median = rates[len(rates) // 2] if rates else 0.0
        # per-phase medians over the steady window: the scaling question at
        # the NEXT level of detail — which named part of a batch (admit/fetch
        # planning, discovery, materialize-scan, materialize-parse,
        # commit+checkpoint) stops scaling between levels
        phase_meds = None
        phased = [b for b in steady if b.get("phase_s")]
        if phased:
            phase_meds = {}
            for k in sorted({k for b in phased for k in b["phase_s"]}):
                vals = sorted(b["phase_s"].get(k, 0.0) for b in phased)
                phase_meds[k] = round(vals[len(vals) // 2], 3)
        return {
            "cores": cores,
            "urls_fetched": n_fetched,
            "wall_s": round(wall, 3),
            "urls_per_sec": round(n_fetched / wall, 2),
            "sustained_urls_per_sec": round(sustained, 2),
            "median_batch_urls_per_sec": round(median, 2),
            "batches": res.final_batch + 1,
            **({"steady_phase_medians_s": phase_meds} if phase_meds else {}),
            "batch_stats": res.batch_stats,
        }
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(local_dir, ignore_errors=True)


def _run_worker(cores: int, site: dict, corpus_path: str,
                pin: bool = True) -> dict:
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as f:
        path = f.name
    # CPU QUOTA, not thread count: an unpinned local[2] worker really uses
    # ~4-6 cores (2 task threads + 2 concurrent Python pandas-UDF workers +
    # GC/commit threads), overstating the low-core baseline and deflating
    # every N→4N ratio. Pinning the whole process tree to exactly N cores is
    # the local-mode analog of an executor cgroup on YARN/k8s: "N executors"
    # means N cores of total quota, helpers included. Java 17 + Python both
    # inherit the affinity mask.
    prefix = (["taskset", "-c", f"0-{cores - 1}"]
              if pin and shutil.which("taskset") else [])
    try:
        subprocess.run(
            prefix + [sys.executable, os.path.abspath(__file__), "--crawl-worker",
                      "--cores", str(cores), "--corpus", corpus_path,
                      "--site", json.dumps(site), "--out", path],
            check=True, cwd=REPO, timeout=7200,
        )
        with open(path) as fh:
            return json.load(fh)
    finally:
        os.unlink(path)


def _stream_worker(q, mb=256, iters=6):
    import numpy as np
    buf = np.frombuffer(np.random.bytes(mb * 1024 * 1024), dtype=np.uint8)
    t0 = time.perf_counter()
    s = 0
    for _ in range(iters):
        s += int(buf.sum())
    q.put(mb * iters / (time.perf_counter() - t0))


def mem_stream_bench(levels=SCALING_LEVELS) -> dict:
    """Host memory-bandwidth ceiling at each parallelism level (GB/s,
    aggregate across n concurrent streaming processes).

    The crawl batch is a memory-streaming workload (parquet decode, HTML
    regex parse, image payloads), so ITS parallel ceiling is the memory
    subsystem's, not the core count's. Measured on this sandbox VM: pure
    cache-resident CPU scales 8→32 at ~0.9 efficiency, but streaming
    bandwidth SATURATES at ~13 GB/s by 8 processes and degrades with 32 —
    no memory-streaming job can scale past that, which is exactly why
    scale-OUT (more nodes, each with its own memory bus) is the production
    answer rather than scale-UP. Recorded per-run so the scaling numbers
    carry their own hardware context."""
    import multiprocessing as mp
    out = {}
    for n in sorted(set((1,) + tuple(levels))):
        q = mp.Queue()
        procs = [mp.Process(target=_stream_worker, args=(q,)) for _ in range(n)]
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        out[str(n)] = round(sum(q.get() for _ in range(n)) / 1000.0, 2)
    return out


def _cpu_worker(q, seconds=20.0):
    # cache-resident integer hashing — no memory streaming, no allocation:
    # isolates what the HOST will let n cores sustain over a long busy window
    t_end = time.perf_counter() + seconds
    x, ops = 0x9E3779B97F4A7C15, 0
    while time.perf_counter() < t_end:
        for _ in range(100_000):
            x = (x * 6364136223846793005 + 1442695040888963407) & (2**64 - 1)
        ops += 100_000
    q.put(ops)


def cpu_sustained_bench(levels=SCALING_LEVELS, seconds=20.0) -> dict:
    """Host sustained pure-CPU ceiling: aggregate ops/s of n concurrent
    cache-resident integer workers over a 20 s+ busy window.

    Short CPU bursts on this VM scale 8→32 near-perfectly (~0.9), but LONG
    busy windows are host-throttled (steal time up to ~13% observed) — this
    measures the ceiling any sustained 32-thread job faces, Spark or not.
    Recorded per-run so the crawl's scaling efficiency can be read against
    the host's own."""
    import multiprocessing as mp
    out = {}
    for n in sorted(set(levels)):
        q = mp.Queue()
        procs = [mp.Process(target=_cpu_worker, args=(q, seconds))
                 for _ in range(n)]
        t0 = time.perf_counter()
        for p in procs:
            p.start()
        for p in procs:
            p.join()
        wall = time.perf_counter() - t0
        total = sum(q.get() for _ in range(n))
        out[str(n)] = round(total / wall / 1e6, 1)  # M ops/s aggregate
    for lo, hi in zip(sorted(set(levels)), sorted(set(levels))[1:]):
        out[f"efficiency_{lo}to{hi}"] = round(
            (out[str(hi)] / out[str(lo)]) / (hi / lo), 3)
    return out


def scaling_bench(spark, levels=SCALING_LEVELS, site=None) -> dict:
    """The SAME crawl job on the SAME corpus at each parallelism level, each
    in a FRESH JVM — the sandbox substitution for N vs 4N executors.
    ``site`` overrides the corpus geometry (default SITE_SCALING) — used to
    measure how batch size changes amortization at high core counts."""
    site = site or SITE_SCALING
    tmp = tempfile.mkdtemp(prefix="crawl_scaling_corpus_", dir=SCRATCH)
    corpus_path = os.path.join(tmp, "corpus")
    try:
        prepare_corpus(spark, site, corpus_path)
        # the parent's idle 32-thread JVM must not coexist with the measured
        # workers (it GCs, holds memory, and skews every level low —
        # measured ~30% slower sustained with it alive)
        spark.stop()
        out: dict = {"site": site,
                     "pinned": bool(shutil.which("taskset")),
                     "host_mem_stream_GBps": mem_stream_bench(levels),
                     "host_cpu_sustained_Mops": cpu_sustained_bench(levels)}
        for cores in levels:
            r = _run_worker(cores, site, corpus_path)
            r.pop("batch_stats", None)
            out[f"local[{cores}]"] = r
        # adjacent pairs (diagnostic: where scaling bends) + every N→4N pair
        # present in the level set (the BASELINE.json criterion is N vs 4N)
        pairs = list(zip(levels, levels[1:])) + [
            (lo, lo * 4) for lo in levels if lo * 4 in levels]
        for lo, hi in pairs:
            for key, tag in [("urls_per_sec", "overall"),
                             ("sustained_urls_per_sec", "sustained"),
                             ("median_batch_urls_per_sec", "median_batch")]:
                ratio = (out[f"local[{hi}]"][key] / out[f"local[{lo}]"][key])
                out[f"speedup_{tag}_{lo}to{hi}"] = round(ratio, 3)
                out[f"efficiency_{tag}_{lo}to{hi}"] = round(ratio / (hi / lo), 3)
            # crawl efficiency READ AGAINST the host's own same-run ceiling:
            # the crawl batch is a memory-streaming workload, so its
            # attainable N→4N efficiency is bounded by min(pure-CPU,
            # memory-bandwidth) scaling of this VM at the same levels —
            # anything this ratio leaves on the table is the ENGINE's to fix,
            # anything above it is the host's.
            cpu = out["host_cpu_sustained_Mops"]
            mem = out["host_mem_stream_GBps"]
            cpu_eff = (cpu[str(hi)] / cpu[str(lo)]) / (hi / lo)
            mem_eff = (mem[str(hi)] / mem[str(lo)]) / (hi / lo)
            ceiling = min(cpu_eff, mem_eff)
            out[f"host_ceiling_efficiency_{lo}to{hi}"] = round(ceiling, 3)
            out[f"crawl_vs_host_ceiling_{lo}to{hi}"] = round(
                out[f"efficiency_sustained_{lo}to{hi}"] / ceiling, 3)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawl-worker", action="store_true")
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--corpus", default=None)
    ap.add_argument("--site", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--skip-crawl", action="store_true")
    args = ap.parse_args()

    if args.crawl_worker:
        result = crawl_corpus(args.cores or 32, json.loads(args.site), args.corpus)
        with open(args.out, "w") as fh:
            json.dump(result, fh)
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", args.cores or 32))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pttcrawler_spark import suite
    from pttcrawler_spark.session import get_spark

    spark = get_spark(cpus, app_name="bench")
    qmap = suite.queries()
    # JVM/codegen warmup so q1 doesn't pay the startup tax
    _noop_run(qmap["p1_point_lookup"](spark, sf_dir))

    # Per-query time = min of 2 executions. The plans are deterministic and
    # fully re-executed each run (noop sink, no driver collect, no caching
    # between runs), so the min is the honest plan cost; the max additionally
    # carries whatever same-JVM/session noise the host injects (round 3: the
    # driver's session measured every query uniformly ~25% slower than the
    # committed artifact — classic first-execution + neighbor-load skew).
    # Min-of-2 makes committed and driver-session numbers reproducible
    # within ~10% instead of tracking that noise.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            _noop_run(qmap[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    result = {
        "metric": "headline_suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
    }

    detail = dict(result)

    if not args.skip_crawl:
        tmp = tempfile.mkdtemp(prefix="crawl_bench_corpus_", dir=SCRATCH)
        try:
            corpus_path = os.path.join(tmp, "corpus")
            prepare_corpus(spark, SITE_DEFAULT, corpus_path)
            crawl = crawl_corpus(cpus, SITE_DEFAULT, corpus_path)
            detail["crawl"] = crawl
            # printed line: throughput numbers only — per-batch stats and
            # phase medians live in BENCH_DETAIL.json
            for k in ("urls_per_sec", "sustained_urls_per_sec",
                      "median_batch_urls_per_sec"):
                result[f"crawl_{k}"] = crawl[k]
            result["crawl_urls_fetched"] = crawl["urls_fetched"]
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    if args.scaling:
        scaling = scaling_bench(spark)
        with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as fh:
            json.dump(scaling, fh, indent=2)
        detail["scaling"] = scaling
        summary = {k: v for k, v in scaling.items()
                   if "efficiency" in k or "ceiling" in k}
        for lvl, r in scaling.items():
            if lvl.startswith("local[") and isinstance(r, dict):
                summary[lvl] = r.get("sustained_urls_per_sec")
        result["scaling"] = summary

    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=2)
    line = json.dumps(result, separators=(",", ":"))
    print(line)
    print(f"[bench] line length: {len(line)} chars; full detail in "
          f"BENCH_DETAIL.json", file=sys.stderr)


if __name__ == "__main__":
    main()
