#!/usr/bin/env python3
"""Crawl benchmark for pttcrawler_spark.

    python3 perfbench/run.py --workload drain-wide --seed 1 --seconds 25 --trace 0

Runs one workload (perfbench/workloads.py) in this fresh interpreter and a
fresh JVM on local[nproc], built by ``session.get_spark`` with its defaults:

1. set-up: the SparkSession, while a thread generates the seeded site,
   writes it as parquet partitioned by (kind, page_index) and runs the
   oracle on it; for the http workload, the site is then served from this
   process over HTTP; last, one ``engine.crawl.crawl`` call starts, and its
   first batch (the seed pages) is the warm-up, so JIT, codegen and Python
   worker start-up land in set-up. Set-up ends when that batch's commit
   marker (``state/batch=0/_COMMIT.json``) is written;
2. timed region: the rest of the same call, which drains the frontier. The
   drain's length is set by the workload's site, so ``--seconds`` is
   accepted but does not change it;
3. correctness gate (untimed): the store against the single-threaded oracle
   (perfbench/check.py).

The traced run (``--trace 1``) wraps each layer's public functions in spans
(perfbench/layers.py), and after the timed drain also times the report path
over the store (relational tables, ASN enrichment, the three sheets and the
TW-vs-foreign-IP report) and checks its outputs against the oracle.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (see perfbench/README.md). Every run's
metrics, host-noise readings and (traced runs) spans are also kept under
``.bench_results/`` in the checkout. Scratch data lives under
``.bench_scratch/`` and is deleted when the run ends.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
RESULTS = ROOT / ".bench_results"
SCRATCH = ROOT / ".bench_scratch"
EXPORT_DATE = "2026-01-01"


def commit_marks(store: Path) -> list[float]:
    """``committed_at`` (epoch seconds) of each batch's
    ``state/batch=N/_COMMIT.json``, in batch order."""
    marks = sorted(
        (int(p.parent.name.split("=")[1]),
         json.loads(p.read_text())["committed_at"])
        for p in (store / "state").glob("batch=*/_COMMIT.json"))
    return [t for _, t in marks]


def _hygiene(scratch: Path) -> None:
    """Measure committed defaults: no experiment variables; workers import
    the checkout's package; temp files stay inside the checkout."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile
    tempfile.tempdir = str(tmp)


class Bench:
    def __init__(self, args, wl, scratch: Path):
        self.args = args
        self.wl = wl
        self.scratch = scratch
        self.cores = len(os.sched_getaffinity(0))
        self.site = wl.smoke_site if args.smoke else wl.site
        self.server = None
        self.fetcher = None
        self._corpus = None

    # --- set-up ------------------------------------------------------------
    def start_session(self):
        from pttcrawler_spark.session import get_spark
        # only scratch placement differs from the session's defaults
        conf = {
            "spark.local.dir": str(self.scratch / "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.scratch / 'tmp'}",
        }
        if self.args.trace:
            # task-metric totals come from the UI's REST API
            conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
        self.spark = get_spark(self.cores, app_name=f"perfbench-{self.wl.name}",
                               extra_conf=conf)

    def prepare(self) -> dict:
        """Driver-side set-up, run while the JVM starts: generate the seeded
        site, write it as the corpus and run the single-threaded oracle
        the correctness gate compares against."""
        from pttcrawler_spark.oracle.simulator import run_oracle
        from pttcrawler_spark.synth.site import SiteConfig, generate_site_pandas
        t = time.perf_counter()
        self.cfg = SiteConfig(seed=self.args.seed, **self.site)
        self.corpus_pdf = generate_site_pandas(self.cfg)
        self.corpus_path = str(self.scratch / "corpus")
        generate_s = time.perf_counter() - t
        t = time.perf_counter()
        self.write_corpus()
        write_s = time.perf_counter() - t
        t = time.perf_counter()
        self.oracle = run_oracle(self.corpus_pdf, self.cfg)
        return {"generate_s": generate_s, "corpus_write_s": write_s,
                "oracle_s": time.perf_counter() - t}

    def write_corpus(self) -> None:
        """Write the site as the simulated-fetch corpus, partitioned by
        (kind, page_index) like bench.prepare_corpus so the fetch scan
        prunes to a batch's pages. Written with pyarrow: a Spark job here
        would be the session's first, and its cold start would dominate."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_to_dataset(
            pa.Table.from_pandas(self.corpus_pdf, preserve_index=False),
            self.corpus_path, partition_cols=["kind", "page_index"])

    def corpus(self):
        """The corpus as a DataFrame, opened on first use: the http
        workload's crawl never reads it."""
        if self._corpus is None:
            self._corpus = self.spark.read.parquet(self.corpus_path)
        return self._corpus

    def open_inputs(self) -> None:
        """Open the corpus for the simulated fetch or, for the http
        workload, start the site server."""
        from pttcrawler_spark.engine.crawl import CrawlConfig
        self.seeds = [
            (self.cfg.board_name(b),
             f"{self.cfg.base_url(self.cfg.board_name(b))}/bbs/"
             f"{self.cfg.board_name(b)}/index.html")
            for b in range(self.cfg.n_boards)]
        self.crawl_cfg = CrawlConfig(**self.wl.crawl)
        if self.wl.fetch == "http":
            from perfbench.site_server import SiteServer, materialize
            from pttcrawler_spark.sources import http_fetch as H
            self.server = SiteServer(materialize(self.corpus_pdf))
            self.fetcher = H.fetcher_for(timeout=30.0,
                                         url_rewrite=self.server.rewrite())
        else:
            self.corpus()

    # --- the measured operations -------------------------------------------
    def crawl(self) -> dict:
        """One crawl call, from the seed pages until the frontier is empty.
        Its first batch is the warm-up; the timed drain runs from that
        batch's commit marker to the end of the call."""
        from pttcrawler_spark.engine import crawl as C
        store = self.scratch / "store"
        res = C.crawl(self.spark, None if self.fetcher else self.corpus(),
                      self.seeds, str(store), cfg=self.crawl_cfg,
                      fetcher=self.fetcher)
        end = time.time()
        marks = commit_marks(store)
        if len(marks) < 2:
            raise RuntimeError(f"the crawl committed {len(marks)} batch(es); "
                               "a timed drain needs two or more")
        drained = [b for b in res.batch_stats if b["batch_id"] > 0]
        return {"store": store, "result": res, "start": marks[0], "end": end,
                "crawl_s": end - marks[0], "batches": len(drained),
                "fetched": sum(b["bootstrap"] + b["index"] + b["article"]
                               for b in drained),
                "gaps": [b - a for a, b in zip(marks, marks[1:])]}

    def report(self, store: Path) -> dict:
        """Open the committed store, build the relational tables, export the
        three sheets and write the TW-vs-foreign-IP report for board 0."""
        from datetime import datetime

        from pttcrawler_spark.engine import crawl as C
        from pttcrawler_spark.engine import export as E
        from pttcrawler_spark.engine import query as Q
        from pttcrawler_spark.engine import state as ST
        from pttcrawler_spark.engine import store as S
        res = C.CrawlResult(out_dir=str(store),
                            final_batch=ST.latest_committed(str(store)),
                            n_fetched=0, spark=self.spark)
        rel = S.build_relational(res)
        ips = rel["ip_asn"]
        rel["ip_asn"] = S.enrich_ip_asn(ips)
        out = store / "report"
        sheets = E.export_sheets(rel, str(out))
        board = self.cfg.board_name(0)
        rep = Q.write_report_csv(Q.tw_ip_report(rel, board), str(out),
                                 datetime.fromisoformat(EXPORT_DATE))
        return {"sheets": sheets, "report": rep, "board": board, "ips": ips}

    # --- correctness gate ----------------------------------------------------
    def gate(self, drained: dict, outputs: dict | None):
        from perfbench.check import Tally, check_crawl, check_report
        tally = Tally()
        check_crawl(drained["result"], self.oracle,
                    self.crawl_cfg.verify_payload, tally)
        if outputs is not None:
            check_report(outputs["sheets"], outputs["report"],
                         outputs["board"], self.oracle, tally)
        return tally

    def close(self) -> None:
        """Stop the server and Spark, then the driver JVM: it exits when its
        stdin closes; wait for it so no process outlives the run."""
        from pyspark import SparkContext
        if self.server is not None:
            self.server.close()
        proc = getattr(SparkContext._gateway, "proc", None)
        self.spark.stop()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _untraced_median(workload: str, site: dict) -> float | None:
    """Median untraced urls_per_s of earlier runs in this checkout."""
    try:
        lines = (RESULTS / "runs.jsonl").read_text().splitlines()
    except OSError:
        return None
    vals = [r["metrics"]["urls_per_s"] for r in map(json.loads, lines)
            if r["workload"] == workload and not r["trace"]
            and r["site"] == site]
    return statistics.median(vals) if vals else None


def run(args) -> dict:
    from perfbench.procstat import Sampler
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    scratch = SCRATCH / run_id
    _hygiene(scratch)
    bench = Bench(args, wl, scratch)
    try:
        # --- set-up, then the timed drain in the same crawl call -------------
        with ThreadPoolExecutor(max_workers=1) as pool:
            prep = pool.submit(bench.prepare)
            bench.start_session()
            session_s = time.time() - T_PROCESS
            prepared = prep.result()
        bench.open_inputs()
        inputs_s = time.time() - T_PROCESS

        tracer = None
        if args.trace:
            from perfbench import layers
            tracer = layers.install(run_id, bench.spark)
        with Sampler() as sampler:
            if tracer is None:
                drained = bench.crawl()
            else:
                drained = layers.traced_crawl(tracer, bench)
        t0, t1 = drained["start"], drained["end"]
        setup_s = t0 - T_PROCESS
        urls_per_s = drained["fetched"] / drained["crawl_s"]
        gaps = drained["gaps"]
        host = sampler.window(t0, t1)

        outputs = None
        if tracer is not None:
            tm1 = layers.spark_sample(bench.spark)
            outputs, report_s = layers.traced_report(tracer, bench,
                                                     drained["store"])
            tracer.unpatch()
            replayed = layers.replay(bench, drained["store"], 1,
                                     drained["result"].final_batch,
                                     outputs["ips"])

        # --- correctness gate (untimed) ----------------------------------------
        tally = bench.gate(drained, outputs)

        record = {
            "run": run_id, "workload": wl.name, "seed": args.seed,
            "trace": args.trace, "smoke": args.smoke, "cores": bench.cores,
            "site": bench.site, "crawl_s": drained["crawl_s"],
            "setup": {"session_s": session_s, "inputs_s": inputs_s,
                      "warmup_s": setup_s - inputs_s, **prepared},
            "batches": drained["batches"],
            "commit_intervals_s": gaps,
            "host_noise": {k: v for k, v in host.items()
                           if k != "peak_rss_bytes"},
            "check": {"attempted": tally.attempted, "failed": tally.failed,
                      "fail_frac": tally.failed / max(tally.attempted, 1),
                      "mismatches": tally.notes},
        }
        if tracer is not None:
            metrics = layers.per_layer(tracer, bench, drained, tm1,
                                       urls_per_s, report_s, replayed)
            base = _untraced_median(wl.name, bench.site)
            record["trace_overhead"] = {
                "untraced_urls_per_s_median": base,
                "traced_over_untraced": urls_per_s / base if base else None}
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "urls_per_s": (urls_per_s, "URL/s"),
                "commit_interval_p50_s": (statistics.median(gaps), "s"),
                "peak_rss_mb": (host["peak_rss_bytes"] / 2**20, "MB"),
            }
        record["metrics"] = {k: v for k, (v, _) in metrics.items()}
        RESULTS.mkdir(exist_ok=True)
        with open(RESULTS / "runs.jsonl", "a") as f:
            f.write(json.dumps(record) + "\n")
        if tracer is not None:
            tracer.write(RESULTS / f"spans-{run_id}.jsonl")
        print(json.dumps(record), file=sys.stderr)
        return {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            if hasattr(bench, "spark"):
                bench.close()
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                SCRATCH.rmdir()
            except OSError:
                pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny site on the same code path, for tests")
    args = ap.parse_args()
    if not (ROOT / "pttcrawler_spark" / "engine" / "crawl.py").is_file():
        print(f"pttcrawler_spark not found under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
