"""spark-submit packaging + cluster-style job driver.

The north rule requires the crawl to run "via spark-submit --py-files on a
multi-executor cluster" (BASELINE.json). In the sandbox the master is
local[N], but the SUBMISSION PATH is the real one:

  zip = build_pyfiles_zip(dir)          # the package as a --py-files artifact
  spark-submit --master local[8] --py-files zip driver.py --site '{...}' ...

where ``driver.py`` is any shim that calls :func:`main` — the package is
imported from the zip on the executors' sys.path exactly as it would be on a
YARN/k8s cluster (tests/test_submit.py runs this end-to-end from a scratch
cwd with the repo stripped from PYTHONPATH, so the zip is the only source of
the package).

The driver builds its session with ``SparkSession.builder`` plus the
engine's own settings (``session.ENGINE_CONF``: UTC session zone, FAIR pools,
Arrow, zstd, cleaner GC) and nothing else: master, executor sizing, and
dynamic allocation belong to the spark-submit command line / cluster
defaults, not the job. Builder settings win over ``--conf`` and
spark-defaults, so the ``ENGINE_CONF`` keys cannot be changed from the
command line; every other key can.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import zipfile
from pathlib import Path

PKG = Path(__file__).resolve().parent


def build_pyfiles_zip(dest_dir: str) -> str:
    """Zip the pttcrawler_spark package into ``dest_dir`` for --py-files."""
    out = os.path.join(dest_dir, "pttcrawler_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(PKG.rglob("*.py")):
            z.write(p, os.path.join("pttcrawler_spark", p.relative_to(PKG).as_posix()))
    return out


def submit_command(driver: str, pyfiles: str, master: str = "local[8]",
                   job_args: list[str] | None = None,
                   conf: dict[str, str] | None = None) -> list[str]:
    """argv for a spark-submit invocation of ``driver`` with the package zip."""
    spark_home = os.environ.get("SPARK_HOME", "/opt/spark")
    cmd = [os.path.join(spark_home, "bin", "spark-submit"),
           "--master", master, "--py-files", pyfiles]
    for k, v in (conf or {}).items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += [driver] + (job_args or [])
    return cmd


def main(argv: list[str] | None = None) -> None:
    """Cluster-style crawl driver: generate (or read) a corpus, run the
    micro-batch crawl, print ONE JSON result line."""
    ap = argparse.ArgumentParser(prog="pttcrawler-spark-submit-job")
    ap.add_argument("--site", required=True,
                    help="synth SiteConfig kwargs as JSON (the simulated-"
                         "network corpus is generated on the executors)")
    ap.add_argument("--corpus", default=None,
                    help="pre-generated corpus parquet (skips generation)")
    ap.add_argument("--out", required=True, help="state/output directory")
    ap.add_argument("--delay-s", type=float, default=0.01)
    ap.add_argument("--batch-seconds", type=float, default=60.0)
    ap.add_argument("--seen-filter", default="", choices=["", "bloom", "cuckoo"])
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from pttcrawler_spark.engine import crawl as C
    from pttcrawler_spark.session import ENGINE_CONF
    from pttcrawler_spark.synth import site as S

    spark = (SparkSession.builder.appName("pttcrawler_spark_crawl")
             .config(map=ENGINE_CONF).getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    cfg = S.SiteConfig(**json.loads(args.site))
    if args.corpus:
        corpus = spark.read.parquet(args.corpus)
    else:
        corpus = S.generate_site(spark, cfg)
        # the crawl re-scans the corpus once per batch; a generated corpus
        # would re-run the synth UDF each scan — land it as parquet once
        tmp = tempfile.mkdtemp(prefix="submit_corpus_")
        corpus.write.mode("overwrite").parquet(os.path.join(tmp, "corpus"))
        corpus = spark.read.parquet(os.path.join(tmp, "corpus"))
    res = C.crawl(spark, corpus, cfg.seeds(), args.out,
                  C.CrawlConfig(delay_s=args.delay_s,
                                batch_seconds=args.batch_seconds,
                                seen_filter=args.seen_filter))
    print(json.dumps({
        "fetched": res.n_fetched,
        "batches": res.final_batch + 1,
        "out": args.out,
        "master": spark.sparkContext.master,
    }))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
