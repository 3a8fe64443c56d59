"""End-to-end spark-submit --py-files submission (north-rule clause).

Runs the real /opt/spark/bin/spark-submit from a scratch cwd with the repo
stripped from PYTHONPATH: the --py-files zip is the ONLY way the driver can
import pttcrawler_spark, so a pass proves the package is cluster-submittable
exactly as BASELINE.json's north rule states (master is local[4] — the
sandbox stand-in for a multi-executor cluster; nothing in the submission
path is local-mode-specific). The child runs in a non-UTC zone, so the
committed timestamps also prove the job applies the engine's settings."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd

from pttcrawler_spark import submit as SUB
from pttcrawler_spark.engine import state as ST

SITE = {"n_boards": 3, "pages_per_board": 2, "articles_per_page": 4,
        "pushes_per_article": 2, "seed": 7}


def _expected_urls() -> int:
    """bootstrap + index pages + every linked (non-deleted) article: the
    crawl drains the whole frontier, so fetched == discoverable URL count."""
    from pttcrawler_spark.synth.site import SiteConfig, is_deleted
    cfg = SiteConfig(**SITE)
    linked = sum(
        not is_deleted(cfg, b, page, pos)
        for b in range(cfg.n_boards)
        for page in range(1, cfg.pages_per_board + 1)
        for pos in range(cfg.articles_per_page))
    return cfg.n_boards * (1 + cfg.pages_per_board) + linked

SHIM = "from pttcrawler_spark.submit import main\nmain()\n"


def _oracle_post_datetimes() -> list[str]:
    from pttcrawler_spark.oracle.simulator import run_oracle
    from pttcrawler_spark.synth.site import SiteConfig, generate_site_pandas
    cfg = SiteConfig(**SITE)
    art = run_oracle(generate_site_pandas(cfg), cfg).tables()["article"]
    return sorted(pd.to_datetime(art["post_datetime"]).astype(str))


def test_spark_submit_pyfiles_crawl(tmp_path: Path, spark):
    zip_path = SUB.build_pyfiles_zip(str(tmp_path))
    driver = tmp_path / "driver.py"
    driver.write_text(SHIM)
    out_dir = tmp_path / "crawl_out"

    cmd = SUB.submit_command(
        str(driver), zip_path, master="local[4]",
        conf={"spark.sql.shuffle.partitions": "4",
              "spark.ui.enabled": "false",
              "spark.driver.memory": "2g"},
        job_args=["--site", json.dumps(SITE), "--out", str(out_dir)])

    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH",)}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # a JVM zone 8 h east of UTC: without the engine's UTC session zone
    # every parsed post_datetime would land 8 h early
    env["TZ"] = "Asia/Taipei"
    proc = subprocess.run(cmd, cwd=str(tmp_path), env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]

    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["fetched"] == _expected_urls()
    assert result["master"] == "local[4]"
    # the committed store reads back through the engine's own session with
    # the oracle's timestamps
    assert (out_dir / "state").exists()
    arts = ST.read_table(spark, str(out_dir), "parsed_articles",
                         max_batch=result["batches"] - 1).toPandas()
    assert sorted(pd.to_datetime(arts["post_datetime"]).astype(str)) == \
        _oracle_post_datetimes()
