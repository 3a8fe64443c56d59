"""The engine's behaviour is set by its arguments and session.py, not by
the environment: no module under pttcrawler_spark/ reads a SPARK_GRAFT_*
variable, and bench.py's crawl worker adds only fixed settings of its own
(no env knob) to get_spark's."""

from __future__ import annotations

import ast
import os
import tempfile
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "pttcrawler_spark"


def _is_environ(node: ast.AST) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ"
            and isinstance(node.value, ast.Name) and node.value.id == "os")


def _env_reads(tree: ast.AST):
    """(line, name) of every os.environ[...] / os.environ.get(...) /
    os.getenv(...) whose key is a string literal."""
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr == "get"
                    and _is_environ(f.value)) or (
                    isinstance(f, ast.Attribute) and f.attr == "getenv"
                    and isinstance(f.value, ast.Name) and f.value.id == "os"):
                key = node.args[0]
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            yield node.lineno, key.value


def test_env_reader_finds_reads():
    src = ('import os\nos.environ.get("SPARK_GRAFT_A")\n'
           'os.environ["SPARK_GRAFT_B"]\nos.getenv("SPARK_GRAFT_C", "1")\n')
    assert [n for _, n in sorted(_env_reads(ast.parse(src)))] == [
        "SPARK_GRAFT_A", "SPARK_GRAFT_B", "SPARK_GRAFT_C"]


def test_engine_reads_no_spark_graft_env():
    found = [
        f"{p.relative_to(PKG)}:{line}: {name}"
        for p in sorted(PKG.rglob("*.py"))
        for line, name in _env_reads(ast.parse(p.read_text(encoding="utf-8")))
        if name.startswith("SPARK_GRAFT_")
    ]
    assert not found, found


def test_bench_reads_only_deployment_env():
    src = (REPO / "bench.py").read_text(encoding="utf-8")
    names = {n for _, n in _env_reads(ast.parse(src))
             if n.startswith("SPARK_GRAFT_")}
    assert names <= {"SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS"}, names


class _Stop(Exception):
    pass


def test_bench_worker_passes_only_deployment_conf(monkeypatch, tmp_path):
    """The crawl worker adds scratch placement, a core-sized driver and its
    fixed WORKER_CONF to get_spark's settings, nothing else (no JVM is
    started), and leaves no scratch dir behind when the session fails."""
    import bench
    from pttcrawler_spark import session

    calls = []

    def record(*args, **kwargs):
        calls.append(kwargs)
        raise _Stop

    monkeypatch.setattr(session, "get_spark", record)
    scratch = bench.SCRATCH or tempfile.gettempdir()
    before = set(os.listdir(scratch))
    with pytest.raises(_Stop):
        bench.crawl_corpus(4, bench.SITE_DEFAULT, str(tmp_path))
    assert len(calls) == 1
    conf = dict(calls[0]["extra_conf"])
    assert conf.pop("spark.driver.memory") == "8g"
    assert conf.pop("spark.local.dir").startswith(scratch)
    assert conf == bench.WORKER_CONF
    leaked = {n for n in set(os.listdir(scratch)) - before
              if n.startswith(("spark_local_", "crawl_bench_out_"))}
    assert not leaked, leaked
