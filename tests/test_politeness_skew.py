"""Hostile-skew politeness admission (round-4 verdict #7).

The skew bound in operators/politeness.py says a host contributes at most
ceil(tokens) rows to any per-group materialization because both admission
paths pre-truncate each host's group with a rank window BEFORE the
pandas/applyInPandas stage. Previously tested at 37 hosts; these tests put
one host holding 90% of the frontier next to a long tail of single-URL
hosts and assert (a) admission stays exactly budget-bounded and identical
across both paths, and (b) admission wall-time is flat versus a uniform
frontier of the same total size — the hot host's extra cost is one
in-partition sort, never an oversized per-group buffer.

The full-size run (10^6-row frontier, 10^5 tail hosts, local[32]) lives in
scripts/bench_politeness_skew.py -> BENCH_POLITENESS_SKEW.json; this test
uses a 20x-smaller frontier so the suite stays fast, with the same shape.
"""
from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from pttcrawler_spark.operators.politeness import (admit_apply_in_pandas,
                                                   admit_window)

N_TOTAL = 50_000   # frontier rows
N_TAIL = 5_000     # long-tail hosts (1 row each); hot host holds the rest


def _hostile_frontier(spark):
    """One hot host with 90% of the rows + N_TAIL single-row hosts."""
    n_hot = N_TOTAL - N_TAIL
    hot = spark.range(n_hot).select(
        F.lit("hot.example").alias("host"),
        F.concat(F.lit("https://hot.example/a/"), F.col("id")).alias("url"),
        (F.col("id") % 7).cast("int").alias("priority"),
        F.col("id").alias("discovery_seq"),
        F.lit("article").alias("kind"))
    tail = spark.range(N_TAIL).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
        F.concat(F.lit("https://h"), F.col("id"),
                 F.lit(".example/a/0")).alias("url"),
        F.lit(1).alias("priority"),
        F.col("id").alias("discovery_seq"),
        F.lit("article").alias("kind"))
    return hot.unionByName(tail)


def _uniform_frontier(spark):
    """Same N_TOTAL rows spread evenly over N_TAIL hosts."""
    per_host = N_TOTAL // N_TAIL
    return spark.range(N_TOTAL).select(
        F.concat(F.lit("h"), (F.col("id") % N_TAIL),
                 F.lit(".example")).alias("host"),
        F.concat(F.lit("https://h"), (F.col("id") % N_TAIL),
                 F.lit(".example/a/"), F.col("id")).alias("url"),
        (F.col("id") % 7).cast("int").alias("priority"),
        (F.col("id") / N_TAIL).cast("long").alias("discovery_seq"),
        F.lit("article").alias("kind")), per_host


def _state(spark, tokens_hot: float = 3.7, tokens_tail: float = 1.2):
    hot = spark.createDataFrame(
        [("hot.example", tokens_hot, 2.0)], "host string, tokens double, delay_s double")
    tail = spark.range(N_TAIL).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
        F.lit(tokens_tail).alias("tokens"),
        F.lit(2.0).alias("delay_s"))
    return hot.unionByName(tail)


@pytest.fixture(scope="module")
def skew_parts(spark):
    frontier = _hostile_frontier(spark).localCheckpoint()
    state = _state(spark).localCheckpoint()
    return frontier, state


def test_hostile_skew_budget_bound(spark, skew_parts):
    """Every host admits exactly min(floor(tokens), pending) rows — the hot
    host's 45k pending rows buy it floor(3.7)=3 admissions, nothing more."""
    frontier, state = skew_parts
    out = admit_window(frontier, state).where("admit")
    counts = {r["host"]: r["n"] for r in
              out.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts["hot.example"] == 3
    tail_counts = [v for k, v in counts.items() if k != "hot.example"]
    assert len(tail_counts) == N_TAIL and set(tail_counts) == {1}


def _with_index_rows(frontier):
    """Every fifth row (by discovery_seq) an index row — exercises the
    discovery barrier."""
    return frontier.withColumn(
        "kind", F.when(F.col("discovery_seq") % 5 == 0,
                       F.lit("index")).otherwise(F.col("kind"))
    ).localCheckpoint()


def test_hostile_skew_paths_agree(spark, skew_parts):
    """admit_apply_in_pandas (north-rule shape) sets the identical
    (url, admit) bits as admit_window under hostile skew — the
    pre-truncation means its pandas stage never sees more than
    ceil(tokens)=4 rows of the hot host. Checked on the article-only
    frontier and with index rows, with and without the strict barrier."""
    frontier, state = skew_parts
    with_idx = _with_index_rows(frontier)
    for name, df in (("articles", frontier), ("with_idx", with_idx)):
        for strict in (False, True):
            win = {(r["url"], r["admit"]) for r in
                   admit_window(df, state, strict_barrier=strict)
                   .select("url", "admit").collect()}
            pdf = {(r["url"], r["admit"]) for r in
                   admit_apply_in_pandas(df, state, strict_barrier=strict)
                   .select("url", "admit").collect()}
            assert win == pdf, f"{name} strict={strict}"
            if name == "articles":
                assert sum(a for _, a in win) == 3 + N_TAIL


def test_capped_window_matches_exact(spark, skew_parts):
    """admit_window(max_budget=cap) — the WindowGroupLimit hot-host path —
    returns bit-identical (url, admit) to the exact path: rank > cap
    implies rank > budget, and a barrier index ranked past cap cannot gate
    any admissible rank. Checked under hostile skew, with index rows, and
    in strict-barrier mode."""
    frontier, state = skew_parts
    # cap = ceil(max tokens) = 4; also a looser cap must not change bits
    for cap in (4, 7):
        exact = {(r["url"], r["admit"]) for r in
                 admit_window(frontier, state).collect()}
        capped = {(r["url"], r["admit"]) for r in
                  admit_window(frontier, state, max_budget=cap).collect()}
        assert exact == capped, f"cap={cap}"
    # index rows + strict barrier: barrier semantics must survive capping
    with_idx = _with_index_rows(frontier)
    for strict in (False, True):
        exact = {(r["url"], r["admit"]) for r in
                 admit_window(with_idx, state,
                              strict_barrier=strict).collect()}
        capped = {(r["url"], r["admit"]) for r in
                  admit_window(with_idx, state, strict_barrier=strict,
                               max_budget=4).collect()}
        assert exact == capped, f"strict={strict}"


def test_capped_window_plan_group_limit(spark, skew_parts):
    """The capped path's physical plan contains a WindowGroupLimit below
    the host exchange (partial mode — the map-side top-k that bounds what
    the hot host ships to its reducer), and the flag join-back is present."""
    frontier, state = skew_parts
    plan = (admit_window(frontier, state, max_budget=4)
            ._jdf.queryExecution().executedPlan().toString())
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "Partial" in plan, plan[:2000]


def test_hostile_skew_walltime_flat(spark, skew_parts):
    """Admission wall-time under 90% single-host skew stays within 3x of a
    uniform frontier of the same size (the hot host costs one in-partition
    sort of its rows, not an O(hot^2) or oversized-buffer blowup)."""
    hostile, state = skew_parts
    uniform, _ = _uniform_frontier(spark)
    uniform = uniform.localCheckpoint()

    def run(frontier):
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            admit_window(frontier, state).where("admit").count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return best

    run(uniform)  # warmup: JVM codegen + broadcast paths
    t_uniform = run(uniform)
    t_hostile = run(hostile)
    assert t_hostile <= max(3.0 * t_uniform, t_uniform + 1.0), (
        f"hostile {t_hostile:.3f}s vs uniform {t_uniform:.3f}s")
