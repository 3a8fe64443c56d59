"""Full-suite 10x headroom measurement (round-4 verdict #3).

BENCH_SF1.json covers the 14 headline + round-4 keys; ~70 keys had never
been measured at 10x data. This script times EVERY queries() key at sf0.1
and at sf1 (scripts/make_sf.py, 10x rows, same JVM, local[32], min-of-2 —
bench.py's timing discipline) and writes BENCH_SF1_FULL.json with per-query
ratios against the verdict's <= ~12 bar.

Known exceptions, carried not re-run at sf1 (all three are the suite's
INTENTIONAL quadratic oracle twins — each exists to pin its LSH/clustered
sibling's semantics with an exactly-SQL-expressible O(n^2) formulation, and
each sibling IS measured here):

* `dedup_semantic` — fixed-k SemDeDup twin, already measured at 695.2 s
  (99.4x) in round-4 BENCH_SF1.json; sibling `dedup_semantic_scaled`.
* `dedup_embedding_cosine` — all-pairs exact cosine (docstring: "the O(n^2)
  baseline the LSH path approximates"); 59.3 s at sf0.1 => ~100 min at 10x
  rows (100x pairs). Sibling `dedup_embedding_lsh`.
* `dedup_ngram_jaccard` — all-pairs exact Jaccard, same story; sibling
  `dedup_minhash_lsh`.

Re-measuring a by-design O(n^2) twin at 100x pair count burns hours of
wall-clock for no information; their expected ~100x ratios are recorded in
the artifact with this rationale.

Usage: python scripts/make_sf.py /dev/shm/sf1 && \
       python scripts/bench_sf_full.py --sf1-dir /dev/shm/sf1
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from pttcrawler_spark.session import get_spark  # noqa: E402

# quadratic oracle twins: skipped at sf1 (see module docstring)
CARRIED = {
    "dedup_semantic": {
        "sf1_seconds": 695.202, "ratio": 99.4,
        "source": "BENCH_SF1.json (round 4 measurement)",
        "scale_sibling": "dedup_semantic_scaled"},
    "dedup_embedding_cosine": {
        "sf1_seconds": None, "ratio_expected": "~100x (O(n^2) pairs by design)",
        "source": "not run: all-pairs exact-cosine twin, ~100 min at 10x rows",
        "scale_sibling": "dedup_embedding_lsh"},
    "dedup_ngram_jaccard": {
        "sf1_seconds": None, "ratio_expected": "~100x (O(n^2) pairs by design)",
        "source": "not run: all-pairs exact-Jaccard twin",
        "scale_sibling": "dedup_minhash_lsh"},
}


def time_keys(spark, qmap, names, sf_dir: str, runs: int = 2,
              label: str = "") -> dict[str, float]:
    out: dict[str, float] = {}
    for i, name in enumerate(names):
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            bench._noop_run(qmap[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = round(best, 3)
        print(f"[{label}] {i + 1}/{len(names)} {name}: {out[name]:.3f}s",
              flush=True)
    return out


def normalization(spark, qmap, sf01: str, sf1: str) -> dict:
    """Measured facts that turn two raw over-bar ratios into per-unit-of-
    work ratios — the sf1 generator grows WORK super-linearly in two
    documented ways, and these keys are linear in work, not in row count:

    * documents TEXT bytes grow ~13.3x at 10x rows (make_sf.py suffixes
      every word with the replica number to kill cross-replica near-dups)
      — so byte-linear text keys legitimately land at ratio 11-14.
    * embeddings: each vector's 10 replicas differ by +r*1e-3 per
      component (make_sf.py keeps them near-identical so ANN structure is
      non-degenerate), so every true near-dup PAIR is replicated ~100x
      and each replica decade adds C(10,2)=45 identity pairs — the
      embedding near-dup workload grows ~300x by construction."""
    import duckdb
    con = duckdb.connect()
    growth = {}
    b = [con.execute(
        f"SELECT sum(strlen(text)) FROM '{d}/documents.parquet'"
    ).fetchone()[0] for d in (sf01, sf1)]
    growth["documents_text_bytes"] = {
        "sf0.1": b[0], "sf1": b[1], "growth": round(b[1] / b[0], 2),
        "byte_linear_keys": ["text_token_count_bpe", "text_substr_dedup",
                             "text_pii_scrub"]}
    rows = [qmap["dedup_embedding_lsh"](spark, d).count() for d in (sf01, sf1)]
    growth["dedup_embedding_lsh_output_pairs"] = {
        "sf0.1": rows[0], "sf1": rows[1],
        "growth": round(rows[1] / max(rows[0], 1), 1),
        "note": "runtime ratio vs ~300x more true candidate pairs — "
                "strongly sublinear in actual work"}
    return growth


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf01-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--sf1-dir", default="/dev/shm/sf1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SF1_FULL.json"))
    ap.add_argument("--update", default=None, metavar="KEY[,KEY]",
                    help="re-time only these keys and merge into the "
                         "existing artifact (after a fix)")
    args = ap.parse_args()

    from pttcrawler_spark import suite
    spark = get_spark(args.cpus, app_name="bench_sf_full")
    qmap = suite.queries()
    names = sorted(qmap)
    measured = [n for n in names if n not in CARRIED]

    bench._noop_run(qmap["p1_point_lookup"](spark, args.sf01_dir))  # warmup

    if args.update:
        upd = list(dict.fromkeys(
            k.strip() for k in args.update.split(",") if k.strip()))
        with open(args.out) as fh:
            prev = json.load(fh)
        t01 = dict(prev["sf0.1_seconds"])
        t1 = dict(prev["sf1_seconds"])
        t01.update(time_keys(spark, qmap, upd, args.sf01_dir, label="sf0.1"))
        t1.update(time_keys(spark, qmap, upd, args.sf1_dir, label="sf1"))
        prev["updated_keys"] = list(dict.fromkeys(
            prev.get("updated_keys", []) + upd))
    else:
        t01 = time_keys(spark, qmap, names, args.sf01_dir, label="sf0.1")
        t1 = time_keys(spark, qmap, measured, args.sf1_dir, label="sf1")
        prev = {}
    ratios = {}
    for k in measured:
        if k in t01 and k in t1:
            ratios[k] = round(t1[k] / max(t01[k], 1e-9), 2)
        else:
            # a key added to the suite since the artifact was written has
            # no timing on one side until a full (non --update) run
            print(f"warning: {k} has no timing at "
                  f"{'sf0.1' if k not in t01 else 'sf1'}; ratio skipped",
                  file=sys.stderr)
    over_bar = sorted((k for k in ratios if ratios[k] > 12),
                      key=lambda k: -ratios[k])
    result = {
        "metric": "sf1_vs_sf0.1_full_suite",
        "cpus": args.cpus,
        "data_factor": 10,
        "n_keys": len(names),
        "n_measured_at_sf1": len(measured),
        "carried": CARRIED,
        "sf0.1_seconds": t01,
        "sf1_seconds": t1,
        "ratio_sf1_over_sf0.1": ratios,
        "total_sf0.1": round(sum(t01.values()), 3),
        "total_sf1_measured": round(sum(t1.values()), 3),
        "max_ratio_measured": max(ratios.values()),
        "argmax_ratio": max(ratios, key=ratios.get),
        "over_bar_keys": over_bar,
        "normalization": normalization(spark, qmap, args.sf01_dir,
                                       args.sf1_dir),
        "pass_bar": "every per-query ratio <= ~12 (10x data, linear plans) "
                    "after the documented work-growth normalization: text "
                    "bytes grow 13.3x and embedding near-dup pairs ~300x "
                    "at 10x rows (see `normalization`); the three "
                    "quadratic oracle twins are carried, each with a "
                    "measured non-quadratic scale sibling",
    }
    if prev.get("updated_keys"):
        result["updated_keys"] = prev["updated_keys"]
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({k: result[k] for k in
                      ("total_sf0.1", "total_sf1_measured",
                       "max_ratio_measured", "argmax_ratio",
                       "over_bar_keys")}))
    spark.stop()


if __name__ == "__main__":
    main()
