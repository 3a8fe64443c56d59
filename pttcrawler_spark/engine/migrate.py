"""Schema migrations for on-disk crawl state (the Alembic-chain analog).

The reference evolves its store through an Alembic revision chain
(db_migration/versions/77eaebfa8062 -> 64f93945c28a -> 6794412e2720 ->
3af39c6792c0: create tables, add a table + relax post_ip, add ON DELETE
CASCADE, relax the datetime columns). Our store is parquet state dirs
(engine/state.py: ``state/batch=N/{frontier[_delta],politeness,metrics,...}``),
so the same story is: a revision marker file in the store directory plus a
linear chain of upgrade steps that rewrite committed state to the next
layout. ``migrate_state(spark, store_dir, to_rev)`` walks the chain; a
store that predates the marker is treated as the oldest known layout.

Revision chain (engine-state analog of the reference's):

* ``r1_initial`` — frontier without ``retry_count``; politeness without the
  robots columns. (Analog of 77eaebfa8062 create_initial_table.)
* ``r2_retry_count`` — ADD COLUMN ``retry_count int NOT NULL DEFAULT 0`` to
  frontier + deltas. (Analog of 64f93945c28a's add-table/add-column step.)
* ``r3_push_cascade`` — behavior-only: push rows cascade when their history
  version rotates out (engine/store.build_relational). No stored-layout
  change; the revision exists so the chain mirrors 6794412e2720 and so a
  store stamped r2 replays it as a no-op.
* ``r4_robots_nullable`` — ADD COLUMN nullable ``robots_rules string`` /
  ``robots_fetched_seq long`` to politeness. (Analog of 3af39c6792c0's
  nullability relax — parquet columns are born nullable, so "relax" at this
  layer is "add the optional columns".)

Scale note: each step here is ADD COLUMN with a constant default, which on
a real Iceberg/Delta catalog is a METADATA-ONLY operation — no data files
touched, O(1) regardless of table size. The parquet fallback below rewrites
each committed batch dir once (read -> withColumn -> overwrite), which is
O(state) bytes but embarrassingly parallel per batch dir and per partition;
a 10^10-row frontier migrates at full-cluster scan speed, and merge-on-read
deltas stay O(batch) each. Markers are preserved: a crash mid-migration
leaves some dirs at the new layout and some at the old, and re-running the
migration is idempotent (each step skips dirs that already have its
columns).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import state as ST

_MARKER = "_REVISION.json"

REVISIONS = ["r1_initial", "r2_retry_count", "r3_push_cascade",
             "r4_robots_nullable"]
HEAD = REVISIONS[-1]


def revision(store_dir: str) -> str:
    """Current revision of a store. No marker => the store was written
    before revisions were stamped; treat it as the oldest layout so every
    upgrade (each individually idempotent) gets a chance to run."""
    p = Path(store_dir) / _MARKER
    if p.exists():
        return json.loads(p.read_text())["revision"]
    return REVISIONS[0]


def stamp(store_dir: str, rev: str) -> None:
    if rev not in REVISIONS:
        raise ValueError(f"unknown revision {rev!r}")
    (Path(store_dir) / _MARKER).write_text(
        json.dumps({"revision": rev}))


def stamp_new_store(store_dir: str) -> None:
    """Stamp a BRAND-NEW store at HEAD (called by crawl() before batch 0 of
    a fresh store — the analog of alembic stamping head on create_all).
    Without this, `migrate current` reports r1_initial for a store current
    code just wrote, and the first migrate re-walks every upgrade step's
    directory scans for nothing. The no-marker ⇒ r1_initial fallback is
    kept ONLY for genuinely pre-revision stores: a store with committed
    state but no marker is left alone."""
    p = Path(store_dir)
    if (p / _MARKER).exists():
        return
    if ST.latest_committed(store_dir) is not None:
        return  # pre-revision store: the r1 fallback must keep applying
    p.mkdir(parents=True, exist_ok=True)
    stamp(store_dir, HEAD)


def _state_dirs(store_dir: str, name: str) -> list[Path]:
    """All committed ``state/batch=N/<name>`` dirs (orphans excluded —
    resume ignores them, so migrating them would be wasted work). Full
    ``frontier`` dirs additionally require Spark's ``_SUCCESS``: readers
    only trust a compaction once it landed completely, and a migration
    rewrite must not bless a half-written one with a fresh marker."""
    root = Path(store_dir) / ST.STATE
    if not root.is_dir():
        return []
    out = []
    for b in root.glob("batch=*"):
        d = b / name
        if not ((b / "_COMMIT.json").exists() and d.is_dir()):
            continue
        if name == "frontier" and not (d / "_SUCCESS").exists():
            continue
        out.append(d)
    return sorted(out)


def _add_columns(spark: SparkSession, path: Path,
                 cols: dict[str, F.Column]) -> bool:
    """ADD COLUMN with a constant default: rewrite one parquet dir in
    place. Returns False (skip) when every column already exists — this is
    what makes a step idempotent and a crashed migration re-runnable."""
    import shutil
    old = path.with_name(path.name + "._old")
    if old.exists():
        # crash landed between the two renames of a previous run: the
        # original is intact under ._old — restore it and redo the rewrite
        if path.exists():
            shutil.rmtree(path)
        old.rename(path)
    df = spark.read.parquet(str(path))
    missing = {k: v for k, v in cols.items() if k not in df.columns}
    if not missing:
        return False
    for k, v in missing.items():
        df = df.withColumn(k, v)
    tmp = path.with_name(path.name + "._migrating")
    df.write.mode("overwrite").parquet(str(tmp))
    # swap: the rewrite is complete before the old dir disappears; a crash
    # before the first rename leaves the original untouched, a crash
    # between the renames is recovered from ._old above
    path.rename(old)
    tmp.rename(path)
    shutil.rmtree(old)
    return True


def _up_r2_retry_count(spark: SparkSession, store_dir: str) -> int:
    n = 0
    # full frontiers include the post-loop compaction (it is written into
    # the last committed batch dir's `frontier`, engine/state.py)
    for name in ("frontier", "frontier_delta"):
        for d in _state_dirs(store_dir, name):
            n += _add_columns(spark, d,
                              {"retry_count": F.lit(0).cast("int")})
    return n


def _up_r3_push_cascade(spark: SparkSession, store_dir: str) -> int:
    return 0  # behavior revision: cascade lives in store.build_relational


def _up_r4_robots_nullable(spark: SparkSession, store_dir: str) -> int:
    n = 0
    for d in _state_dirs(store_dir, "politeness"):
        n += _add_columns(
            spark, d,
            {"robots_rules": F.lit(None).cast("string"),
             "robots_fetched_seq": F.lit(None).cast("long")})
    return n


_UPGRADES = {
    "r2_retry_count": _up_r2_retry_count,
    "r3_push_cascade": _up_r3_push_cascade,
    "r4_robots_nullable": _up_r4_robots_nullable,
}


def migrate_state(spark: SparkSession, store_dir: str,
                  to_rev: str = HEAD) -> dict[str, int]:
    """Upgrade a store directory from its current revision to ``to_rev``.

    Returns {revision: dirs_rewritten} for each step applied. Downgrades
    are refused (the reference's downgrade() paths exist for dev loops;
    state stores only roll forward — restore a snapshot to go back).

    EXCLUSIVE ACCESS: migration takes the store lock (_LOCK.json) for its
    whole duration and refuses to run while a live crawl holds it — the
    _add_columns rename swap has a window where a state dir does not exist,
    so a concurrent crawl resume or reader could see a committed batch with
    a missing frontier/politeness dir. Crash recovery (stale dead-pid
    locks, half-rewritten dirs) remains automatic; CONCURRENCY is refused,
    not tolerated."""
    cur, want = revision(store_dir), to_rev
    ci, wi = REVISIONS.index(cur), REVISIONS.index(want)
    if wi < ci:
        raise ValueError(f"refusing downgrade {cur} -> {want}")
    lock = ST.acquire_lock(store_dir, owner="migrate")
    try:
        applied: dict[str, int] = {}
        for rev in REVISIONS[ci + 1:wi + 1]:
            applied[rev] = _UPGRADES[rev](spark, store_dir)
            stamp(store_dir, rev)  # stamp AFTER the step: crash = re-run step
        return applied
    finally:
        ST.release_lock(lock)


def downgrade_for_test(spark: SparkSession, store_dir: str) -> None:
    """Rewrite a current-layout store to the r1_initial layout (drop the
    columns later revisions add) and stamp it r1. Test-only: real stores
    never downgrade; this manufactures the 'old checkpoint' fixture."""
    for name in ("frontier", "frontier_delta"):
        for d in _state_dirs(store_dir, name):
            df = spark.read.parquet(str(d))
            if "retry_count" in df.columns:
                _drop_rewrite(df.drop("retry_count"), d)
    for d in _state_dirs(store_dir, "politeness"):
        df = spark.read.parquet(str(d))
        drop = [c for c in ("robots_rules", "robots_fetched_seq")
                if c in df.columns]
        if drop:
            _drop_rewrite(df.drop(*drop), d)
    stamp(store_dir, REVISIONS[0])


def _drop_rewrite(df: DataFrame, path: Path) -> None:
    import shutil
    tmp = path.with_name(path.name + "._migrating")
    df.write.mode("overwrite").parquet(str(tmp))
    shutil.rmtree(path)
    tmp.rename(path)
