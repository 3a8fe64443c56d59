"""Iceberg-layout snapshot state for the crawl loop.

Iceberg jars aren't in this image, so we implement the same durability
contract at the Parquet level: each micro-batch writes a snapshot directory
``state/batch=N/{frontier_delta|frontier,politeness,metrics[,bloom|cuckoo]}``
(the last is the URL-seen filter's blob table, named by its kind, in a store
that keeps one) and commits it by writing ``_COMMIT.json`` LAST (rename-free
single-file commit — the marker either exists or the snapshot is
invisible). Only this module (and engine/migrate, which rewrites state
dirs by design) knows the layout: the crawl loop gets its small state
(politeness, the filter blobs) back from each commit as frames over the
files just written, and resume reads the same files through
``load_snapshot``. Output tables are append-only per-batch directories
``tables/<name>/batch=N`` written with overwrite mode; a batch writes only
the tables of the page kinds it fetched, so its commit also deletes every
``batch=N`` dir of a table it does not write (a killed attempt may have
fetched other kinds), and replaying a batch after a crash is idempotent.
Resume = load the highest committed snapshot and ignore orphan
(uncommitted) batch dirs.

Frontier state is MERGE-ON-READ (the Iceberg MERGE INTO analog): a normal
batch writes only ``frontier_delta`` — the rows whose status changed plus the
newly discovered rows, O(batch), NOT O(|frontier|) — and readers reconstruct
the frontier as "latest row per url across base + deltas". Periodically (and
at every mark_for_recrawl/purge_urls, whose row deletions a delta cannot
express) a FULL ``frontier`` compaction is written; reconstruction starts at
the newest full dir at-or-below the committed batch. A full dir is only
trusted when Spark's ``_SUCCESS`` marker exists, so the post-loop compaction
(written after the batch marker for cheap reads) degrades safely to the
delta path if interrupted mid-write.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

STATE = "state"
TABLES = "tables"
LOCK_FILE = "_LOCK.json"
SEEN_FILTERS = ("bloom", "cuckoo")   # seen-filter kinds = their blob dir names


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except OSError:
        return False


def acquire_lock(store_dir: str, owner: str) -> Path:
    """Exclusive store-dir lock (crawl ↔ migrate mutual exclusion).

    O_EXCL-create of ``_LOCK.json`` carrying (pid, owner). A live holder in
    ANOTHER process makes acquisition fail loudly — a migration must never
    rewrite state dirs under a running crawl (engine/migrate._add_columns
    has a rename window where the dir does not exist), and a crawl must not
    resume mid-migration. A lock whose pid is dead (killed run) or is THIS
    process (serialized calls within one driver) is stale and is broken.
    """
    p = Path(store_dir) / LOCK_FILE
    p.parent.mkdir(parents=True, exist_ok=True)
    for _ in range(3):
        try:
            fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, json.dumps(
                {"pid": os.getpid(), "owner": owner}).encode())
            os.close(fd)
            return p
        except FileExistsError:
            try:
                info = json.loads(p.read_text())
                pid = int(info.get("pid", -1))
            except (OSError, ValueError):
                pid, info = -1, {}
            if pid > 0 and pid != os.getpid() and _pid_alive(pid):
                raise RuntimeError(
                    f"store {store_dir} is locked by live "
                    f"{info.get('owner', '?')} pid {pid}; refusing to run "
                    f"concurrently (remove {LOCK_FILE} only if that "
                    "process is truly gone)")
            p.unlink(missing_ok=True)  # stale holder: break and retry
    raise RuntimeError(f"could not acquire {p}")


def release_lock(lock_path: Path) -> None:
    Path(lock_path).unlink(missing_ok=True)


def _sized(df: DataFrame) -> DataFrame:
    """AQE-sized write for a FULL frontier compaction: the REBALANCE hint
    inserts a shuffle whose output partitions AQE coalesces/splits to the
    advisory size, so file count tracks data size — ~64 MB files for a
    10^10-row frontier on a cluster, which a coalesce to one file per core
    could not SPLIT into. The O(batch) writes skip it (commit_batch)."""
    return df.hint("rebalance")


@dataclass
class Snapshot:
    batch_id: int
    frontier: DataFrame
    politeness: DataFrame
    seen: tuple[str, DataFrame] | None = None   # (filter kind, blob table)


def _batch_dir(out_dir: str, batch_id: int) -> Path:
    return Path(out_dir) / STATE / f"batch={batch_id}"


def table_dir(out_dir: str, name: str, batch_id: int) -> Path:
    """Output table ``name``'s dir for batch ``batch_id``."""
    return Path(out_dir) / TABLES / name / f"batch={batch_id}"


def table_batches(out_dir: str, name: str) -> list[int]:
    """The batch ids output table ``name`` has a dir for, ascending
    (uncommitted orphans included)."""
    return sorted(int(p.name.split("=")[1])
                  for p in (Path(out_dir) / TABLES / name).glob("batch=*"))


def commit_batch(out_dir: str, batch_id: int, frontier: DataFrame | None,
                 politeness: DataFrame, metrics: DataFrame | None = None,
                 tables: dict[str, DataFrame] | None = None,
                 extra: dict | None = None,
                 frontier_delta: DataFrame | None = None,
                 seen: tuple[str, DataFrame] | None = None
                 ) -> dict[str, DataFrame]:
    """Write ALL of a batch's outputs (state + output tables), marker LAST.
    ``seen``: the URL-seen filter's (kind, blob table), if the store keeps
    one.

    The writes are independent Spark jobs, so they are submitted from a
    driver-side thread pool and run concurrently — on a mostly-idle local[32]
    this overlaps ~8 small job latencies into ~1 (measured: steady batch
    7 s → ~4 s). Durability is unchanged: every write is an idempotent
    overwrite into the batch directory and the _COMMIT.json marker is only
    written after every write has succeeded — a crash mid-batch leaves an
    uncommitted orphan that resume overwrites.

    Returns the small state it wrote — ``politeness`` and the blob table
    under its kind — as frames over the committed files, read with the
    schemas they were written with (no schema-inference job). The next
    batch plans against these leaves, so the loop reads its small state the
    way resume does, and its lineage ends at the commit.
    """
    d = _batch_dir(out_dir, batch_id)
    # orphan from a killed run: drop the stale marker and a blob table of
    # another filter kind; the overwrite writes below replace the rest
    (d / "_COMMIT.json").unlink(missing_ok=True)
    for kind in SEEN_FILTERS:
        if seen is None or kind != seen[0]:
            shutil.rmtree(d / kind, ignore_errors=True)
    if frontier is None and frontier_delta is None:
        raise ValueError("commit_batch needs a frontier or a frontier_delta")
    # a killed attempt of this batch may have written output tables this
    # one does not (it fetched other page kinds); drop them so the marker
    # commits exactly the dirs written now. payload_verify is never in
    # `tables` (post-marker), so a stale one always goes.
    for stale in (Path(out_dir) / TABLES).glob(f"*/batch={batch_id}"):
        if stale.parent.name not in (tables or {}):
            shutil.rmtree(stale)
    # Every O(batch) write — the small state tables and the output tables —
    # COALESCES to at most one file per core (shuffle-free; the upstream
    # stage still runs core-wide): the natural partitioning inherits the
    # fetch scan's fine splits (~240 per steady batch) and per-file
    # open/footer cost dominates these sub-second writes — measured at
    # local[32] on an 860k-row narrow table: natural 240 files 1.0-2.5 s,
    # rebalance 1.1-1.6 s (adds a shuffle barrier), coalesce(32)
    # 0.3-0.4 s. Only a full frontier compaction must also SPLIT (a
    # 10^10-row frontier needs more files than cores), so it alone keeps
    # the AQE-sized REBALANCE path.
    spark = politeness.sparkSession
    par = spark.sparkContext.defaultParallelism
    back = {"politeness": politeness}
    if seen is not None:
        back[seen[0]] = seen[1]
    small = {**back, "frontier_delta": frontier_delta, "metrics": metrics}
    jobs: list[tuple[str, DataFrame, dict[str, str]]] = [
        (str(d / name), df.coalesce(par), {})
        for name, df in small.items() if df is not None]
    if frontier is not None:          # full snapshot = compaction point
        jobs.append((str(d / "frontier"), _sized(frontier), {}))
    for name, df in (tables or {}).items():
        if any(t == "binary" for _, t in df.dtypes):
            # payload-bytes tables (images): the blobs are ALREADY
            # codec-compressed, so page compression and dictionary encoding
            # burn CPU for exactly zero size win — measured on a 196k-row
            # 2.1 GB steady batch at local[32]: snappy+dict 20.3 s,
            # snappy+nodict 18.2 s, none+nodict 1.8 s, ALL 2.1 GB on disk.
            # This was the single largest slice of the commit tail. At the
            # same batch the coalesce gave ~66 MB files (240 files 2.6-3.3 s,
            # coalesce(32) 0.7-1.2 s); a REBALANCE would shuffle every
            # payload byte a second time (measured 2.9-7.5 s).
            opts = {"compression": "none", "parquet.enable.dictionary": "false"}
        else:
            opts = {"compression": "snappy"}
        jobs.append((str(table_dir(out_dir, name, batch_id)),
                     df.coalesce(par), opts))

    def _write(item: tuple[str, DataFrame, dict[str, str]]) -> None:
        path, df, opts = item
        # commit writes run in their own FAIR pool so the crawl loop's
        # next-batch jobs (pool "loop") share executors with them instead
        # of queueing behind 30-45 s of payload writes (session.py conf)
        df.sparkSession.sparkContext.setLocalProperty(
            "spark.scheduler.pool", "commit")
        df.write.mode("overwrite").options(**opts).parquet(path)

    with ThreadPoolExecutor(max_workers=min(8, len(jobs))) as ex:
        list(ex.map(_write, jobs))  # list() re-raises the first failure
    payload = {"batch_id": batch_id, "committed_at": time.time(), **(extra or {})}
    (d / "_COMMIT.json").write_text(json.dumps(payload))
    return {name: spark.read.schema(df.schema).parquet(str(d / name))
            for name, df in back.items()}


def latest_committed(out_dir: str) -> int | None:
    state = Path(out_dir) / STATE
    if not state.exists():
        return None
    ids = [
        int(p.name.split("=")[1])
        for p in state.iterdir()
        if p.name.startswith("batch=") and (p / "_COMMIT.json").exists()
    ]
    return max(ids) if ids else None


def _has_full_frontier(out_dir: str, batch_id: int) -> bool:
    d = _batch_dir(out_dir, batch_id) / "frontier"
    return (d / "_SUCCESS").exists()


def load_frontier(spark: SparkSession, out_dir: str, bid: int) -> DataFrame:
    """Merge-on-read reconstruction: newest full ``frontier`` dir at-or-below
    ``bid``, overlaid with the ``frontier_delta`` dirs after it — latest row
    per url wins (delta batches are totally ordered). The per-url window
    shuffles O(|frontier|) narrow rows once per *read*, while every *batch*
    writes only O(changes) — the merge-on-read trade."""
    base_id = next(
        (b for b in range(bid, -1, -1) if _has_full_frontier(out_dir, b)), None)
    if base_id is None:
        raise ValueError(f"no full frontier compaction at or below batch "
                         f"{bid} under {out_dir}")
    base = _batch_dir(out_dir, base_id) / "frontier"
    frontier = spark.read.parquet(str(base)).withColumn("_v", F.lit(base_id))
    delta_dirs = [
        (b, _batch_dir(out_dir, b) / "frontier_delta")
        for b in range(base_id + 1, bid + 1)
    ]
    missing = [b for b, p in delta_dirs if not p.exists()]
    if missing:
        raise ValueError(
            f"frontier reconstruction hole at batches {missing} under {out_dir}")
    for b, p in delta_dirs:
        frontier = frontier.unionByName(
            spark.read.parquet(str(p)).withColumn("_v", F.lit(b)))
    if delta_dirs:
        w = Window.partitionBy("url").orderBy(F.col("_v").desc())
        frontier = (frontier.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") == 1).drop("_rn"))
    return frontier.drop("_v")


def load_snapshot(spark: SparkSession, out_dir: str) -> Snapshot | None:
    bid = latest_committed(out_dir)
    if bid is None:
        return None
    d = _batch_dir(out_dir, bid)
    return Snapshot(
        batch_id=bid,
        frontier=load_frontier(spark, out_dir, bid),
        politeness=spark.read.parquet(str(d / "politeness")),
        seen=next(((k, spark.read.parquet(str(d / k)))
                   for k in SEEN_FILTERS if (d / k).exists()), None),
    )


def write_frontier_compaction(out_dir: str, batch_id: int,
                              frontier: DataFrame) -> None:
    """Post-loop (or periodic, out-of-band) compaction: write the full
    frontier into an already-committed batch dir. Safe after the marker —
    readers only trust it once Spark's _SUCCESS lands (see module doc)."""
    _sized(frontier).write.mode("overwrite").parquet(
        str(_batch_dir(out_dir, batch_id) / "frontier"))


def read_table(spark: SparkSession, out_dir: str, name: str,
               max_batch: int | None = None,
               with_batch: bool = False) -> DataFrame | None:
    """Union of the per-batch output dirs. ``with_batch=True`` reads via
    basePath so the ``batch=N`` directory becomes a ``batch`` column —
    version ORDER AS DATA for SCD-2 consumers (engine/store.py)."""
    # resume: ignore orphan batches beyond the commit
    dirs = [str(table_dir(out_dir, name, b)) for b in table_batches(out_dir, name)
            if max_batch is None or b <= max_batch]
    if not dirs:
        return None
    if with_batch:
        return (spark.read.option("basePath", str(Path(out_dir) / TABLES / name))
                .parquet(*dirs))
    return spark.read.parquet(*dirs)


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame | None:
    state = Path(out_dir) / STATE
    dirs = [p / "metrics" for p in state.glob("batch=*")
            if (p / "_COMMIT.json").exists() and (p / "metrics").exists()]
    if not dirs:
        return None
    return spark.read.parquet(*[str(p) for p in dirs])
