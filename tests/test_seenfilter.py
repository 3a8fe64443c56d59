"""The shared partitioned seen-filter dataflow: a blob table committed with
a batch carries its own geometry, so restoring it into a state constructed
with other arguments neither loses keys nor drops updates."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pttcrawler_spark.engine import state as ST
from pttcrawler_spark.operators.bloom import BloomState
from pttcrawler_spark.operators.cuckoo import CuckooState


def _hashes(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))


def _n_items(state) -> int:
    return state.blobs.agg(F.sum("n_items")).collect()[0][0]


@pytest.mark.parametrize("cls, saved_geometry", [
    (BloomState, {"partitions": 4}),
    (BloomState, {"partitions": 4, "bits_per_partition": 1 << 14}),
    (CuckooState, {"partitions": 4}),
    (CuckooState, {"partitions": 4, "buckets_per_partition": 1 << 11}),
], ids=["bloom-p4", "bloom-p4-small", "cuckoo-p4", "cuckoo-p4-small"])
def test_load_takes_geometry_from_saved_blobs(spark, cls, saved_geometry):
    out = tempfile.mkdtemp(prefix="seenfilter_geom_")
    try:
        saved = cls(**saved_geometry)
        saved.rebuild(_hashes(spark, 0, 2000))
        ST.commit_batch(out, 3,
                        frontier=spark.createDataFrame([("u",)], "url string"),
                        politeness=spark.createDataFrame([("h",)], "host string"),
                        seen=(saved.NAME, saved.blobs))

        snap = ST.load_snapshot(spark, out)
        assert snap.seen[0] == cls.NAME
        loaded = cls()
        loaded.restore(snap.seen[1])
        maybe, new = loaded.split(_hashes(spark, 0, 2000))
        assert new.count() == 0 and maybe.count() == 2000

        assert _n_items(loaded) == 2000
        loaded.add(_hashes(spark, 2000, 2100))
        assert _n_items(loaded) == 2100
        _, new = loaded.split(_hashes(spark, 0, 2100))
        assert new.count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_replayed_commit_keeps_only_its_own_blobs(spark):
    """A killed attempt's blob table does not survive a replay of its batch
    that keeps another filter kind, or none."""
    out = tempfile.mkdtemp(prefix="seenfilter_replay_")
    try:
        frontier = spark.createDataFrame([("u",)], "url string")
        politeness = spark.createDataFrame([("h",)], "host string")
        bloom, cuckoo = BloomState(partitions=2), CuckooState(partitions=2)
        for state in (bloom, cuckoo):
            state.rebuild(_hashes(spark, 0, 10))
        ST.commit_batch(out, 0, frontier, politeness, seen=("bloom", bloom.blobs))
        ST.commit_batch(out, 0, frontier, politeness, seen=("cuckoo", cuckoo.blobs))
        assert ST.load_snapshot(spark, out).seen[0] == "cuckoo"
        ST.commit_batch(out, 0, frontier, politeness)
        assert ST.load_snapshot(spark, out).seen is None
    finally:
        shutil.rmtree(out, ignore_errors=True)
