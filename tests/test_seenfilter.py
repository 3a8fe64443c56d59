"""The shared partitioned seen-filter dataflow: a saved state carries its
own geometry, so loading it into a state constructed with other arguments
neither loses keys nor drops updates."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

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
        saved.save(out, 3)

        loaded = cls()
        assert loaded.load(out, 3)
        maybe, new = loaded.split(_hashes(spark, 0, 2000))
        assert new.count() == 0 and maybe.count() == 2000

        assert _n_items(loaded) == 2000
        loaded.add(_hashes(spark, 2000, 2100))
        assert _n_items(loaded) == 2100
        _, new = loaded.split(_hashes(spark, 0, 2100))
        assert new.count() == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
