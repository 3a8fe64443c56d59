"""Partitioned Bloom filter for the URL-seen set (north rule).

Reference analog: the "already fetched" probe (crawler/article.py:152-157)
and the not-yet-fetched anti-join (crawler/article.py:528-531). At 10^10 URLs
the exact anti-join's shuffle is the crawl's hot spot; the Bloom filter
splits candidates into *definitely-new* (skip the join — the overwhelming
majority on a frontier that keeps expanding) and *maybe-seen* (verified by
the exact join, so false positives never lose URLs; the filter is an
OPTIMIZATION, the join remains the truth). The crawl uses it only under
``CrawlConfig.seen_filter='bloom'``; the default is the exact anti-join.

The partitioned Spark dataflow (partition key, rebuild, cogroup update and
probe) is operators/seenfilter.py, and the blob table persists as part of
each committed batch (engine/state.commit_batch); this module is the
per-partition kernel: one bit array per blob row (bloom_bytes, with its
n_bits/n_hashes geometry), numpy-vectorized Kirsch-Mitzenmacher double
hashing from the 64-bit key: bit_i = (h1 + i*h2) mod m.

A cuckoo-filter variant (operators/cuckoo.py) supports deletions for
re-crawl workflows (--upgrade analog).
"""

from __future__ import annotations

import numpy as np

from .seenfilter import PartitionedFilter

BLOB_SCHEMA = "partition_id int, bloom_bytes binary, n_items long, n_bits long, n_hashes int"


def _bit_positions(hashes: np.ndarray, m: int, k: int):
    """(byte index, bit mask) of each of the k bits of every key."""
    u = hashes.astype(np.uint64)
    h1 = u & np.uint64(0xFFFFFFFF)
    h2 = (u >> np.uint64(32)) | np.uint64(1)  # odd → full-period stride
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
        yield ((idx >> np.uint64(3)).astype(np.int64),
               np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))


class BloomState(PartitionedFilter):
    """Distributed bloom blobs as a (small-rowcount, large-bytes) DataFrame."""

    NAME = "bloom"
    BLOB_SCHEMA = BLOB_SCHEMA

    def __init__(self, partitions: int = 16, bits_per_key: int = 16,
                 bits_per_partition: int = 1 << 20, n_hashes: int | None = None):
        super().__init__(partitions)
        self.m = bits_per_partition
        self.k = n_hashes or max(1, round(0.693 * bits_per_key))

    def _fresh(self) -> dict:
        return {"bloom_bytes": bytes(self.m // 8), "n_items": 0,
                "n_bits": self.m, "n_hashes": self.k}

    @staticmethod
    def _insert(blob: dict, hashes: np.ndarray) -> dict:
        bits = np.frombuffer(blob["bloom_bytes"], dtype=np.uint8).copy()
        for byte, mask in _bit_positions(hashes, int(blob["n_bits"]),
                                         int(blob["n_hashes"])):
            np.bitwise_or.at(bits, byte, mask)
        return {**blob, "bloom_bytes": bits.tobytes(),
                "n_items": blob["n_items"] + len(hashes)}

    @staticmethod
    def _lookup(blob: dict, hashes: np.ndarray) -> np.ndarray:
        bits = np.frombuffer(blob["bloom_bytes"], dtype=np.uint8)
        out = np.ones(len(hashes), dtype=bool)
        for byte, mask in _bit_positions(hashes, int(blob["n_bits"]),
                                         int(blob["n_hashes"])):
            out &= (bits[byte] & mask) != 0
        return out
