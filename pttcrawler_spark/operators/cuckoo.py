"""Partitioned cuckoo filter — the deletable URL-seen variant (north rule).

Same partitioned Spark dataflow as operators/bloom.py (both are
operators/seenfilter.py, their blob tables committed with each batch by
engine/state), plus DELETE: needed when a URL must be re-crawled
(the reference's --upgrade re-fetch, crawler/article.py:152-157 skips only
when not upgrading). The crawl uses it only under
``CrawlConfig.seen_filter='cuckoo'``. This module is the per-partition
kernel: a standard (2,4)-cuckoo filter per blob row (table_bytes, with its
n_buckets geometry): 16-bit fingerprints, 4 slots/bucket, two candidate
buckets i1 = h mod b and i2 = i1 XOR (mix(fp) mod b), ~500-step kick loop
(Fan et al., CoNEXT'14 — public algorithm). Lookups are numpy-vectorized;
inserts/deletes walk a short loop per key inside the Arrow batch (no
per-row Python in the Spark plan — the loop lives inside one grouped-map
UDF call, same shape a native filter binding would have).
"""

from __future__ import annotations

import numpy as np

from .seenfilter import PartitionedFilter

SLOTS = 4
MAX_KICKS = 500
BLOB_SCHEMA = ("partition_id int, table_bytes binary, n_buckets long, "
               "n_items long, n_deleted long")


def _fingerprint(h: np.ndarray) -> np.ndarray:
    fp = ((h.astype(np.uint64) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    return np.where(fp == 0, np.uint16(1), fp)  # 0 = empty slot sentinel


def _mix(fp: np.ndarray) -> np.ndarray:
    return (fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(0xFFFFFFFFFFFFFFFF)


def _i1(h: np.ndarray, b: int) -> np.ndarray:
    return (h.astype(np.uint64) % np.uint64(b)).astype(np.int64)


def _alt(i: np.ndarray, fp: np.ndarray, b: int) -> np.ndarray:
    return ((i.astype(np.uint64) ^ _mix(fp)) % np.uint64(b)).astype(np.int64)


def _table(blob: dict) -> np.ndarray:
    """The blob's (n_buckets, SLOTS) fingerprint table, writable."""
    return np.frombuffer(blob["table_bytes"], dtype=np.uint16).reshape(
        int(blob["n_buckets"]), SLOTS).copy()


def _put(t: np.ndarray, i: int, fp) -> bool:
    empty = np.flatnonzero(t[i] == 0)
    if len(empty):
        t[i, empty[0]] = fp
    return bool(len(empty))


def _insert_many(t: np.ndarray, hashes: np.ndarray) -> None:
    b = len(t)
    for fp, i1 in zip(_fingerprint(hashes), _i1(hashes, b)):
        i2 = int(_alt(np.array([i1]), np.array([fp]), b)[0])
        if _put(t, int(i1), fp) or _put(t, i2, fp):
            continue
        # kick loop (deterministic slot choice: rotate by a counter)
        cur_i, cur_fp = int(i1), np.uint16(fp)
        for kick in range(MAX_KICKS):
            slot = kick % SLOTS
            cur_fp, t[cur_i, slot] = t[cur_i, slot], cur_fp
            cur_i = int(_alt(np.array([cur_i]), np.array([cur_fp]), b)[0])
            if _put(t, cur_i, cur_fp):
                break
        else:
            raise RuntimeError("cuckoo filter full — resize needed")


def _delete_many(t: np.ndarray, hashes: np.ndarray) -> int:
    fps = _fingerprint(hashes)
    i1s = _i1(hashes, len(t))
    i2s = _alt(i1s, fps, len(t))
    deleted = 0
    for fp, i1, i2 in zip(fps, i1s, i2s):
        for i in (int(i1), int(i2)):
            hit = np.flatnonzero(t[i] == fp)
            if len(hit):
                t[i, hit[0]] = 0
                deleted += 1
                break
    return deleted


class CuckooState(PartitionedFilter):
    """Same DataFrame-of-blobs interface as BloomState, plus remove()."""

    NAME = "cuckoo"
    BLOB_SCHEMA = BLOB_SCHEMA

    def __init__(self, partitions: int = 16, buckets_per_partition: int = 1 << 14):
        super().__init__(partitions)
        self.b = buckets_per_partition

    def _fresh(self) -> dict:
        return {"table_bytes": bytes(self.b * SLOTS * 2), "n_buckets": self.b,
                "n_items": 0, "n_deleted": 0}

    def remove(self, hashes) -> None:
        self._update(hashes, self._delete)

    @staticmethod
    def _insert(blob: dict, hashes: np.ndarray) -> dict:
        t = _table(blob)
        _insert_many(t, hashes)
        return {**blob, "table_bytes": t.tobytes(),
                "n_items": blob["n_items"] + len(hashes)}

    @staticmethod
    def _delete(blob: dict, hashes: np.ndarray) -> dict:
        t = _table(blob)
        d = _delete_many(t, hashes)
        return {**blob, "table_bytes": t.tobytes(),
                "n_items": blob["n_items"] - d, "n_deleted": blob["n_deleted"] + d}

    @staticmethod
    def _lookup(blob: dict, hashes: np.ndarray) -> np.ndarray:
        t = _table(blob)
        fps = _fingerprint(hashes)
        i1s = _i1(hashes, len(t))
        i2s = _alt(i1s, fps, len(t))
        return ((t[i1s] == fps[:, None]).any(axis=1)
                | (t[i2s] == fps[:, None]).any(axis=1))
