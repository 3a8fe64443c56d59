"""Per-row payload verification — the north-rule invariant stage.

BASELINE.json input_hint: "per-row invariant vs the reference: decoded-pixel
allclose (PSNR >= 40 dB for lossy) + caption equality", executed "through
pandas/Arrow UDFs with zero per-row Python" — the per-row loop lives inside
an Arrow batch function, the same shape a real codec binding would have.

For every fetched article payload this stage:
  - decodes ``bytes`` (vectorized batch decode),
  - recomputes the perceptual hash from the decoded pixels and compares it
    to the carried ``phash`` metadata (exact for lossless; hamming <= 2 for
    lossy — quantization legitimately flips borderline phash bits, measured
    max 2/64 at the codec's q-step, and a perceptual hash is by construction
    compared under a small hamming budget),
  - re-renders the reference pixels for ``image_id`` (synth/images) and
    scores PSNR against the decode (>= 40 dB passes for lossy formats;
    lossless must be exact),
  - checks caption equality against the expected caption column.

Rows never throw: failures land as boolean/NULL columns (the engine's
"status rows, not exceptions" rule — SURVEY.md §7.0.3).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..synth import images as img
from . import state as ST

VERIFY_DDL = (
    "image_id string, fmt string, psnr_db double, pixel_ok boolean, "
    "phash_ok boolean, caption_ok boolean"
)
PSNR_GATE_DB = 40.0
PHASH_LOSSY_HAMMING = 2


def _verify_batch(pdf: pd.DataFrame,
                  reference_render: Callable[[str, int, int], np.ndarray],
                  batch_render: bool = False) -> pd.DataFrame:
    """One Arrow batch. The per-row work is zlib decode + the per-id RNG
    draws of the reference render (irreducibly row-at-a-time); everything
    downstream — PSNR, phash, hamming, the pixel/format gates — runs
    vectorized over same-shape stacks via the ``*_batch`` primitives in
    synth/images (bit-identical to the per-row path, property-tested;
    measured ~2x less Python CPU per verify batch at 64x64).

    ``batch_render=True`` renders references via make_pixels_batch (valid
    only for the default renderer, the stage's own path); otherwise
    ``reference_render`` renders each row — the per-row reference the batch
    path is tested against.
    """
    n = len(pdf)
    psnr_db = np.full(n, np.nan)
    pixel_ok = np.zeros(n, dtype=bool)
    phash_ok = np.zeros(n, dtype=bool)
    caption_ok = (
        pdf["caption"].fillna("").to_numpy() == pdf["expected_caption"].fillna("").to_numpy()
    )
    byts = pdf["bytes"].to_numpy()
    ids = pdf["image_id"].to_numpy()
    ws = pdf["w"].to_numpy()
    hs = pdf["h"].to_numpy()
    fmts = pdf["fmt"].to_numpy()
    phashes = pdf["phash"].to_numpy()
    # decode per row (variable-size payloads), bucket indices by pixel shape
    decoded: list[np.ndarray | None] = [None] * n
    groups: dict[tuple[int, ...], list[int]] = {}
    for i in range(n):
        if byts[i] is None:
            continue
        try:
            px = img.decode(bytes(byts[i]))
        except Exception:
            continue
        decoded[i] = px
        # group by decode shape AND metadata dims: the reference render uses
        # the carried (w, h) metadata, exactly like the per-row path
        groups.setdefault((px.shape, int(ws[i]), int(hs[i])), []).append(i)
    # chunk each shape group: full-group stacks of a 1k+-row Arrow batch are
    # memory-bandwidth-bound (the float32/float64 intermediates stream
    # through RAM); ~256 rows x 48 KB keeps the working set cache-resident
    # (measured 2.5x faster than whole-batch stacks at 4k x 64x64)
    for (shape, mw, mh), idx_all in groups.items():
        chunk = max(1, (1 << 22) // int(np.prod(shape)))
        for c0 in range(0, len(idx_all), chunk):
            idx = idx_all[c0:c0 + chunk]
            ii = np.asarray(idx)
            px = np.stack([decoded[i] for i in idx])
            if batch_render:
                ref = img.make_pixels_batch([str(ids[i]) for i in idx], mw, mh)
            else:
                ref = np.stack([reference_render(str(ids[i]), int(ws[i]),
                                                 int(hs[i])) for i in idx])
            p = img.psnr_batch(ref, px)
            psnr_db[ii] = np.where(np.isfinite(p), p, 1e9)
            is_png = fmts[ii] == "png"
            exact = (ref == px).reshape(len(idx), -1).all(axis=1)
            pixel_ok[ii] = np.where(is_png, exact, p >= PSNR_GATE_DB)
            has_ph = ~pd.isna(phashes[ii])
            if has_ph.any():
                jj = ii[has_ph]
                dist = img.hamming64_batch(
                    img.phash64_batch(px[has_ph]),
                    phashes[jj].astype(np.int64))
                phash_ok[jj] = np.where(is_png[has_ph], dist == 0,
                                        dist <= PHASH_LOSSY_HAMMING)
    return pd.DataFrame({
        "image_id": pdf["image_id"],
        "fmt": pdf["fmt"],
        "psnr_db": psnr_db,
        "pixel_ok": pixel_ok,
        "phash_ok": phash_ok,
        "caption_ok": caption_ok,
    })


def _default_render(image_id: str, w: int, h: int) -> np.ndarray:
    return img.make_pixels(image_id, w, h)


def verify_payloads(df: DataFrame) -> DataFrame:
    """df columns: image_id, bytes, w, h, fmt, caption, phash,
    expected_caption → VERIFY_DDL rows via mapInPandas (Arrow batches)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _verify_batch(pdf, _default_render, batch_render=True)

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "expected_caption"]
    return df.select(*cols).mapInPandas(run, schema=VERIFY_DDL)


# --- post-commit verify -------------------------------------------------------
#
# At scale the verify stage is a DOWNSTREAM CONSUMER of the crawl, not part
# of the crawl's durability barrier: its input is the committed ``images``
# table, its output is derived (recomputable) data. The crawl runs it as a
# follow-on job per batch, so batch k's verify overlaps batch k+1's
# admit/fetch/parse — Python+memory-bus work overlapping JVM-heavy work —
# and it reads parquet, so it pins none of batch k's heavy in-memory cache.
#
# A page's expected caption is its second metaline value,
# coalesce(try_element_at(metas, 2), ''). No table stores it: the verify
# takes it from the committed parsed_articles.title, which is the same
# expression by construction (functions/parse.py: title =
# when(has_metas, coalesce(meta2, '')).otherwise(''), and try_element_at of
# an empty array is NULL, so both reduce to coalesce(meta2, '') in every
# branch; pinned by tests/test_properties.py::test_expected_caption_equals_title).
#
# Durability: ``tables/payload_verify/batch=N`` lands AFTER batch N's
# _COMMIT.json marker and is trusted via Spark's _SUCCESS file; a crash
# between the marker and the verify write leaves a committed batch without
# a verify dir, which ``repair_missing_verify`` recomputes on resume
# (idempotent overwrite — the exactly-once story for derived tables).


def verify_committed_batch(spark, out_dir: str, batch_id: int) -> None:
    """Recompute + write ``payload_verify/batch=N`` from committed tables."""
    from pyspark.sql import functions as F
    img_dir = ST.table_dir(out_dir, "images", batch_id)
    parsed_dir = ST.table_dir(out_dir, "parsed_articles", batch_id)
    if not img_dir.exists() or not parsed_dir.exists():
        return  # nothing fetched this batch (bootstrap/index-only)
    # background thread: same FAIR pool as the commit writes so the next
    # batch's loop jobs share executors instead of queueing behind this
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "commit")
    captions = (spark.read.parquet(str(parsed_dir))
                .select(F.col("web_id").alias("image_id"),
                        F.col("title").alias("expected_caption")))
    payload = (spark.read.parquet(str(img_dir))
               .join(F.broadcast(captions), "image_id"))
    verify_payloads(payload).write.mode("overwrite").parquet(
        str(ST.table_dir(out_dir, "payload_verify", batch_id)))


def repair_missing_verify(spark, out_dir: str, max_batch: int) -> list[int]:
    """Resume-time repair: recompute ``payload_verify`` for every committed
    batch whose images dir exists but whose verify dir is missing or was
    interrupted mid-write (no _SUCCESS). Normally at most the one batch
    whose verify was in flight when the run died."""
    repaired = []
    for b in ST.table_batches(out_dir, "images"):
        v = ST.table_dir(out_dir, "payload_verify", b)
        if b <= max_batch and not (v / "_SUCCESS").exists():
            verify_committed_batch(spark, out_dir, b)
            repaired.append(b)
    return repaired
