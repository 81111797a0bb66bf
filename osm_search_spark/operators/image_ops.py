"""Image operators — Arrow-batched mapInPandas over binary columns.

The Spark-side plumbing (schema, partitioning, batch shape) is real; the
codec kernels live in functions/images.py (pure numpy/zlib, PIL slots in
when present). No per-row Python at the API layer — each UDF call receives
a whole Arrow batch.

Operators (per the training-pipeline surface required by the brief):
- decode_stats: decode bytes -> per-image pixel stats + PSNR vs the
  synthesis oracle (the decoded-pixel allclose / PSNR>=40dB invariant).
- verify_phash: recompute pHash from decoded pixels, hamming distance to
  the stored phash column.
- phash_near_dup_pairs: near-duplicate image pairs by pHash band join
  (exact hamming <= threshold refine after a 16-bit band bucket join).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import images as I


def decode_stats(images: DataFrame, with_oracle_psnr: bool = True) -> DataFrame:
    """(image_id, w, h, fmt, mean_px, decode_ok, psnr_db).

    psnr_db compares decoded pixels against the synthesis oracle
    (sources.images.expected_pixels) — inf for lossless png, ~43 dB for
    qpng; NaN when the oracle doesn't apply (external images).
    """
    schema = (
        "image_id string, w int, h int, fmt string, "
        "mean_px double, decode_ok boolean, psnr_db double"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources.images import expected_pixels

        for pdf in batches:
            out = []
            for img_id, data, w, h, fmt in zip(
                pdf["image_id"], pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]
            ):
                try:
                    px = I.decode(bytes(data), fmt)
                    ok, mean = True, float(px.mean())
                    if with_oracle_psnr and img_id.startswith("img_"):
                        i = int(img_id.split("_")[1])
                        p = I.psnr(expected_pixels(i), px)
                        p = 999.0 if p == float("inf") else p
                    else:
                        p = float("nan")
                except NotImplementedError:
                    ok, mean, p = False, float("nan"), float("nan")
                out.append(
                    dict(
                        image_id=img_id, w=int(w), h=int(h),
                        fmt=fmt, mean_px=mean, decode_ok=ok, psnr_db=p,
                    )
                )
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(
        run, schema=schema
    )


def verify_phash(images: DataFrame) -> DataFrame:
    """(image_id, phash, phash_recomputed, hamming) — the stored pHash must
    equal the recomputed one (hamming 0) for synthesized rows."""
    schema = "image_id string, phash long, phash_recomputed long, hamming int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for img_id, data, fmt, ph0 in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"], pdf["phash"]
            ):
                ph = I.phash64(I.decode(bytes(data), fmt))
                out.append(
                    dict(
                        image_id=img_id, phash=int(ph0),
                        phash_recomputed=ph,
                        hamming=I.hamming64(int(ph0), ph),
                    )
                )
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt", "phash").mapInPandas(
        run, schema=schema
    )


def phash_near_dup_pairs(images: DataFrame, max_hamming: int = 10) -> DataFrame:
    """(image_a, image_b, hamming) — candidate pairs from 16-bit pHash band
    buckets (a 64-bit hash within hamming<=3 of another shares at least one
    of 4 16-bit bands by pigeonhole; wider thresholds trade recall), refined
    by exact hamming distance via JVM bit ops."""
    bands = [
        (F.shiftrightunsigned(F.col("phash"), b * 16).bitwiseAND(F.lit(0xFFFF)))
        .alias(f"b{b}")
        for b in range(4)
    ]
    keyed = images.select(F.col("image_id"), F.col("phash"), *bands)
    pairs = None
    for b in range(4):
        p = (
            keyed.alias("x")
            .join(keyed.alias("y"), F.col(f"x.b{b}") == F.col(f"y.b{b}"))
            .filter(F.col("x.image_id") < F.col("y.image_id"))
            .select(
                F.col("x.image_id").alias("image_a"),
                F.col("y.image_id").alias("image_b"),
                F.col("x.phash").alias("ph_a"),
                F.col("y.phash").alias("ph_b"),
            )
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return (
        pairs.distinct()
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("image_a", "image_b", "hamming")
    )


def image_dedup(images: DataFrame, max_hamming: int = 10) -> DataFrame:
    """(image_id, component_id, is_canonical) — the end-to-end image
    near-dup dedup: pHash band-bucket candidate pairs -> exact hamming
    refine (phash_near_dup_pairs) -> min-label connected components
    (dedup.connected_components, O(log d) pointer-jumping rounds) ->
    canonical = the lexicographic-min image_id per cluster. Images with
    no near-dup are their own singleton component (kept), so the frame
    covers the WHOLE table and a corpus build filters
    `is_canonical` directly — the image twin of text dedup_clusters /
    semantic_dedup."""
    from .dedup import connected_components

    pairs = phash_near_dup_pairs(images, max_hamming)
    cc = connected_components(pairs, a="image_a", b="image_b")
    out = (
        images.select(F.col("image_id").alias("node"))
        .join(cc, "node", "left")
        .select(
            F.col("node").alias("image_id"),
            F.coalesce("component_id", F.col("node")).alias("component_id"),
        )
    )
    return out.withColumn(
        "is_canonical", F.col("image_id") == F.col("component_id")
    )


# ---------------------------------------------------------------------------
# LAION/DataComp-style image quality filtering + aspect bucketing
# ---------------------------------------------------------------------------

# SDXL-style aspect buckets: images batch by shape class during training
ASPECT_BUCKETS = ((1, 1), (2, 1), (1, 2), (4, 1), (1, 4))

IMAGE_STATS_SCHEMA = (
    "image_id string, w int, h int, min_dim int, aspect_bucket string, "
    "px_sum long, px_sq_sum long, entropy double, luma_mean double, "
    "keep boolean"
)


def image_stats_py(image_id: str, pixels: np.ndarray) -> tuple:
    """Quality statistics of DECODED pixels — the one shared function both
    the distributed kernel and the oracle's driver-side VALUES builder
    call, so the gate verifies the decode + stats pipeline bit-for-bit.

    Stats follow the published curation filters (LAION-5B, DataComp):
    minimum dimension, aspect-ratio band, not-near-black/white mean,
    non-flat variance, histogram entropy. Sums are exact int64; the only
    floats (entropy, luma_mean) are identical numpy arithmetic on both
    sides. keep = min_dim >= 64 AND aspect in [1/3, 3] AND mean luma in
    [5, 250] AND std >= 5."""
    import math

    h, w = pixels.shape[0], pixels.shape[1]
    flat = pixels.astype(np.int64)
    n = flat.size
    px_sum = int(flat.sum())
    px_sq_sum = int((flat * flat).sum())
    mean = px_sum / n
    var = px_sq_sum / n - mean * mean
    counts = np.bincount(pixels.reshape(-1), minlength=256)
    p = counts[counts > 0] / n
    entropy = float(-(p * np.log2(p)).sum())
    lr = math.log(w / h)
    bucket = min(
        ASPECT_BUCKETS, key=lambda ab: (abs(math.log(ab[0] / ab[1]) - lr), ab)
    )
    keep = (
        min(w, h) >= 64
        and 1.0 / 3.0 <= w / h <= 3.0
        and 5.0 <= mean <= 250.0
        and var >= 25.0
    )
    return (
        image_id, int(w), int(h), int(min(w, h)),
        f"{bucket[0]}:{bucket[1]}", px_sum, px_sq_sum, entropy,
        mean, bool(keep),
    )


BUCKET_RESIZE_SCHEMA = (
    "image_id string, aspect_bucket string, tw int, th int, "
    "px_sum long, px_sq_sum long, crc long, thumb binary"
)


def bucket_resize_py(image_id: str, pixels: np.ndarray, base: int = 64):
    """Pure kernel shared by the distributed operator and the oracle's
    driver-side VALUES builder: choose the SDXL aspect bucket (identical
    rule to image_stats_py), resize to the bucket's canonical dims
    (bucket (a, b) -> (a*base, b*base)) with functions.images.resize_exact
    (pure-integer, bit-exact), and return
    (image_id, bucket, tw, th, px_sum, px_sq_sum, crc32(resized bytes)),
    plus the resized array for re-encoding. crc32 gates the resized
    pixels byte-for-byte without shipping them through the oracle."""
    import math
    import zlib

    h, w = pixels.shape[0], pixels.shape[1]
    lr = math.log(w / h)
    bucket = min(
        ASPECT_BUCKETS, key=lambda ab: (abs(math.log(ab[0] / ab[1]) - lr), ab)
    )
    tw, th = bucket[0] * base, bucket[1] * base
    r = I.resize_exact(pixels, tw, th)
    flat = r.astype(np.int64)
    return (
        image_id, f"{bucket[0]}:{bucket[1]}", tw, th,
        int(flat.sum()), int((flat * flat).sum()),
        int(zlib.crc32(r.tobytes())),
    ), r


def bucket_resize(
    images: DataFrame, base: int = 64, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """Decode -> SDXL aspect-bucket resize -> PNG re-encode, Arrow-batched
    (the LAION/SDXL preprocessing step between quality filtering and the
    training corpus write: every image lands on its bucket's canonical
    dims so training batches by shape class). Input needs
    (image_id, bytes, fmt); output BUCKET_RESIZE_SCHEMA with the resized
    PNG in `thumb` and exact int64 stats + crc32 of the resized raw
    pixels for the gate. `passthrough` columns are echoed through the
    kernel (schema copied from the input — StructType built as a new
    list, never .add, per the round-2 rule) so callers keep tile/cell
    assignments without a join-back shuffle. One narrow map-only pass."""
    from pyspark.sql.types import StructType

    out_schema = StructType(
        list(StructType.fromDDL(BUCKET_RESIZE_SCHEMA))
        + [images.schema[c] for c in passthrough]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [
            "image_id", "aspect_bucket", "tw", "th",
            "px_sum", "px_sq_sum", "crc", "thumb", *passthrough,
        ]
        for pdf in batches:
            rows = []
            for tup in zip(
                pdf["image_id"], pdf["bytes"], pdf["fmt"],
                *[pdf[c] for c in passthrough],
            ):
                iid, b, f = tup[:3]
                stats, r = bucket_resize_py(iid, I.decode(bytes(b), f), base)
                rows.append(stats + (I.png_encode(r),) + tup[3:])
            yield pd.DataFrame(rows, columns=names)

    return images.select("image_id", "bytes", "fmt", *passthrough).mapInPandas(
        run, schema=out_schema
    )


def image_quality_stats(images: DataFrame) -> DataFrame:
    """Decode + per-image quality statistics, Arrow-batched (the image
    analog of the Gopher text battery). Input needs (image_id, bytes,
    fmt); output IMAGE_STATS_SCHEMA. One narrow pass, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        names = [
            "image_id", "w", "h", "min_dim", "aspect_bucket",
            "px_sum", "px_sq_sum", "entropy", "luma_mean", "keep",
        ]
        for pdf in batches:
            rows = [
                image_stats_py(iid, I.decode(b, f))
                for iid, b, f in zip(
                    pdf["image_id"], pdf["bytes"], pdf["fmt"]
                )
            ]
            yield pd.DataFrame(rows, columns=names)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        run, schema=IMAGE_STATS_SCHEMA
    )


def phash_topk(
    probes: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    max_hamming: int = 16,
    probe_id: str = "probe_id",
    probe_hash: str = "phash",
) -> DataFrame:
    """Visual similarity SEARCH: for each probe pHash, the k most similar
    corpus images by hamming distance (<= max_hamming). EXACT at every
    max_hamming via multi-probe banding: by pigeonhole, two hashes within
    hamming h differ by <= floor(h/4) bits in SOME 16-bit band, so each
    probe band is expanded to all variants with <= m = floor(max_hamming/4)
    flipped bits and any band match surfaces the candidate. The fanout is
    probe-side only (4 * sum_{i<=m} C(16,i) rows per probe — 4 at
    max_hamming<=3, 68 at <=7, 548 at <=11, ~10k at 16) and the probe
    side broadcasts; the corpus is scanned once (one explode to band long
    format), never self-joins, and never sorts globally. Rank ties break
    on image_id (deterministic). Output: (probe_id, rank, image_id,
    hamming)."""
    spark = probes.sparkSession
    m = max_hamming // 4
    # all 16-bit masks with <= m set bits, built as data (not a literal
    # array — round-6 rule: big literal arrays bloat/bail the plan)
    variants = spark.range(0, 1 << 16).select(
        F.col("id").alias("_mask")
    ).filter(F.bit_count("id") <= m) if m > 0 else None

    def band_no_val(h):
        # (band_no, band_val) long format: one explode, pure bit ops
        return F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("_bno"),
                    F.shiftrightunsigned(h, b * 16)
                    .bitwiseAND(F.lit(0xFFFF))
                    .alias("_bval"),
                )
                for b in range(4)
            ])
        )

    c = (
        corpus.select(F.col("image_id"), F.col("phash"), band_no_val(F.col("phash")).alias("_b"))
        .select("image_id", "phash", F.col("_b._bno").alias("_bno"), F.col("_b._bval").alias("_bval"))
    )
    p = (
        probes.select(
            F.col(probe_id).alias("_pid"),
            F.col(probe_hash).alias("_ph"),
            band_no_val(F.col(probe_hash)).alias("_b"),
        )
        .select("_pid", "_ph", F.col("_b._bno").alias("_bno"), F.col("_b._bval").alias("_bval"))
    )
    if variants is not None:
        p = p.crossJoin(F.broadcast(variants)).select(
            "_pid", "_ph", "_bno",
            F.col("_bval").bitwiseXOR(F.col("_mask")).alias("_bval"),
        )
    cand = c.join(F.broadcast(p), ["_bno", "_bval"]).select(
        "_pid", "_ph", "image_id", "phash"
    )
    ham = F.bit_count(F.col("_ph").bitwiseXOR(F.col("phash"))).cast("int")
    scored = (
        cand.distinct()
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
    )
    w = Window.partitionBy("_pid").orderBy("hamming", "image_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_pid").alias("probe_id"), "rank", "image_id", "hamming"
        )
    )
