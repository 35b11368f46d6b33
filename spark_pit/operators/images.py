"""Multimodal (image, video, audio) payload operators.

Every binary mapper here is one per-item function behind
:func:`map_payloads`, the single executor-side decode stage: the payload
column streams through iterator mapInPandas in Arrow batches, is consumed
inside the batch, and never survives into any shuffle (SURVEY.md §7
hard-point 3 — project it away, join stats back by key). The stage owns
the batch loop, the pass-through of the kept columns, the failure rows and
the output frame; a mapper says only what one payload yields.

Decoding uses the self-contained codecs (spark_pit.codecs). In production
the decode call is the only line that changes (swap for libjpeg/Pillow);
batch shape, schema, and plan stay identical. Analogue of the reference's
embedding-notebook batching (SURVEY.md §2.10): model-per-executor becomes
codec-per-executor, token budget becomes Arrow maxRecordsPerBatch.

phash-derived features are pure JVM expressions (bit_count, shifts) — the
numeric lag/autocorrelation channels of the north rule.

Near-duplicate images reuse the shared near-dup stages of
:mod:`spark_pit.operators.dedup` (``bucket_pairs``, ``hamming_pairs``,
``mark_duplicates``, ``cluster_duplicates``): the perceptual hash IS the
sketch, so ``phash_neardup_pairs`` is ``hamming_pairs`` on the ``phash``
column and ``phash_clusters`` is ``cluster_duplicates`` over those pairs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pit.codecs import decode_image
from spark_pit.operators.dedup import cluster_duplicates, hamming_pairs

def map_payloads(
    df: DataFrame,
    keep: list[str],
    payload: str,
    fn: Callable[..., dict | list[dict]],
    schema: str,
    failed: dict | list[dict],
    fan_out: bool = False,
    reads: tuple[str, ...] = (),
) -> DataFrame:
    """The one executor-side decode stage: ``keep``, ``reads`` and
    ``payload`` selected from ``df`` and streamed through iterator
    mapInPandas, one output frame per Arrow batch.

    Per row, ``fn(payload_bytes, **row)`` (``row`` holds the values of the
    kept columns and of ``reads``, columns ``fn`` needs but the output does
    not carry) returns the computed columns as one dict — or, with
    ``fan_out``, a list of dicts, one output row each, so a row may yield
    none. An exception from ``fn`` yields ``failed`` instead: the caller's
    literal failure row (a list of rows with ``fan_out``). Kept columns
    pass through as the batch's own columns (repeated per output row when
    fanning out), so their dtypes and values are untouched. ``schema``
    names the kept columns first, then the computed ones. The payload is
    consumed inside the batch and is not among the outputs."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            kept = batch[keep].reset_index(drop=True)
            rows, src = [], []
            for i, (data, row) in enumerate(
                zip(batch[payload], batch[[*keep, *reads]].to_dict("records"))
            ):
                try:
                    got = fn(bytes(data), **row)
                except Exception:
                    got = failed
                if fan_out:
                    rows.extend(got)
                    src.extend([i] * len(got))
                else:
                    rows.append(got)
            if not rows:
                continue
            if fan_out:
                kept = kept.iloc[src].reset_index(drop=True)
            yield pd.concat([kept, pd.DataFrame.from_records(rows)], axis=1)

    return df.select(*keep, *reads, payload).mapInPandas(run, schema=schema)


DECODE_STATS_SCHEMA = (
    "image_id string, fmt string, w int, h int, "
    "mean_r double, mean_g double, mean_b double, std_gray double, decode_ok boolean"
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Per-image channel means + gray std from the decoded pixels. Output
    carries no binary — downstream shuffles stay light."""

    def stats(data: bytes, fmt: str, **_) -> dict:
        img = decode_image(data, fmt).astype(np.float64)
        means = np.round(img.mean(axis=(0, 1)), 6)
        return dict(
            mean_r=means[0], mean_g=means[1], mean_b=means[2],
            std_gray=np.round(float(img.mean(axis=2).std()), 6), decode_ok=True,
        )

    nan = np.nan
    failed = dict(mean_r=nan, mean_g=nan, mean_b=nan, std_gray=nan, decode_ok=False)
    return map_payloads(
        images, ["image_id", "fmt", "w", "h"], "bytes", stats, DECODE_STATS_SCHEMA, failed
    )


def phash_features(images: DataFrame, id_col: str = "image_id", phash_col: str = "phash") -> DataFrame:
    """phash-derived numeric channels (JVM-only): bit population count,
    per-nibble values (16 long-format rows per image), and the top/bottom
    half hamming asymmetry. These feed the autocorrelation family as the
    numeric per-event channels (SURVEY.md §2.5 mapping)."""
    p = F.col(phash_col)
    base = images.select(
        F.col(id_col),
        p.alias("phash"),
        F.bit_count(p).alias("popcount"),
        F.bit_count(p.bitwiseAND(F.lit(0xFFFFFFFF))).alias("pop_lo32"),
    ).withColumn("pop_hi32", F.col("popcount") - F.col("pop_lo32"))
    return base


def fidelity_check(images: DataFrame) -> DataFrame:
    """Decode → re-encode → byte-compare for lossless formats; decode-ok +
    idempotent re-encode for the lossy stand-in. The PSNR-vs-original gate
    lives in tests (original pixels known there); at pipeline level this is
    the per-row integrity audit written to the manifest."""
    from spark_pit.codecs import encode_image

    def roundtrip(data: bytes, fmt: str, **_) -> dict:
        img = decode_image(data, fmt)
        # lossless must round-trip exactly; the lossy stand-in is
        # quantization-idempotent so it round-trips exactly too
        return dict(decode_ok=True, reencode_exact=encode_image(img, fmt) == data)

    return map_payloads(
        images, ["image_id", "fmt"], "bytes", roundtrip,
        "image_id string, fmt string, decode_ok boolean, reencode_exact boolean",
        dict(decode_ok=False, reencode_exact=False),
    )


RESIZE_SCHEMA = (
    "image_id string, fmt string, out_w int, out_h int, "
    "out_bytes binary, mean_gray_out double, resize_ok boolean"
)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Deterministic area-average resize (the multimodal-pipeline resize
    step): decode → integer-edge box pooling onto the (out_h, out_w) grid
    (same pooling rule as datagen's aHash, so an exact-factor downsample of
    a blocky image is bit-exact) → lossless PNG re-encode, one
    :func:`map_payloads` row per image; the only binary it emits is the
    SMALL resized payload. At 100 TB the decode+resize runs where the scan
    runs; nothing wide ever shuffles."""
    from spark_pit.codecs import encode_png

    edge_cache: dict = {}  # per-(h,w) pooling edges, bound once per worker

    def resize(data: bytes, fmt: str, **_) -> dict:
        img = decode_image(data, fmt).astype(np.float64)
        h, w = img.shape[:2]
        key = (h, w)
        if key not in edge_cache:
            edge_cache[key] = (
                (np.arange(out_h + 1) * h) // out_h,
                (np.arange(out_w + 1) * w) // out_w,
            )
        ye, xe = edge_cache[key]
        out = np.empty((out_h, out_w, 3), np.float64)
        for i in range(out_h):
            y0, y1 = ye[i], max(ye[i + 1], ye[i] + 1)
            for j in range(out_w):
                x0, x1 = xe[j], max(xe[j + 1], xe[j] + 1)
                out[i, j] = img[y0:y1, x0:x1].mean(axis=(0, 1))
        q = np.round(out).clip(0, 255).astype(np.uint8)
        return dict(
            out_w=out_w, out_h=out_h, out_bytes=encode_png(q),
            mean_gray_out=round(float(q.astype(np.float64).mean()), 6), resize_ok=True,
        )

    failed = dict(
        out_w=out_w, out_h=out_h, out_bytes=None, mean_gray_out=np.nan, resize_ok=False
    )
    return map_payloads(images, ["image_id", "fmt"], "bytes", resize, RESIZE_SCHEMA, failed)


FRAME_SAMPLE_SCHEMA = (
    "video_id string, frame_idx int, w int, h int, "
    "mean_gray double, frame_ok boolean"
)


def sample_frames(videos: DataFrame, stride: int, max_frames: int = 8) -> DataFrame:
    """Frame sampling over FCNT containers (the video stand-in,
    spark_pit.codecs): for each container pick frames 0, stride, 2·stride…
    (≤ max_frames) and decode ONLY those — the container's offset table
    gives O(frame) seeks, the analogue of keyframe-seek sampling in a real
    video pipeline. One input row fans out to its sampled-frame rows; a
    frame that fails to decode keeps its row (at its index, ``frame_ok``
    false), and a container that cannot be read gives one row at
    ``frame_idx`` −1."""
    from spark_pit.codecs import container_frame_count, decode_container_frame

    def frame(data: bytes, k: int) -> dict:
        try:
            img = decode_container_frame(data, k)
        except Exception:
            return dict(frame_idx=k, w=0, h=0, mean_gray=np.nan, frame_ok=False)
        return dict(
            frame_idx=k, w=img.shape[1], h=img.shape[0],
            mean_gray=round(float(img.astype(np.float64).mean()), 6), frame_ok=True,
        )

    def frames(data: bytes, **_) -> list[dict]:
        picks = range(0, container_frame_count(data), stride)[:max_frames]
        return [frame(data, k) for k in picks]

    failed = [dict(frame_idx=-1, w=0, h=0, mean_gray=np.nan, frame_ok=False)]
    return map_payloads(
        videos, ["video_id"], "bytes", frames, FRAME_SAMPLE_SCHEMA, failed, fan_out=True
    )


AUDIO_FEATURES_SCHEMA = (
    "clip_id string, n_samples bigint, rms double, "
    "zcr double, peak int, audio_ok boolean"
)


def audio_features(audio: DataFrame) -> DataFrame:
    """Audio feature extraction over raw PCM16-LE payloads (the audio leg
    of the multimodal contract): per-clip sample count, RMS, zero-crossing
    rate, and integer peak. Pure NumPy over the byte buffer — a stand-in
    for a real acoustic featurizer behind the same :func:`map_payloads`
    stage."""

    def features(data: bytes, **_) -> dict:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64)
        if len(x) == 0:
            raise ValueError("empty clip")
        sgn = np.signbit(x)
        return dict(
            n_samples=len(x),
            rms=round(float(np.sqrt(np.mean(x * x))), 6),
            zcr=round(float(np.mean(sgn[1:] != sgn[:-1])), 6),
            peak=int(np.abs(x).max()),
            audio_ok=True,
        )

    failed = dict(n_samples=0, rms=np.nan, zcr=np.nan, peak=0, audio_ok=False)
    return map_payloads(audio, ["clip_id"], "bytes", features, AUDIO_FEATURES_SCHEMA, failed)


def phash_neardup_pairs(
    images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    chunks: int = 4,
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Perceptual-hash near-duplicate IMAGE pairs: :func:`dedup.hamming_pairs`
    on the 64-bit ``phash`` column directly (no sketch step: the perceptual
    hash IS the sketch). The 64-bit/4-chunk default finds everything within
    hamming 3 — the usual "same image, re-encoded/resized" pHash radius —
    with exact recall. Scale: 16-bit chunk values give buckets of
    corpus_size/65536 rows per chunk under a uniform hash, and a
    re-encoded-duplicate cluster of size k contributes O(k) rows per
    bucket, pairing only within buckets."""
    return hamming_pairs(images, id_col, phash_col, bits, chunks, max_hamming)


def phash_clusters(
    images: DataFrame,
    id_col: str = "image_id",
    phash_col: str = "phash",
    chunks: int = 4,
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Perceptual-hash near-duplicate CLUSTERS: :func:`dedup.cluster_duplicates`
    over the :func:`phash_neardup_pairs` graph (exact recall for hamming ≤
    chunks−1), so a re-encode chain a~b~c co-clusters even when
    hamming(a, c) exceeds the radius. Every image maps to ``canonical_id``
    = the lexicographically-smallest image id in its component (itself
    when unique) plus the cluster size — the exact shape a
    dedup-before-training pass consumes (keep canonical, drop the rest, or
    hand the cluster key to leakage_safe_split). No all-pairs step
    anywhere."""
    pairs = phash_neardup_pairs(images, id_col, phash_col, chunks, max_hamming, bits)
    return cluster_duplicates(images, pairs, id_col)


# (bucket_w, bucket_h) targets; ratios must be pairwise distinct.
ASPECT_BUCKETS: tuple[tuple[int, int], ...] = (
    (256, 256), (320, 192), (192, 320), (384, 128), (128, 384),
)


def aspect_bucket_batches(
    df: DataFrame,
    id_col: str,
    w_col: str = "w",
    h_col: str = "h",
    buckets: tuple[tuple[int, int], ...] = ASPECT_BUCKETS,
    batch_size: int = 32,
    n_shards: int = 8,
    salt: str = "ab1",
) -> DataFrame:
    """Aspect-ratio BUCKETED BATCHING — the standard image-training
    batch-assembly pass (varied-aspect corpora are grouped into
    fixed-shape buckets so a batch shares one crop shape; cf. the
    aspect-bucketing used by large diffusion/captioning trainers).

    Bucket assignment is EXACT INTEGER arithmetic, no float ratios: the
    distance of image aspect w/h from bucket aspect bw/bh is
    |w·bh − h·bw| / bh (common factor 1/h dropped — it is shared by
    every bucket), put on the common denominator L = lcm(bh) so all
    bucket scores are comparable int64s. argmin via array_min over
    (score, idx) structs — bit-identical in any engine, immune to the
    cross-engine libm log/double divergence this repo has been bitten
    by twice.

    Batching mirrors pack_documents' sharded shape: documents are
    sharded by the portable md5-fold, and batch_id = row_number within
    (bucket, shard) ordered by (fold, id) divided by batch_size — the
    wide op is a window PARTITIONED BY (bucket, shard), never a global
    sort. Returns (id, w, h, bucket_idx, bucket_w, bucket_h, shard,
    batch_id, slot)."""
    from math import lcm

    from pyspark.sql import Window

    big_l = 1
    for _, bh in buckets:
        big_l = lcm(big_l, bh)
    w, h = F.col(w_col).cast("long"), F.col(h_col).cast("long")
    scored = F.array(*[
        F.struct(
            (F.abs(w * bh - h * bw) * (big_l // bh)).alias("score"),
            F.lit(i).alias("idx"),
        )
        for i, (bw, bh) in enumerate(buckets)
    ])
    best = F.array_min(scored)
    fold = (
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))), 1, 15),
            16, 10,
        ).cast("long")
    )
    base = df.select(
        F.col(id_col),
        F.col(w_col),
        F.col(h_col),
        best["idx"].alias("bucket_idx"),
        (fold % n_shards).cast("int").alias("shard"),
        fold.alias("__fold"),
    )
    bw_map = F.map_from_arrays(
        F.array(*[F.lit(i) for i in range(len(buckets))]),
        F.array(*[F.lit(bw) for bw, _ in buckets]),
    )
    bh_map = F.map_from_arrays(
        F.array(*[F.lit(i) for i in range(len(buckets))]),
        F.array(*[F.lit(bh) for _, bh in buckets]),
    )
    win = Window.partitionBy("bucket_idx", "shard").orderBy("__fold", id_col)
    rn = F.row_number().over(win) - 1
    return base.select(
        id_col, w_col, h_col, "bucket_idx",
        bw_map[F.col("bucket_idx")].alias("bucket_w"),
        bh_map[F.col("bucket_idx")].alias("bucket_h"),
        "shard",
        F.floor(rn / batch_size).cast("long").alias("batch_id"),
        (rn % batch_size).cast("int").alias("slot"),
    )


def _fold(expr, salt: str):
    """Portable md5-fold (same convention as deterministic_sample /
    aspect_bucket_batches): first 15 hex chars of md5 -> non-negative
    int64. Identical arithmetic exists in every SQL engine."""
    return F.conv(
        F.substring(F.md5(F.concat(expr.cast("string"), F.lit(salt))), 1, 15),
        16, 10,
    ).cast("long")


def augment_plan(
    df: DataFrame,
    id_col: str = "image_id",
    w_col: str = "w",
    h_col: str = "h",
    crop: int = 224,
    epochs: int = 2,
    salt: str = "aug1",
) -> DataFrame:
    """Deterministic per-(image, epoch) AUGMENTATION PLAN — the standard
    image-training preprocessing contract (random-resized-crop + flip +
    rot90) made reproducible: every parameter is a pure function of
    (image_id, epoch, salt) via the portable md5-fold, so any executor —
    or any engine — derives the identical plan with zero coordination, no
    RNG state, and no shuffle (a scan-side projection after the epoch
    explode). Resuming a crashed epoch re-derives the same crops; a
    parameter sweep changes only ``salt``.

    crop_w/h are clamped to the image (least(w, crop)), offsets are
    uniform over the valid range via fold % (dim - crop_dim + 1).
    Returns (id, w, h, epoch, crop_w, crop_h, crop_x, crop_y, hflip,
    rot90) — all exact integer arithmetic, no floats anywhere.
    """
    w, h = F.col(w_col).cast("long"), F.col(h_col).cast("long")
    base = df.select(
        F.col(id_col), F.col(w_col), F.col(h_col),
        F.explode(F.sequence(F.lit(0), F.lit(int(epochs) - 1))).alias("epoch"),
    )
    key = F.concat(
        F.col(id_col).cast("string"), F.lit(":"),
        F.col("epoch").cast("string"), F.lit(":"),
    )
    crop_w = F.least(w, F.lit(int(crop)))
    crop_h = F.least(h, F.lit(int(crop)))
    return base.select(
        id_col, w_col, h_col, "epoch",
        crop_w.alias("crop_w"),
        crop_h.alias("crop_h"),
        (_fold(key, salt + "x") % (w - crop_w + 1)).alias("crop_x"),
        (_fold(key, salt + "y") % (h - crop_h + 1)).alias("crop_y"),
        (_fold(key, salt + "f") % 2).cast("int").alias("hflip"),
        (_fold(key, salt + "r") % 4).cast("int").alias("rot90"),
    )


PATCH_GRID_SCHEMA = (
    "image_id string, py int, px int, patch_mean double, patch_std double"
)


def patch_grid(images: DataFrame, patch: int = 8) -> DataFrame:
    """ViT-style PATCH GRID extraction: each decoded image is cut into
    non-overlapping patch x patch tiles (trailing partial rows/cols
    dropped, per the ViT convention) and per-tile gray mean/std are
    emitted long-format — the tokenization step of a vision-transformer
    training pipeline, with the embedding projection left to the model.

    A fan-out :func:`map_payloads` stage: an image yields one row per
    tile, and one that fails to decode or is smaller than a tile yields
    none. The per-image reshape (H,W) -> (H//p, p, W//p, p) computes
    every tile's stats in one vectorized numpy pass. Output fans out
    ~(w*h/p^2) rows per image of 4 scalars each — the downstream shuffle
    carries stats, not pixels.
    """
    p = int(patch)

    def tiles(data: bytes, fmt: str, **_) -> list[dict]:
        gray = decode_image(data, fmt).astype(np.float64).mean(axis=2)
        ph, pw = gray.shape[0] // p, gray.shape[1] // p
        t = gray[: ph * p, : pw * p].reshape(ph, p, pw, p)
        m = np.round(t.mean(axis=(1, 3)), 6)
        s = np.round(t.std(axis=(1, 3)), 6)
        return [
            dict(py=y, px=x, patch_mean=m[y, x], patch_std=s[y, x])
            for y in range(ph) for x in range(pw)
        ]

    return map_payloads(
        images, ["image_id"], "bytes", tiles, PATCH_GRID_SCHEMA, [],
        fan_out=True, reads=("fmt",),
    )
