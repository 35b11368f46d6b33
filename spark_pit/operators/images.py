"""Multimodal (image) payload operators.

The Spark-side plumbing is the point (schema, Arrow batching, partition
hygiene): binary payloads stream executor-side through mapInPandas in Arrow
batches; the `bytes` column is consumed HERE and never survives into any
shuffle (SURVEY.md §7 hard-point 3 — project it away, join stats back by key).

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

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pit.codecs import decode_image
from spark_pit.operators.dedup import cluster_duplicates, hamming_pairs

DECODE_STATS_SCHEMA = (
    "image_id string, fmt string, w int, h int, "
    "mean_r double, mean_g double, mean_b double, std_gray double, decode_ok boolean"
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Per-image channel means + gray std from the decoded pixels.

    mapInPandas (iterator form): the codec table is bound once per Python
    worker; each Arrow batch of (id, fmt, bytes) yields one stats batch.
    Output carries no binary — downstream shuffles stay light.
    """
    cols = images.select("image_id", "fmt", "w", "h", "bytes")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {
                "image_id": batch["image_id"],
                "fmt": batch["fmt"],
                "w": batch["w"],
                "h": batch["h"],
            }
            mr, mg, mb, sg, ok = [], [], [], [], []
            for data, fmt in zip(batch["bytes"], batch["fmt"]):
                try:
                    img = decode_image(bytes(data), fmt).astype(np.float64)
                    means = img.mean(axis=(0, 1))
                    mr.append(means[0]); mg.append(means[1]); mb.append(means[2])
                    sg.append(float(img.mean(axis=2).std()))
                    ok.append(True)
                except Exception:
                    mr.append(np.nan); mg.append(np.nan); mb.append(np.nan)
                    sg.append(np.nan); ok.append(False)
            out.update(
                mean_r=np.round(mr, 6), mean_g=np.round(mg, 6),
                mean_b=np.round(mb, 6), std_gray=np.round(sg, 6), decode_ok=ok,
            )
            yield pd.DataFrame(out)

    return cols.mapInPandas(extract, schema=DECODE_STATS_SCHEMA)


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
    cols = images.select("image_id", "fmt", "bytes")

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from spark_pit.codecs import encode_image

        for batch in batches:
            ids, fmts, ok, exact = [], [], [], []
            for image_id, fmt, data in zip(batch["image_id"], batch["fmt"], batch["bytes"]):
                ids.append(image_id)
                fmts.append(fmt)
                try:
                    img = decode_image(bytes(data), fmt)
                    re = encode_image(img, fmt)
                    ok.append(True)
                    # lossless must round-trip exactly; the lossy stand-in is
                    # quantization-idempotent so it round-trips exactly too
                    exact.append(re == bytes(data))
                except Exception:
                    ok.append(False)
                    exact.append(False)
            yield pd.DataFrame(
                {"image_id": ids, "fmt": fmts, "decode_ok": ok, "reencode_exact": exact}
            )

    return cols.mapInPandas(
        check, schema="image_id string, fmt string, decode_ok boolean, reencode_exact boolean"
    )


RESIZE_SCHEMA = (
    "image_id string, fmt string, out_w int, out_h int, "
    "out_bytes binary, mean_gray_out double, resize_ok boolean"
)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Deterministic area-average resize (the multimodal-pipeline resize
    step): decode → integer-edge box pooling onto the (out_h, out_w) grid
    (same pooling rule as datagen's aHash, so an exact-factor downsample of
    a blocky image is bit-exact) → lossless PNG re-encode. Same plumbing
    contract as decode_stats: iterator mapInPandas, input bytes consumed in
    the batch, output binary is the SMALL resized payload. At 100 TB the
    decode+resize runs where the scan runs; nothing wide ever shuffles."""
    from spark_pit.codecs import encode_png

    cols = images.select("image_id", "fmt", "bytes")

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        edge_cache: dict = {}  # per-(h,w) pooling edges, bound once per worker
        for batch in batches:
            ob, mg, ok = [], [], []
            for data, fmt in zip(batch["bytes"], batch["fmt"]):
                try:
                    img = decode_image(bytes(data), fmt).astype(np.float64)
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
                    ob.append(encode_png(q))
                    mg.append(round(float(q.astype(np.float64).mean()), 6))
                    ok.append(True)
                except Exception:
                    ob.append(None); mg.append(np.nan); ok.append(False)
            yield pd.DataFrame({
                "image_id": batch["image_id"], "fmt": batch["fmt"],
                "out_w": out_w, "out_h": out_h,
                "out_bytes": ob, "mean_gray_out": mg, "resize_ok": ok,
            })

    return cols.mapInPandas(kern, schema=RESIZE_SCHEMA)


FRAME_SAMPLE_SCHEMA = (
    "video_id string, frame_idx int, w int, h int, "
    "mean_gray double, frame_ok boolean"
)


def sample_frames(videos: DataFrame, stride: int, max_frames: int = 8) -> DataFrame:
    """Frame sampling over FCNT containers (the video stand-in,
    spark_pit.codecs): for each container pick frames 0, stride, 2·stride…
    (≤ max_frames) and decode ONLY those — the container's offset table
    gives O(frame) seeks, the analogue of keyframe-seek sampling in a real
    video pipeline. Iterator mapInPandas over (video_id, bytes); one input
    row fans out to its sampled-frame rows; container bytes never leave
    the batch."""
    from spark_pit.codecs import container_frame_count, decode_container_frame

    cols = videos.select("video_id", "bytes")

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            vid, idx, ws, hs, mg, ok = [], [], [], [], [], []
            for v, data in zip(batch["video_id"], batch["bytes"]):
                try:
                    data = bytes(data)
                    n = container_frame_count(data)
                    picks = list(range(0, n, stride))[:max_frames]
                except Exception:
                    vid.append(v); idx.append(-1); ws.append(0); hs.append(0)
                    mg.append(np.nan); ok.append(False)
                    continue
                for k in picks:
                    try:
                        img = decode_container_frame(data, k)
                        vid.append(v); idx.append(k)
                        hs.append(img.shape[0]); ws.append(img.shape[1])
                        mg.append(round(float(img.astype(np.float64).mean()), 6))
                        ok.append(True)
                    except Exception:
                        vid.append(v); idx.append(k); ws.append(0); hs.append(0)
                        mg.append(np.nan); ok.append(False)
            yield pd.DataFrame({
                "video_id": vid, "frame_idx": idx, "w": ws, "h": hs,
                "mean_gray": mg, "frame_ok": ok,
            })

    return cols.mapInPandas(kern, schema=FRAME_SAMPLE_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "clip_id string, n_samples bigint, rms double, "
    "zcr double, peak int, audio_ok boolean"
)


def audio_features(audio: DataFrame) -> DataFrame:
    """Audio feature extraction over raw PCM16-LE payloads (the audio leg
    of the multimodal contract): per-clip sample count, RMS, zero-crossing
    rate, and integer peak. Pure NumPy over the byte buffer — a stand-in
    for a real acoustic featurizer with identical plumbing (iterator
    mapInPandas, bytes consumed in-batch)."""
    cols = audio.select("clip_id", "bytes")

    def kern(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ns, rms, zcr, pk, ok = [], [], [], [], []
            for data in batch["bytes"]:
                try:
                    x = np.frombuffer(bytes(data), dtype="<i2").astype(np.float64)
                    if len(x) == 0:
                        raise ValueError("empty clip")
                    ns.append(len(x))
                    rms.append(round(float(np.sqrt(np.mean(x * x))), 6))
                    sgn = np.signbit(x)
                    zcr.append(round(float(np.mean(sgn[1:] != sgn[:-1])), 6))
                    pk.append(int(np.abs(x).max()))
                    ok.append(True)
                except Exception:
                    ns.append(0); rms.append(np.nan); zcr.append(np.nan)
                    pk.append(0); ok.append(False)
            yield pd.DataFrame({
                "clip_id": batch["clip_id"], "n_samples": ns, "rms": rms,
                "zcr": zcr, "peak": pk, "audio_ok": ok,
            })

    return cols.mapInPandas(kern, schema=AUDIO_FEATURES_SCHEMA)


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

    Same plumbing contract as decode_stats: iterator mapInPandas, the
    ``bytes`` column is consumed executor-side inside the Arrow batch and
    never enters a shuffle; the per-image reshape
    (H,W) -> (H//p, p, W//p, p) computes every tile's stats in one
    vectorized numpy pass (no per-tile Python). Output fans out ~(w*h/p^2)
    rows per image of 4 scalars each — the downstream shuffle carries
    stats, not pixels.
    """
    cols = images.select("image_id", "fmt", "bytes")
    p = int(patch)

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            ids, pys, pxs, means, stds = [], [], [], [], []
            for image_id, fmt, data in zip(
                batch["image_id"], batch["fmt"], batch["bytes"]
            ):
                try:
                    img = decode_image(bytes(data), fmt).astype(np.float64)
                except Exception:
                    continue
                gray = img.mean(axis=2)
                ph, pw = gray.shape[0] // p, gray.shape[1] // p
                if ph == 0 or pw == 0:
                    continue
                tiles = gray[: ph * p, : pw * p].reshape(ph, p, pw, p)
                m = tiles.mean(axis=(1, 3))
                s = tiles.std(axis=(1, 3))
                yy, xx = np.meshgrid(np.arange(ph), np.arange(pw), indexing="ij")
                ids.append(np.repeat(image_id, ph * pw))
                pys.append(yy.ravel()); pxs.append(xx.ravel())
                means.append(np.round(m.ravel(), 6))
                stds.append(np.round(s.ravel(), 6))
            if ids:
                yield pd.DataFrame(
                    {
                        "image_id": np.concatenate(ids),
                        "py": np.concatenate(pys).astype(np.int32),
                        "px": np.concatenate(pxs).astype(np.int32),
                        "patch_mean": np.concatenate(means),
                        "patch_std": np.concatenate(stds),
                    }
                )

    return cols.mapInPandas(extract, schema=PATCH_GRID_SCHEMA)
