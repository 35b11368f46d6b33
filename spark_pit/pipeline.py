"""The north-rule flagship composed end-to-end over the image+caption table
(input_hint schema: image_id, bytes, w, h, fmt, caption, phash + event_ts).

Channel derivation happens BEFORE any shuffle and projects `bytes` away
(SURVEY.md §7 hard point 3: the ~MB-scale binary column must never ride an
exchange; Catalyst column pruning then keeps it out of the scan entirely —
verified by tools/explain_audit.py ReadSchema):

- phash_pop   = popcount(phash)            (pHash-derived numeric, JVM bit_count)
- caption_len = length(caption)            (caption feature)
- aspect      = w / h                      (shape stat)
- fmt         = the token channel

The fused PIT kernel then emits leakage-free as-of matches,
lag/lead, session ids, backfill, rolling mean and trailing fmt-composition
per (image_id, event_ts). Golden-fixture parity for this exact pipeline is
pinned in tests/golden/ (north rule: "golden feature-table fixtures").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_pit.operators.pit import pit_features_bucketed

FMT_VOCAB = ["gif", "jpeg", "png", "webp"]


def image_channels(images: DataFrame, with_pixel_stats: bool = False) -> DataFrame:
    """Derive numeric/token channels; `bytes` is pruned here, pre-shuffle.

    The channels are JVM expressions, computed once on both branches.
    ``with_pixel_stats=True`` passes them, with the payload, through the
    executor-side decode stage (``images.map_payloads``), which appends
    mean luminance + gray std — the decode happens BEFORE any exchange, so
    the binary column never rides a shuffle either way."""
    channels = [
        "image_id",
        "event_ts",
        F.bit_count("phash").cast("double").alias("phash_pop"),
        F.length("caption").cast("double").alias("caption_len"),
        (F.col("w") / F.col("h")).alias("aspect"),
        "fmt",
    ]
    plain = images.select(*channels)
    if not with_pixel_stats:
        return plain

    import numpy as np

    from spark_pit.codecs import decode_image
    from spark_pit.operators.images import map_payloads

    def pixel_stats(data: bytes, fmt: str, **_) -> dict:
        img = decode_image(data, fmt).astype(np.float64)
        return dict(
            mean_lum=np.round(float(img.mean()), 6),
            std_gray=np.round(float(img.mean(axis=2).std()), 6),
        )

    schema = (
        "image_id string, event_ts timestamp_ntz, phash_pop double, "
        "caption_len double, aspect double, fmt string, "
        "mean_lum double, std_gray double"
    )
    return map_payloads(
        images.select(*channels, "bytes"), plain.columns, "bytes", pixel_stats,
        schema, dict(mean_lum=np.nan, std_gray=np.nan),
    )


def image_pit_features(
    images: DataFrame,
    snapshots: DataFrame,
    gap_seconds: int = 7200,
    width: int = 5,
    num_buckets: int = 64,
    hot_threshold: int | None = None,
    chunk_seconds: int = 86400,
    with_pixel_stats: bool = False,
) -> DataFrame:
    """Per (image_id, event_ts): as-of snapshot match + windowed features on
    the phash channel + trailing fmt composition, plus the caption/aspect
    channels carried through.

    ``hot_threshold`` routes image_ids with more events than the threshold
    through the salted time-chunk path (north_rule: "Skew on hot image_ids
    is broken via salted repartitioning") — output identical either way
    (tests/test_skew equivalence + the shared golden fixture).

    ``num_buckets`` sizing: target ~50k-row pandas buckets at the job's
    DATA scale (rows/50k), never a core multiple — core-derived counts
    produce few large buckets whose last scheduling wave idles most of an
    executor's cores behind one straggler (round-5 measurement, BENCH.md:
    32→128 buckets on 6.4M rows took the 8-core kernel from 640k to 796k
    rows/s and the 2→8 equal-pressure scaling from 0.74 to 0.86–0.94).
    Buckets ≫ total cores is the invariant; at 100 TB that's ~2M buckets,
    which AQE schedules without issue."""
    ch = image_channels(images, with_pixel_stats=with_pixel_stats)
    snaps = snapshots.select("image_id", "snapshot_ts", "snapshot_id")
    extra_cols = ["caption_len", "aspect"] + (
        ["mean_lum", "std_gray"] if with_pixel_stats else []
    )
    # extra channels ride through the kernel (passthrough, no extras
    # join) and the deterministic tiebreak is the channel columns
    # THEMSELVES — same total order a row_number uid would give, without
    # the extra per-entity sort exchange a uid window costs
    kw = dict(
        entity="image_id", ts="event_ts",
        numeric_col="phash_pop", token_col="fmt", vocab=FMT_VOCAB,
        gap_seconds=gap_seconds, width=width, num_buckets=num_buckets,
        tiebreak=["fmt", "phash_pop", "caption_len", "aspect"],
        passthrough=extra_cols,
    )
    if hot_threshold is None:
        return pit_features_bucketed(ch, snaps, **kw)
    from spark_pit.operators.skew import pit_features_salted

    return pit_features_salted(
        ch, snaps, chunk_seconds=chunk_seconds, hot_threshold=hot_threshold, **kw
    )
