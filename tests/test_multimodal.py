"""Multimodal plumbing ops: resize, frame sampling, audio features.

The decode layer is the self-contained codec stand-in (spark_pit.codecs);
what these tests pin is the SPARK contract — schemas, iterator-batch
fan-out, determinism — plus the exact numeric semantics of each kernel."""

from __future__ import annotations

import numpy as np
import pytest

from spark_pit.codecs import (
    container_frame_count,
    decode_container_frame,
    decode_png,
    encode_container,
    encode_image,
)


def test_container_roundtrip_and_seek():
    frames = [np.full((4, 5, 3), 10 * i, np.uint8) for i in range(7)]
    data = encode_container(frames)
    assert container_frame_count(data) == 7
    for i in (0, 3, 6):
        assert (decode_container_frame(data, i) == frames[i]).all()
    with pytest.raises(IndexError):
        decode_container_frame(data, 7)
    with pytest.raises(ValueError):
        container_frame_count(b"nope" + data)


def test_resize_constant_and_block_exact(spark):
    """Area pooling is exact on constant images and on integer-factor
    block images; the emitted PNG decodes back to the pooled array."""
    from spark_pit.operators.images import resize_images

    const = np.full((24, 32, 3), 77, np.uint8)
    block = np.zeros((8, 8, 3), np.uint8)
    block[:4, :4] = 100; block[:4, 4:] = 200; block[4:, :4] = 40; block[4:, 4:] = 8
    rows = [("a", "png", bytearray(encode_image(const, "png"))),
            ("b", "png", bytearray(encode_image(block, "png"))),
            ("bad", "png", bytearray(b"garbage"))]
    df = spark.createDataFrame(rows, "image_id string, fmt string, bytes binary")
    out = {r["image_id"]: r for r in resize_images(df, 2, 2).collect()}
    assert out["a"]["mean_gray_out"] == 77.0 and out["a"]["resize_ok"]
    got = decode_png(bytes(out["b"]["out_bytes"]))
    assert (got == np.array([[[100] * 3, [200] * 3], [[40] * 3, [8] * 3]],
                            np.uint8)).all()
    assert not out["bad"]["resize_ok"] and out["bad"]["out_bytes"] is None


def test_sample_frames_stride_and_values(spark):
    from spark_pit.operators.images import sample_frames

    frames = [np.full((3, 3, 3), 20 * i, np.uint8) for i in range(10)]
    rows = [("v1", bytearray(encode_container(frames))),
            ("broken", bytearray(b"xx"))]
    df = spark.createDataFrame(rows, "video_id string, bytes binary")
    out = sample_frames(df, stride=3, max_frames=3).toPandas()
    v1 = out[out["video_id"] == "v1"].sort_values("frame_idx")
    assert v1["frame_idx"].tolist() == [0, 3, 6]      # stride picks, capped
    assert v1["mean_gray"].tolist() == [0.0, 60.0, 120.0]
    assert v1["frame_ok"].all() and (v1["w"] == 3).all()
    bad = out[out["video_id"] == "broken"]
    assert len(bad) == 1 and not bad["frame_ok"].iloc[0]


def test_audio_features_sine(spark):
    from spark_pit.operators.images import audio_features

    n, amp, cycles = 8000, 10000.0, 50
    t = np.arange(n)
    pcm = np.round(amp * np.sin(2 * np.pi * cycles * t / n)).astype("<i2")
    rows = [("s", bytearray(pcm.tobytes())), ("empty", bytearray(b""))]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    out = {r["clip_id"]: r for r in audio_features(df).collect()}
    s = out["s"]
    assert s["n_samples"] == n and s["audio_ok"]
    assert abs(s["rms"] - amp / np.sqrt(2)) < amp * 0.01
    # 50 cycles -> ~100 sign flips over 8000 samples
    assert abs(s["zcr"] - 2 * cycles / n) < 0.002
    assert s["peak"] == int(np.abs(pcm).max())
    assert not out["empty"]["audio_ok"]


def test_videos_audio_tables_deterministic(spark):
    from spark_pit.datagen import audio_table, videos_table

    v1 = videos_table(spark, n_videos=5, seed=9).orderBy("video_id").collect()
    v2 = videos_table(spark, n_videos=5, seed=9).orderBy("video_id").collect()
    assert [bytes(r["bytes"]) for r in v1] == [bytes(r["bytes"]) for r in v2]
    assert all(container_frame_count(bytes(r["bytes"])) == r["n_frames"] for r in v1)
    a1 = audio_table(spark, n_clips=5, seed=9).orderBy("clip_id").collect()
    a2 = audio_table(spark, n_clips=5, seed=9).orderBy("clip_id").collect()
    assert [bytes(r["bytes"]) for r in a1] == [bytes(r["bytes"]) for r in a2]
    assert all(len(bytes(r["bytes"])) == 2 * r["n_samples"] for r in a1)


def test_phash_neardup_pigeonhole_exact(spark):
    """Planted hamming-1/-3 pairs are found (exact recall at ≤ chunks−1);
    a hamming-4 pair is excluded by the filter; the negative (high-bit-set)
    hash bands correctly through the unsigned shift."""
    import pandas as pd

    from spark_pit.operators.images import phash_neardup_pairs

    base = -0x123456789ABCDEF0  # high bit set
    rows = [
        ("a", base),
        ("b", base ^ 0b1),                          # hamming 1 from a
        ("c", base ^ (0b111 << 40)),                # hamming 3 from a
        ("d", base ^ 0b1111),                       # hamming 4 from a, 3 from b
        ("e", 0x0F0F0F0F0F0F0F0F),                  # far from everything
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]))
    out = phash_neardup_pairs(df, chunks=4, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    # a-d and b-c are hamming 4: banding may surface them as candidates,
    # but the exact-hamming filter drops them
    assert got == {("a", "b"): 1, ("a", "c"): 3, ("b", "d"): 3}
    with pytest.raises(ValueError):
        phash_neardup_pairs(df, chunks=4, max_hamming=4)


def test_aspect_bucket_batches_assignment_and_packing(spark):
    """Known aspect ratios map to their exact-integer nearest buckets;
    batches stay within one (bucket, shard), never exceed batch_size, and
    the assignment is partition-layout invariant."""
    import pandas as pd

    from spark_pit.operators.images import aspect_bucket_batches

    rows = [
        ("sq", 512, 512),     # 1:1        -> bucket 0
        ("ls", 500, 300),     # 5:3 exact  -> bucket 1 (320x192)
        ("pt", 300, 500),     # 3:5 exact  -> bucket 2
        ("wd", 900, 300),     # 3:1        -> bucket 3 (384x128)
        ("tl", 100, 300),     # 1:3        -> bucket 4
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["id", "w", "h"]))
    out = aspect_bucket_batches(df, "id", "w", "h").toPandas().set_index("id")
    assert list(out.loc[["sq", "ls", "pt", "wd", "tl"], "bucket_idx"]) == [0, 1, 2, 3, 4]
    assert out.loc["ls", "bucket_w"] == 320 and out.loc["ls", "bucket_h"] == 192

    many = spark.createDataFrame(
        pd.DataFrame(
            [(f"i{j:03d}", 512, 512) for j in range(40)], columns=["id", "w", "h"]
        )
    )
    packed = aspect_bucket_batches(
        many, "id", "w", "h", batch_size=4, n_shards=2
    ).toPandas()
    sizes = packed.groupby(["bucket_idx", "shard", "batch_id"]).size()
    assert sizes.max() <= 4 and (packed["slot"] < 4).all()
    # only the LAST batch of a shard may be partial
    for (_, _), grp in packed.groupby(["bucket_idx", "shard"]):
        full = (grp.groupby("batch_id").size() == 4)
        assert full.iloc[:-1].all()
    again = aspect_bucket_batches(
        many.repartition(7), "id", "w", "h", batch_size=4, n_shards=2
    ).toPandas()
    a = packed.sort_values("id").reset_index(drop=True)
    b = again.sort_values("id").reset_index(drop=True)
    assert a.equals(b)


def test_phash_clusters_transitive_chain(spark):
    """b and c are each within hamming 2 of a but hamming 4 of each other
    — only transitivity through a co-clusters them; canonical is the
    lexicographic min id; z stays a singleton."""
    import pandas as pd

    from spark_pit.operators.images import phash_clusters

    base = 0x5A5A5A5A5A5A5A5A
    rows = [
        ("a", base),
        ("b", base ^ 0b11),                # hamming 2 from a
        ("c", base ^ (0b11 << 10)),        # hamming 2 from a, 4 from b
        ("z", ~base & 0xFFFFFFFFFFFFFFFF - 2**63 * 0),
    ]
    rows[3] = ("z", base ^ -1)             # bitwise-not: hamming 64 from a
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]))
    out = phash_clusters(df, chunks=4, max_hamming=3).toPandas().set_index("image_id")
    assert set(out.index) == {"a", "b", "c", "z"}
    assert out.loc["a", "canonical_id"] == "a"
    assert out.loc["b", "canonical_id"] == "a"
    assert out.loc["c", "canonical_id"] == "a"
    assert out.loc["z", "canonical_id"] == "z"
    assert out.loc["b", "cluster_size"] == 3 and out.loc["z", "cluster_size"] == 1


# ----------------------------------------------------------- failure rows
# One planted undecodable payload and one empty payload per mapper (plus a
# decodable constant image, so a failure row cannot slide onto its
# neighbour). Each case pins the mapper's whole output: Spark dtypes, row
# count, values, and null (Spark NULL) apart from NaN.
_GOOD = np.full((4, 4, 3), 77, np.uint8)
_BAD, _EMPTY = b"garbage", b""


def _frames_with_corrupt_middle() -> bytes:
    from spark_pit.codecs import encode_container

    frames = [np.full((3, 3, 3), v, np.uint8) for v in (10, 20, 30)]
    data = bytearray(encode_container(frames))
    n = len(frames)
    offs = np.frombuffer(bytes(data[12 : 12 + 4 * (n + 1)]), dtype=">u4")
    start = 12 + 4 * (n + 1) + int(offs[1])
    data[start : start + 8] = b"XXXXXXXX"  # frame 1 loses its PNG signature
    return bytes(data)


def _images_df(spark, payloads):
    rows = [(i, "png", 4, 4, bytearray(p)) for i, p in payloads]
    return spark.createDataFrame(
        rows, "image_id string, fmt string, w int, h int, bytes binary"
    )


def _failure_case(spark, name):
    """(output DataFrame, expected dtypes, expected rows sorted)."""
    from datetime import datetime

    from spark_pit.codecs import encode_png
    from spark_pit.operators import images as im

    good = encode_image(_GOOD, "png")
    trio = [("bad", _BAD), ("empty", _EMPTY), ("good", good)]
    if name == "decode_stats":
        out = im.decode_stats(_images_df(spark, trio))
        dtypes = [("image_id", "string"), ("fmt", "string"), ("w", "int"),
                  ("h", "int"), ("mean_r", "double"), ("mean_g", "double"),
                  ("mean_b", "double"), ("std_gray", "double"),
                  ("decode_ok", "boolean")]
        rows = [("bad", "png", 4, 4, None, None, None, None, False),
                ("empty", "png", 4, 4, None, None, None, None, False),
                ("good", "png", 4, 4, 77.0, 77.0, 77.0, 0.0, True)]
    elif name == "fidelity_check":
        out = im.fidelity_check(_images_df(spark, trio))
        dtypes = [("image_id", "string"), ("fmt", "string"),
                  ("decode_ok", "boolean"), ("reencode_exact", "boolean")]
        rows = [("bad", "png", False, False), ("empty", "png", False, False),
                ("good", "png", True, True)]
    elif name == "resize_images":
        out = im.resize_images(_images_df(spark, trio), 2, 2)
        dtypes = [("image_id", "string"), ("fmt", "string"), ("out_w", "int"),
                  ("out_h", "int"), ("out_bytes", "binary"),
                  ("mean_gray_out", "double"), ("resize_ok", "boolean")]
        small = encode_png(np.full((2, 2, 3), 77, np.uint8))
        rows = [("bad", "png", 2, 2, None, None, False),
                ("empty", "png", 2, 2, None, None, False),
                ("good", "png", 2, 2, small, 77.0, True)]
    elif name == "sample_frames":
        from spark_pit.codecs import encode_container

        vids = [("broken", b"xx"), ("empty", _EMPTY),
                ("one_bad_frame", _frames_with_corrupt_middle()),
                ("ok", encode_container([np.full((2, 5, 3), 40, np.uint8)]))]
        df = spark.createDataFrame(
            [(v, bytearray(p)) for v, p in vids], "video_id string, bytes binary"
        )
        out = im.sample_frames(df, stride=1)
        dtypes = [("video_id", "string"), ("frame_idx", "int"), ("w", "int"),
                  ("h", "int"), ("mean_gray", "double"), ("frame_ok", "boolean")]
        rows = [("broken", -1, 0, 0, None, False),
                ("empty", -1, 0, 0, None, False),
                ("ok", 0, 5, 2, 40.0, True),
                ("one_bad_frame", 0, 3, 3, 10.0, True),
                ("one_bad_frame", 1, 0, 0, None, False),
                ("one_bad_frame", 2, 3, 3, 30.0, True)]
    elif name == "audio_features":
        pcm = np.array([3, -4], "<i2").tobytes()
        clips = [("bad", b"\x01\x02\x03"), ("empty", _EMPTY), ("good", pcm)]
        df = spark.createDataFrame(
            [(c, bytearray(p)) for c, p in clips], "clip_id string, bytes binary"
        )
        out = im.audio_features(df)
        dtypes = [("clip_id", "string"), ("n_samples", "bigint"), ("rms", "double"),
                  ("zcr", "double"), ("peak", "int"), ("audio_ok", "boolean")]
        rows = [("bad", 0, None, None, 0, False),
                ("empty", 0, None, None, 0, False),
                ("good", 2, round(float(np.sqrt(12.5)), 6), 1.0, 4, True)]
    elif name == "patch_grid":
        tiny = encode_image(np.full((4, 4, 3), 9, np.uint8), "png")
        one = encode_image(np.full((8, 8, 3), 77, np.uint8), "png")
        out = im.patch_grid(_images_df(spark, trio[:2] + [("tiny", tiny), ("one", one)]))
        dtypes = [("image_id", "string"), ("py", "int"), ("px", "int"),
                  ("patch_mean", "double"), ("patch_std", "double")]
        rows = [("one", 0, 0, 77.0, 0.0)]
    else:
        from spark_pit.pipeline import image_channels

        ts = datetime(2024, 1, 2, 3, 4, 5)
        df = spark.createDataFrame(
            [(i, ts, bytearray(p), w, h, "png", cap, ph)
             for i, p, w, h, cap, ph in [("bad", _BAD, 3, 2, "xyz", -1),
                                         ("empty", _EMPTY, 1, 4, "", 0),
                                         ("good", good, 4, 4, "ab", 7)]],
            "image_id string, event_ts timestamp_ntz, bytes binary, w int, h int, "
            "fmt string, caption string, phash long",
        )
        out = image_channels(df, with_pixel_stats=True)
        dtypes = [("image_id", "string"), ("event_ts", "timestamp_ntz"),
                  ("phash_pop", "double"), ("caption_len", "double"),
                  ("aspect", "double"), ("fmt", "string"),
                  ("mean_lum", "double"), ("std_gray", "double")]
        rows = [("bad", ts, 64.0, 3.0, 1.5, "png", None, None),
                ("empty", ts, 0.0, 0.0, 0.25, "png", None, None),
                ("good", ts, 3.0, 2.0, 1.0, "png", 77.0, 0.0)]
    return out, dtypes, rows


def _cell(v):
    """NaN as a comparable marker (NaN != NaN); binary as bytes."""
    if isinstance(v, float) and np.isnan(v):
        return "NaN"
    return bytes(v) if isinstance(v, (bytes, bytearray)) else v


@pytest.mark.parametrize("name", [
    "decode_stats", "fidelity_check", "resize_images", "sample_frames",
    "audio_features", "patch_grid", "image_channels_pixel_stats",
])
def test_mapper_failure_rows(spark, name):
    out, dtypes, rows = _failure_case(spark, name)
    assert out.dtypes == dtypes
    got = sorted(tuple(_cell(v) for v in r) for r in out.collect())
    assert got == rows
