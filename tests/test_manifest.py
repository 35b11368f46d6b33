"""Checkpoint manifest + resume (north_rule: per-partition lineage +
row-count/checksum metrics; interrupted runs resume at partition
granularity). The reference has no fault tolerance (SURVEY.md §4)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from spark_pit import manifest


@pytest.fixture()
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_interrupt_then_resume_is_byte_identical(spark, events, tmp_path):
    out_a = str(tmp_path / "interrupted")
    out_b = str(tmp_path / "oneshot")

    # interrupted run: only 1 of 4 batches lands
    r1 = manifest.write_checkpointed(
        events, out_a, entity="user_id", num_parts=8, parts_per_batch=2,
        input_snapshot="snap-1", max_batches=1,
    )
    assert not r1["complete"]
    assert len(manifest.completed_parts(out_a)) == 2

    # resume: same call, no max_batches — picks up the remaining 6 buckets
    r2 = manifest.write_checkpointed(
        events, out_a, entity="user_id", num_parts=8, parts_per_batch=2,
        input_snapshot="snap-1",
    )
    assert r2["complete"] and r2["resumed_from"] == 2
    assert sorted(r2["written_parts"]) == [2, 3, 4, 5, 6, 7]
    assert manifest.is_complete(out_a, 8)

    # single-shot run for comparison
    manifest.write_checkpointed(
        events, out_b, entity="user_id", num_parts=8, parts_per_batch=8,
        input_snapshot="snap-1",
    )
    a = _sorted_pdf(manifest.read_output(spark, out_a))
    b = _sorted_pdf(manifest.read_output(spark, out_b))
    pd.testing.assert_frame_equal(a, b)

    # manifests certify the same on-disk content (rows + checksums match)
    ma = {m["part_id"]: (m["rows"], m["checksum"]) for m in manifest.read_manifest(out_a)}
    mb = {m["part_id"]: (m["rows"], m["checksum"]) for m in manifest.read_manifest(out_b)}
    assert ma == mb
    assert sum(r for r, _ in ma.values()) == events.count()


def test_manifest_lineage_fields(spark, events, tmp_path):
    out = str(tmp_path / "m")
    manifest.write_checkpointed(
        events.limit(500), out, entity="user_id", num_parts=4,
        parts_per_batch=4, input_snapshot="snap-xyz",
    )
    lines = manifest.read_manifest(out)
    assert len(lines) == 4
    for ln in lines:
        assert ln["input_snapshot"] == "snap-xyz"
        assert set(ln) >= {"part_id", "rows", "checksum", "n_files", "wall_s"}
        if ln["rows"]:
            assert ln["n_files"] >= 1


def test_resume_skips_completed_work(spark, events, tmp_path):
    out = str(tmp_path / "skip")
    manifest.write_checkpointed(
        events, out, entity="user_id", num_parts=4, parts_per_batch=4,
    )
    # second call: nothing to do
    r = manifest.write_checkpointed(
        events, out, entity="user_id", num_parts=4, parts_per_batch=4,
    )
    assert r["written_parts"] == [] and r["complete"]


def test_part_id_is_deterministic(spark, events):
    a = manifest.with_part_id(events, "user_id", 16).select("user_id", manifest.PART_COL)
    counts = a.groupBy("user_id").agg(F.countDistinct(manifest.PART_COL).alias("n"))
    assert counts.where(F.col("n") > 1).count() == 0


def test_manifest_counts_files_and_certifies_what_a_plain_read_sees(spark, events, tmp_path):
    """Four input tasks write into every bucket, so each bucket holds
    several part files. ``n_files`` (the bucket's directory listing) equals
    the distinct input files a read-back of that bucket touches, and rows
    and checksum equal those of a plain read that infers its schema."""
    out = str(tmp_path / "files")
    manifest.write_checkpointed(
        events.repartition(4), out, entity="user_id", num_parts=4, parts_per_batch=2,
    )
    back = spark.read.parquet(f"{out}/data")
    cols = [c for c in back.columns if c != manifest.PART_COL]
    plain = {
        int(r[manifest.PART_COL]): r
        for r in back.withColumn("__file", F.input_file_name())
        .groupBy(manifest.PART_COL)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("checksum"),
            F.countDistinct("__file").alias("n_files"),
        )
        .collect()
    }
    lines = manifest.read_manifest(out)
    assert sorted(ln["part_id"] for ln in lines) == [0, 1, 2, 3]
    for ln in lines:
        r = plain[ln["part_id"]]
        assert ln["n_files"] >= 2
        assert ln["n_files"] == r["n_files"]
        assert (ln["rows"], ln["checksum"]) == (r["rows"], str(r["checksum"]))
