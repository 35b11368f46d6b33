"""Checkpoint manifest + partition-granularity resume (north_rule clause:
"every task writes per-partition lineage + row-count/checksum metrics to a
checkpoint manifest so interrupted runs resume at partition granularity").

The reference has no fault tolerance at all (SURVEY.md §4 "fault
tolerance / resume: none" — a crash in any per-sample loop of
/root/reference/feature.py loses everything). This module adds job-level
resumability on top of Spark's task-level retry:

Design
------
- The output keyspace is split into ``num_parts`` deterministic buckets:
  ``__part_id = pmod(xxhash64(entity), num_parts)``. The bucket id is a pure
  function of the entity key, so a re-run of the same input reproduces the
  same bucket → partition mapping regardless of cluster size or input order.
- Buckets are written in batches of ``parts_per_batch`` using **dynamic
  partition overwrite** (`partitionOverwriteMode=dynamic`), so a batch that
  died mid-write is simply overwritten — partially-written bucket dirs can
  never poison a resumed run (idempotent at bucket granularity).
- After each batch lands, the written files are read back from disk and a
  manifest line per bucket is appended:
  ``{part_id, rows, checksum, n_files, input_snapshot, wall_s}``.
  The checksum is an order-independent ``sum(xxhash64(*cols))`` over what is
  actually durable on disk (decimal(38,0) sum — overflow-free), i.e. the
  manifest certifies the bytes a resumed reader will see, not the bytes the
  writer intended. The read-back takes the schema the batch was written
  with (``__part_id`` included), so it infers none and launches no
  schema-inference job. ``n_files`` is the number of non-hidden
  ``*.parquet`` files listed in the bucket's ``__part_id=<b>/`` directory.
  Rows and checksum still come from the bytes on disk.
- Manifest files are written atomically (tmp + rename) per batch, so a crash
  between data-write and manifest-write re-does at most one batch.
- ``write_checkpointed`` with the same arguments *is* the resume operation:
  it reads the manifest, anti-selects completed buckets, and only plans the
  remainder — Catalyst prunes the scan down to the missing keyspace.

At 100 TB scale: num_parts ≈ thousands; the driver loop is over
num_parts/parts_per_batch batches (tens), each batch a full-parallelism
distributed job, so checkpointing adds no serialization point beyond the
batch barrier. The read-back metrics job touches only the batch's new files.
The manifest is local-filesystem only (``os.listdir``, ``os.replace``), and
so is the bucket listing behind ``n_files``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

PART_COL = "__part_id"


def with_part_id(df: DataFrame, entity: str, num_parts: int) -> DataFrame:
    """Deterministic bucket id for the checkpoint keyspace."""
    return df.withColumn(
        PART_COL, F.pmod(F.xxhash64(F.col(entity)), F.lit(num_parts)).cast("int")
    )


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_manifest")


def completed_parts(out_dir: str) -> set[int]:
    """Bucket ids already certified by a manifest line."""
    return {int(r["part_id"]) for r in read_manifest(out_dir)}


def read_manifest(out_dir: str) -> list[dict]:
    mdir = _manifest_dir(out_dir)
    rows: list[dict] = []
    if not os.path.isdir(mdir):
        return rows
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".jsonl"):
            with open(os.path.join(mdir, name)) as fh:
                rows.extend(json.loads(x) for x in fh if x.strip())
    return rows


def is_complete(out_dir: str, num_parts: int) -> bool:
    return os.path.exists(os.path.join(out_dir, "_COMPLETE")) or (
        len(completed_parts(out_dir)) >= num_parts
    )


def _bucket_files(data_dir: str, part_id: int) -> int:
    """Parquet files in one bucket's directory, hidden files excluded."""
    bdir = os.path.join(data_dir, f"{PART_COL}={part_id}")
    if not os.path.isdir(bdir):
        return 0
    return sum(
        1 for name in os.listdir(bdir)
        if name.endswith(".parquet") and not name.startswith((".", "_"))
    )


def _batch_metrics(
    spark: SparkSession, out_dir: str, batch: list[int], schema: StructType
) -> list[dict]:
    """Read the just-written buckets back from disk with the ``schema``
    they were written with; certify rows/checksum, count files per bucket."""
    data_dir = os.path.join(out_dir, "data")
    df = (
        spark.read.schema(schema).parquet(data_dir)
        .where(F.col(PART_COL).isin([int(b) for b in batch]))
    )
    cols = [c for c in df.columns if c != PART_COL]
    agg = (
        df.groupBy(PART_COL)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("checksum"),
        )
        .collect()
    )
    found = {int(r[PART_COL]): r for r in agg}
    out = []
    for b in batch:
        r = found.get(int(b))
        out.append(
            {
                "part_id": int(b),
                "rows": int(r["rows"]) if r else 0,
                "checksum": str(r["checksum"]) if r else "0",
                "n_files": _bucket_files(data_dir, int(b)),
            }
        )
    return out


def write_checkpointed(
    df: DataFrame,
    out_dir: str,
    entity: str,
    num_parts: int = 64,
    parts_per_batch: int = 16,
    input_snapshot: str = "",
    max_batches: int | None = None,
) -> dict:
    """Write ``df`` to ``out_dir/data`` partitioned by the checkpoint bucket,
    batch-by-batch, appending per-bucket manifest lines after each durable
    batch. Calling again with the same args resumes: completed buckets are
    skipped (anti-join on the manifest). Returns a summary dict.

    ``max_batches`` bounds work per invocation (and is the test hook for
    simulating an interrupted run).
    """
    spark = df.sparkSession
    data_dir = os.path.join(out_dir, "data")
    mdir = _manifest_dir(out_dir)
    os.makedirs(mdir, exist_ok=True)

    done = completed_parts(out_dir)
    remaining = [p for p in range(num_parts) if p not in done]
    batches = [
        remaining[i : i + parts_per_batch]
        for i in range(0, len(remaining), parts_per_batch)
    ]
    if max_batches is not None:
        batches = batches[:max_batches]

    keyed = with_part_id(df, entity, num_parts)
    # Executor-disk persist: each batch filters the SAME upstream frame,
    # and without a materialization point every batch recomputes the full
    # kernel — measured at 51.2M rows as 16x a 45 s kernel for 16 batches.
    # DISK_ONLY keeps the memory footprint flat at any scale; losing the
    # cache on failure is exactly the resume contract (the next invocation
    # recomputes ONCE and writes only the remaining parts).
    from pyspark import StorageLevel

    if len(batches) > 1:
        keyed = keyed.persist(StorageLevel.DISK_ONLY)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    written: list[int] = []
    try:
        for bi, batch in enumerate(batches):
            t0 = time.perf_counter()
            sub = keyed.where(F.col(PART_COL).isin(batch))
            # dynamic overwrite: only this batch's bucket dirs are replaced,
            # so a retried half-written batch self-heals.
            sub.write.partitionBy(PART_COL).mode("overwrite").parquet(data_dir)
            wall = round(time.perf_counter() - t0, 3)
            lines = _batch_metrics(spark, out_dir, batch, keyed.schema)
            for ln in lines:
                ln["input_snapshot"] = input_snapshot
                ln["wall_s"] = wall
            tag = f"manifest-{min(batch):06d}"
            tmp = os.path.join(mdir, f".{tag}.tmp")
            with open(tmp, "w") as fh:
                for ln in lines:
                    fh.write(json.dumps(ln) + "\n")
            os.replace(tmp, os.path.join(mdir, f"{tag}.jsonl"))
            written.extend(batch)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        if len(batches) > 1:
            keyed.unpersist()

    all_done = len(completed_parts(out_dir)) >= num_parts
    if all_done:
        with open(os.path.join(out_dir, "_COMPLETE"), "w") as fh:
            fh.write(input_snapshot + "\n")
    return {
        "out_dir": out_dir,
        "num_parts": num_parts,
        "resumed_from": len(done),
        "written_parts": written,
        "complete": all_done,
    }


def read_output(spark: SparkSession, out_dir: str, drop_part_col: bool = True) -> DataFrame:
    df = spark.read.parquet(os.path.join(out_dir, "data"))
    return df.drop(PART_COL) if drop_part_col else df
