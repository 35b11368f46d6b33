"""Production job entry: the full north_rule pipeline as a spark-submit
application.

    python tools/build_pyfiles.py                      # → dist/spark_pit.zip
    spark-submit --py-files dist/spark_pit.zip tools/run_job.py \
        --events /root/testdata/sf0.01/events.parquet \
        --out /tmp/pit_out --hot-threshold 50000 --num-parts 64

Composes the engine end-to-end:
  events → (hot-entity detection) → salted/unsalted fused PIT kernel
         → checkpoint-manifested partitioned write (resumable)
and prints one JSON metrics line (rows in/out, wall seconds, rows/sec,
resumed partitions). Re-running with the same --out resumes at partition
granularity from the manifest.

When --snapshots is omitted, the snapshot stream is derived from purchase
events (the same convention as __spark_entry__.entry and the oracle
queries). All heavy lifting is in spark_pit.operators / spark_pit.manifest;
this module is argument plumbing only, so it works identically under
spark-submit on a real cluster and under python in the sandbox.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

DEFAULT_VOCAB = ["click", "error", "purchase", "signup", "view"]


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description="spark_pit fused PIT feature job")
    p.add_argument("--events", required=True, help="input events parquet path")
    p.add_argument("--snapshots", default=None, help="snapshot parquet path (optional)")
    p.add_argument("--out", required=True, help="output dir (data + _manifest)")
    p.add_argument("--entity", default="user_id")
    p.add_argument("--ts", default="ts")
    p.add_argument("--numeric-col", default="value")
    p.add_argument("--token-col", default="event_type")
    p.add_argument("--vocab", default=",".join(DEFAULT_VOCAB))
    p.add_argument("--gap-seconds", type=int, default=1800)
    p.add_argument("--width", type=int, default=5)
    p.add_argument("--tiebreak", default="event_id")
    p.add_argument("--hot-threshold", type=int, default=None,
                   help="salt entities with more events than this")
    p.add_argument("--chunk-seconds", type=int, default=86400)
    p.add_argument("--num-parts", type=int, default=64)
    p.add_argument("--num-buckets", type=int, default=None,
                   help="PIT kernel bucket count; default = max(256, "
                        "rows/50k) — data-derived ~50k-row pandas buckets "
                        "(BENCH.md round 5: core-derived counts straggle)")
    p.add_argument("--parts-per-batch", type=int, default=16)
    p.add_argument("--input-snapshot", default="",
                   help="lineage tag recorded in the manifest")
    p.add_argument("--master", default=None,
                   help="only for local runs without spark-submit")
    p.add_argument("--table-kind", choices=["events", "image", "docs"], default="events",
                   help="'image' = the north-rule image+caption pipeline "
                        "(--events points at images.parquet, --snapshots "
                        "at the snapshot stream; see spark_pit.datagen CLI); "
                        "'docs' = training-data document pipeline "
                        "(--events points at documents.parquet): MinHash "
                        "dedup clusters + token/quality/lang-id/fingerprint "
                        "features, one manifested table")
    p.add_argument("--dedup-threshold", type=float, default=0.5,
                   help="docs kind: exact-Jaccard verify threshold")
    p.add_argument("--params", default=None,
                   help="JSON parameter file (reference import_parameters "
                        "shape, see spark_pit.config); CLI flags win")
    return p


def run(spark: SparkSession, args: argparse.Namespace) -> dict:
    from spark_pit import manifest
    from spark_pit.config import load_params
    from spark_pit.operators.skew import pit_features_salted

    # JSON params provide defaults; explicit CLI flags (argparse defaults
    # differ from DEFAULTS only when the user passed them) take precedence
    if args.params:
        cfg = load_params(args.params).for_op("pit")
        parser_defaults = build_parser().parse_args(
            ["--events", args.events, "--out", args.out]
        )
        for cli_name, cfg_name in (
            ("gap_seconds", "gap_seconds"), ("width", "width"),
            ("chunk_seconds", "chunk_seconds"), ("hot_threshold", "hot_threshold"),
            ("num_parts", "num_parts"),
        ):
            if getattr(args, cli_name) == getattr(parser_defaults, cli_name) and cfg_name in cfg:
                setattr(args, cli_name, cfg[cfg_name])

    t0 = time.perf_counter()
    if args.table_kind == "image":
        from spark_pit.pipeline import image_pit_features

        images = spark.read.parquet(args.events)
        if not args.snapshots:
            raise SystemExit("--table-kind image requires --snapshots")
        snaps = spark.read.parquet(args.snapshots)
        feats = image_pit_features(
            images, snaps, gap_seconds=args.gap_seconds, width=args.width
        )
        entity = "image_id"
    elif args.table_kind == "docs":
        from spark_pit.operators.dedup import dedup_clusters
        from spark_pit.operators.textstats import (
            doc_fingerprint,
            lang_id,
            quality_score,
            token_stats,
        )

        docs = spark.read.parquet(args.events)
        # one wide per-doc feature frame: cluster identity + text features.
        # every branch keys on doc_id, so AQE coalesces the joins onto the
        # same hash partitioning; no branch carries text past its own scan.
        feats = (
            dedup_clusters(docs, "doc_id", "text", threshold=args.dedup_threshold)
            .join(token_stats(docs, "doc_id", "text"), "doc_id")
            .join(quality_score(docs, "doc_id", "text").select(
                "doc_id", "quality"), "doc_id")
            .join(lang_id(docs, "doc_id", "text").select(
                "doc_id", "lang_pred"), "doc_id")
            .join(doc_fingerprint(docs, "doc_id", "text"), "doc_id")
            .withColumn("is_dup", F.col("canonical_id") != F.col("doc_id"))
        )
        entity = "doc_id"
    else:
        vocab = [v for v in args.vocab.split(",") if v]
        ev = spark.read.parquet(args.events)
        if args.snapshots:
            snaps = spark.read.parquet(args.snapshots)
        else:
            snaps = ev.where(F.col(args.token_col) == "purchase").select(
                args.entity,
                F.col(args.ts).alias("snapshot_ts"),
                F.col(args.tiebreak).alias("snapshot_id"),
            )
        n_buckets = args.num_buckets
        if n_buckets is None:
            # parquet count() is a footer-only scan, still run as Spark
            # jobs; ~50k-row buckets (BENCH.md)
            n_buckets = max(256, ev.count() // 50_000)
        feats = pit_features_salted(
            ev, snaps,
            entity=args.entity, ts=args.ts,
            numeric_col=args.numeric_col, token_col=args.token_col, vocab=vocab,
            gap_seconds=args.gap_seconds, width=args.width,
            chunk_seconds=args.chunk_seconds,
            hot_threshold=args.hot_threshold,
            hot_ids=None if args.hot_threshold is not None else [],
            tiebreak=args.tiebreak or None,
            num_buckets=n_buckets,
        )
        entity = args.entity
    summary = manifest.write_checkpointed(
        feats, args.out, entity=entity,
        num_parts=args.num_parts, parts_per_batch=args.parts_per_batch,
        input_snapshot=args.input_snapshot or args.events,
    )
    wall = time.perf_counter() - t0
    rows_out = sum(m["rows"] for m in manifest.read_manifest(args.out))
    return {
        "metric": "pit_feature_rows_per_sec",
        "value": round(rows_out / max(wall, 1e-9), 1),
        "unit": "rows/sec",
        "rows_out": rows_out,
        "wall_s": round(wall, 3),
        "resumed_from_parts": summary["resumed_from"],
        "complete": summary["complete"],
        "out": args.out,
    }


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    # the engine's session factory, not a bare builder: picks up the
    # scale-oriented defaults (AQE, Arrow batch size, NTZ timestamps, UTC)
    # AND the SPARK_PIT_DRIVER_MEM heap knob — a bare local[32] session
    # runs 32 executor threads on Spark's 1g default heap, which OOMs the
    # countmin fan-out agg at the 51M-row endurance scale
    from spark_pit.session import get_spark

    spark = get_spark(app_name="spark_pit_job", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, args)))
    spark.stop()


if __name__ == "__main__":
    main()
