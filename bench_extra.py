"""Per-query isolation bench (guide §1.4). Builds the same headline query
set as bench.py (``build_bench_set``, which bench.py imports) under the
same session config, but:

- runs only the queries named on the command line (default: all headline)
- times each with the noop sink, configurable warm/repeat counts
- optionally dumps .explain("formatted") per query to a directory

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
        [--warm 1] [--repeat 1] [--plan-dir plans/r07 --plan-suffix _before] \
        [query ...]
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _settings() -> dict:
    """Input amplification and kernel bucket settings, from the
    environment.

    - SPARK_GRAFT_REPL=N (default 64) amplifies the flagship input N×
      deterministically: each replica gets a disjoint user_id range, which
      keeps every per-entity timeline shape, so rows/sec measures kernel
      compute rather than fixed stage overhead (REPL=8 undersold the
      kernel ~3×).
    - SPARK_GRAFT_IMG_REPL (default 8) does the same for the image table;
      image_id is a string key, so replicas get a prefix.
    - SPARK_GRAFT_BUCKETS pins the kernel bucket count. Bucket count is
      JOB config, not cluster size: the scaling harness
      (tools/bench_scaling) must hold it constant across its two
      parallelism levels or the legs run different jobs.
    - SPARK_GRAFT_IMG_DIR caches the synthetic image table.
    """
    return {
        "repl": int(os.environ.get("SPARK_GRAFT_REPL", "64")),
        "img_repl": int(os.environ.get("SPARK_GRAFT_IMG_REPL", "8")),
        "buckets": os.environ.get("SPARK_GRAFT_BUCKETS"),
        "img_dir": os.environ.get("SPARK_GRAFT_IMG_DIR", "/tmp/spark_pit_bench_images"),
    }


def input_rows(spark, sf_dir: str, with_images: bool) -> tuple[int, int]:
    """Rows the amplified flagship and image flagship read; the image
    count needs the image table, which the image flagship writes."""
    cfg = _settings()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count() * cfg["repl"]
    n_img = 0
    if with_images:
        n_img = spark.read.parquet(f"{cfg['img_dir']}/images.parquet").count() * cfg["img_repl"]
    return n_events, n_img


def build_bench_set(spark, cpus: int):
    """The headline query set bench.py runs."""
    from pyspark.sql import functions as F

    from spark_pit.operators.pit import pit_features_bucketed
    from spark_pit.queries import EVENT_VOCAB, QUERIES

    cfg = _settings()
    repl, img_repl, img_dir = cfg["repl"], cfg["img_repl"], cfg["img_dir"]
    n_buckets_flagship = int(cfg["buckets"]) if cfg["buckets"] else cpus * 8
    n_buckets_image = int(cfg["buckets"]) if cfg["buckets"] else cpus * 4

    def _events(spark, sf_dir):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        if repl > 1:
            # parallelize the amplification: the sf parquet is one small file
            # (one scan task); without this the explode's shuffle write is a
            # serial Amdahl term that poisons the scaling measurement
            ev = ev.repartition(cpus * 2)
            ev = ev.withColumn("__r", F.explode(F.lit(list(range(repl))))).select(
                (F.col("user_id").cast("long")
                 + F.col("__r").cast("long") * F.lit(1_000_000_000)).alias("user_id"),
                "ts", "event_id", "event_type", "value",
            )
        return ev

    def flagship(spark, sf_dir):
        ev = _events(spark, sf_dir)
        snaps = ev.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("ts").alias("snapshot_ts"),
            F.col("event_id").alias("snapshot_id"),
        )
        return pit_features_bucketed(
            ev, snaps, entity="user_id", ts="ts", numeric_col="value",
            token_col="event_type", vocab=EVENT_VOCAB, gap_seconds=1800, width=5,
            num_buckets=n_buckets_flagship,
        )

    def _ensure_images(spark):
        # the image-table flagship's own input shape, generated once and
        # cached: payload encoding is generation cost, not query cost
        if not os.path.exists(f"{img_dir}/images.parquet"):
            from spark_pit.datagen import images_table, snapshots_table

            images_table(spark, n_entities=2000, n_rows=100_000, seed=42).write.mode(
                "overwrite"
            ).parquet(f"{img_dir}/images.parquet")
            snapshots_table(
                spark, n_entities=2000, snaps_per_entity=8, seed=42
            ).write.mode("overwrite").parquet(f"{img_dir}/snapshots.parquet")

    def _img_amplify(df):
        # bytes are pruned pre-shuffle by the pipeline, so replication
        # amplifies kernel work, not payload I/O
        if img_repl <= 1:
            return df
        df = df.repartition(cpus * 2)
        df = df.withColumn("__r", F.explode(F.lit(list(range(img_repl)))))
        df = df.withColumn(
            "image_id",
            F.concat(F.col("__r").cast("string"), F.lit("#"), F.col("image_id")),
        )
        return df.drop("__r")

    def image_flagship(spark, sf_dir):
        from spark_pit.pipeline import image_pit_features

        _ensure_images(spark)
        return image_pit_features(
            _img_amplify(spark.read.parquet(f"{img_dir}/images.parquet")),
            _img_amplify(spark.read.parquet(f"{img_dir}/snapshots.parquet")),
            num_buckets=n_buckets_image,
        )

    return {
        "flagship": flagship,
        "image_flagship": image_flagship,
        "asof_join": QUERIES["asof_join"],
        "sessionize": QUERIES["sessionize"],
        "window_composition": QUERIES["window_composition"],
        "lagk_pairs": QUERIES["lagk_pairs"],
        "autocorr": QUERIES["autocorr"],
        "asdc": QUERIES["asdc"],
        "ksc_triad": QUERIES["ksc_triad"],
        # dedup marking, not pair emission: the sf0.1 documents table has a
        # ~2,270-doc near-dup template cluster, so pair output is inherently
        # quadratic (5.9M rows); marking is the 100 TB-shaped surface
        "minhash_dedup_mark": QUERIES["minhash_dedup_mark"],
        # full clustering over the same table — linear star-edge candidates,
        # so the 2,270-doc cluster costs O(cluster) edges + components
        "dedup_clusters": QUERIES["dedup_clusters"],
        "embedding_neardup": QUERIES["embedding_neardup"],
        "pricing_summary": QUERIES["pricing_summary"],
        "revenue_by_nation": QUERIES["revenue_by_nation"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (default: all headline)")
    ap.add_argument("--warm", type=int, default=1)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--plan-suffix", default="")
    ap.add_argument("--registry", action="store_true",
                    help="look up non-headline names in the full QUERIES registry")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"

    from spark_pit.session import get_spark

    spark = get_spark(
        app_name="spark_pit_bench_extra",
        master=master,
        shuffle_partitions=max(cpus * 2, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    bench_set = build_bench_set(spark, cpus)
    if args.registry:
        from spark_pit.queries import QUERIES

        for n in args.queries:
            if n not in bench_set and n in QUERIES:
                bench_set[n] = QUERIES[n]
    names = args.queries or list(bench_set)

    timings: dict[str, list[float]] = {}
    for name in names:
        fn = bench_set[name]
        df = fn(spark, sf_dir)
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(args.plan_dir, f"{name}{args.plan_suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())
        for _ in range(args.warm):
            spark.sparkContext.setJobDescription(f"warm:{name}")
            _force(fn(spark, sf_dir))
        runs = []
        for i in range(args.repeat):
            spark.sparkContext.setJobDescription(f"bench:{name}:{i}")
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            runs.append(round(time.perf_counter() - t0, 3))
        timings[name] = runs
        print(json.dumps({"query": name, "runs": runs, "best": min(runs) if runs else None}),
              flush=True)

    print(json.dumps({
        "metric": "isolation",
        "sf": sf_dir,
        "cpus": cpus,
        "best": {k: (min(v) if v else None) for k, v in timings.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
