"""SparkSession factory with the engine's scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor target (SURVEY.md §4)
and merely *also* works on local[N]:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on for all pandas-UDF traffic, with a bounded batch size so wide
  binary payload batches don't blow executor memory
- UTC/naive timestamps so results are byte-comparable with the DuckDB oracle
- shuffle partitions sized by caller (default: 2x cores locally; on a real
  cluster you'd set ~2-3x total executor cores or rely on AQE coalescing)
- whole-stage codegen cache of 1000 entries (Spark's default is 100). The
  cache is a Guava cache split into 4 LRU segments, and its key includes the
  class loader, so each generated class takes two entries (driver and task
  thread). With the default, every warm pass of the benchmark's
  dedup_and_short_queries workload recompiled 180-184 classes
  (dedup_clusters 70, minhash_dedup_mark 29-32), and pit_and_image_write
  up to 17 in some JVMs (a segment's share of the entries varies per JVM);
  with 1000 both recompile none, and the JIT-compiled code stays warm.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark_pit",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_PIT_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-affecting ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.timestampType", "TIMESTAMP_NTZ")
        # --- adaptive execution: runtime re-plan, skew split, coalesce ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- Arrow / pandas-UDF path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_PIT_ARROW_BATCH", "10000"),
        )
        # --- scan sizing: keep parquet splits near-uniform ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # static conf: holds the engine's working set of generated classes
        # so warm passes reuse them (see the module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_PIT_DRIVER_MEM", "8g"))
    )
    if master.startswith("local-cluster"):
        # Separate executor JVMs don't inherit the driver's sys.path
        # hacks; Python workers need the package importable. Harmless and
        # only applied in this multi-JVM local test shape.
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        prior = os.environ.get("PYTHONPATH", "")
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH",
            f"{repo_root}:{prior}" if prior else repo_root,
        )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
