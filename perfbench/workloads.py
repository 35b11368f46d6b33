"""The benchmark's workloads.

Each workload registers its inputs (part of set-up), runs one pass (the
unit the closed loop times), verifies its outputs in an untimed pass, and
rolls a traced pass's spans and Spark metrics up into per-layer numbers.
Only public ``spark_pit`` calls are timed.

Every timed pass, the cold one included, runs the same plan: the noop sink,
or the durable write of the image pipeline. The verifying pass runs after
the cold pass and before the warm ones: it hashes each output
order-independently, with the seed's id remap undone, and the run compares
the result with the values committed in ``expected.json``. The image write
is verified by reading back what the cold pass wrote.

Two workloads run four parts: ``pit_and_image_write`` runs the PIT kernel
twins (``PitEvents``, then ``ImagePitWrite``), ``dedup_and_short_queries``
the registered queries that never call them (``RegisteredQueries``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from contextlib import nullcontext
from functools import reduce

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType

from perfbench import trace
from perfbench.inputs import DATA, EVENT_TYPES, IMAGE_SOURCE, Scale, image_tags, seed_mask

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")
# one or two callers of each of operators.asof, windows, pairs, autocorr
SHORT_QUERIES = ["asof_join", "sessionize", "lagk_pairs", "autocorr"]
DEDUP_QUERIES = {  # registered query -> layer prefix
    "minhash_dedup_mark": "dedup.mark",
    "dedup_clusters": "dedup.clusters",
    "embedding_neardup": "similarity.neardup",
}


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _rows(path: str) -> int:
    return pq.read_metadata(path).num_rows


def hashed(df: DataFrame, key: str) -> DataFrame:
    """``(k, h)``: the key and the xxhash64 of every column of each row."""
    return df.select(F.lit(key).alias("k"), F.xxhash64(*df.columns).alias("h"))


def checksums(parts: list[DataFrame]) -> dict[str, list]:
    """Order-independent checksums of ``hashed`` frames, in one Spark job:
    ``{key: [row count, sum of the row hashes]}``, the sum
    ``spark_pit.manifest`` certifies its batches with."""
    rows = reduce(DataFrame.unionAll, parts).groupBy("k").agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("h")
    ).collect()
    return {r["k"]: [int(r["n"]), str(r["h"] or 0)] for r in rows}


def rounded(df: DataFrame) -> DataFrame:
    """Floating columns, and arrays of them, rounded to 6 decimals, so a
    change of summation order does not read as a wrong result."""
    def rnd(name: str, dtype) -> Column:
        c = F.col(name)
        if isinstance(dtype, (DoubleType, FloatType)):
            return F.round(c, 6).alias(name)
        if isinstance(dtype, ArrayType) and isinstance(dtype.elementType, (DoubleType, FloatType)):
            return F.transform(c, lambda x: F.round(x, 6)).alias(name)
        return c

    return df.select(*[rnd(f.name, f.dataType) for f in df.schema.fields])


def load_expected(scale: str) -> dict[str, list]:
    """The committed checksums of ``scale``; none if the file is missing."""
    if not os.path.isfile(EXPECTED):
        return {}
    with open(EXPECTED) as fh:
        return json.load(fh).get(scale, {})


class Workload:
    name = ""

    def __init__(self, data_dir: str, scale: Scale, seed: int, work_dir: str):
        self.seed = seed
        self.data_dir = data_dir
        self.sf_dir = os.path.join(data_dir, "sf")
        self.scale = scale
        self.work_dir = work_dir
        self.input_rows = 0  # rows one pass reads: the base of rows_per_cpu_s

    def register(self, spark: SparkSession) -> None:
        """Input registration, part of set-up: resolve every input table."""

    def run_pass(self, spark: SparkSession, tracer=None):
        """One timed pass; raises on failure. Returns what ``check_passes``
        needs to know about the pass, or None."""
        raise NotImplementedError

    def verify(self, spark: SparkSession) -> dict[str, list]:
        """The untimed verifying pass, right after the cold pass:
        ``{check: checksum}``, compared with ``expected.json``."""
        raise NotImplementedError

    def check_passes(self, results: list) -> list[tuple[str, bool]]:
        """Checks on the values the timed passes returned (the cold pass's
        first), after the loop."""
        return []

    def datagen(self, spark: SparkSession) -> tuple[float, list[tuple[str, bool]]]:
        """Run the engine's input generator this workload's source came from
        (traced runs only, after every pass): its seconds, and whether it
        still makes the committed source. ``(0.0, [])`` if there is none."""
        return 0.0, []

    def layer_metrics(self, spark: SparkSession, tracer, root: trace.Span) -> dict[str, float]:
        raise NotImplementedError


def _named(tracer, root: trace.Span) -> dict[str, trace.Span]:
    """The spans directly under ``root``, by name."""
    return {s.name: s for s in tracer.spans if s.parent == root.id}


def _python_metrics(node: trace.Node) -> dict[str, float]:
    m = node.metrics
    return {
        "python_run_s": m.get("time to run Python workers", 0.0),
        "python_init_s": m.get("time to initialize Python workers", 0.0)
        + m.get("time to start Python workers", 0.0),
        "arrow_to_python_mb": m.get("data sent to Python workers", 0.0) / 1e6,
        "arrow_from_python_mb": m.get("data returned from Python workers", 0.0) / 1e6,
        "rows_out": m.get("number of output rows", 0.0),
    }


def _add(acc: dict[str, float], key: str, value: float) -> None:
    acc[key] = acc.get(key, 0.0) + value


def operator_layers(spark: SparkSession, executions: list[int]) -> dict[str, float]:
    """Roll the PIT kernel nodes of ``executions`` up by the module that
    built them: bucketed kernel and its cogroup shuffle (``pit``), salted
    kernel (``skew``, recognised by its ``__chunk`` salt column)."""
    out: dict[str, float] = {}
    for eid in executions:
        nodes, children = trace.plan_nodes(spark, eid)
        for n in nodes.values():
            if n.name == "FlatMapCoGroupsInPandas":
                layer = "skew" if "__chunk" in n.desc else "pit"
                for k, v in _python_metrics(n).items():
                    _add(out, f"{layer}.{k}", v)
                if layer == "pit":
                    for f in trace.kernel_feed(nodes, children, n.id):
                        if f.name == "Sort":
                            _add(out, "pit.sort_s", f.metrics.get("sort time", 0.0))
                            _add(out, "pit.spill_mb", f.metrics.get("spill size", 0.0) / 1e6)
                        else:
                            _add(out, "pit.exchange_write_mb", f.metrics.get("shuffle bytes written", 0.0) / 1e6)
                            _add(out, "pit.exchange_write_s", f.metrics.get("shuffle write time", 0.0))
    return out


class PitEvents(Workload):
    """Flagship: events -> bucketed PIT features (as-of, lag/lead,
    sessions, backfill, trailing composition) -> noop sink."""

    name = "pit_events"
    num_buckets = 16

    def register(self, spark):
        path = os.path.join(self.data_dir, "pit", "events.parquet")
        self.events = spark.read.parquet(path)
        self.input_rows = _rows(path)

    def _plan(self) -> DataFrame:
        from spark_pit.operators.pit import pit_features_bucketed

        ev = self.events
        snaps = ev.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("ts").alias("snapshot_ts"), F.col("event_id").alias("snapshot_id")
        )
        return pit_features_bucketed(
            ev, snaps, entity="user_id", ts="ts", numeric_col="value",
            token_col="event_type", vocab=EVENT_TYPES, gap_seconds=1800, width=5,
            tiebreak="event_id", num_buckets=self.num_buckets,
        )

    @staticmethod
    def project(out: DataFrame, mask: int) -> DataFrame:
        """The columns the ``pit_fused`` oracle defines, rounded as it
        does, with the seed's user-id mask undone."""
        from spark_pit.util import ts_us

        return out.select(
            "event_id", F.col("user_id").bitwiseXOR(F.lit(mask)).alias("user_id"),
            ts_us("ts").alias("ts_us"), "asof_snapshot_id",
            *[F.round(c, 6).alias(c) for c in ("asof_age_sec", "lag1_value", "lead1_value")],
            "session_id", "session_pos", F.round("value_bf", 6).alias("value_bf"),
            *[F.round(F.col("wc")[i], 6).alias(f"wc_{t}") for i, t in enumerate(EVENT_TYPES)],
        )

    def run_pass(self, spark, tracer=None):
        with _span(tracer, "pit.plan"):
            out = self._plan()
        with _span(tracer, "pit.exec"):
            _noop(out)

    def verify(self, spark):
        proj = self.project(self._plan(), seed_mask(self.seed))
        return checksums([hashed(proj, "pit_fused")])

    def layer_metrics(self, spark, tracer, root):
        spans = _named(tracer, root)
        out = {"pit.plan_s": spans["pit.plan"].seconds, "pit.exec_s": spans["pit.exec"].seconds}
        out.update(operator_layers(spark, spans["pit.exec"].executions))
        return out


class ImagePitWrite(Workload):
    """North-rule production path: image+caption table -> pipeline (hot ids
    salted, cold ids bucketed) -> checkpointed parquet write, each pass
    into a fresh empty directory that is removed afterwards."""

    name = "image_pit_write"
    num_buckets = 8
    num_parts = 4
    parts_per_batch = 4

    def register(self, spark):
        img = os.path.join(self.data_dir, "img")
        self.images = spark.read.parquet(os.path.join(img, "images.parquet"))
        self.snapshots = spark.read.parquet(os.path.join(img, "snapshots.parquet"))
        self.input_rows = _rows(os.path.join(img, "images.parquet"))
        self.passes = 0
        self.last_write: dict[str, float] = {}
        # the first pass's output stays on disk until the verifying pass
        # has read it back
        self.kept: str | None = None
        self.written = None

    def plan(self, hot_threshold: int | None) -> DataFrame:
        from spark_pit.pipeline import image_pit_features

        return image_pit_features(
            self.images, self.snapshots, num_buckets=self.num_buckets, hot_threshold=hot_threshold,
        )

    def run_pass(self, spark, tracer=None):
        """Plan and write into an empty directory; returns [rows, checksum]
        as the manifest certifies them."""
        from spark_pit.manifest import read_manifest, write_checkpointed

        self.passes += 1
        out_dir = os.path.join(self.work_dir, "out", f"{self.name}-{os.getpid()}-{self.passes}")
        shutil.rmtree(out_dir, ignore_errors=True)
        try:
            with _span(tracer, "pipeline.plan"):
                out = self.plan(self.scale.hot_threshold)
            with _span(tracer, "manifest.write"):
                res = write_checkpointed(
                    out, out_dir, entity="image_id", num_parts=self.num_parts,
                    parts_per_batch=self.parts_per_batch,
                )
            if res["resumed_from"] != 0 or not res["complete"]:
                raise RuntimeError(f"write did not start empty and complete: {res}")
            lines = read_manifest(out_dir)
            data = glob.glob(os.path.join(out_dir, "data", "**", "*.parquet"), recursive=True)
            self.last_write = {
                "manifest.batches": float(len(glob.glob(os.path.join(out_dir, "_manifest", "*.jsonl")))),
                "manifest.files": float(sum(ln["n_files"] for ln in lines)),
                "manifest.bytes_written_mb": sum(os.path.getsize(f) for f in data) / 1e6,
                "manifest.batch_wall_s_max": max(ln["wall_s"] for ln in lines),
            }
            return [sum(ln["rows"] for ln in lines), str(sum(int(ln["checksum"]) for ln in lines))]
        finally:
            if self.kept is None:
                self.kept = out_dir
            else:
                shutil.rmtree(out_dir, ignore_errors=True)

    def canonical(self, df: DataFrame) -> DataFrame:
        """``df`` with each replica's id tag replaced by its replica number,
        as every seed writes it."""
        tags = image_tags(self.seed, self.scale.img_repl)
        to_r = F.create_map(*[F.lit(x) for r, t in enumerate(tags) for x in (t, str(r))])
        parts = F.split(F.col("image_id"), "#", 2)
        return df.withColumn("image_id", F.concat(to_r[parts[0]], F.lit("#"), parts[1]))

    def verify(self, spark):
        """Read back what the first pass wrote, then remove it."""
        from spark_pit.manifest import PART_COL

        try:
            back = spark.read.parquet(os.path.join(self.kept, "data"))
            back = back.select(*[c for c in back.columns if c != PART_COL])
            got = checksums([hashed(back, "written"), hashed(rounded(self.canonical(back)), "image_pit")])
        finally:
            shutil.rmtree(self.kept, ignore_errors=True)
        self.written = got.pop("written")
        return got

    def check_passes(self, results):
        # the manifest certifies the bytes the first pass wrote, and every
        # later pass wrote the same
        return [
            ("manifest_readback", bool(results) and self.written == results[0]),
            ("manifest_passes", bool(results) and all(r == results[0] for r in results)),
        ]

    def datagen(self, spark):
        from spark_pit.datagen import images_table, snapshots_table

        t0 = time.perf_counter()
        made = {
            "images": images_table(spark, **IMAGE_SOURCE),
            "snapshots": snapshots_table(spark, n_entities=IMAGE_SOURCE["n_entities"],
                                         seed=IMAGE_SOURCE["seed"]),
        }
        got = checksums([hashed(df, k) for k, df in made.items()])
        seconds = time.perf_counter() - t0
        src = {k: spark.read.parquet(os.path.join(DATA, "images", f"{k}.parquet")) for k in made}
        want = checksums([hashed(df.select(*made[k].columns), k) for k, df in src.items()])
        return seconds, [("datagen_source", got == want)]

    def layer_metrics(self, spark, tracer, root):
        spans = _named(tracer, root)
        plan, write = spans["pipeline.plan"], spans["manifest.write"]
        out = {
            "pipeline.plan_s": plan.seconds,
            "pipeline.plan_jobs": float(len(plan.jobs)),
            "manifest.write_s": write.seconds,
        }
        out.update(self.last_write)
        out.update(operator_layers(spark, write.executions))
        return out


class RegisteredQueries(Workload):
    """Seven ``spark_pit.queries.QUERIES`` entries that never call a PIT
    kernel, each run into the noop sink: text/embedding near-dup marking
    and clustering (a hot bucket, eager jobs at plan time, the embedding
    kernel) and four sub-second queries on ``operators.asof``, ``windows``,
    ``pairs`` and ``autocorr`` whose time is mostly per-query fixed cost."""

    name = "dedup_and_short_queries"
    queries = list(DEDUP_QUERIES) + SHORT_QUERIES

    def register(self, spark):
        from perfbench.inputs import QUERY_TABLES

        paths = [os.path.join(self.sf_dir, f"{t}.parquet") for t in QUERY_TABLES]
        for path in paths:
            spark.read.parquet(path)
        self.input_rows = sum(_rows(p) for p in paths)

    @staticmethod
    def _layer(q: str) -> str:
        return DEDUP_QUERIES.get(q, f"queries.{q}")

    def run_pass(self, spark, tracer=None):
        from spark_pit.queries import QUERIES

        for q in self.queries:
            with _span(tracer, f"{self._layer(q)}.plan"):
                df = QUERIES[q](spark, self.sf_dir)
            with _span(tracer, f"{self._layer(q)}.exec"):
                _noop(df)

    def verify(self, spark):
        from spark_pit.queries import QUERIES

        return checksums([hashed(rounded(QUERIES[q](spark, self.sf_dir)), q) for q in self.queries])

    def layer_metrics(self, spark, tracer, root):
        spans = _named(tracer, root)
        out = {}
        for q in self.queries:
            layer = self._layer(q)
            plan, ex = spans[f"{layer}.plan"], spans[f"{layer}.exec"]
            out[f"{layer}.plan_s"] = plan.seconds
            out[f"{layer}.plan_jobs"] = float(len(plan.jobs))
            out[f"{layer}.exec_s"] = ex.seconds
        out["queries.plan_s"] = sum(spans[f"queries.{q}.plan"].seconds for q in SHORT_QUERIES)
        # from the stages, not the plan: with no near-dups in the input,
        # adaptive execution drops the kernel's side from the final plan
        # once its stage has run, and its operator metrics with it
        work = trace.stage_stats(spark, spans["similarity.neardup.exec"].jobs)
        out["similarity.run_s"] = work["stage.run_s"]
        out["similarity.shuffle_write_mb"] = work["stage.shuffle_write_mb"]
        return out


class PitAndImageWrite(Workload):
    """Both PIT kernel twins in each pass: ``PitEvents``, then
    ``ImagePitWrite``. One workload, not two, so that a full measurement
    (22 runs per workload) fits its time budget: every run pays a JVM
    launch, a cold pass and a verifying pass."""

    name = "pit_and_image_write"

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [PitEvents(*args), ImagePitWrite(*args)]

    def register(self, spark):
        for p in self.parts:
            p.register(spark)
        self.input_rows = sum(p.input_rows for p in self.parts)

    def run_pass(self, spark, tracer=None):
        return [p.run_pass(spark, tracer) for p in self.parts]

    def verify(self, spark):
        return {k: v for p in self.parts for k, v in p.verify(spark).items()}

    def check_passes(self, results):
        return [c for i, p in enumerate(self.parts) for c in p.check_passes([r[i] for r in results])]

    def datagen(self, spark):
        return self.parts[1].datagen(spark)

    def layer_metrics(self, spark, tracer, root):
        out: dict[str, float] = {}
        for p in self.parts:
            for k, v in p.layer_metrics(spark, tracer, root).items():
                _add(out, k, v)
        return out


WORKLOADS = {w.name: w for w in (PitAndImageWrite, RegisteredQueries)}
