"""Benchmark harness (driver contract): run headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with the noop sink (full computation, no
driver collect). Event-table rows/sec is also reported inside "queries" as
"flagship_rows_per_sec" for the north-rule metric.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from bench_extra import build_bench_set, input_rows
    from spark_pit.session import get_spark

    # SPARK_GRAFT_MASTER overrides the master URL while SPARK_GRAFT_CPUS
    # keeps sizing shuffle partitions / kernel buckets. The override exists
    # for the scaling harness's small-executor leg: `local-cluster[4,2,M]`
    # runs the SAME total cores as local[8] but as 4 separate executor
    # JVMs, each with its own GC, block manager, and Arrow IPC plane to its
    # own 2 Python workers — the production deployment shape.
    master = os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    spark = get_spark(
        app_name="spark_pit_bench",
        master=master,
        shuffle_partitions=max(int(cpus) * 2, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")

    # input amplification and bucket knobs: see bench_extra._settings
    bench_set = build_bench_set(spark, int(cpus))
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        keep = {q.strip() for q in only.split(",") if q.strip()}
        bench_set = {k: v for k, v in bench_set.items() if k in keep}

    # best-of-N timing: the sandbox host shows heavy run-to-run variance
    # (co-tenant noise, GC); min over repeats isolates plan cost.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
    timings: dict[str, float] = {}
    # hypervisor steal-time accounting across the whole timed section:
    # steal is invisible in load average but inflates every wall clock
    # (round-4 diagnosis, BENCH.md) — recording it makes each bench line
    # carry its own noise context
    def _jiffies0():
        try:
            with open("/proc/stat") as fh:
                f = fh.readline().split()
            vals = list(map(int, f[1:]))
            return sum(vals), vals[7] if len(vals) > 7 else 0
        except Exception:
            return None, None

    _tot0, _st0 = _jiffies0()
    for name, fn in bench_set.items():
        df = fn(spark, sf_dir)
        _force(df)  # warm: JIT, file listing, broadcast (excluded from timing)
        best = float("inf")
        for _ in range(repeats):
            t0 = time.perf_counter()
            _force(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    _tot1, _st1 = _jiffies0()
    steal_pct = (
        round(100.0 * (_st1 - _st0) / max(_tot1 - _tot0, 1), 2)
        if _tot0 is not None and _tot1 is not None else None
    )
    n_events, n_img = input_rows(spark, sf_dir, "image_flagship" in timings)
    if "flagship" in timings:
        timings["flagship_rows_per_sec"] = round(
            n_events / max(timings["flagship"], 1e-9), 1
        )
    if "image_flagship" in timings:
        timings["image_rows_per_sec"] = round(
            n_img / max(timings["image_flagship"], 1e-9), 1
        )
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_dir,
                "cpus": int(cpus),
                "event_rows": n_events,
                "steal_pct": steal_pct,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
