"""Record the checksums the benchmark's verifying pass must reproduce.

Run from the root of a checkout whose ``spark_pit`` is the reference:

    python3 perfbench/make_expected.py

For every scale it writes the inputs of a few seeds, runs each workload's
verifying pass, and requires the checksums to agree across seeds (the seed
remap is undone before hashing). Before recording them it cross-checks the
outputs once against independent references:

- ``pit_events`` and every registered query: the DuckDB oracle SQL in
  ``spark_pit.queries.ORACLES`` over the same tables, compared row by row;
- ``image_pit_write``: the same pipeline with every id on the bucketed
  kernel (no salted path) must give the same checksum.

The result goes to ``perfbench/expected.json``; nothing is written if any
check fails. It is not part of a benchmark run.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

SEEDS = (1, 2, 3)


def same_rows(a, b) -> bool:
    """Order-insensitive equality of two pandas frames; floats to 1e-6."""
    import numpy as np

    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)
    a = a[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    b = b[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    for c in cols:
        va, vb = a[c].to_numpy(), b[c].to_numpy()
        if va.dtype.kind == "f" or vb.dtype.kind == "f":
            if not np.allclose(va.astype(float), vb.astype(float), rtol=1e-6, atol=1e-6, equal_nan=True):
                return False
        elif not all(x == y or (x != x and y != y) for x, y in zip(va.tolist(), vb.tolist())):
            return False
    return True


def cross_check(spark, scale, data_dir: str, seed: int) -> list[str]:
    """Names of the outputs that disagree with their reference."""
    import duckdb

    from perfbench import inputs, workloads
    from spark_pit.queries import ORACLES, QUERIES

    bad = []
    con = duckdb.connect()
    canonical = inputs.pit_events(scale, 0)  # noqa: F841 (read by DuckDB)
    con.execute("CREATE VIEW events AS SELECT * FROM canonical")
    wl = workloads.PitEvents(data_dir, scale, seed, "")
    wl.register(spark)
    mine = wl.project(wl._plan(), inputs.seed_mask(seed)).toPandas()
    if not same_rows(mine, con.execute(ORACLES["pit_fused"]).df()):
        bad.append("pit_fused")

    con = duckdb.connect()
    sf_dir = os.path.join(data_dir, "sf")
    for t in inputs.QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    for q in workloads.RegisteredQueries.queries:
        if not same_rows(QUERIES[q](spark, sf_dir).toPandas(), con.execute(ORACLES[q]).df()):
            bad.append(q)

    img = workloads.ImagePitWrite(data_dir, scale, seed, "")
    img.register(spark)
    plain = workloads.checksums([workloads.hashed(workloads.rounded(img.canonical(img.plan(None))), "x")])
    salted = workloads.checksums([workloads.hashed(workloads.rounded(img.canonical(img.plan(scale.hot_threshold))), "x")])
    if plain != salted:
        bad.append("image_pit (salted != bucketed)")
    return bad


def main() -> int:
    from perfbench import inputs, run, workloads

    work = os.path.join(ROOT, ".perfbench", "expected")
    run.pin_environment(work)
    cores = len(os.sched_getaffinity(0))
    spark = run.new_session(work, cores)
    out: dict[str, dict] = {}
    failed = False
    try:
        for name, scale in inputs.SCALES.items():
            per_seed = []
            for seed in SEEDS:
                data_dir = os.path.join(work, "data", f"{name}-seed{seed}")
                inputs.write_inputs(data_dir, scale, seed)
                got = {}
                for cls in workloads.WORKLOADS.values():
                    wl = cls(data_dir, scale, seed, work)
                    wl.register(spark)
                    wl.run_pass(spark)  # the image write is verified from a pass's output
                    got.update(wl.verify(spark))
                per_seed.append(got)
                print(f"{name} seed {seed}: {len(got)} checksums", flush=True)
            if any(g != per_seed[0] for g in per_seed):
                diff = sorted(k for k in per_seed[0] if any(g.get(k) != per_seed[0][k] for g in per_seed))
                print(f"{name}: checksums depend on the seed: {diff}", flush=True)
                failed = True
            bad = cross_check(spark, scale, os.path.join(work, "data", f"{name}-seed{SEEDS[0]}"), SEEDS[0])
            if bad:
                print(f"{name}: disagree with their reference: {bad}", flush=True)
                failed = True
            out[name] = per_seed[0]
    finally:
        run.shutdown(spark)
    if failed:
        return 1
    with open(workloads.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {workloads.EXPECTED}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
