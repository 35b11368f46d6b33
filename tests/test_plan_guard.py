"""Physical-plan drift guard (round 6, verdict ask #1): the PLANS.md audit
as a failing test instead of a per-round hand re-audit.

Pins, for a representative query subset (the single-shuffle window
families, the flagship pair, dedup_clusters, the as-of contract, the
round-6 additions), the exact counter vector tools/explain_audit.py
extracts from `explain("formatted")`: Exchange mentions (formatted plans
list each exchange twice — tree + detail — so the numbers below are
2× the physical shuffle count), broadcast/sort-merge/nested-loop joins,
pushed-filter scans, Python-row vs Arrow UDFs, and the per-scan column
NAMES (a new exchange, a lost pushdown, a widened scan, or `bytes`
leaking into a scan plan all fail here the way registry drift fails
test_registry.py).

Expectations were generated on the conftest session config (local[4],
shuffle_partitions=8, sf0.001) — the same fixture this test runs under.
On an INTENTIONAL plan change, regenerate the entry via
`python tools/explain_audit.py /root/testdata/sf0.001 <query>` and update
the table with the why in the commit message.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

from explain_audit import audit, scan_schemas  # noqa: E402

EV = ["event_id", "event_type", "ts", "user_id"]
EVV = ["event_id", "event_type", "ts", "user_id", "value"]
TSV = ["event_id", "ts", "user_id", "value"]
DOC = ["doc_id", "source"]
EMB = ["embedding", "vec_id"]

# (exchanges, bcast, smj, nlj, pushed, pyrow, arrow, scan_fields)
EXPECTED: dict[str, tuple] = {
    # flagship pair: bytes/value pruned pre-shuffle. The salted path is
    # three bucketed pandas passes and ZERO broadcast (a broadcast of the
    # carry table would be an at-scale hazard in all-salted mode): chunk
    # summaries and the margin-row kernel share the salted bucket, the
    # carry scan cogroups summaries with snapshots by entity bucket and
    # emits the kernel's whole right side. Its NumPy summaries and carry
    # scan replaced JVM windows whose generated classes overflowed the
    # codegen cache: 3 Arrow nodes (was 1), 5 physical exchanges (was 6),
    # 2 of them moving the events, and one snapshot scan (was 2)
    "pit_fused": (4, 0, 0, 0, 1, 0, 2, [EVV, EV]),
    "pit_salted": (10, 0, 0, 0, 1, 0, 6, [EVV, EVV, EV]),
    "image_pit_checksums": (8, 0, 0, 0, 0, 0, 4, []),  # fixture-gen input
    # star-edge dedup: candidates+verify are join-free (carried token
    # arrays + window min(struct)) behind one entry localCheckpoint; the
    # components are one grouped NumPy kernel (the Arrow node) on an
    # exchange keyed by the graph id, the small component table is
    # broadcast into the doc join at this scale, and cluster_size is a
    # window count on the single canonical exchange — 2 physical shuffles
    "dedup_clusters": (4, 2, 0, 0, 0, 0, 2, [["doc_id"]]),
    # the image twin through the same cluster_duplicates stage: the
    # pigeonhole pair join (one sort-merge join), the components kernel on
    # its graph-id exchange, the doc join and the cluster_size window. A
    # groupBy + join-back for the size would list the kernel subtree twice
    # (16 exchange mentions, 6 smj, 4 arrow)
    "phash_clusters": (8, 0, 2, 0, 0, 0, 2, []),
    # single-shuffle per-entity window family — ONE sort exchange each
    "autocorr": (2, 0, 0, 0, 0, 0, 0, [TSV]),
    "lag_lead": (2, 0, 0, 0, 0, 0, 0, [TSV]),
    "sessionize": (2, 0, 0, 0, 0, 0, 0, [TSV]),
    "rolling_stats": (2, 0, 0, 0, 0, 0, 0, [TSV]),
    "window_composition": (2, 0, 0, 0, 0, 0, 0, [EV]),
    "lagk_pairs": (2, 0, 0, 0, 0, 0, 0, [EV]),
    "scd2_history": (2, 0, 0, 0, 0, 0, 0, [EV]),
    # as-of: ONE sort exchange carries ALL feature groups (K-groups
    # contract), filters pushed to the feature scans
    "asof_join": (2, 0, 0, 0, 1, 0, 0, [["event_id", "ts", "user_id"], EVV]),
    "asof_join_multi": (
        2, 0, 0, 0, 2, 0, 0, [["event_id", "ts", "user_id"], EVV, EV],
    ),
    # round-6 shapes: funnel = ONE pushed-filter scan + ONE exchange;
    # rollup = constant map-side explode then ONE shuffle; pr_auc's 2nd
    # exchange is over DISTINCT thresholds (reduced set), not rows
    "funnel_steps": (2, 0, 0, 0, 1, 0, 0, [["event_type", "ts", "user_id"]]),
    "time_rollup": (2, 0, 0, 0, 0, 0, 0, [["event_type", "ts", "value"]]),
    "auc_by_group": (2, 0, 0, 0, 0, 0, 0, [["event_id", "event_type"]]),
    "pr_auc_by_group": (4, 0, 0, 0, 0, 0, 0, [["event_id", "event_type"]]),
    "token_composition": (4, 0, 0, 0, 0, 0, 0, [["event_type", "user_id"]]),
    # LSH-bucketed near-dup (round-7 rework): ONE (band,sig) group shuffle
    # into the per-bucket NumPy kernel + the tiny dup-min join-back — the
    # former candidate-pair self-join (quadratic rows through a distinct
    # exchange) is gone; 2 Arrow stages (sig map + bucket kernel), nlj=0
    "embedding_neardup": (4, 2, 0, 0, 0, 0, 4, [["vec_id"], EMB]),
    # zero-shuffle scan-side projections
    "augment_plan": (0, 0, 0, 0, 0, 0, 0, [["doc_id"]]),
    "opf_multihot": (0, 0, 0, 0, 0, 0, 0, [["doc_id", "text"]]),
    # autosized ring-bucket negative sampling: ONE bucket equi-join
    "negative_sample": (2, 2, 0, 0, 2, 0, 0, [DOC, DOC]),
    # round-6 late additions (eval/drift/screening plane). The 4s are
    # 1 data shuffle + 1 reduced-set shuffle (distinct thresholds /
    # categories / fold keys); chi2's extras are the R/C windows + the
    # two-level countDistinct expand over the ≤r·c cell set
    "ks_statistic": (4, 0, 0, 0, 0, 0, 0, [["event_id", "event_type"]]),
    "ndcg_at_k": (2, 0, 0, 0, 0, 0, 0, [["event_id", "user_id"]]),
    "lift_deciles": (2, 0, 0, 0, 0, 0, 0, [["event_id", "event_type"]]),
    "tv_drift": (4, 0, 0, 0, 0, 0, 0, [["event_id", "event_type", "user_id"]]),
    "group_kfold": (4, 0, 0, 0, 0, 0, 0, [["event_id", "user_id"]]),
    "quantile_binning": (
        2, 0, 0, 0, 1, 0, 0, [["event_id", "event_type", "value"]],
    ),
    "spearman_corr": (
        2, 0, 0, 0, 1, 0, 0, [["event_id", "event_type", "value"]],
    ),
    "chi2_independence": (
        10, 0, 0, 0, 0, 0, 0, [["event_id", "event_type", "user_id"]],
    ),
    "retrieval_at_k": (2, 0, 0, 0, 0, 0, 0, [["event_id", "user_id"]]),
    "gini_diversity": (4, 0, 0, 0, 0, 0, 0, [["event_type", "user_id"]]),
    "oof_target_encode": (
        4, 0, 0, 0, 0, 0, 0, [["event_type", "user_id", "value"]],
    ),
    "data_profile": (
        4, 0, 0, 0, 0, 0, 0, [["event_type", "props", "user_id", "value"]],
    ),
    # rank window -> broadcast median join-back -> second rank window
    "mad_robust_scale": (
        2, 2, 0, 0, 2, 0, 0,
        [["event_type", "value"], ["event_type", "value"]],
    ),
    # first-bucket window + (cohort, age) distinct-count + tiny matrix window
    "cohort_retention": (6, 0, 0, 0, 0, 0, 0, [["ts", "user_id"]]),
    # per-entity agg localCheckpointed (ONE raw scan; empty scan_cols like
    # the iterative ops); the nlj are the one-row ref/cutpoint broadcast
    # cross joins — the documented tiny-literal class
    "rfm_segments": (8, 0, 0, 6, 0, 0, 0, []),
    # one conditional-sum aggregate; lift/z from the k-row result
    "ab_test": (2, 0, 0, 0, 0, 0, 0, [["event_id", "event_type", "user_id"]]),
    "confusion_matrix": (2, 0, 0, 0, 0, 0, 0, [["event_id", "event_type"]]),
}


def _audits(spark, sf_dir):
    from spark_pit.queries import QUERIES

    return {
        name: audit(name, QUERIES[name](spark, sf_dir)) for name in EXPECTED
    }


def test_pinned_plan_shapes(spark, sf_dir):
    got = _audits(spark, sf_dir)
    drift = {}
    for name, (exch, bcast, smj, nlj, push, pyrow, arrow, scans) in EXPECTED.items():
        a = got[name]
        have = (
            a["exchanges"], a["broadcast_joins"], a["sort_merge_joins"],
            a["nested_loop"], a["pushed_filters"], a["python_row_udf"],
            a["arrow_udf"], a["scan_fields"],
        )
        want = (exch, bcast, smj, nlj, push, pyrow, arrow, scans)
        if have != want:
            drift[name] = {"want": want, "have": have}
    assert not drift, f"physical-plan drift (see test header to re-pin): {drift}"


def test_no_row_udf_no_cartesian_no_bytes_scan(spark, sf_dir):
    """Invariants stronger than the pinned numbers: across the pinned
    set no row-at-a-time Python UDF, no cartesian/nested-loop join, and
    `bytes` never appears in a scan schema (the image flagship reads the
    64-bit hash, never the payload)."""
    # rfm_segments' nested loops are the one-row reference/cutpoint
    # broadcast cross joins (PLANS.md's documented tiny-literal class) —
    # pinned exactly in EXPECTED above, exempt from the blanket zero here
    nlj_exempt = {"rfm_segments"}
    for name, a in _audits(spark, sf_dir).items():
        assert a["python_row_udf"] == 0, name
        if name not in nlj_exempt:
            assert a["nested_loop"] == 0, name
        for fields in a["scan_fields"]:
            assert "bytes" not in fields, (name, fields)


def test_scan_schema_fields_past_complex_types():
    """A complex-typed field neither ends the schema nor splits in two, so
    a column read after an array (a `bytes` leak, say) still shows up."""
    plan = (
        "ReadSchema: struct<vec_id:bigint,embedding:array<float>,label:int>\n"
        "ReadSchema: struct<m:map<string,string>,d:decimal(10,2),"
        "s:struct<x:int,y:array<int>>,bytes:binary>\n"
        "ReadSchema: struct<>\n"
    )
    assert scan_schemas(plan) == [
        ["vec_id", "embedding", "label"], ["m", "d", "s", "bytes"], [],
    ]
