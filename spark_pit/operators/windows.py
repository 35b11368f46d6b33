"""Windowed per-entity operators: lag/lead, gap sessionization, backfill,
trailing-window composition (EAAC analogue), rolling numeric stats, and the
CTDD distribution-position descriptor.

All are pure window-function plans (JVM-side, whole-stage codegen). They share
one window partitioning — ``partitionBy(entity).orderBy(ts, tiebreak)`` — so
Catalyst collapses consecutive operators into a single sort+exchange; that is
the scale property that matters at 100 TB (one shuffle for the whole family).

Reference parity: SURVEY.md §2.4 (sliding windows feature.py:456-485),
§2.10 sessionization note, CTDD feature.py:1978-2050. Reference windows run
*forward* from each position; ours trail (rowsBetween(-(w-1), 0)) for zero
temporal leakage per the re-targeting contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from spark_pit.util import ts_us


def entity_window(entity: str, ts: str, tiebreak: str | None = None) -> WindowSpec:
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    return Window.partitionBy(entity).orderBy(*order)


def with_lag_lead(
    df: DataFrame,
    entity: str,
    ts: str,
    cols: list[str],
    offsets: list[int] = (1,),
    tiebreak: str | None = None,
) -> DataFrame:
    """lag/lead channels (reference's lag-n shift, feature.py §2.5 inputs)."""
    w = entity_window(entity, ts, tiebreak)
    for c in cols:
        for n in offsets:
            df = df.withColumn(f"lag{n}_{c}", F.lag(c, n).over(w))
            df = df.withColumn(f"lead{n}_{c}", F.lead(c, n).over(w))
    return df


def with_session_id(
    df: DataFrame,
    entity: str,
    ts: str,
    gap_seconds: int = 1800,
    tiebreak: str | None = None,
    out: str = "session_id",
) -> DataFrame:
    """Gap sessionization: new session when ts - lag(ts) > gap. Running sum
    of the break indicator over the entity window; 0-based ids."""
    w = entity_window(entity, ts, tiebreak)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    brk = F.when(
        ts_us(ts) - F.lag(ts_us(ts)).over(w) > gap_seconds * 1_000_000, 1
    ).otherwise(0)
    return df.withColumn(out, F.sum(brk).over(cum))


def with_backfill(
    df: DataFrame,
    entity: str,
    ts: str,
    cols: list[str],
    tiebreak: str | None = None,
    suffix: str = "_bf",
) -> DataFrame:
    """last_value IGNORE NULLS over the trailing unbounded window."""
    w = entity_window(entity, ts, tiebreak).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for c in cols:
        df = df.withColumn(f"{c}{suffix}", F.last(c, ignorenulls=True).over(w))
    return df


def with_window_composition(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    vocab: list[str],
    width: int = 5,
    tiebreak: str | None = None,
    prefix: str = "wc_",
) -> DataFrame:
    """EAAC analogue (feature.py:456-485): per event, frequency of each vocab
    token among the trailing `width` events (short head windows normalize by
    their true size). One conditional-sum window expression per token —
    stays in codegen, no UDF."""
    w = entity_window(entity, ts, tiebreak).rowsBetween(-(width - 1), Window.currentRow)
    size = F.count(F.lit(1)).over(w)
    for tok in vocab:
        df = df.withColumn(
            f"{prefix}{tok}",
            F.sum(F.when(F.col(token_col) == tok, 1).otherwise(0)).over(w) / size,
        )
    return df


def decayed_features(
    df: DataFrame,
    entity: str,
    ts: str,
    value_col: str,
    halflife_s: int = 3600,
    max_lag: int = 20,
) -> DataFrame:
    """Time-decayed (exponentially weighted) trailing aggregates — the
    feature-store staple ("time-decayed count/sum of events per entity")
    the reference's fixed-width trailing windows (feature.py:456-485)
    cannot express: each event receives

        decayed_count = sum over earlier buckets  2^-(b_i - b_j) * n_j
        decayed_sum   = sum over earlier buckets  2^-(b_i - b_j) * V_j

    where b = unix_micros(ts) div (halflife_s * 1e6) is the half-life
    bucket and only strictly-earlier buckets within ``max_lag`` half-lives
    contribute (zero temporal leakage: same-bucket events are excluded, so
    the feature is knowable at bucket open).

    Scale shape: raw events are touched exactly twice — one partial-agg
    groupBy(entity, bucket) (map-side combine collapses to one row per
    entity-bucket) and one join back by (entity, bucket). The max_lag
    fan-out (explode of 1..max_lag) happens on the BUCKET AGGREGATES,
    never on raw events, so the blow-up is max_lag x #buckets, independent
    of event count. No window sort, no per-entity state: at 10^12 events
    this is two hash shuffles on (entity, bucket).

    Cross-engine exactness (why the oracle hash-matches bit-for-bit): all
    weights are powers of two (pow(0.5, d), d integer <= max_lag), so
    every term is an exact IEEE double that is a multiple of 2^-max_lag;
    floating addition of such terms is EXACT — hence order- and
    partitioning-independent — while the running sum stays below
    2^(52-max_lag) (4.5e9 at the default max_lag=20; quantize the value
    channel upstream to keep V_j small, as q_decayed_features does).
    """
    period_us = int(halflife_s) * 1_000_000
    bucket = F.expr(f"unix_micros(cast({ts} as timestamp_ltz)) div {period_us}")
    base = df.withColumn("__bucket", bucket)
    per_bucket = base.groupBy(entity, "__bucket").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(value_col).cast("double").alias("__v"),
    )
    w = F.pow(F.lit(0.5), F.col("__d"))
    contrib = per_bucket.select(
        entity,
        F.explode(F.sequence(F.lit(1), F.lit(int(max_lag)))).alias("__d"),
        F.col("__bucket"),
        F.col("__n"),
        F.col("__v"),
    ).select(
        entity,
        (F.col("__bucket") + F.col("__d")).alias("__bucket"),
        (F.col("__n") * w).alias("__wc"),
        (F.col("__v") * w).alias("__wv"),
    )
    feat = contrib.groupBy(entity, "__bucket").agg(
        F.sum("__wc").alias("decayed_count"),
        F.sum("__wv").alias("decayed_sum"),
    )
    return (
        base.join(feat, [entity, "__bucket"], "left")
        .withColumn("decayed_count", F.coalesce("decayed_count", F.lit(0.0)))
        .withColumn("decayed_sum", F.coalesce("decayed_sum", F.lit(0.0)))
        .drop("__bucket")
    )


def distribution_positions(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """CTDD analogue (feature.py:1978-2050): per (entity, token), the 1-based
    event position (as % of timeline length) at which the running count of
    that token first reaches ceil(q * total) for q in {first, .25, .5, .75, 1}.

    Plan: row_number over the entity window → running per-token count →
    per-(entity, token) conditional min-aggregation. Two shuffles (window +
    groupBy) sharing the entity key, so AQE reuses the exchange.
    """
    w = entity_window(entity, ts, tiebreak)
    wtok = Window.partitionBy(entity, token_col).orderBy(
        *([F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else []))
    )
    base = (
        df.withColumn("__pos", F.row_number().over(w))
        .withColumn("__L", F.count(F.lit(1)).over(Window.partitionBy(entity)))
        .withColumn("__cnt", F.row_number().over(wtok))
        .withColumn("__tot", F.count(F.lit(1)).over(Window.partitionBy(entity, token_col)))
    )
    qcols = []
    for name, q in (("p_first", None), ("p25", 0.25), ("p50", 0.50), ("p75", 0.75), ("p100", 1.0)):
        target = F.lit(1) if q is None else F.ceil(F.lit(q) * F.col("__tot"))
        qcols.append(
            F.min(F.when(F.col("__cnt") == target, F.col("__pos") * 100.0 / F.col("__L"))).alias(name)
        )
    return base.groupBy(entity, token_col).agg(*qcols)


def target_encode_pit(
    df: DataFrame,
    category_col: str,
    ts: str,
    target_col: str,
    tiebreak: str | None = None,
    prior: float | None = None,
    prior_weight: int = 10,
) -> DataFrame:
    """Leakage-free EXPANDING target encoding — the feature-store form of
    the classic categorical encoder: each row's encoding is the mean of
    the target over STRICTLY-EARLIER rows of the same category (row-based
    expanding window, so even exact-timestamp ties never see themselves
    or later rows — zero target leakage by construction, the property the
    naive groupBy-mean encoder violates). With ``prior`` set, the m-
    estimate smoothing (count*mean + prior_weight*prior) / (count +
    prior_weight) shrinks sparse categories toward the global prior.

    Exactness: the running sum is DECIMAL(38,6) (order-independent exact
    aggregation, the autocorr discipline); the single float op is the
    final correctly-rounded IEEE divide, identical in any engine, then
    round(6). One sort exchange on (category, ts, tiebreak).

    Returns df + te_count (earlier same-category rows) + te_sum (exact
    decimal running sum) + te_mean (null when te_count=0 and no prior).
    For a hash-exact cross-engine surface prefer
    floor(cast(te_sum as double) * 1e6 / te_count + 0.5) over
    round(te_mean, 6): round() on a double sits on engine-specific
    half-way handling (a 49.1603125 quotient measurably split Spark and
    DuckDB at sf0.1), while the explicit floor chain is the same
    correctly-rounded IEEE op sequence everywhere — the pagerank
    nano-unit discipline."""
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = (
        Window.partitionBy(category_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    csum = F.sum(F.col(target_col).cast("decimal(38,6)")).over(w)
    cnt = F.count(F.col(target_col)).over(w)
    out = df.withColumn("te_count", F.coalesce(cnt, F.lit(0)).cast("long"))
    out = out.withColumn("te_sum", csum)
    if prior is None:
        enc = F.when(
            F.col("te_count") > 0,
            F.round(csum.cast("double") / F.col("te_count"), 6),
        )
    else:
        enc = F.round(
            (csum.cast("double") + F.lit(float(prior)) * prior_weight)
            / (F.col("te_count") + F.lit(int(prior_weight))),
            6,
        )
        enc = F.when(F.col("te_count") > 0, enc).otherwise(
            F.round(F.lit(float(prior)), 6)
        )
    return out.withColumn("te_mean", enc)


def funnel_steps(
    df: DataFrame,
    entity: str,
    ts: str,
    step_col: str,
    steps: list[str],
    within_s: int | None = None,
) -> DataFrame:
    """Ordered funnel completion per entity (the event-sequence analysis a
    training-data pipeline runs over behavioral logs): step k's timestamp
    is the EARLIEST occurrence of ``steps[k]`` STRICTLY AFTER step k-1's
    timestamp (first-touch attribution; strict > so a same-instant later
    step never counts backwards). Emits per entity: ``step{k}_ts_us`` for
    each step (null once the chain breaks), ``funnel_depth`` (number of
    completed steps), and ``completed`` — all steps reached, and, with
    ``within_s``, the whole chain inside the window from step 0.

    Plan: ONE scan of the input (filtered once to ``step_col isin
    steps`` — pushed to the source) and ONE hash exchange on the entity.
    Step k's timestamp is a conditional min over the whole entity
    partition (unbounded window, no orderBy) referencing step k-1's
    already-computed column — K chained Window operators that all reuse
    the same partitioning, then a groupBy(entity) that reuses it again.
    Versus the K-filtered-scan join chain this reads the raw table once
    instead of K times, buffers are spillable (no per-group arrays), and
    per-step timestamps stay exactly min{us : step=k, us > step_{k-1}}.
    K (funnel length) is small by construction. Integer-microsecond
    timestamps end to end — exact in any engine."""
    us = ts_us(F.col(ts))
    base = df.where(F.col(step_col).isin(list(steps))).select(
        F.col(entity), us.alias("__us"), F.col(step_col).alias("__step")
    )
    w = Window.partitionBy(entity)
    cur = base.withColumn(
        "step0_ts_us",
        F.min(F.when(F.col("__step") == steps[0], F.col("__us"))).over(w),
    )
    for k in range(1, len(steps)):
        cond = (F.col("__step") == steps[k]) & (
            F.col("__us") > F.col(f"step{k-1}_ts_us")
        )
        cur = cur.withColumn(
            f"step{k}_ts_us", F.min(F.when(cond, F.col("__us"))).over(w)
        )
    # one value per entity; groupBy reuses the window's hash partitioning
    cur = cur.where(F.col("step0_ts_us").isNotNull()).groupBy(entity).agg(
        *[
            F.min(f"step{k}_ts_us").alias(f"step{k}_ts_us")
            for k in range(len(steps))
        ]
    )
    depth = sum(
        F.when(F.col(f"step{k}_ts_us").isNotNull(), 1).otherwise(0)
        for k in range(len(steps))
    )
    last = f"step{len(steps) - 1}_ts_us"
    done = F.col(last).isNotNull()
    if within_s is not None:
        done = done & (
            (F.col(last) - F.col("step0_ts_us")) <= F.lit(int(within_s) * 1_000_000)
        )
    return cur.withColumn("funnel_depth", depth.cast("int")).withColumn(
        "completed", done
    )


def scd2_intervals(
    df: DataFrame,
    entity: str,
    ts: str,
    attr_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change-event log:
    collapse consecutive rows whose ``attr_cols`` are all unchanged
    (null-safe compare) and emit one validity interval per run —
    ``valid_from_us`` (the run's first event), ``valid_to_us`` (the next
    run's start; null while current) and ``is_current``. This is the
    dimension-history table the as-of/PIT joins consume: version rows
    with half-open [from, to) intervals, exactly the shape
    ``asof_join`` expects on its right side.

    Plan: ONE window over the entity partition (lag compare → change
    flag → keep firsts → lead for the close timestamp). No joins, no
    self-union; integer-microsecond arithmetic."""
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = Window.partitionBy(entity).orderBy(*order)
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.lag(F.col(ts)).over(w).isNull() | changed
    runs = df.withColumn("__new_run", first).where(F.col("__new_run"))
    w2 = Window.partitionBy(entity).orderBy(*order)
    return (
        runs.withColumn("valid_from_us", ts_us(F.col(ts)))
        .withColumn("valid_to_us", F.lead(ts_us(F.col(ts))).over(w2))
        .withColumn("is_current", F.col("valid_to_us").isNull())
        .drop("__new_run")
    )


def time_rollup(
    df: DataFrame,
    entity_dims: list[str],
    ts: str,
    value_col: str,
    granularities_s: list[int] = (3600, 86400),
) -> DataFrame:
    """Hypertable-style multi-granularity continuous-aggregate rollup:
    per (dimension values, granularity, bucket start) emit count /
    int64 micro-unit sum / min / max of the value — the pre-aggregated
    table a dashboard or a feature-backfill job reads instead of raw
    events. GROUPING SETS over the stacked granularity column would
    shuffle once per set; stacking the bucket column FIRST (one narrow
    explode over the static granularity list) and aggregating once keeps
    it to a SINGLE shuffle whose width is |granularities| × |dims| keys
    — the shape that still holds at 100 TB because the fan-out is a
    constant small factor applied map-side before the exchange.

    Exactness: sums are int64 micro-units (floor(v·1e6 + 0.5) per row),
    partial-aggregation-order independent and bit-identical across
    engines; bucket starts are integer-µs floors."""
    gl = sorted(set(int(g) for g in granularities_s))
    us = ts_us(F.col(ts))
    v_us = F.floor(F.col(value_col) * 1_000_000 + F.lit(0.5)).cast("long")
    stacked = df.select(
        *entity_dims,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(g).alias("granularity_s"),
                    (us - us % F.lit(g * 1_000_000)).alias("bucket_start_us"),
                )
                for g in gl
            ])
        ).alias("__b"),
        v_us.alias("__v"),
    ).select(*entity_dims, "__b.granularity_s", "__b.bucket_start_us", "__v")
    return stacked.groupBy(*entity_dims, "granularity_s", "bucket_start_us").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__v").alias("sum_micro"),
        F.min("__v").alias("min_micro"),
        F.max("__v").alias("max_micro"),
    )


def cohort_retention(
    df: DataFrame,
    entity: str,
    ts: str,
    bucket_s: int = 604_800,
) -> DataFrame:
    """Cohort retention matrix — the user-lifecycle analytics shape:
    entities are grouped into signup cohorts by the time bucket of
    their FIRST event, and each (cohort, age) cell counts the distinct
    entities still active ``age`` buckets later, plus the retention
    rate vs the cohort's age-0 size (age 0 is every entity's first
    bucket by construction, so cohort_size ≥ 1 — never null).

    All arithmetic is integer (microsecond buckets, count ratios with
    one rounded integral div into micro-units).

    Plan: ONE entity exchange computes first-bucket via a min window;
    the (cohort, age) distinct-count agg reuses nothing heavier, and
    the cohort-size attach is a window over the tiny retention matrix.

    Returns (cohort_bucket, age, n_active, n_events, retained_micro)."""
    bucket_us = int(bucket_s) * 1_000_000
    us = ts_us(F.col(ts))
    w_e = Window.partitionBy(entity)
    base = df.select(F.col(entity), us.alias("__us")).withColumn(
        "__b", (F.col("__us") - F.col("__us") % bucket_us) / bucket_us
    ).withColumn("__b", F.col("__b").cast("long"))
    with_cohort = base.withColumn("__c", F.min("__b").over(w_e))
    cells = with_cohort.groupBy(
        F.col("__c").alias("cohort_bucket"),
        (F.col("__b") - F.col("__c")).cast("long").alias("age"),
    ).agg(
        F.countDistinct(entity).cast("long").alias("n_active"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w_c = Window.partitionBy("cohort_bucket")
    sized = cells.withColumn(
        "__size", F.max(F.when(F.col("age") == 0, F.col("n_active"))).over(w_c)
    )
    return sized.select(
        "cohort_bucket", "age", "n_active", "n_events",
        F.expr(
            "CAST((2 * CAST(n_active AS DECIMAL(38,0)) * 1000000 + __size)"
            " div (2 * CAST(__size AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("retained_micro"),
    )


def rfm_segments(
    df: DataFrame,
    entity: str,
    ts: str,
    value: str,
) -> DataFrame:
    """RFM segmentation with QUARTILE codes — the campaign-targeting
    segmentation: per entity, recency (µs since last activity, vs the
    corpus max timestamp), frequency (event count) and monetary (µ-unit
    value sum) each coded 1–4 by the corpus quartiles, then segments
    counted.

    Codes use exact interpolated quartile CUTPOINTS over int64
    micro/µs-unit metrics (Spark's sort-based exact percentile with
    map-side partials — quarters keep the interpolation g dyadic, the
    robust_quantiles determinism argument, so cutpoints are
    bit-identical across engines); code = 1 + Σ 1[metric > cut_i], a
    strict-boundary rule both engines apply to the same integers.
    Recency codes are REVERSED (lower recency = better = 4) per RFM
    convention.

    Scale note: this is the global-quantile formulation WITHOUT a
    global NTILE window — no single-partition sort anywhere; the
    cutpoint table is one broadcast row.

    Returns (r_code, f_code, m_code, n_entities)."""
    us = ts_us(F.col(ts))
    per = df.groupBy(entity).agg(
        F.max(us).alias("__last"),
        F.count(F.lit(1)).cast("long").alias("__f"),
        F.sum(F.floor(F.col(value) * 1_000_000 + F.lit(0.5)).cast("long"))
        .cast("long").alias("__m"),
    )
    # the per-entity table feeds THREE consumers (reference timestamp,
    # cutpoints, coding); localCheckpoint materializes it once so the
    # raw event scan runs ONCE, not once per branch (the chunk_overlap
    # eager-construction precedent) — |entities| rows, not |events|
    per = per.localCheckpoint()
    ref = per.agg(F.max("__last").alias("__ref"))
    per = per.crossJoin(F.broadcast(ref)).withColumn(
        "__r", (F.col("__ref") - F.col("__last")).cast("long")
    )
    q = [F.lit(0.25), F.lit(0.5), F.lit(0.75)]
    cuts = per.agg(
        F.percentile(F.col("__r"), F.array(*q)).alias("__cr"),
        F.percentile(F.col("__f"), F.array(*q)).alias("__cf"),
        F.percentile(F.col("__m"), F.array(*q)).alias("__cm"),
    )
    coded = per.crossJoin(F.broadcast(cuts))

    def code(metric: str, cut: str):
        c = F.lit(1)
        for i in range(3):
            c = c + F.when(F.col(metric) > F.col(cut)[i], 1).otherwise(0)
        return c.cast("int")

    return (
        coded.select(
            (F.lit(5) - code("__r", "__cr")).cast("int").alias("r_code"),
            code("__f", "__cf").alias("f_code"),
            code("__m", "__cm").alias("m_code"),
        )
        .groupBy("r_code", "f_code", "m_code")
        .agg(F.count(F.lit(1)).cast("long").alias("n_entities"))
    )
