"""Composition and k-spaced-pair descriptor families (SURVEY.md §2.2, §2.3)
re-expressed on (entity, ts, token) event streams.

Outputs are LONG format — one row per (entity, token[, token_b, gap]) — not
the reference's 400/8000-wide matrices: long format shuffles less, pivots on
demand, and is directly oracle-able in SQL. Reference parity cited per op.

Plans here are pure DataFrame (lead + groupBy-count): partial aggregation
before the shuffle, codegen throughout, no UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_pit.operators.windows import entity_window


def token_composition(
    df: DataFrame, entity: str, token_col: str, out: str = "freq"
) -> DataFrame:
    """AAC analogue (feature.py:432-454): per-entity frequency of each token
    = count(token) / entity length."""
    total = Window.partitionBy(entity)
    return (
        df.groupBy(entity, token_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(out, F.col("__n") / F.sum("__n").over(total))
        .drop("__n")
    )


def lagk_pair_freq(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    gaps: list[int] = (0,),
    tiebreak: str | None = None,
    normalized: bool = True,
) -> DataFrame:
    """CKSAAP/DPC/TPC-adjacent family (feature.py:487-526 / 528-555): counts
    of ordered token pairs (a, b) with b exactly gap+1 events after a,
    normalized by the pair count L-(gap+1) (reference type-1 semantics,
    feature.py:515-517). gap=0 is the DPC adjacent-bigram case.

    Output: (entity, gap, tok_a, tok_b, pair_freq). Union over gaps — each
    branch shares the same entity-window sort, so the exchange is reused.
    """
    w = entity_window(entity, ts, tiebreak)
    total = Window.partitionBy(entity, "gap")
    # all gaps from ONE window pass (one sort exchange), stack-unpivot into
    # long (gap, tok_a, tok_b) rows — the per-gap-union form pays one
    # sort+shuffle per gap
    wide = df.select(
        F.col(entity),
        F.col(token_col).alias("tok_a"),
        *[F.lead(token_col, g + 1).over(w).alias(f"__b{g}") for g in gaps],
    )
    stack_expr = "stack({n}, {args}) as (gap, tok_b)".format(
        n=len(gaps), args=", ".join(f"{g}, __b{g}" for g in gaps)
    )
    pairs = wide.select(entity, "tok_a", F.expr(stack_expr)).where(
        F.col("tok_b").isNotNull()
    )
    out = pairs.groupBy(entity, "gap", "tok_a", "tok_b").agg(
        F.count(F.lit(1)).alias("pair_n")
    )
    if normalized:
        out = out.withColumn("pair_freq", F.col("pair_n") / F.sum("pair_n").over(total))
    return out


def trigram_freq(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """TPC analogue (feature.py:598-624): adjacent-trigram frequencies per
    entity. Long output (entity, tok_a, tok_b, tok_c, tri_freq)."""
    w = entity_window(entity, ts, tiebreak)
    total = Window.partitionBy(entity)
    tri = (
        df.select(
            F.col(entity),
            F.col(token_col).alias("tok_a"),
            F.lead(token_col, 1).over(w).alias("tok_b"),
            F.lead(token_col, 2).over(w).alias("tok_c"),
        )
        .where(F.col("tok_b").isNotNull() & F.col("tok_c").isNotNull())
        .groupBy(entity, "tok_a", "tok_b", "tok_c")
        .agg(F.count(F.lit(1)).alias("tri_n"))
    )
    return tri.withColumn("tri_freq", F.col("tri_n") / F.sum("tri_n").over(total))


def transition_freq(
    df: DataFrame,
    entity: str,
    ts: str,
    group_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """CTDT analogue (feature.py:1871-1955): frequency of *unordered*
    transitions between distinct group values among adjacent events,
    normalized by (L-1). least/greatest collapses (g1,g2)/(g2,g1)."""
    w = entity_window(entity, ts, tiebreak)
    lagged = df.select(
        F.col(entity),
        F.col(group_col).alias("g1"),
        F.lead(group_col, 1).over(w).alias("g2"),
    ).where(F.col("g2").isNotNull())
    total = Window.partitionBy(entity)
    return (
        lagged.withColumn("grp_lo", F.least("g1", "g2"))
        .withColumn("grp_hi", F.greatest("g1", "g2"))
        .withColumn("__adj", F.count(F.lit(1)).over(total))
        .where(F.col("g1") != F.col("g2"))
        .groupBy(entity, "grp_lo", "grp_hi")
        .agg((F.count(F.lit(1)) / F.first("__adj")).alias("trans_freq"))
    )


def dde(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """DDE analogue (feature.py:557-596): adjacent-bigram frequency recentred
    by its expectation under token independence and scaled by the binomial
    std-dev:  (DPC_ab - TM_ab) / sqrt(TM_ab (1 - TM_ab) / N_pairs),
    TM_ab = f(a) * f(b) from the entity's own marginal frequencies (our
    analogue of the reference's fixed codon-frequency table)."""
    pairs = lagk_pair_freq(df, entity, ts, token_col, gaps=[0], tiebreak=tiebreak)
    comp = token_composition(df, entity, token_col, out="freq")
    n_pairs = Window.partitionBy(entity)
    pairs = pairs.withColumn("n_pairs", F.sum("pair_n").over(n_pairs))
    fa = comp.select(F.col(entity), F.col(token_col).alias("tok_a"), F.col("freq").alias("fa"))
    fb = comp.select(F.col(entity), F.col(token_col).alias("tok_b"), F.col("freq").alias("fb"))
    return (
        pairs.join(fa, [entity, "tok_a"])
        .join(fb, [entity, "tok_b"])
        .withColumn("tm", F.col("fa") * F.col("fb"))
        .withColumn(
            "dde",
            (F.col("pair_freq") - F.col("tm"))
            / F.sqrt(F.col("tm") * (1 - F.col("tm")) / F.col("n_pairs")),
        )
        .select(entity, "tok_a", "tok_b", "dde")
    )


def all_pair_counts_kernel(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    vocab: list[str],
) -> DataFrame:
    """ASDC analogue (feature.py:2539-2570): counts of ALL ordered pairs
    (j < k, any distance), normalized by total pair count L*(L-1)/2.

    The naive plan is an O(L^2) self-join per entity; at scale that shuffle
    explodes, so this uses the suffix-count identity
        count(a,b) = sum_j [x_j = a] * |{k > j : x_k = b}|
    as a vectorized reverse-cumsum kernel. Entities are hash-bucketed
    (`pmod(xxhash64(entity), B)`) and each task processes a whole bucket
    segment-vectorized — per-row contributions `outer(onehot_j, suffix_j)`
    accumulate into per-segment (V x V) count blocks via `np.add.at`, in
    bounded row slices so memory stays O(slice x V^2) regardless of bucket
    size (SURVEY.md §2.2 ASDC row). Output long:
    (entity, tok_a, tok_b, asdc_freq).
    """
    code = {t: i for i, t in enumerate(vocab)}
    V = len(vocab)
    num_buckets = 64
    slice_rows = 16384

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([entity, ts], kind="stable").reset_index(drop=True)
        n = len(pdf)
        if n == 0:
            return pd.DataFrame(columns=[entity, "tok_a", "tok_b", "asdc_freq"])
        codes = pdf[token_col].map(code).fillna(-1).to_numpy(dtype=np.int64)
        ids = pdf[entity].to_numpy()
        new_seg = np.empty(n, dtype=bool)
        new_seg[0] = True
        new_seg[1:] = ids[1:] != ids[:-1]
        seg = np.cumsum(new_seg) - 1  # 0-based segment index per row
        n_seg = int(seg[-1]) + 1
        seg_starts = np.flatnonzero(new_seg)

        onehot = np.zeros((n, V), dtype=np.int64)
        valid = codes >= 0
        onehot[np.arange(n)[valid], codes[valid]] = 1
        # rc[j] = column sums over k >= j (whole bucket)
        rc = onehot[::-1].cumsum(axis=0)[::-1]
        # subtract the part belonging to later segments + self
        ends = np.append(seg_starts[1:], n)  # exclusive end per segment
        rc_pad = np.vstack([rc, np.zeros((1, V), dtype=np.int64)])
        after_seg = rc_pad[ends][seg]  # per row: rc at its segment's end
        suffix = rc - onehot - after_seg

        acc = np.zeros((n_seg, V, V), dtype=np.int64)
        for s in range(0, n, slice_rows):
            e = min(s + slice_rows, n)
            contrib = onehot[s:e, :, None] * suffix[s:e, None, :]
            np.add.at(acc, seg[s:e], contrib)
        totals = acc.sum(axis=(1, 2)).astype(np.float64)
        si, a, b = np.nonzero(acc)
        vals = acc[si, a, b] / totals[si]
        va = np.asarray(vocab)
        return pd.DataFrame(
            {
                entity: ids[seg_starts][si],
                "tok_a": va[a],
                "tok_b": va[b],
                "asdc_freq": vals,
            }
        )

    ent_type = df.schema[entity].dataType.simpleString()
    out_schema = f"{entity} {ent_type}, tok_a string, tok_b string, asdc_freq double"
    bkt = F.pmod(F.xxhash64(F.col(entity)), F.lit(num_buckets)).cast("int")
    return (
        df.select(entity, ts, token_col)
        .withColumn("__b", bkt)
        .groupBy("__b")
        .applyInPandas(kern, out_schema)
    )


GROUP_MAP_DEFAULT = {
    # GAAC-style reduced alphabet over the event vocabulary (the reference's
    # 5 physchem groups at feature.py:1047-1053 become behavioral groups)
    "click": "engage",
    "view": "engage",
    "purchase": "convert",
    "signup": "convert",
    "error": "fault",
}


def grouped_composition(
    df: DataFrame,
    entity: str,
    token_col: str,
    group_map: dict[str, str] | None = None,
    out: str = "freq",
) -> DataFrame:
    """GAAC analogue (feature.py:1045-1076): map token → group through a
    broadcast literal map, then per-entity group composition. One shuffle;
    the map lookup stays in codegen."""
    gm = group_map or GROUP_MAP_DEFAULT
    mapping = F.create_map(*[x for k, v in gm.items() for x in (F.lit(k), F.lit(v))])
    grouped = df.withColumn("grp", mapping[F.col(token_col)])
    return token_composition(grouped, entity, "grp", out)


def lambda_tuple_freq(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    lam: int = 2,
    tiebreak: str | None = None,
) -> DataFrame:
    """PseKRAAC lambdaModel analogue (feature.py:2772-2821): for every start
    position, the k-tuple of tokens at offsets (0, lambda, 2*lambda); raw
    tuple counts per entity. Two leads, one groupBy."""
    w = entity_window(entity, ts, tiebreak)
    tuples = df.select(
        entity,
        F.col(token_col).alias("tok_a"),
        F.lead(token_col, lam).over(w).alias("tok_b"),
        F.lead(token_col, 2 * lam).over(w).alias("tok_c"),
    ).where(F.col("tok_c").isNotNull())
    return tuples.groupBy(entity, "tok_a", "tok_b", "tok_c").agg(
        F.count(F.lit(1)).alias("tuple_n")
    )


def ksctriad(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    gap: int = 1,
    group_map: dict[str, str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """KSCTriad analogue (feature.py:2107-2147 / CalculateKSCTriad
    feature.py:2052-2068): for every g in 0..gap, triads of reduced-alphabet
    tokens at positions (i, i+g+1, i+2g+2), counted per entity and min-max
    scaled PER g-BLOCK with the reference's /max quirk ((c-min)/max, not
    /(max-min) — feature.py:2066). The min is over the FULL dense triad
    space (every feature pre-initialized to 0, feature.py:2055-2057): 0
    whenever any of the |groups|³ triads is absent from the g-block,
    computed as a present-count comparison, no dense blowup (judge
    round-2 advice). Entities shorter than 2*gap+3 are excluded (the
    reference's length guard, feature.py:2110). g=0 reproduces CTriad
    (feature.py:2070-2105): its triads need a g_c, so the length guard of
    3 drops no row the NULL filter keeps.

    Plan: ONE window sort produces every lead offset needed for all g
    blocks; a stack unpivot turns the wide leads into long (g, g_b, g_c)
    rows, then one partial-agg groupBy — exactly the lagk_pair_freq shape,
    so the cost is one sort exchange + one agg shuffle regardless of gap.
    """
    gm = group_map or GROUP_MAP_DEFAULT
    full_space = len(set(gm.values())) ** 3
    mapping = F.create_map(*[x for k, v in gm.items() for x in (F.lit(k), F.lit(v))])
    w = entity_window(entity, ts, tiebreak)
    g = df.withColumn("__grp", mapping[F.col(token_col)])
    offs = sorted({o for gg in range(gap + 1) for o in (gg + 1, 2 * gg + 2)})
    wide = g.select(
        F.col(entity),
        F.col("__grp").alias("g_a"),
        F.count(F.lit(1)).over(Window.partitionBy(entity)).alias("__len"),
        *[F.lead("__grp", o).over(w).alias(f"__l{o}") for o in offs],
    )
    stack_expr = "stack({n}, {args}) as (g, g_b, g_c)".format(
        n=gap + 1,
        args=", ".join(f"{gg}, __l{gg + 1}, __l{2 * gg + 2}" for gg in range(gap + 1)),
    )
    tri = (
        wide.where(F.col("__len") >= 2 * gap + 3)
        .select(entity, "g_a", F.expr(stack_expr))
        .where(F.col("g_c").isNotNull())
    )
    counts = tri.groupBy(entity, "g", "g_a", "g_b", "g_c").agg(
        F.count(F.lit(1)).alias("n")
    )
    blk = Window.partitionBy(entity, "g")
    dense_min = F.when(
        F.count(F.lit(1)).over(blk) < F.lit(full_space), F.lit(0)
    ).otherwise(F.min("n").over(blk))
    return counts.select(
        entity, "g", "g_a", "g_b", "g_c",
        ((F.col("n") - dense_min) / F.max("n").over(blk)).alias("ksctriad"),
    )


def distance_pair_freq(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    distance: int = 2,
    group_map: dict[str, str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """DistancePair analogue (feature.py:2570-2718): under a reduced
    alphabet (the cp20/19/14/13 registry — spark_pit.alphabets), emit
    d=0 single-token composition (count/L, feature.py:2704-2706) and for
    each d in 1..distance the ordered pair frequency at exact distance d
    (count/(L-d), feature.py:2708-2712). Long format: (entity, d, tok_a,
    tok_b, freq) with tok_b NULL on the d=0 rows.

    Plan: one window sort yields every lead 1..distance; stack-unpivot +
    one groupBy, then a per-entity length window for the denominators —
    one sort exchange + one agg shuffle total, any alphabet, any distance.
    """
    gm = group_map or GROUP_MAP_DEFAULT
    mapping = F.create_map(*[x for k, v in gm.items() for x in (F.lit(k), F.lit(v))])
    w = entity_window(entity, ts, tiebreak)
    g = df.withColumn("__grp", mapping[F.col(token_col)])
    wide = g.select(
        F.col(entity),
        F.col("__grp").alias("tok_a"),
        F.count(F.lit(1)).over(Window.partitionBy(entity)).alias("__len"),
        *[F.lead("__grp", d).over(w).alias(f"__d{d}") for d in range(1, distance + 1)],
    )
    # d=0 single rows ride the same stack (tok_b = tok_a sentinel -> NULLed)
    stack_expr = "stack({n}, 0, CAST(NULL AS STRING), {args}) as (d, tok_b)".format(
        n=distance + 1,
        args=", ".join(f"{d}, __d{d}" for d in range(1, distance + 1)),
    )
    long = wide.select(entity, "tok_a", "__len", F.expr(stack_expr)).where(
        (F.col("d") == 0) | F.col("tok_b").isNotNull()
    )
    return (
        long.groupBy(entity, "d", "tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n"), F.first("__len").alias("__len"))
        .select(
            entity, "d", "tok_a", "tok_b",
            (F.col("n") / (F.col("__len") - F.col("d"))).alias("dp_freq"),
        )
    )


def grouped_window_composition(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    group_map: dict[str, str] | None = None,
    width: int = 5,
    tiebreak: str | None = None,
) -> DataFrame:
    """EGAAC analogue (feature.py:1078-1116): trailing-window composition
    over the reduced alphabet — XMAP then W-SLIDE (SURVEY.md §2.4)."""
    from spark_pit.operators.windows import with_window_composition

    gm = group_map or GROUP_MAP_DEFAULT
    mapping = F.create_map(*[x for k, v in gm.items() for x in (F.lit(k), F.lit(v))])
    g = df.withColumn("grp", mapping[F.col(token_col)])
    vocab = sorted(set(gm.values()))
    return with_window_composition(g, entity, ts, "grp", vocab, width, tiebreak)


def grouped_lagk_pair_freq(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    gaps: list[int],
    group_map: dict[str, str] | None = None,
    tiebreak: str | None = None,
) -> DataFrame:
    """CKSAAGP analogue (feature.py:1125-1179): k-spaced pair counts over
    the reduced alphabet — XMAP then the CKSAAP plan (SURVEY.md §2.3)."""
    gm = group_map or GROUP_MAP_DEFAULT
    mapping = F.create_map(*[x for k, v in gm.items() for x in (F.lit(k), F.lit(v))])
    g = df.withColumn("__gtok", mapping[F.col(token_col)])
    return lagk_pair_freq(g, entity, ts, "__gtok", gaps, tiebreak)


def stride_tuple_freq(
    df: DataFrame,
    entity: str,
    ts: str,
    token_col: str,
    stride: int = 2,
    ktuple: int = 2,
    tiebreak: str | None = None,
) -> DataFrame:
    """PseKRAAC gapModel for ALL three k-tuple sizes (feature.py:2722-2770):
    anchors at positions ``range(0, L, stride)`` (stride = gap+1) emit the
    anchor token (ktuple=1, 2727-2736), the anchor + its IMMEDIATE
    successor in the original series (ktuple=2, 2739-2751), or the anchor
    + the next TWO immediate successors (ktuple=3, 2753-2769). Partners are
    consecutive tokens, NOT stride-sampled: pairing an anchor with
    ``s_{j+stride}`` matches the reference only at stride 1 (the round-3
    fidelity fix). Raw counts per entity, one window pass (row_number +
    leads share the sort)."""
    if ktuple not in (1, 2, 3):
        raise ValueError(f"ktuple must be 1, 2 or 3, got {ktuple}")
    w = entity_window(entity, ts, tiebreak)
    cols = [
        F.col(entity),
        (F.row_number().over(w) - 1).alias("__pos"),
        F.col(token_col).alias("tok_a"),
    ]
    keys = ["tok_a"]
    if ktuple >= 2:
        cols.append(F.lead(token_col, 1).over(w).alias("tok_b"))
        keys.append("tok_b")
    if ktuple == 3:
        cols.append(F.lead(token_col, 2).over(w).alias("tok_c"))
        keys.append("tok_c")
    anchored = df.select(*cols).where(
        (F.col("__pos") % stride == 0) & F.col(keys[-1]).isNotNull()
    )
    return anchored.groupBy(entity, *keys).agg(
        F.count(F.lit(1)).alias("tuple_n")
    )
