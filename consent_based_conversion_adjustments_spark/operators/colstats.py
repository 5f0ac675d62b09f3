"""Optimizer-style column statistics: equi-depth histograms and
histogram-based join cardinality estimation.

What an ANALYZE pass computes and what a cost-based optimizer consumes:
equi-depth (equal-height) histograms — bucket boundaries at the
1/n-quantiles so every bucket holds ~the same row count, which bounds the
estimation error on skewed data (the reason Postgres/Spark CBO use
equi-depth, not equi-width) — and the textbook per-bucket join estimator
|A ⋈ B| ≈ Σ_b n_A(b)·n_B(b)/max(d_A(b), d_B(b)) (containment-of-values
assumption, System-R lineage).

Plan shape: boundaries come from ONE exact-percentile aggregate (bounded:
n_buckets−1 doubles of driver traffic — the repo's accepted scalar
pattern; swap in approx_percentile at extreme scale, same contract
shape), baked back as literals so bucket assignment is a stateless
codegen map (a sum of comparison casts, no CASE chain, no join); the
per-bucket rollup is one map-side-combinable hash agg. The estimator then
joins two BOUNDED histogram tables (≤ n_buckets rows each) — everything
downstream of the scans is O(n_buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "equi_depth_boundaries",
    "bucket_of",
    "equi_depth_histogram",
    "estimate_equijoin_rows",
    "quantile_grid",
    "quantile_calibrate",
]


def equi_depth_boundaries(
    df: DataFrame, col: str, n_buckets: int = 8
) -> list[float]:
    """The n_buckets−1 interior quantile boundaries of ``col`` (exact
    percentile — one aggregate, bounded driver traffic)."""
    qs = [i / n_buckets for i in range(1, n_buckets)]
    row = df.agg(
        F.percentile(F.col(col), F.array(*[F.lit(q) for q in qs])).alias("b")
    ).first()
    return list(row.b)


def bucket_of(col: Column, boundaries: list[float]) -> Column:
    """Bucket index in [0, len(boundaries)]: the number of boundaries
    strictly below the value — a flat sum of comparison casts, fully
    codegen, identical semantics to the SQL twin's list_filter count."""
    b = F.lit(0)
    for x in boundaries:
        b = b + (col > F.lit(float(x))).cast("int")
    return b.cast("long")


def equi_depth_histogram(
    df: DataFrame, col: str, boundaries: list[float]
) -> DataFrame:
    """Per-bucket stats ``(bucket, n_rows, n_distinct, lo, hi)`` — lo/hi
    are the observed (exact, integer-safe) min/max within the bucket, so
    no float boundary value appears in the output."""
    c = F.col(col)
    return (
        df.select(bucket_of(c, boundaries).alias("bucket"), c.alias("__v"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("__v").alias("n_distinct"),
            F.min("__v").alias("lo"),
            F.max("__v").alias("hi"),
        )
    )


def estimate_equijoin_rows(hist_a: DataFrame, hist_b: DataFrame) -> Column:
    """Join the two bounded histogram tables on bucket and fold the
    per-bucket containment estimate; returns a 1-row DataFrame's worth of
    aggregation — callers attach it as a scalar. Buckets present on only
    one side contribute 0 (inner join)."""
    j = hist_a.select(
        "bucket",
        F.col("n_rows").alias("na"),
        F.col("n_distinct").alias("da"),
    ).join(
        hist_b.select(
            "bucket",
            F.col("n_rows").alias("nb"),
            F.col("n_distinct").alias("db"),
        ),
        "bucket",
    )
    return j.agg(
        F.sum(
            F.col("na")
            * F.col("nb")
            / F.greatest(F.col("da"), F.col("db")).cast("double")
        ).alias("est_rows")
    )


def quantile_grid(df: DataFrame, col: str, n_points: int = 101) -> list[float]:
    """Exact quantile grid (0, 1/(n−1), …, 1) of ``col`` — one
    aggregate, n_points doubles of driver traffic."""
    qs = [i / (n_points - 1) for i in range(n_points)]
    row = df.agg(
        F.percentile(F.col(col), F.array(*[F.lit(q) for q in qs])).alias("g")
    ).first()
    return [float(v) for v in row.g]


def quantile_calibrate(
    src: DataFrame,
    src_col: str,
    tiebreak_col: str,
    ref_grid: list[float],
    out_col: str = "calibrated",
) -> DataFrame:
    """Quantile mapping (Q-Q calibration): transform ``src_col`` so its
    distribution matches the reference distribution summarized by
    ``ref_grid`` (from ``quantile_grid`` over the reference) — each row
    maps to the reference value at its own percentile, with linear
    interpolation between grid points. The score-calibration /
    distribution-matching primitive for merging heterogeneous quality
    scores onto one scale.

    Percentiles come from the distributed total-order rank
    (``corpus.global_rank`` — never a single-partition window; the
    tiebreak makes rank = row_number = RANK, so ``pct = (r−1)/(N−1)``
    is exactly SQL ``percent_rank``). The grid enters the plan as a
    LITERAL array, so the interpolation is a stateless codegen map:
    ``element_at`` twice + one fma — no join, no second shuffle.
    """
    from .corpus import global_rank

    n_points = len(ref_grid)
    ranked = global_rank(src, [src_col, tiebreak_col], rank_col="__qr")
    total = ranked.agg(F.count(F.lit(1)).alias("__n"))
    grid = F.array(*[F.lit(float(v)) for v in ref_grid])
    pct = (F.col("__qr") - 1) / (F.col("__n") - 1)
    pos = pct * (n_points - 1)
    lo = F.least(F.floor(pos).cast("int"), F.lit(n_points - 2))
    frac = pos - lo
    interp = F.element_at(grid, lo + 1) * (1 - frac) + F.element_at(
        grid, lo + 2
    ) * frac
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(out_col, interp)
        .drop("__qr", "__n")
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix over numeric columns — the
    profiling/CBO statistic behind "are these columns redundant" and
    multicollinearity checks before a regression.

    All C(k,2) correlations come from ONE hash aggregate (each ``corr``
    is a streaming co-moment accumulator with map-side partials — the
    scan is the whole cost, k² accumulator state is constants), then the
    1-row result explodes in-plan to tidy (col_a, col_b, corr) rows.
    Never a collect, never k scans.
    """
    from ..functions.rounding import stable_round

    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    agg = df.agg(
        *[
            F.corr(F.col(a).cast("double"), F.col(b).cast("double")).alias(
                f"__c_{i}"
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.col(f"__c_{i}").alias("__corr"),
            )
            for i, (a, b) in enumerate(pairs)
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select(
            F.col("r.col_a").alias("col_a"),
            F.col("r.col_b").alias("col_b"),
            stable_round(F.col("r.__corr"), 6).alias("pearson_r"),
        )
        .orderBy("col_a", "col_b")
    )


def benford_audit(df: DataFrame, col: str) -> DataFrame:
    """Benford's-law first-digit audit — the classic fraud / synthetic-
    data / unit-mixup detector for naturally-occurring positive
    magnitudes (amounts, populations, file sizes).

    First digits come from exact integer/log arithmetic
    (``floor(x / 10^floor(log10(x)))``), zero/negative rows are excluded
    (Benford applies to positive magnitudes), and the observed digit
    distribution is compared with log10(1 + 1/d). One stateless map +
    one 9-bucket hash agg + a 1-row total attach; the per-digit χ²
    contribution sums to the audit statistic downstream.

    Returns 9 rows ALWAYS — a digit with zero occurrences still appears
    (n=0) and still contributes (0 − p·N)²/(p·N) = p·N to the χ² total,
    so skewed data can't silently understate the audit statistic. Fracs
    stable-rounded to 6, χ² contribution to 4.
    """
    from ..functions.rounding import stable_round

    x = F.col(col).cast("double")
    digit = F.floor(x / F.pow(F.lit(10.0), F.floor(F.log10(x)))).cast("long")
    observed = (
        df.filter(x > 0)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # anchor on the literal 1-9 frame so absent digits emit n=0 rows
    counts = (
        df.sparkSession.range(1, 10)
        .select(F.col("id").cast("long").alias("digit"))
        .join(F.broadcast(observed), "digit", "left")
        .select("digit", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
    )
    totals = counts.agg(F.sum("n").cast("double").alias("__tot"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "digit",
            "n",
            stable_round(F.col("n") / F.col("__tot"), 6).alias(
                "observed_frac"
            ),
            stable_round(expected, 6).alias("benford_frac"),
            stable_round(
                F.pow(F.col("n") - expected * F.col("__tot"), F.lit(2.0))
                / (expected * F.col("__tot")),
                4,
            ).alias("chi2_contrib"),
        )
        .orderBy("digit")
    )


def table_profile(
    df: DataFrame,
    cols: list[str] | None = None,
) -> DataFrame:
    """One-call table profile (the ANALYZE-TABLE statistic set): per
    column — row count, nulls, EXACT distinct count, min/max, and the
    mean where the column casts to a number. The first thing anyone
    runs against an unfamiliar table, and the statistics CBO join
    estimation feeds on (`estimate_equijoin_rows` consumes the
    histogram variant).

    All columns profile in ONE aggregate pass over one scan: Spark
    plans the multiple exact count-distincts as a single Expand (k×
    rows map-side, the grouping-sets mechanism) rather than k scans —
    the same trade the grouping-sets query documents. Min/max report
    numerically for number-typed columns and lexically (cast to
    string) otherwise — dates order chronologically either way; the
    1-row result explodes in-plan to tidy per-column rows.

    The EXACT count-distincts are the profile's dominant cost (the r8c
    rung: 7.6x at 64x, all of it the Expand + distinct aggs;
    tools/scale/results_r8c.json, PERF.md round 8c).
    """
    from ..functions.rounding import stable_round
    from ..sources.io import parallelize_scan

    # the multi-distinct Expand multiplies every row k× INSIDE the scan
    # stage's partial aggregate; over an unsplittable single-row-group
    # file that is one task doing the whole profile (r13: 5.0 s of the
    # 6.5 s orders profile in that task). No-op at scale (see
    # parallelize_scan).
    df = parallelize_scan(df)
    cols = cols or df.columns
    dtypes = dict(df.dtypes)
    numeric = {
        c
        for c in cols
        if dtypes[c]
        in ("tinyint", "smallint", "int", "bigint", "float", "double")
        or dtypes[c].startswith("decimal")
    }
    aggs = []
    for i, c in enumerate(cols):
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"__n_{i}"),
            F.count(F.when(col.isNull(), 1)).alias(f"__null_{i}"),
            F.countDistinct(col).alias(f"__d_{i}"),
        ]
        if c in numeric:
            aggs += [
                F.min(col).cast("double").alias(f"__min_{i}"),
                F.max(col).cast("double").alias(f"__max_{i}"),
                F.avg(col.cast("double")).alias(f"__avg_{i}"),
            ]
        else:
            aggs += [
                F.min(col.cast("string")).alias(f"__smin_{i}"),
                F.max(col.cast("string")).alias(f"__smax_{i}"),
            ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__n_{i}").cast("long").alias("n_values"),
                F.col(f"__null_{i}").cast("long").alias("n_nulls"),
                F.col(f"__d_{i}").cast("long").alias("n_distinct"),
                (
                    stable_round(F.col(f"__min_{i}"), 6)
                    if c in numeric
                    else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    stable_round(F.col(f"__max_{i}"), 6)
                    if c in numeric
                    else F.lit(None).cast("double")
                ).alias("max_num"),
                (
                    stable_round(F.col(f"__avg_{i}"), 6)
                    if c in numeric
                    else F.lit(None).cast("double")
                ).alias("mean"),
                (
                    F.col(f"__smin_{i}")
                    if c not in numeric
                    else F.lit(None).cast("string")
                ).alias("min_str"),
                (
                    F.col(f"__smax_{i}")
                    if c not in numeric
                    else F.lit(None).cast("string")
                ).alias("max_str"),
            )
            for i, c in enumerate(cols)
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.*")
        .orderBy("column")
    )
