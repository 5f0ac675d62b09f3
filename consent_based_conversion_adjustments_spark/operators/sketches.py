"""Count-Min sketch: sublinear-memory frequency estimation.

Completes the engine's sketch family (HLL++ distinct counts, KLL value
quantiles, theta-style set overlap — behavior.py / colstats.py) with the
FREQUENCY sketch (Cormode & Muthukrishnan 2005): d hash rows × w buckets
of counters; an item's estimate is the MIN over its d cells —
never an underestimate, overestimate bounded by collisions (ε ≈ e/w of
the total mass per row, with probability 1−e^−d).

Spark shape: the build is ONE map-side-combinable aggregation over
(row, bucket) — the d-fold explode happens inside the projection, the
shuffle carries at most d·w counter rows, and sketches from different
partitions/epochs MERGE by cell-wise addition (the same additive-partial
contract as the streaming covariance store). The d·w table (4×1024 by
default, ~32 KB) is the state a 100 TB stream keeps per window, vs an
unbounded exact key table.

Row i hashes with the MinHash permutation ``dedup.perm_params(i)``
over the 1e9+7 prime: the key is reduced mod p first, so a·k + b < 2^63
for any key and the rows are independent universal hashes (the e^−d
bound needs that). The DuckDB oracle replays every cell exactly. Caller
contract: the keyed column is a non-negative int64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import perm_params
from .text import HASH_MOD

CMS_DEPTH = 4
CMS_WIDTH = 1024


def _bucket(col: Column, i: int, width: int) -> Column:
    a, b = perm_params(i)
    key = col.cast("long") % F.lit(HASH_MOD)
    return F.pmod((key * F.lit(a) + F.lit(b)) % F.lit(HASH_MOD), F.lit(width))


def _bucket_sql(expr: str, i: int, width: int) -> str:
    a, b = perm_params(i)
    key = f"CAST({expr} AS BIGINT) % {HASH_MOD}"
    return f"((({key}) * {a} + {b}) % {HASH_MOD}) % {width}"


def cms_build(
    df: DataFrame,
    key_col: str,
    *,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """The d×w counter table (row_i, bucket, cell_n) from one hash agg."""
    key = F.col(key_col).cast("long")
    cells = df.select(
        F.posexplode(
            F.array(*[_bucket(key, i, width) for i in range(depth)])
        ).alias("row_i", "bucket")
    )
    return cells.groupBy("row_i", "bucket").agg(
        F.count(F.lit(1)).alias("cell_n")
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str,
    k: int,
    *,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    cms: DataFrame | None = None,
) -> DataFrame:
    """Top-k keys by exact count, annotated with their CMS estimate —
    the audit view that validates a sketch deployment: cms_est ≥ true_n
    always, and the gap IS the collision mass. The sketch build and the
    exact top-k share one scan each; the estimate lookup explodes only
    the k result keys against the d·w broadcastable counter table.

    ``cms``: a prebuilt (row_i, bucket, cell_n) counter table — e.g. the
    streaming store's epoch-summed totals; cells are additive, so the
    estimates are identical to a one-shot batch build over the same rows.
    """
    key = F.col(key_col).cast("long")
    # Exact top-k WITHOUT a global window: orderBy().limit(k) compiles to
    # TakeOrderedAndProject — per-partition top-k, then a k-row merge —
    # where a row_number() over an unpartitioned Window would sort the
    # ENTIRE distinct-key table on one task (10⁸–10⁹ rows at 100 TB).
    # Rank is then derived on the k-row result with one sorted
    # collect_list + posexplode (struct sorts by (−true_n, key), i.e.
    # count desc / key asc): k bounded rows of state, no window, no
    # second scan of ``df``.
    top = (
        df.groupBy(key.alias(key_col))
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), F.col(key_col))
        .limit(k)
    )
    true_top = (
        top.agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("true_n")).alias("neg_n"),
                        F.col(key_col).alias("k"),
                    )
                )
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "s"))
        .select(
            F.col("s.k").alias(key_col),
            (-F.col("s.neg_n")).alias("true_n"),
            (F.col("pos") + 1).alias("rank"),
        )
    )
    if cms is None:
        cms = cms_build(df, key_col, depth=depth, width=width)
    probes = true_top.select(
        key_col,
        "true_n",
        "rank",
        F.posexplode(
            F.array(
                *[_bucket(F.col(key_col), i, width) for i in range(depth)]
            )
        ).alias("row_i", "bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["row_i", "bucket"])
        .groupBy(key_col, "true_n", "rank")
        .agg(F.min("cell_n").alias("cms_est"))
        .select(
            key_col,
            "true_n",
            "cms_est",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def cms_heavy_hitters_sql(
    k: int,
    *,
    table: str = "events",
    key_col: str = "user_id",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> str:
    """DuckDB twin of ``cms_heavy_hitters`` (every cell replayed)."""
    bucket_union = "\n    UNION ALL\n".join(
        f"    SELECT {key_col}, {i} AS row_i,"
        f" {_bucket_sql(key_col, i, width)} AS bucket FROM {table}"
        for i in range(depth)
    )
    probe_buckets = "\n    UNION ALL\n".join(
        f"    SELECT {key_col}, true_n, rank, {i} AS row_i,"
        f" {_bucket_sql(key_col, i, width)} AS bucket FROM true_top"
        for i in range(depth)
    )
    return f"""
WITH hashed AS (
{bucket_union}
), cms AS (
    SELECT row_i, bucket, count(*) AS cell_n
    FROM hashed GROUP BY row_i, bucket
), true_top AS (
    SELECT * FROM (
        SELECT {key_col}, count(*) AS true_n,
               row_number() OVER (ORDER BY count(*) DESC, {key_col}) AS rank
        FROM {table} GROUP BY {key_col}
    ) WHERE rank <= {k}
), probes AS (
{probe_buckets}
)
SELECT p.{key_col}, p.true_n, min(c.cell_n) AS cms_est, p.rank
FROM probes p JOIN cms c USING (row_i, bucket)
GROUP BY p.{key_col}, p.true_n, p.rank
ORDER BY p.rank
"""
