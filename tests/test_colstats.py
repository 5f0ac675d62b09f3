"""Equi-depth histogram + join-cardinality estimator invariants."""
import sys
sys.path.insert(0, "/root/repo")
import pytest
from pyspark.sql import functions as F
from consent_based_conversion_adjustments_spark.operators import colstats as S


def test_histogram_equi_depth_and_complete(spark):
    df = spark.range(1, 10001).selectExpr("id AS v")
    bounds = S.equi_depth_boundaries(df, "v", 8)
    hist = S.equi_depth_histogram(df, "v", bounds).orderBy("bucket").collect()
    assert [r.bucket for r in hist] == list(range(8))
    assert sum(r.n_rows for r in hist) == 10000
    # equal-height within 1 row on uniform data
    assert max(r.n_rows for r in hist) - min(r.n_rows for r in hist) <= 1
    # buckets tile the domain in order
    for a, b in zip(hist, hist[1:]):
        assert a.hi < b.lo


def test_estimator_exact_on_uniform_fk(spark):
    # every fact key hits one dim key uniformly: estimator is EXACT
    dim = spark.range(0, 100).selectExpr("id AS k")
    fact = spark.range(0, 5000).selectExpr("id % 100 AS k")
    bounds = S.equi_depth_boundaries(fact, "k", 8)
    ha = S.equi_depth_histogram(fact, "k", bounds)
    hb = S.equi_depth_histogram(dim, "k", bounds)
    est = S.estimate_equijoin_rows(ha, hb).first().est_rows
    actual = fact.join(dim, "k").count()
    assert actual == 5000
    assert abs(est - actual) < 1e-6


def test_estimator_reasonable_on_skew(spark):
    # zipf-ish skew: estimate within 3x of truth (the histogram's job)
    fact = spark.range(0, 8000).selectExpr(
        "CAST(pow(id % 2000, 2) / 40000 AS LONG) AS k")
    dim = spark.range(0, 100).selectExpr("id AS k")
    bounds = S.equi_depth_boundaries(fact, "k", 8)
    ha = S.equi_depth_histogram(fact, "k", bounds)
    hb = S.equi_depth_histogram(dim, "k", bounds)
    est = S.estimate_equijoin_rows(ha, hb).first().est_rows
    actual = fact.join(dim, "k").count()
    assert actual > 0
    assert actual / 3 <= est <= actual * 3, (est, actual)


def test_quantile_calibrate_matches_reference_distribution(spark):
    """Q-Q mapping: calibrating a uniform source onto a reference grid
    is monotone, hits the reference min/max at the rank extremes, and a
    self-calibration (source onto its own grid) is the identity on the
    grid points."""
    from consent_based_conversion_adjustments_spark.operators.colstats import (
        quantile_calibrate,
        quantile_grid,
    )

    # source: 0..100 uniform; reference: squared scale 0..10000
    src = spark.createDataFrame(
        [(i, float(i)) for i in range(101)], "id long, v double"
    )
    ref = spark.createDataFrame(
        [(i, float(i * i)) for i in range(101)], "id long, v double"
    )
    grid = quantile_grid(ref, "v", 101)
    out = {
        r.id: r.calibrated
        for r in quantile_calibrate(src, "v", "id", grid).collect()
    }
    vals = [out[i] for i in range(101)]
    assert vals == sorted(vals)                    # monotone
    assert abs(vals[0] - 0.0) < 1e-9               # min -> ref min
    assert abs(vals[-1] - 10000.0) < 1e-9          # max -> ref max
    # with 101 source rows on a 101-point grid, row i sits exactly at
    # grid point i -> calibrated == i^2 exactly
    for i in (10, 50, 90):
        assert abs(out[i] - i * i) < 1e-9

    self_grid = quantile_grid(src, "v", 101)
    ident = {
        r.id: r.calibrated
        for r in quantile_calibrate(src, "v", "id", self_grid).collect()
    }
    for i in range(101):
        assert abs(ident[i] - float(i)) < 1e-9     # identity


class TestCorrelationMatrix:
    def test_numpy_parity_and_sign(self, spark):
        import numpy as np

        from consent_based_conversion_adjustments_spark.operators.colstats import (
            correlation_matrix,
        )

        rng = np.random.RandomState(11)
        a = rng.normal(0, 1, 500)
        b = 2 * a + rng.normal(0, 0.5, 500)   # strongly positive
        c = -a + rng.normal(0, 0.3, 500)      # strongly negative
        df = spark.createDataFrame(
            [(float(x), float(y), float(z)) for x, y, z in zip(a, b, c)],
            "a double, b double, c double",
        )
        out = {
            (r.col_a, r.col_b): r.pearson_r
            for r in correlation_matrix(df, ["a", "b", "c"]).collect()
        }
        assert len(out) == 3
        for (x, y), got in out.items():
            want = np.corrcoef(eval(x), eval(y))[0, 1]  # noqa: S307 - test vars
            assert got == pytest.approx(want, abs=1e-6), (x, y)
        assert out[("a", "b")] > 0.9 and out[("a", "c")] < -0.9


class TestBenfordAudit:
    def test_golden_counts_and_exclusions(self, spark):
        from consent_based_conversion_adjustments_spark.operators.colstats import (
            benford_audit,
        )

        # values: first digits 1,1,2,9; zero and negative excluded
        df = spark.createDataFrame(
            [(1.5,), (123.0,), (0.25,), (9.9,), (0.0,), (-55.0,)],
            "v double",
        )
        out = {r.digit: r for r in benford_audit(df, "v").collect()}
        # all 9 digits always present; absent digits report n=0
        assert set(out) == set(range(1, 10))
        assert {d: r.n for d, r in out.items() if r.n} == {1: 2, 2: 1, 9: 1}
        assert out[1].observed_frac == pytest.approx(0.5)
        assert out[1].benford_frac == pytest.approx(0.30103, abs=1e-5)
        # a zero-count digit still contributes chi2 = p*N (its full deficit)
        import math as _math

        p3 = _math.log10(1 + 1 / 3)
        assert out[3].n == 0
        assert out[3].chi2_contrib == pytest.approx(p3 * 4, abs=1e-3)
        # chi2 contribution: (n - p*N)^2 / (p*N) with N=4
        import math

        p = math.log10(2)
        assert out[1].chi2_contrib == pytest.approx(
            (2 - p * 4) ** 2 / (p * 4), abs=1e-3
        )

    def test_benford_like_data_low_chi2(self, spark):
        """Data generated from a log-uniform magnitude IS Benford: the
        total χ² stays far below the 5% critical value (15.5, 8 dof)."""
        import numpy as np

        from consent_based_conversion_adjustments_spark.operators.colstats import (
            benford_audit,
        )

        rng = np.random.RandomState(3)
        vals = 10 ** rng.uniform(0, 5, 20000)
        df = spark.createDataFrame([(float(v),) for v in vals], "v double")
        total = sum(r.chi2_contrib for r in benford_audit(df, "v").collect())
        assert total < 15.5


class TestTableProfile:
    def test_counts_nulls_types(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 2.0), (2, None, 4.0), (None, "b", None)],
            "k long, s string, v double",
        )
        out = {r.column: r for r in S.table_profile(df).collect()}
        assert out["k"].n_values == 2 and out["k"].n_nulls == 1
        assert out["k"].n_distinct == 2
        assert (out["k"].min_num, out["k"].max_num) == (1.0, 2.0)
        assert out["k"].min_str is None
        assert out["s"].min_str == "a" and out["s"].max_str == "b"
        assert out["s"].min_num is None and out["s"].mean is None
        assert out["v"].mean == pytest.approx(3.0)

    def test_single_scan_plan(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        p = (
            S.table_profile(df)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert p.count("Scan parquet") == 1 and "Expand" in p


def test_cms_estimate_never_underestimates_and_matches_manual(spark):
    """Count-Min invariants: est ≥ true for every key, exact when the
    counter table has no colliding mass, and cells replay a manual
    python build bit-for-bit."""
    from collections import Counter

    from consent_based_conversion_adjustments_spark.operators.dedup import (
        perm_params,
    )
    from consent_based_conversion_adjustments_spark.operators.sketches import (
        CMS_DEPTH,
        cms_build,
        cms_heavy_hitters,
    )

    keys = [1, 1, 1, 2, 2, 3, 4, 5, 5, 5, 5, 7001, 7001]
    df = spark.createDataFrame([(k,) for k in keys], "user_id long")
    width = 64
    out = {
        r["user_id"]: (r["true_n"], r["cms_est"])
        for r in cms_heavy_hitters(df, "user_id", 6, width=width).collect()
    }
    true = Counter(keys)
    mod = 1_000_000_007

    def bucket(k, i):
        a, b = perm_params(i)
        return (((k % mod) * a + b) % mod) % width

    cells = Counter()
    for k in keys:
        for i in range(CMS_DEPTH):
            cells[(i, bucket(k, i))] += 1
    got_cells = {
        (r["row_i"], r["bucket"]): r["cell_n"]
        for r in cms_build(df, "user_id", width=width).collect()
    }
    assert got_cells == dict(cells)
    for k, (tn, est) in out.items():
        assert tn == true[k]
        assert est >= tn
        manual = min(cells[(i, bucket(k, i))] for i in range(CMS_DEPTH))
        assert est == manual


def test_cms_rows_separate_keys_one_width_apart(spark):
    """Count-Min rows must be independent hashes: keys k and k + width
    may share a bucket in some rows, never in all of them (else depth d
    gives one row's error bound). Keys are reduced mod p before the
    multiply, so keys near 2^62 hash without long overflow."""
    from consent_based_conversion_adjustments_spark.operators.sketches import (
        CMS_DEPTH,
        CMS_WIDTH,
        _bucket,
    )

    base = list(range(64)) + [2**62 + k for k in range(8)]
    keys = base + [k + CMS_WIDTH for k in base]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    rows = df.select(
        "k", *[_bucket(F.col("k"), i, CMS_WIDTH).alias(f"b{i}")
               for i in range(CMS_DEPTH)]
    ).collect()
    got = {r["k"]: tuple(r[f"b{i}"] for i in range(CMS_DEPTH)) for r in rows}
    for k in base:
        assert got[k] != got[k + CMS_WIDTH], k
    assert all(0 <= b < CMS_WIDTH for bs in got.values() for b in bs)
