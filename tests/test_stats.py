"""Statistical operators (operators/stats.py, rolling_zscore)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal, localcontext

import pytest

from econdatapipeline_spark.operators.stats import corr_pairs, histogram, vif
from econdatapipeline_spark.operators.timeseries import rolling_zscore


def test_histogram_binning_and_edges(spark):
    df = spark.createDataFrame([(float(x),) for x in [0, 5, 9.99, 10, 95, 100]], "v double")
    out = {r["bin"]: (r["bin_lo"], r["bin_hi"], r["n"]) for r in
           histogram(df, "v", bins=10, lo=0.0, hi=100.0).collect()}
    assert out[0] == (0.0, 10.0, 3)       # 0, 5, 9.99
    assert out[1] == (10.0, 20.0, 1)      # 10 -> right-open
    assert out[9] == (90.0, 100.0, 2)     # 95 and the max value 100


def test_histogram_auto_bounds(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "v double")
    out = histogram(df, "v", bins=2).collect()
    assert sum(r["n"] for r in out) == 3


def test_corr_pairs_and_vif_on_constructed_collinearity(spark):
    import random

    rng = random.Random(3)
    rows = []
    for _ in range(500):
        x = rng.gauss(0, 1)
        z = rng.gauss(0, 1)
        y = 2 * x + 0.01 * rng.gauss(0, 1)   # y ~ collinear with x
        rows.append((x, y, z))
    df = spark.createDataFrame(rows, "x double, y double, z double")
    corr = {(r["col_a"], r["col_b"]): r["corr"] for r in corr_pairs(df, ["x", "y", "z"]).collect()}
    assert corr[("x", "y")] > 0.999
    assert abs(corr[("x", "z")]) < 0.2
    factors = vif(df, ["x", "y", "z"])
    assert factors["x"] > 10 and factors["y"] > 10   # collinear pair blows up
    assert factors["z"] < 2                           # independent stays ~1


def test_rolling_zscore_flags_spike_not_self_influenced(spark):
    base = dt.date(2024, 1, 1)
    # baseline oscillates 9/11 (variance > 0), then spikes
    rows = [("a", base.replace(month=m), 9.0 + 2 * (m % 2)) for m in range(1, 9)]
    rows.append(("a", base.replace(month=9), 1000.0))  # spike
    # second, perfectly flat series: z undefined (null), never flagged
    rows += [("flat", base.replace(month=m), 5.0) for m in range(1, 4)]
    df = spark.createDataFrame(rows, "dataset string, date date, value double")
    out = {(r["dataset"], r["date"].month): r
           for r in rolling_zscore(df, window_rows=6).collect()}
    assert out[("a", 9)]["is_anomaly"] is True
    # the spike did not contaminate its own baseline (trailing mean ~10)
    assert out[("a", 9)]["trailing_mean"] == 10.0
    assert out[("flat", 3)]["zscore"] is None and not out[("flat", 3)]["is_anomaly"]


def test_category_drift_known_distributions(spark):
    from econdatapipeline_spark.operators.stats import category_drift

    # corpus: 10 docs, en 8, es 2 -> Q = (0.8, 0.2)
    # src_mix: P = (2/3, 1/3); src_skew: all-en, P = (1, 0)
    rows = (
        [("src_mix", "en")] * 4 + [("src_mix", "es")] * 2
        + [("src_skew", "en")] * 4
    )
    df = spark.createDataFrame(rows, "source string, lang string")
    out = {r["source"]: r for r in category_drift(df, "source", "lang").collect()}
    import math

    p_en, p_es = 2 / 3, 1 / 3
    kl_mix = p_en * math.log(p_en / 0.8) + p_es * math.log(p_es / 0.2)
    assert out["src_mix"]["kl_divergence"] == round(kl_mix, 6)
    assert out["src_mix"]["total_variation"] == round(
        0.5 * (abs(p_en - 0.8) + abs(p_es - 0.2)), 6
    )
    # es is absent from src_skew: KL sums present categories only,
    # TVD picks up the missing |0 - q_es| mass
    assert out["src_skew"]["kl_divergence"] == round(math.log(1 / 0.8), 6)
    assert out["src_skew"]["total_variation"] == round(0.5 * (abs(1 - 0.8) + 0.2), 6)


def test_hll_rollup_merges_instead_of_rescanning(spark):
    """Per-group estimates and the union-merged total must each land
    within 2% of the exact distinct counts; the merged row must NOT be
    the sum of per-group counts (overlapping keys collapse)."""
    from econdatapipeline_spark.operators.stats import hll_rollup

    # 3 sources, heavy overlap: global distinct 3000, per-source 2000
    rows = [(k, f"s{g}") for g in range(3) for k in range(g * 500, g * 500 + 2000)]
    df = spark.createDataFrame(rows, "k long, src string")
    out = {r["group"]: r["approx_distinct"] for r in hll_rollup(df, "k", "src").collect()}
    for g in range(3):
        assert abs(out[f"s{g}"] - 2000) / 2000 < 0.02
    assert abs(out["__all__"] - 3000) / 3000 < 0.02
    assert out["__all__"] < 6000 * 0.98  # merged, not summed


def test_psi_drift_zero_on_identical_and_positive_on_shift(spark):
    from econdatapipeline_spark.operators.stats import psi_drift

    a = spark.createDataFrame([(float(i % 100),) for i in range(1000)], "x double")
    same = psi_drift(a, a, "x", bins=10, lo=0.0, hi=100.0).collect()
    assert sum(r["psi_term"] for r in same) == 0.0
    # shifted distribution -> strictly positive PSI, every term >= 0
    b = spark.createDataFrame([(float(i % 100) + 30.0,) for i in range(1000)], "x double")
    rows = psi_drift(a, b, "x", bins=10, lo=0.0, hi=100.0).collect()
    total = sum(r["psi_term"] for r in rows)
    assert total > 0.2
    assert all(r["psi_term"] >= 0.0 for r in rows)
    # overflow bucket captured the shifted mass
    over = {r["bin"]: r["n_target"] for r in rows}[10]
    assert over == 300


def test_psi_drift_validates_bounds_and_routes_nan(spark):
    import math

    import pytest

    from econdatapipeline_spark.operators.stats import psi_drift

    base = spark.createDataFrame([(0.5,), (float("nan"),), (None,)], "v double")
    tgt = spark.createDataFrame([(0.5,)], "v double")
    with pytest.raises(ValueError, match="hi must be > lo"):
        psi_drift(base, tgt, "v", bins=4, lo=1.0, hi=1.0)
    out = {r["bin"]: (r["n_base"], r["n_target"])
           for r in psi_drift(base, tgt, "v", bins=4, lo=0.0, hi=1.0).collect()}
    # NaN and NULL share the sentinel bin; NaN must NOT land in overflow
    assert out[-2] == (2, 0)
    assert 4 not in out or out[4][0] == 0
    assert out[2] == (1, 1)  # 0.5 in [0.5, 0.75)


def test_distinct_rollup_exact_twin(spark):
    from econdatapipeline_spark.operators.stats import distinct_rollup

    rows = [("a", 1), ("a", 1), ("a", 2), ("b", 2), ("b", 3), ("c", 1)]
    df = spark.createDataFrame(rows, "source string, doc_id long")
    out = {r["group"]: r["n_distinct"]
           for r in distinct_rollup(df, "doc_id", "source").collect()}
    # per-group exact distincts plus the merged total: distinct overall
    # is 3 (ids 1,2,3), NOT the sum of per-group counts (2+2+1=5)
    assert out == {"a": 2, "b": 2, "c": 1, "__all__": 3}


def test_quantile_rollup_exact_and_merged(spark):
    from econdatapipeline_spark.operators.stats import quantile_rollup

    # group a: 0..9 (uniform); group b: all mass at 5
    rows = [("a", float(i)) for i in range(10)] + [("b", 5.0)] * 10
    df = spark.createDataFrame(rows, "source string, v double")
    out = {(r["group"], r["q"]): (r["n"], r["est"])
           for r in quantile_rollup(df, "v", "source",
                                    quantiles=(0.5, 1.0),
                                    bins=10, lo=0.0, hi=10.0).collect()}
    # a: median = ceil(0.5*10)=5th value of 0..9 -> bin 4 -> est 4.0
    assert out[("a", 0.5)] == (10, 4.0)
    assert out[("a", 1.0)] == (10, 9.0)
    assert out[("b", 0.5)] == (10, 5.0)
    # merged: 20 values; cum through bin 4 is only 5 (group a's 0..4),
    # bin 5 adds a's one + b's ten -> cum 16 >= ceil(0.5*20)=10 -> est 5
    assert out[("__all__", 0.5)] == (20, 5.0)
    assert out[("__all__", 1.0)] == (20, 9.0)


def test_quantile_rollup_edge_bins_and_validation(spark):
    import pytest

    from econdatapipeline_spark.operators.stats import quantile_rollup

    df = spark.createDataFrame(
        [("s", -5.0), ("s", 100.0), ("s", float("nan")), ("s", None)],
        "source string, v double",
    )
    out = {(r["group"], r["q"]): (r["n"], r["est"])
           for r in quantile_rollup(df, "v", "source", quantiles=(0.5, 1.0),
                                    bins=4, lo=0.0, hi=8.0).collect()}
    # NaN/NULL excluded -> n=2; median is the underflow bin (est lo-width)
    assert out[("s", 0.5)] == (2, -2.0)
    assert out[("s", 1.0)] == (2, 8.0)  # overflow bin est = hi
    with pytest.raises(ValueError, match="quantiles"):
        quantile_rollup(df, "v", "source", quantiles=(0.0,))
    with pytest.raises(ValueError, match="hi must be"):
        quantile_rollup(df, "v", "source", lo=1.0, hi=1.0)


def test_two_sample_ztest_manual(spark):
    from econdatapipeline_spark.operators.stats import two_sample_ztest
    import statistics

    a = [10.0, 12.0, 11.0, 13.0, 9.0, 10.5]
    b = [20.0, 22.0, 19.0, 21.0, 23.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    r = two_sample_ztest(df, "g", "v", "a", "b").collect()[0]
    assert r["n_a"] == 6 and r["n_b"] == 5
    ma, mb = statistics.mean(a), statistics.mean(b)
    va, vb = statistics.variance(a), statistics.variance(b)
    z = (ma - mb) / (va / 6 + vb / 5) ** 0.5
    assert abs(r["mean_a"] - round(ma, 6)) < 1e-9
    assert abs(r["z"] - round(z, 6)) < 1e-5
    assert r["z"] < -5  # clearly separated samples


def test_two_sample_ztest_identical_groups_zero(spark):
    from econdatapipeline_spark.operators.stats import two_sample_ztest

    rows = [("a", float(v)) for v in (1, 2, 3)] + [
        ("b", float(v)) for v in (1, 2, 3)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    assert two_sample_ztest(df, "g", "v", "a", "b").collect()[0]["z"] == 0.0


def test_chi_square_independent_and_dof(spark):
    from econdatapipeline_spark.operators.stats import chi_square_test

    # perfectly proportional table -> chi2 = 0; dof = (2-1)(2-1) = 1
    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 20 + [("b", "y")] * 40
    )
    df = spark.createDataFrame(rows, "c1 string, c2 string")
    r = chi_square_test(df, "c1", "c2").collect()[0]
    assert r["chi2"] == 0.0 and r["dof"] == 1 and r["n"] == 90


def test_chi_square_counts_zero_cells(spark):
    from econdatapipeline_spark.operators.stats import chi_square_test

    # diagonal-only 2x2: the two zero cells still contribute expected;
    # chi2 for [[5,0],[0,5]] is n = 10
    rows = [("a", "x")] * 5 + [("b", "y")] * 5
    df = spark.createDataFrame(rows, "c1 string, c2 string")
    r = chi_square_test(df, "c1", "c2").collect()[0]
    assert r["chi2"] == 10.0 and r["dof"] == 1


def test_grouped_ols_exact_line(spark):
    from econdatapipeline_spark.operators.stats import grouped_ols

    # y = 3x + 2 exactly -> slope 3, intercept 2, r2 = 1
    rows = [("g", x, 3.0 * x + 2.0) for x in range(10)]
    df = spark.createDataFrame(rows, "grp string, x long, y double")
    r = grouped_ols(df, "grp", "x", "y").collect()[0]
    assert r["slope"] == 3.0 and r["intercept"] == 2.0 and r["r2"] == 1.0


def test_grouped_ols_constant_x_null(spark):
    from econdatapipeline_spark.operators.stats import grouped_ols

    rows = [("g", 5, float(v)) for v in (1, 2, 3)]
    df = spark.createDataFrame(rows, "grp string, x long, y double")
    r = grouped_ols(df, "grp", "x", "y").collect()[0]
    assert r["slope"] is None and r["r2"] is None


def test_grouped_ols_matches_numpy(spark):
    import numpy as np
    from econdatapipeline_spark.operators.stats import grouped_ols

    rng = np.random.RandomState(3)
    xs = np.arange(50)
    ys = 1.5 * xs + 4 + rng.randn(50).round(3)
    rows = [("g", int(x), float(y)) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(rows, "grp string, x long, y double")
    r = grouped_ols(df, "grp", "x", "y").collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    assert abs(r["slope"] - slope) < 1e-5
    assert abs(r["intercept"] - intercept) < 1e-4
    assert r["r2"] > 0.99


def test_quantile_normalize_aligns_shifted_groups(spark):
    from econdatapipeline_spark.operators.stats import quantile_normalize

    # group b = group a shifted by +100: after normalization the i-th
    # ranked member of each group maps to the SAME corpus bucket value
    rows = [("a", i, float(i)) for i in range(50)]
    rows += [("b", 100 + i, float(i) + 100.0) for i in range(50)]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    out = quantile_normalize(df, "grp", "v", "id", bins=10).collect()
    by_group = {}
    for r in out:
        g = r["grp"]
        by_group.setdefault(g, []).append((r["id"] % 100, r["norm_value"]))
    a = dict(by_group["a"])
    b = dict(by_group["b"])
    assert a == b  # identical within-group ranks -> identical mapping


def test_quantile_normalize_output_complete(spark):
    from econdatapipeline_spark.operators.stats import quantile_normalize
    import pytest as _pytest

    rows = [("a", i, float(i * i)) for i in range(30)]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    out = quantile_normalize(df, "grp", "v", "id", bins=5)
    assert out.count() == 30
    assert out.select("bin").distinct().count() == 5
    with _pytest.raises(ValueError):
        quantile_normalize(df, "grp", "v", "id", bins=1)


def test_spearman_monotone_and_ties(spark):
    from econdatapipeline_spark.operators.stats import spearman_corr

    # perfectly monotone (nonlinear) -> rho = 1
    rows = [(float(x), float(x * x * x)) for x in range(1, 20)]
    df = spark.createDataFrame(rows, "a double, b double")
    assert spearman_corr(df, "a", "b").collect()[0]["rho"] == 1.0
    # reversed -> -1
    rows = [(float(x), float(-x)) for x in range(1, 20)]
    df = spark.createDataFrame(rows, "a double, b double")
    assert spearman_corr(df, "a", "b").collect()[0]["rho"] == -1.0


def test_spearman_matches_scipy_formula(spark):
    from econdatapipeline_spark.operators.stats import spearman_corr
    import random

    rng = random.Random(5)
    rows = [(round(rng.random(), 2), round(rng.random(), 2)) for _ in range(80)]
    df = spark.createDataFrame(rows, "a double, b double")
    got = spearman_corr(df, "a", "b").collect()[0]["rho"]

    # reference: Pearson on average ranks (tie-corrected)
    def avg_ranks(vals):
        s = sorted(vals)
        pos = {}
        for i, v in enumerate(s, 1):
            pos.setdefault(v, []).append(i)
        return [sum(pos[v]) / len(pos[v]) for v in vals]

    xs = avg_ranks([a for a, _ in rows])
    ys = avg_ranks([b for _, b in rows])
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    rho = (n * sxy - sx * sy) / ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5
    assert abs(got - round(rho, 6)) < 1e-9


def test_spearman_constant_column_null(spark):
    from econdatapipeline_spark.operators.stats import spearman_corr

    rows = [(1.0, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "a double, b double")
    assert spearman_corr(df, "a", "b").collect()[0]["rho"] is None


def test_gini_uniform_and_concentrated(spark):
    from econdatapipeline_spark.operators.stats import gini_coefficient

    uniform = spark.createDataFrame([(10.0,)] * 20, "v double")
    g = gini_coefficient(uniform, "v").collect()[0]
    assert g["gini"] == 0.0 and g["n"] == 20 and g["total"] == 200.0
    # one holder of everything: gini -> (n-1)/n
    conc = spark.createDataFrame([(0.0,)] * 19 + [(100.0,)], "v double")
    g2 = gini_coefficient(conc, "v").collect()[0]
    assert abs(g2["gini"] - round(19 / 20, 6)) < 1e-9


def test_gini_matches_sorted_formula(spark):
    from econdatapipeline_spark.operators.stats import gini_coefficient
    import random

    rng = random.Random(9)
    vals = [round(rng.random() * 100, 2) for _ in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = gini_coefficient(df, "v").collect()[0]["gini"]
    s = sorted(vals)
    n = len(s)
    expected = 2 * sum((i + 1) * x for i, x in enumerate(s)) / (n * sum(s)) - (n + 1) / n
    assert abs(got - round(expected, 6)) < 1e-6


def test_ks_identical_and_disjoint(spark):
    from econdatapipeline_spark.operators.stats import ks_test

    same = [("a", float(v)) for v in range(10)] + [("b", float(v)) for v in range(10)]
    df = spark.createDataFrame(same, "g string, v double")
    assert ks_test(df, "g", "v", "a", "b").collect()[0]["d_stat"] == 0.0
    disj = [("a", float(v)) for v in range(10)] + [("b", float(v + 100)) for v in range(10)]
    df2 = spark.createDataFrame(disj, "g string, v double")
    r = ks_test(df2, "g", "v", "a", "b").collect()[0]
    assert r["d_stat"] == 1.0 and r["n_a"] == 10 and r["n_b"] == 10


def test_ks_partial_shift(spark):
    from econdatapipeline_spark.operators.stats import ks_test

    # b = a shifted by half the support: D should be ~0.5
    a = [("a", float(v)) for v in range(100)]
    b = [("b", float(v) + 50.0) for v in range(100)]
    df = spark.createDataFrame(a + b, "g string, v double")
    d = ks_test(df, "g", "v", "a", "b").collect()[0]["d_stat"]
    assert abs(d - 0.5) < 0.02


# value generators per sum-column type: the decimal(28,12) values reach
# ~1e15, so cross-partition offsets pass the column's own capacity;
# the decimal(26,18) values go down to the 1e-18 grain
_CUMSUM_VALUES = {
    "int": lambda rng: rng.randint(1, 5),
    "long": lambda rng: rng.randint(-(10**12), 10**12),
    "decimal(28,12)": lambda rng: Decimal(
        rng.randint(-9 * 10**26, 9 * 10**26)
    ).scaleb(-12),
    "decimal(26,18)": lambda rng: Decimal(
        rng.randint(1, 10**25)
    ).scaleb(-18),
}


@pytest.mark.parametrize("path", ["gated", "forced_large"])
@pytest.mark.parametrize("dtype", list(_CUMSUM_VALUES))
def test_ordered_cumsum_matches_window(spark, monkeypatch, dtype, path):
    """ordered_cumsum equals a plain Window.orderBy sum — same values
    (repr-level) and same result type — ascending and descending,
    inclusive and exclusive, on 500 distinct keys, an empty and a
    single-row input, through the size gate and with the gate forced
    to the distributed path; output columns are the inputs, then
    cum_<c>."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from econdatapipeline_spark.operators import stats

    if path == "forced_large":
        monkeypatch.setattr(stats, "CUMSUM_GATE_ROWS", -1)
    rng = random.Random(31)
    value = _CUMSUM_VALUES[dtype]
    main = [(k / 10.0, value(rng)) for k in rng.sample(range(100_000), 500)]
    cases = [(main, d, e) for d in (False, True) for e in (False, True)]
    cases += [([], True, True), ([(5.0, value(rng))], False, False)]
    for rows, desc, excl in cases:
        df = spark.createDataFrame(rows, f"k double, c {dtype}")
        out = stats.ordered_cumsum(
            df, "k", ["c"], descending=desc, exclusive=excl,
            # descending cases pass the known row count, so both ways
            # of reaching the gate are covered
            n_rows=len(rows) if desc else None,
        )
        case = (len(rows), desc, excl)
        assert out.columns == ["k", "c", "cum_c"], case
        key = F.col("k").desc() if desc else F.col("k").asc()
        w = Window.orderBy(key).rowsBetween(
            Window.unboundedPreceding, -1 if excl else 0
        )
        check = out.select(
            "cum_c", F.coalesce(F.sum("c").over(w), F.lit(0)).alias("want")
        )
        assert check.schema["cum_c"].dataType == check.schema["want"].dataType
        got = check.collect()
        assert len(got) == len(rows), case
        assert [r for r in got if repr(r["cum_c"]) != repr(r["want"])] == []


def test_ordered_cumsum_decimal_past_the_gate(spark):
    """A decimal column just past the size gate takes the distributed
    path, whose offsets span several partitions: they must carry the
    column's decimal type (a long-typed offset table rejects Decimal
    values) and sum to the exact inclusive prefix."""
    from pyspark.sql import functions as F

    from econdatapipeline_spark.operators import stats

    n = 100_001
    df = spark.range(n).select(
        F.col("id").alias("t"),
        (F.lit(Decimal("100000000000000")) + F.col("id") / F.lit(7))
        .cast("decimal(28,12)")
        .alias("v"),
    )
    out = stats.ordered_cumsum(df, "t", ["v"])
    assert out.schema["cum_v"].dataType.simpleString() == "decimal(38,12)"
    rows = sorted(out.collect())
    run = Decimal(0)
    with localcontext(prec=50):  # prefixes pass the default 28 digits
        for r in rows:
            run += r["v"]
            assert r["cum_v"] == run, r["t"]
    assert len(rows) == n
    assert n > stats.CUMSUM_GATE_ROWS  # the distributed path ran


def test_bootstrap_ci_covers_true_mean(spark):
    from econdatapipeline_spark.operators.stats import bootstrap_ci

    rows = [(i, float(100 + (i % 21) - 10)) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, v double")
    out = bootstrap_ci(df, "v", "id", b=40).first()
    assert out["n"] == 2000
    # population mean 100; the interval must cover it and be tight
    assert out["ci_lo"] <= 100.0 <= out["ci_hi"]
    assert out["ci_hi"] - out["ci_lo"] < 2.0
    assert out["ci_lo"] <= out["mean"] <= out["ci_hi"]


def test_bootstrap_ci_deterministic_and_layout_free(spark):
    from econdatapipeline_spark.operators.stats import bootstrap_ci

    rows = [(i, float(i % 13)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, v double")
    a = bootstrap_ci(df, "v", "id", b=20).first()
    b = bootstrap_ci(df.repartition(7), "v", "id", b=20).first()
    assert tuple(a) == tuple(b)


def test_bootstrap_ci_width_shrinks_with_n(spark):
    from econdatapipeline_spark.operators.stats import bootstrap_ci

    small = spark.createDataFrame(
        [(i, float(i % 40)) for i in range(200)], "id long, v double"
    )
    big = spark.createDataFrame(
        [(i, float(i % 40)) for i in range(5000)], "id long, v double"
    )
    ws = bootstrap_ci(small, "v", "id", b=30).first()
    wb = bootstrap_ci(big, "v", "id", b=30).first()
    assert (wb["ci_hi"] - wb["ci_lo"]) < (ws["ci_hi"] - ws["ci_lo"])


def test_bootstrap_ci_validates(spark):
    import pytest

    from econdatapipeline_spark.operators.stats import bootstrap_ci

    df = spark.createDataFrame([(0, 1.0)], "id long, v double")
    with pytest.raises(ValueError):
        bootstrap_ci(df, "v", "id", b=1)
    with pytest.raises(ValueError):
        bootstrap_ci(df, "v", "id", alpha=0.0)


def test_cohens_kappa_hand_computed(spark):
    from econdatapipeline_spark.operators.stats import cohens_kappa

    # 2x2 table: agree-keep 20, agree-drop 60, a-only 10, b-only 10
    rows = (
        [("keep", "keep")] * 20
        + [("drop", "drop")] * 60
        + [("keep", "drop")] * 10
        + [("drop", "keep")] * 10
    )
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    # po = 0.8; pA(keep)=0.3, pB(keep)=0.3 -> pe = 0.09 + 0.49 = 0.58
    assert r["n"] == 100
    assert r["po"] == 0.8
    assert abs(r["pe"] - 0.58) < 1e-9
    assert abs(r["kappa"] - (0.8 - 0.58) / (1 - 0.58)) < 1e-6


def test_cohens_kappa_multiclass_and_degenerate(spark):
    from econdatapipeline_spark.operators.stats import cohens_kappa

    # three categories, partial agreement
    rows = [("x", "x"), ("y", "y"), ("z", "x"), ("x", "y"), ("z", "z")]
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohens_kappa(df, "a", "b").collect()[0]
    po = 3 / 5
    pe = (2 / 5) * (2 / 5) + (1 / 5) * (2 / 5) + (2 / 5) * (1 / 5)
    assert abs(r["po"] - po) < 1e-9
    assert abs(r["pe"] - pe) < 1e-6
    # degenerate: both raters constant-equal -> pe = 1 -> kappa emitted 0
    const = spark.createDataFrame([("k", "k")] * 4, "a string, b string")
    rc = cohens_kappa(const, "a", "b").collect()[0]
    assert rc["po"] == 1.0 and rc["kappa"] == 0.0


def test_bootstrap_ci_grouped_matches_ungrouped_per_group(spark):
    from econdatapipeline_spark.operators.stats import bootstrap_ci

    rows = [(i, "g" + str(i % 2), float(10 + (i * 7) % 50)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string, x double")
    grouped = {
        r["grp"]: r
        for r in bootstrap_ci(df, "x", "id", b=12, group_by=["grp"]).collect()
    }
    for g in ("g0", "g1"):
        solo = bootstrap_ci(
            df.filter(df.grp == g), "x", "id", b=12
        ).collect()[0]
        # identical md5-derived weights -> identical per-group CI
        assert grouped[g]["n"] == solo["n"] == 100
        assert grouped[g]["mean"] == solo["mean"]
        assert grouped[g]["ci_lo"] == solo["ci_lo"]
        assert grouped[g]["ci_hi"] == solo["ci_hi"]
        assert grouped[g]["ci_lo"] <= grouped[g]["mean"] <= grouped[g]["ci_hi"]


def test_mann_whitney_hand_computed_with_ties(spark):
    from econdatapipeline_spark.operators.stats import mann_whitney

    # A = [1, 2, 2], B = [2, 3]: U_A = #(a>b) + 0.5*#(a==b)
    #   a=1: 0; a=2: 0.5 each vs b=2 -> 0.5*2 = 1.0 total; U = 1.0
    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "s string, v double")
    out = mann_whitney(df, "v", "s", "a", "b").collect()[0]
    assert out["n_a"] == 3 and out["n_b"] == 2
    assert out["u_stat"] == 1.0
    assert out["auc"] == round(1.0 / 6.0, 6)
    # tie term: value 2 has t=3 -> 24; sigma^2 = (6/12)*(6 - 24/20) = 2.4
    import math
    z = (1.0 - 3.0) / math.sqrt(2.4)
    assert out["z"] == round(z, 6)


def test_mann_whitney_grouped_and_symmetric(spark):
    from econdatapipeline_spark.operators.stats import mann_whitney

    rows = [("g1", "a", float(v)) for v in (1, 2, 3)] + [
        ("g1", "b", float(v)) for v in (4, 5)
    ] + [("g2", "a", 7.0), ("g2", "b", 7.0)]
    df = spark.createDataFrame(rows, "g string, s string, v double")
    out = {r["g"]: r for r in
           mann_whitney(df, "v", "s", "a", "b", group_col="g").collect()}
    # g1: complete separation, all b above a -> U=0, auc=0
    assert out["g1"]["u_stat"] == 0.0 and out["g1"]["auc"] == 0.0
    # g2: single tied pair -> U=0.5, auc=0.5, var=0 -> z=0
    assert out["g2"]["u_stat"] == 0.5 and out["g2"]["z"] == 0.0


def test_jsd_identical_zero_disjoint_ln2(spark):
    from econdatapipeline_spark.operators.stats import jsd_drift
    import math

    same = [("a", "x y z"), ("b", "x y z")]
    df = spark.createDataFrame(same, "lang string, text string")
    assert jsd_drift(df, "lang", "a", "b").collect()[0]["jsd"] == 0.0

    disjoint = [("a", "x x y"), ("b", "u v v")]
    df2 = spark.createDataFrame(disjoint, "lang string, text string")
    out = jsd_drift(df2, "lang", "a", "b").collect()[0]
    assert math.isclose(out["jsd"], math.log(2), abs_tol=1e-6)
    assert out["vocab"] == 4 and out["n_tokens_a"] == 3 and out["n_tokens_b"] == 3


def test_kendall_tau_hand_computed_ties_and_inversion(spark):
    from econdatapipeline_spark.operators.stats import kendall_tau
    import math

    # x=[1,2,2,3], y=[1,3,2,4]: C=5, D=0, Tx=1, Ty=0
    rows = [(1.0, 1.0), (2.0, 3.0), (2.0, 2.0), (3.0, 4.0)]
    df = spark.createDataFrame(rows, "x double, y double")
    out = kendall_tau(df, "x", "y").collect()[0]
    assert out["concordant"] == 5 and out["discordant"] == 0
    assert out["tau"] == round(5 / math.sqrt(30), 6)

    # perfect inversion -> tau = -1
    inv = spark.createDataFrame(
        [(float(i), float(5 - i)) for i in range(1, 5)], "x double, y double"
    )
    assert kendall_tau(inv, "x", "y").collect()[0]["tau"] == -1.0


def test_kendall_tau_grouped_constant_column_zero(spark):
    from econdatapipeline_spark.operators.stats import kendall_tau

    rows = [("g", float(i), 5.0) for i in range(1, 5)] + [
        ("h", float(i), float(i)) for i in range(1, 4)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {r["g"]: r for r in kendall_tau(df, "x", "y", group_col="g").collect()}
    assert out["g"]["tau"] == 0.0  # all pairs tied on y -> denom 0 guard
    assert out["h"]["tau"] == 1.0 and out["h"]["n"] == 3


def test_bh_adjust_hand_values(spark):
    from econdatapipeline_spark.operators.stats import bh_adjust

    # m=5, p sorted: .01 .02 .03 .04 .5 -> candidates m*p/rank are
    # .05 .05 .05 .05 .5; reverse running min leaves the first four at
    # .05 (rejected at alpha=.05) and the last at .5
    rows = [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.04), ("e", 0.5)]
    df = spark.createDataFrame(rows, "test_id string, p double")
    out = {r["test_id"]: r for r in bh_adjust(df, "p", ["test_id"]).collect()}
    for t in "abcd":
        assert abs(out[t]["p_adj"] - 0.05) < 1e-9 and out[t]["rejected"]
    assert abs(out["e"]["p_adj"] - 0.5) < 1e-9 and not out["e"]["rejected"]


def test_bh_adjust_ties_share_adjusted_p(spark):
    from econdatapipeline_spark.operators.stats import bh_adjust

    # tied p-values must share the same p_adj regardless of the rank
    # tie-break: candidates 3*.02/1=.06, 3*.02/2=.03, 3*.1/3=.1 ->
    # reverse min gives .03 to BOTH tied rows
    rows = [("a", 0.02), ("b", 0.02), ("c", 0.1)]
    df = spark.createDataFrame(rows, "test_id string, p double")
    out = {r["test_id"]: r for r in bh_adjust(df, "p", ["test_id"]).collect()}
    assert abs(out["a"]["p_adj"] - 0.03) < 1e-9
    assert out["a"]["p_adj"] == out["b"]["p_adj"]
    assert abs(out["c"]["p_adj"] - 0.1) < 1e-9


def test_bh_adjust_monotone_and_clamped(spark):
    from econdatapipeline_spark.operators.stats import bh_adjust

    rows = [(str(i), 0.9 + 0.01 * i) for i in range(10)]
    df = spark.createDataFrame(rows, "test_id string, p double")
    out = bh_adjust(df, "p", ["test_id"]).collect()
    assert all(r["p_adj"] <= 1.0 for r in out)  # clamp
    by_p = sorted(out, key=lambda r: r["p"])
    adjs = [r["p_adj"] for r in by_p]
    assert adjs == sorted(adjs)  # step-up monotonicity


def test_chi_square_effect_size_cramers_v(spark):
    from econdatapipeline_spark.operators.stats import chi_square_test

    # perfectly dependent 2x2: chi2 = n, V = 1
    rows = [("a", "x")] * 5 + [("b", "y")] * 5
    df = spark.createDataFrame(rows, "u string, v string")
    r = chi_square_test(df, "u", "v", effect_size=True).first()
    assert abs(r["chi2"] - 10.0) < 1e-6 and r["cramers_v"] == 1.0
    # independent: chi2 = 0, V = 0
    rows2 = [(u, v) for u in "ab" for v in "xy" for _ in range(5)]
    df2 = spark.createDataFrame(rows2, "u string, v string")
    r2 = chi_square_test(df2, "u", "v", effect_size=True).first()
    assert r2["chi2"] == 0.0 and r2["cramers_v"] == 0.0
    # default signature unchanged (no cramers_v column)
    assert "cramers_v" not in chi_square_test(df, "u", "v").columns


def test_wilcoxon_signed_hand_values(spark):
    from econdatapipeline_spark.operators.stats import wilcoxon_signed

    # diffs: +1, +2, -3, +4  -> |d| ranks 1,2,3,4; W+ = 1+2+4 = 7
    rows = [(2.0, 1.0), (5.0, 3.0), (1.0, 4.0), (9.0, 5.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    r = wilcoxon_signed(df, "a", "b").first()
    assert r["n"] == 4 and r["w_plus"] == 7.0 and r["w_minus"] == 3.0
    # mean = 4*5/4 = 5, var = 4*5*9/24 = 7.5 -> z = 2/sqrt(7.5)
    import math
    assert abs(r["z"] - round(2.0 / math.sqrt(7.5), 6)) < 1e-9


def test_wilcoxon_signed_ties_and_zero_drop(spark):
    from econdatapipeline_spark.operators.stats import wilcoxon_signed

    # one zero diff drops (n=4); |d| = 1,1,2,2 -> avg ranks 1.5,1.5,3.5,3.5
    # positives: one of the 1s and both 2s -> W+ = 1.5 + 3.5 + 3.5 = 8.5
    rows = [(3.0, 3.0), (2.0, 1.0), (0.0, 1.0), (4.0, 2.0), (5.0, 3.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    r = wilcoxon_signed(df, "a", "b").first()
    assert r["n"] == 4 and r["w_plus"] == 8.5 and r["w_minus"] == 1.5
    # symmetric under swapping a/b
    r2 = wilcoxon_signed(df, "b", "a").first()
    assert r2["w_plus"] == 1.5 and r2["w_minus"] == 8.5 and r2["z"] == -r["z"]


def test_did_estimator_hand_values(spark):
    from econdatapipeline_spark.operators.stats import did_estimator

    # treated: 10 -> 15 (+5); control: 20 -> 22 (+2) -> DiD = 3
    rows = [
        (1, 0, 9.0), (1, 0, 11.0),
        (1, 1, 14.0), (1, 1, 16.0),
        (0, 0, 19.0), (0, 0, 21.0),
        (0, 1, 21.0), (0, 1, 23.0),
    ]
    df = spark.createDataFrame(rows, "treat int, post int, y double")
    r = did_estimator(df, "treat", "post", "y").first()
    assert r["n_t_pre"] == r["n_t_post"] == r["n_c_pre"] == r["n_c_post"] == 2
    assert r["mean_t_pre"] == 10.0 and r["mean_c_post"] == 22.0
    assert abs(r["did"] - 3.0) < 1e-9


def test_did_nets_out_common_trend(spark):
    from econdatapipeline_spark.operators.stats import did_estimator

    # identical +7 drift in both arms -> DiD exactly 0
    rows = [(t, p, 100.0 * t + 7.0 * p) for t in (0, 1) for p in (0, 1)
            for _ in range(3)]
    df = spark.createDataFrame(rows, "treat int, post int, y double")
    assert did_estimator(df, "treat", "post", "y").first()["did"] == 0.0


def test_hhi_concentration_bounds(spark):
    from econdatapipeline_spark.operators.stats import hhi_concentration

    # uniform 4 groups -> hhi = 1/4, normalized 0
    rows = [(g, 10.0) for g in "abcd"]
    df = spark.createDataFrame(rows, "g string, v double")
    r = hhi_concentration(df, "g", "v").first()
    assert r["n_groups"] == 4 and abs(r["hhi"] - 0.25) < 1e-9
    assert r["hhi_normalized"] == 0.0
    # monopoly-ish: one group holds 90%
    rows2 = [("big", 90.0)] + [(g, 10.0 / 3) for g in "xyz"]
    r2 = hhi_concentration(
        spark.createDataFrame(rows2, "g string, v double"), "g", "v"
    ).first()
    assert r2["hhi"] > 0.8 and r2["hhi_normalized"] > 0.75


def test_effect_sizes_hand_values(spark):
    from econdatapipeline_spark.operators.stats import effect_sizes

    # A = {10, 12}, B = {7, 9}: means 11 vs 8, var 2 each, pooled sd
    # sqrt(2) -> d = 3/sqrt(2); all A above all B -> delta = 1
    rows = [("a", 10.0), ("a", 12.0), ("b", 7.0), ("b", 9.0)]
    df = spark.createDataFrame(rows, "s string, v double")
    r = effect_sizes(df, "v", "s", "a", "b").first()
    assert r["n_a"] == 2 and r["n_b"] == 2
    assert r["mean_a"] == 11.0 and r["mean_b"] == 8.0
    import math
    assert abs(r["cohens_d"] - round(3.0 / math.sqrt(2.0), 6)) < 1e-9
    assert r["cliffs_delta"] == 1.0
    # symmetric flip
    r2 = effect_sizes(df, "v", "s", "b", "a").first()
    assert r2["cliffs_delta"] == -1.0 and abs(r2["cohens_d"] + r["cohens_d"]) < 1e-9


def test_effect_sizes_no_effect(spark):
    from econdatapipeline_spark.operators.stats import effect_sizes

    rows = [(s, float(v)) for s in ("a", "b") for v in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, "s string, v double")
    r = effect_sizes(df, "v", "s", "a", "b").first()
    assert r["cohens_d"] == 0.0 and r["cliffs_delta"] == 0.0


def test_theil_index_decomposition_and_bounds(spark):
    from econdatapipeline_spark.operators.stats import theil_index
    import math

    # two groups with within-spread AND a between gap
    rows = [("a", 10.0), ("a", 30.0), ("b", 100.0), ("b", 300.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in theil_index(df, "v", "g").collect()}
    # exact decomposition: T_total = T_between + sum share*T_within
    recon = out["__between__"]["theil_within"] + (
        out["a"]["share"] * out["a"]["theil_within"]
        + out["b"]["share"] * out["b"]["theil_within"]
    )
    assert abs(out["__total__"]["theil_within"] - recon) < 1e-5
    assert out["__total__"]["theil_within"] > 0
    # hand value for group a: mean 20, terms (.5 ln .5 + 1.5 ln 1.5)/2
    t_a = (0.5 * math.log(0.5) + 1.5 * math.log(1.5)) / 2
    assert abs(out["a"]["theil_within"] - round(t_a, 6)) < 1e-9
    # perfectly equal values -> zero everywhere
    eq = spark.createDataFrame([("a", 5.0)] * 3 + [("b", 5.0)] * 3, "g string, v double")
    oeq = {r["g"]: r for r in theil_index(eq, "v", "g").collect()}
    assert oeq["__total__"]["theil_within"] == 0.0
    assert oeq["__between__"]["theil_within"] == 0.0


def test_theil_index_excludes_nonpositive(spark):
    from econdatapipeline_spark.operators.stats import theil_index

    rows = [("a", 10.0), ("a", 0.0), ("a", -5.0), ("a", 10.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in theil_index(df, "v", "g").collect()}
    assert out["a"]["n"] == 2 and out["a"]["theil_within"] == 0.0
