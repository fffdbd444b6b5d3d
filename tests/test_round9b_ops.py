"""Round-9 continuation operator tests: doubly-robust AIPW ATE,
instrumental-variables 2SLS, the Cochran-Mantel-Haenszel stratified
test, and the KPSS stationarity test.

Established twin-test style: a pure-numpy replay of the same bounded
fit, plus never-fabricate degenerate gates.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# aipw_ate
# ---------------------------------------------------------------------------

def _aipw_numpy(tr, y, X, rounds=4):
    """Unquantized numpy IRLS propensity + per-arm OLS + AIPW."""
    tr = np.asarray(tr, dtype=float)
    y = np.asarray(y, dtype=float)
    Xd = np.column_stack([np.ones(len(tr))] + [np.asarray(c) for c in X])
    b = np.zeros(Xd.shape[1])
    for _ in range(rounds):
        mu = 1.0 / (1.0 + np.exp(-(Xd @ b)))
        g = Xd.T @ (tr - mu)
        h = (Xd * (mu * (1 - mu))[:, None]).T @ Xd
        b = b + np.linalg.solve(h, g)
    mu = 1.0 / (1.0 + np.exp(-(Xd @ b)))
    t, c = tr == 1, tr == 0
    g1 = np.linalg.solve(Xd[t].T @ Xd[t], Xd[t].T @ y[t])
    g0 = np.linalg.solve(Xd[c].T @ Xd[c], Xd[c].T @ y[c])
    m1, m0 = Xd @ g1, Xd @ g0
    t1 = m1 + tr * (y - m1) / mu
    t0 = m0 + (1.0 - tr) * (y - m0) / (1.0 - mu)
    return t1.mean() - t0.mean(), t1.mean(), t0.mean(), mu


def _causal_fixture(n=800, seed=11, noise=1.0):
    rng = np.random.RandomState(seed)
    x1 = np.round(rng.normal(0, 1, n), 3)
    x2 = np.round(rng.normal(0, 1, n), 3)
    pr = 1.0 / (1.0 + np.exp(-(0.4 + 0.9 * x1 - 0.6 * x2)))
    tr = (rng.uniform(size=n) < pr).astype(int)
    y = np.round(
        2.0 + 1.5 * tr + 0.8 * x1 + 0.3 * x2
        + noise * rng.normal(0, 1, n),
        3,
    )
    return tr, y, x1, x2


def _causal_df(spark, tr, y, x1, x2):
    return spark.createDataFrame(
        [
            (int(t), float(a), float(b), float(c))
            for t, a, b, c in zip(tr, y, x1, x2)
        ],
        "treat int, y double, x1 double, x2 double",
    )


def test_aipw_matches_numpy_reference(spark):
    """The p=2 decimal-quantized Spark AIPW agrees with an unquantized
    numpy IRLS + per-arm-OLS + augmentation replay to well under the
    rounding grain."""
    from econdatapipeline_spark.operators.evaluation import aipw_ate

    tr, y, x1, x2 = _causal_fixture()
    row = aipw_ate(
        _causal_df(spark, tr, y, x1, x2), "treat", "y", ["x1", "x2"]
    ).collect()[0]
    ate, m1, m0, mu = _aipw_numpy(tr, y, [x1, x2])
    assert row["n"] == len(tr) and row["n_treated"] == int(tr.sum())
    assert row["ate"] == pytest.approx(ate, abs=5e-5)
    assert row["mu_treated"] == pytest.approx(m1, abs=5e-5)
    assert row["mu_control"] == pytest.approx(m0, abs=5e-5)
    assert row["n_excluded"] == 0
    assert row["e_min_treated"] <= mu[tr == 1].min() + 1e-5
    assert row["e_max_control"] >= mu[tr == 0].max() - 1e-5


def test_aipw_exact_linear_outcome_recovers_effect(spark):
    """With a noiseless linear outcome the arm regressions are exact,
    every augmentation residual is ~0, and AIPW returns the true
    effect regardless of the propensity fit — the doubly-robust
    property made concrete."""
    from econdatapipeline_spark.operators.evaluation import aipw_ate

    tr, _, x1, x2 = _causal_fixture(n=600, seed=7)
    y = 2.0 + 1.5 * tr + 0.8 * x1 + 0.3 * x2
    row = aipw_ate(
        _causal_df(spark, tr, y, x1, x2), "treat", "y", ["x1", "x2"]
    ).collect()[0]
    assert row["ate"] == pytest.approx(1.5, abs=1e-4)


def test_aipw_null_gates(spark):
    """Never-fabricate: a single-arm population and a collinear
    covariate pair (rank-deficient arm OLS) both NULL the estimate
    while still reporting n / n_treated."""
    from econdatapipeline_spark.operators.evaluation import aipw_ate

    tr, y, x1, x2 = _causal_fixture(n=200, seed=5)
    # single arm
    one = _causal_df(spark, np.ones_like(tr), y, x1, x2)
    row = aipw_ate(one, "treat", "y", ["x1", "x2"]).collect()[0]
    assert row["ate"] is None and row["n_treated"] == row["n"]
    # collinear covariates: x2 = x1 exactly
    col = _causal_df(spark, tr, y, x1, x1)
    row = aipw_ate(col, "treat", "y", ["x1", "x2"]).collect()[0]
    assert row["ate"] is None and row["mu_treated"] is None


def test_aipw_trim_band_excludes_and_reports(spark):
    """trim_eps excludes off-support subjects from the augmented sums
    and counts them, mirroring ipw_ate_multi's contract."""
    from econdatapipeline_spark.operators.evaluation import aipw_ate

    tr, y, x1, x2 = _causal_fixture(n=800, seed=11)
    df = _causal_df(spark, tr, y, x1, x2)
    strict = aipw_ate(df, "treat", "y", ["x1", "x2"]).collect()[0]
    trimmed = aipw_ate(
        df, "treat", "y", ["x1", "x2"], trim_eps=0.2
    ).collect()[0]
    assert trimmed["n_excluded"] > 0
    assert trimmed["ate"] is not None
    # strict run keeps everyone (no saturation in this fixture)
    assert strict["n_excluded"] == 0


# ---------------------------------------------------------------------------
# iv_2sls
# ---------------------------------------------------------------------------

def _iv_numpy(y, x, z):
    y, x, z = (np.asarray(a, dtype=float) for a in (y, x, z))
    n = len(y)
    zc, xc, yc = z - z.mean(), x - x.mean(), y - y.mean()
    b1 = (zc @ yc) / (zc @ xc)
    b0 = y.mean() - b1 * x.mean()
    e = yc - b1 * xc
    s2 = (e @ e) / (n - 2)
    se = np.sqrt(s2 * (zc @ zc)) / abs(zc @ xc)
    rss1 = xc @ xc - (zc @ xc) ** 2 / (zc @ zc)
    f = ((zc @ xc) ** 2 / (zc @ zc)) / (rss1 / (n - 2))
    return b0, b1, se, b1 / se, f


def _iv_fixture(n=600, seed=19):
    """Classic endogeneity: u hits both x and y, z only drives x."""
    rng = np.random.RandomState(seed)
    z = np.round(rng.normal(0, 1, n), 3)
    u = rng.normal(0, 1, n)
    x = np.round(1.0 + 0.8 * z + 0.9 * u + 0.3 * rng.normal(0, 1, n), 3)
    y = np.round(3.0 + 2.0 * x + 1.5 * u + 0.5 * rng.normal(0, 1, n), 3)
    return y, x, z


def test_iv_2sls_matches_numpy_and_beats_ols(spark):
    from econdatapipeline_spark.operators.evaluation import iv_2sls

    y, x, z = _iv_fixture()
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(y, x, z)],
        "y double, x double, z double",
    )
    row = iv_2sls(df, "y", "x", "z").collect()[0]
    b0, b1, se, t, f = _iv_numpy(y, x, z)
    assert row["n"] == len(y)
    assert row["beta1"] == pytest.approx(b1, abs=1e-5)
    assert row["beta0"] == pytest.approx(b0, abs=1e-5)
    assert row["se_beta1"] == pytest.approx(se, abs=1e-5)
    assert row["t_beta1"] == pytest.approx(t, abs=1e-3)
    assert row["f_first_stage"] == pytest.approx(f, abs=1e-2)
    # endogeneity bias: OLS slope is pulled up by the confounder, the
    # IV estimate lands nearer the structural 2.0
    ols = np.polyfit(x, y, 1)[0]
    assert abs(row["beta1"] - 2.0) < abs(ols - 2.0)
    assert row["f_first_stage"] > 10  # strong instrument here


def test_iv_2sls_null_gates_and_groups(spark):
    from econdatapipeline_spark.operators.evaluation import iv_2sls

    y, x, z = _iv_fixture(n=100, seed=3)
    rows = (
        [("a", float(a), float(b), float(c)) for a, b, c in zip(y, x, z)]
        # constant instrument -> czz = 0 -> NULLs
        + [("b", float(a), float(b), 1.0) for a, b in zip(y, x)]
        # n <= 2 -> NULLs
        + [("c", 1.0, 2.0, 3.0), ("c", 2.0, 1.0, 4.0)]
    )
    df = spark.createDataFrame(rows, "g string, y double, x double, z double")
    out = {r["g"]: r for r in iv_2sls(df, "y", "x", "z", "g").collect()}
    assert out["a"]["beta1"] is not None
    assert out["b"]["beta1"] is None and out["b"]["n"] == 100
    assert out["c"]["beta1"] is None and out["c"]["n"] == 2


# ---------------------------------------------------------------------------
# cmh_test
# ---------------------------------------------------------------------------

def _cmh_numpy(strata):
    """strata: list of (a, b, c, d) 2x2 tables."""
    sa = se = sv = sad = sbc = 0.0
    for a, b, c, d in strata:
        n = a + b + c + d
        if n < 2:
            continue
        n1, m1 = a + b, a + c
        sa += a
        se += n1 * m1 / n
        sv += n1 * (n - n1) * m1 * (n - m1) / (n * n * (n - 1))
        sad += a * d / n
        sbc += b * c / n
    return (sa - se) ** 2 / sv, sad / sbc


def test_cmh_matches_numpy_and_beats_pooled(spark):
    """CMH on a Simpson's-paradox fixture: within-stratum the
    treatment helps (OR > 1) while the pooled 2x2 flips the sign —
    CMH recovers the common within-stratum effect."""
    from econdatapipeline_spark.operators.evaluation import cmh_test

    # stratum A: mostly treated, high base rate; B: mostly control,
    # low base rate; treatment raises odds ~2x within each.
    tables = {"A": (80, 40, 30, 30), "B": (20, 40, 25, 100)}
    rows = []
    for s, (a, b, c, d) in tables.items():
        rows += [(s, 1, 1)] * a + [(s, 1, 0)] * b
        rows += [(s, 0, 1)] * c + [(s, 0, 0)] * d
    df = spark.createDataFrame(rows, "s string, tr int, oc int")
    row = cmh_test(df, "s", "tr", "oc").collect()[0]
    chi2, or_mh = _cmh_numpy(list(tables.values()))
    assert row["n_strata"] == 2
    assert row["n"] == sum(sum(t) for t in tables.values())
    assert row["chi2_cmh"] == pytest.approx(chi2, abs=1e-5)
    assert row["or_mh"] == pytest.approx(or_mh, abs=1e-5)
    assert row["or_mh"] > 1.0
    assert bool(row["reject_5pct"]) == (chi2 > 3.841459)


def test_cmh_degenerate_gates(spark):
    """Strata of size < 2 are dropped; an all-concordant table
    (zero variance) NULLs chi2; zero b*c NULLs the MH odds ratio."""
    from econdatapipeline_spark.operators.evaluation import cmh_test

    # single stratum where m1 = n (every subject has the outcome):
    # V_i = 0 -> chi2 NULL; b = c = 0 -> OR NULL; plus a size-1
    # stratum that must be dropped from n_strata.
    rows = [("A", 1, 1)] * 5 + [("A", 0, 1)] * 5 + [("tiny", 1, 1)]
    df = spark.createDataFrame(rows, "s string, tr int, oc int")
    row = cmh_test(df, "s", "tr", "oc").collect()[0]
    assert row["n_strata"] == 1 and row["n"] == 10
    assert row["chi2_cmh"] is None and row["or_mh"] is None


# ---------------------------------------------------------------------------
# kpss_test
# ---------------------------------------------------------------------------

def _kpss_numpy(y, lags=4):
    y = np.asarray(y, dtype=float)
    n = len(y)
    e = y - y.mean()
    s = np.cumsum(e)
    eta = (s @ s) / (n * n)
    lrv = (e @ e) / n
    for lag in range(1, lags + 1):
        w = 1.0 - lag / (lags + 1.0)
        lrv += 2.0 * w * (e[lag:] @ e[:-lag]) / n
    return eta / lrv


def test_kpss_matches_numpy_and_separates_series(spark):
    """Spark KPSS agrees with the textbook numpy replica; a
    stationary AR-ish series accepts the null while a random walk
    rejects it."""
    from econdatapipeline_spark.operators.timeseries import kpss_test

    rng = np.random.RandomState(42)
    n = 300
    stat_series = np.round(rng.normal(0, 1, n), 3)  # white noise
    walk = np.round(np.cumsum(rng.normal(0, 1, n)), 3)  # unit root
    rows = [
        ("stat", i, float(v)) for i, v in enumerate(stat_series)
    ] + [("walk", i, float(v)) for i, v in enumerate(walk)]
    df = spark.createDataFrame(rows, "dataset string, t int, value double")
    out = {
        r["dataset"]: r
        for r in kpss_test(df, "value", "t", "dataset").collect()
    }
    assert out["stat"]["kpss_stat"] == pytest.approx(
        _kpss_numpy(stat_series), abs=1e-4
    )
    assert out["walk"]["kpss_stat"] == pytest.approx(
        _kpss_numpy(walk), abs=1e-4
    )
    assert not out["stat"]["reject_5pct"]
    assert out["walk"]["reject_5pct"]


def test_kpss_short_series_nulls(spark):
    from econdatapipeline_spark.operators.timeseries import kpss_test

    df = spark.createDataFrame(
        [("s", i, float(i)) for i in range(4)],
        "dataset string, t int, value double",
    )
    row = kpss_test(df, "value", "t", "dataset", lags=4).collect()[0]
    assert row["kpss_stat"] is None and row["n"] == 4


# ---------------------------------------------------------------------------
# logistic_glm
# ---------------------------------------------------------------------------

def _logit_numpy(y, X, rounds=6):
    y = np.asarray(y, dtype=float)
    Xd = np.column_stack([np.ones(len(y))] + [np.asarray(c) for c in X])
    pbar = y.mean()
    b = np.zeros(Xd.shape[1])
    b[0] = np.log(pbar / (1 - pbar))
    for _ in range(rounds):
        mu = 1.0 / (1.0 + np.exp(-(Xd @ b)))
        g = Xd.T @ (y - mu)
        h = (Xd * (mu * (1 - mu))[:, None]).T @ Xd
        b = b + np.linalg.solve(h, g)
    mu = 1.0 / (1.0 + np.exp(-(Xd @ b)))
    dev = 2.0 * np.sum(np.where(y == 1, -np.log(mu), -np.log(1 - mu)))
    ll0 = len(y) * (pbar * np.log(pbar) + (1 - pbar) * np.log(1 - pbar))
    se = np.sqrt(np.diag(np.linalg.inv(h)))
    return b, se, dev, 1.0 - (-dev / 2.0) / ll0


def test_logistic_glm_matches_numpy(spark):
    from econdatapipeline_spark.operators.glm import logistic_glm

    tr, y, x1, x2 = _causal_fixture(n=700, seed=23)
    # binary response driven by both covariates
    rng = np.random.RandomState(99)
    pr = 1.0 / (1.0 + np.exp(-(-0.3 + 1.1 * x1 - 0.7 * x2)))
    yy = (rng.uniform(size=len(x1)) < pr).astype(int)
    df = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in zip(yy, x1, x2)],
        "y int, x1 double, x2 double",
    )
    out = {
        r["param"]: r
        for r in logistic_glm(df, "y", ["x1", "x2"]).collect()
    }
    b, se, dev, mcf = _logit_numpy(yy, [x1, x2])
    assert out["intercept"]["coef"] == pytest.approx(b[0], abs=2e-5)
    assert out["x1"]["coef"] == pytest.approx(b[1], abs=2e-5)
    assert out["x2"]["coef"] == pytest.approx(b[2], abs=2e-5)
    assert out["x1"]["se"] == pytest.approx(se[1], abs=2e-5)
    assert out["x1"]["z"] == pytest.approx(b[1] / se[1], abs=1e-3)
    assert out["x1"]["odds_ratio"] == pytest.approx(
        np.exp(b[1]), abs=1e-4
    )
    assert out["x1"]["deviance"] == pytest.approx(dev, abs=1e-3)
    assert out["x1"]["mcfadden_r2"] == pytest.approx(mcf, abs=1e-5)
    assert out["x1"]["n"] == len(yy)


def test_logistic_glm_null_gates(spark):
    """All-one response (no variation) NULLs everything via the
    init/Hessian gates; a separated covariate NULLs deviance via
    n_sat while the run completes."""
    from econdatapipeline_spark.operators.glm import logistic_glm

    df = spark.createDataFrame(
        [(1, float(i)) for i in range(50)], "y int, x1 double"
    )
    rows = logistic_glm(df, "y", ["x1"]).collect()
    assert all(r["coef"] is None for r in rows)


# ---------------------------------------------------------------------------
# fleming_harrington
# ---------------------------------------------------------------------------

def _fh_numpy(t, e, g, rho):
    """Textbook FH G(rho) replay: pooled KM S(t-) weights."""
    t, e, g = np.asarray(t), np.asarray(e), np.asarray(g)
    times = np.sort(np.unique(t))
    s_prev, num, den = 1.0, 0.0, 0.0
    for tt in times:
        at = t == tt
        n_t = int((t >= tt).sum())
        na = int(((t >= tt) & (g == "a")).sum())
        nb = n_t - na
        d_t = int(e[at].sum())
        da = int(e[at & (g == "a")].sum())
        if d_t > 0:
            w = s_prev**rho if (s_prev > 0 or rho == 0) else 0.0
            ea = d_t * na / n_t
            v = (
                d_t * (na / n_t) * (nb / n_t) * (n_t - d_t) / (n_t - 1)
                if n_t > 1
                else 0.0
            )
            num += w * (da - ea)
            den += w * w * v
            s_prev *= 1.0 - d_t / n_t
    return num * num / den


def _surv_fixture(n=400, seed=31):
    rng = np.random.RandomState(seed)
    g = np.where(rng.uniform(size=n) < 0.5, "a", "b")
    # arm a has better EARLY survival; curves converge late
    base = rng.exponential(30, n)
    t = np.where(g == "a", base + rng.exponential(10, n), base)
    t = np.ceil(t).astype(int) + 1
    e = (rng.uniform(size=n) < 0.8).astype(int)
    return t, e, g


def test_fh_matches_numpy_and_rho0_is_logrank(spark):
    from econdatapipeline_spark.operators.survival import (
        fleming_harrington,
        log_rank,
    )

    t, e, g = _surv_fixture()
    df = spark.createDataFrame(
        [(int(a), int(b), str(c)) for a, b, c in zip(t, e, g)],
        "duration int, event int, grp string",
    )
    for rho in (0.0, 1.0):
        row = fleming_harrington(
            df, "grp", "a", "b", rho=rho
        ).collect()[0]
        ref = _fh_numpy(t, e, g, rho)
        assert row["chi2"] == pytest.approx(ref, abs=1e-4), rho
        assert row["rho"] == rho
        assert row["n_a"] == int((g == "a").sum())
    # rho = 0 reproduces the log-rank statistic exactly
    fh0 = fleming_harrington(df, "grp", "a", "b", rho=0.0).collect()[0]
    lr = log_rank(df, "grp", "a", "b").collect()[0]
    assert fh0["chi2"] == lr["chi2"]


# ---------------------------------------------------------------------------
# mde_report
# ---------------------------------------------------------------------------

def test_mde_report_matches_numpy(spark):
    from statistics import NormalDist

    from econdatapipeline_spark.operators.evaluation import mde_report

    rng = np.random.RandomState(77)
    yc = np.round(rng.normal(10, 2, 400), 3)
    yt = np.round(rng.normal(10.1, 2, 500), 3)
    rows = [("c", float(v)) for v in yc] + [("t", float(v)) for v in yt]
    df = spark.createDataFrame(rows, "variant string, y double")
    row = mde_report(df, "variant", "y", "c", "t").collect()[0]
    nt, nc = len(yt), len(yc)
    s2 = (
        ((yt - yt.mean()) ** 2).sum() + ((yc - yc.mean()) ** 2).sum()
    ) / (nt + nc - 2)
    se = np.sqrt(s2 * (1 / nt + 1 / nc))
    z = NormalDist().inv_cdf(0.975) + NormalDist().inv_cdf(0.8)
    assert row["n_treat"] == nt and row["n_ctrl"] == nc
    assert row["mean_ctrl"] == pytest.approx(yc.mean(), abs=1e-5)
    assert row["se_diff"] == pytest.approx(se, abs=1e-5)
    assert row["mde_abs"] == pytest.approx(z * se, abs=1e-5)
    assert row["mde_rel"] == pytest.approx(z * se / yc.mean(), abs=1e-6)
    # sanity: this experiment cannot detect a 1% effect
    assert row["mde_rel"] > 0.01


def test_mde_report_degenerate(spark):
    from econdatapipeline_spark.operators.evaluation import mde_report

    df = spark.createDataFrame(
        [("c", 1.0), ("t", 2.0)], "variant string, y double"
    )
    row = mde_report(df, "variant", "y", "c", "t").collect()[0]
    assert row["mde_abs"] is None and row["n_treat"] == 1


# ---------------------------------------------------------------------------
# vif
# ---------------------------------------------------------------------------

def test_vif_matches_numpy(spark):
    from econdatapipeline_spark.operators.glm import vif

    rng = np.random.RandomState(5)
    n = 500
    x1 = np.round(rng.normal(0, 1, n), 3)
    x2 = np.round(0.8 * x1 + 0.6 * rng.normal(0, 1, n), 3)
    x3 = np.round(rng.normal(0, 1, n), 3)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, x3)],
        "x1 double, x2 double, x3 double",
    )
    out = {
        r["param"]: r for r in vif(df, ["x1", "x2", "x3"]).collect()
    }
    X = np.column_stack([x1, x2, x3])
    R = np.corrcoef(X, rowvar=False)
    expected = np.diag(np.linalg.inv(R))
    for j, c in enumerate(["x1", "x2", "x3"]):
        assert out[c]["vif"] == pytest.approx(expected[j], abs=1e-4)
        assert out[c]["r_squared"] == pytest.approx(
            1 - 1 / expected[j], abs=1e-4
        )
    # correlated pair inflated, independent covariate near 1
    assert out["x1"]["vif"] > 1.5 and out["x2"]["vif"] > 1.5
    assert out["x3"]["vif"] < 1.1


def test_vif_collinear_nulls(spark):
    from econdatapipeline_spark.operators.glm import vif

    x = [float(i) for i in range(50)]
    df = spark.createDataFrame(
        [(a, 2.0 * a) for a in x], "x1 double, x2 double"
    )
    rows = vif(df, ["x1", "x2"]).collect()
    assert all(r["vif"] is None for r in rows)


# ---------------------------------------------------------------------------
# roc_auc_ci
# ---------------------------------------------------------------------------

def _delong_numpy(y, s):
    """Textbook per-observation DeLong replay (midrank placements)."""
    y, s = np.asarray(y), np.asarray(s, dtype=float)
    pos, neg = s[y == 1], s[y == 0]
    P, N = len(pos), len(neg)
    v10 = np.array(
        [((neg < x).sum() + 0.5 * (neg == x).sum()) / N for x in pos]
    )
    v01 = np.array(
        [((pos > x).sum() + 0.5 * (pos == x).sum()) / P for x in neg]
    )
    auc = v10.mean()
    s10 = ((v10 - auc) ** 2).sum() / (P - 1)
    s01 = ((v01 - auc) ** 2).sum() / (N - 1)
    return auc, np.sqrt(s10 / P + s01 / N)


def test_roc_auc_ci_matches_delong(spark):
    from econdatapipeline_spark.operators.evaluation import (
        roc_auc,
        roc_auc_ci,
    )

    rng = np.random.RandomState(13)
    n = 600
    y = (rng.uniform(size=n) < 0.4).astype(int)
    # discrete scores -> real ties exercise the midrank path
    s = np.round(rng.normal(0, 1, n) + 1.2 * y, 1)
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, s)],
        "label int, score double",
    )
    row = roc_auc_ci(df, "label", "score").collect()[0]
    auc, se = _delong_numpy(y, s)
    assert row["auc"] == pytest.approx(auc, abs=1e-5)
    assert row["se"] == pytest.approx(se, abs=1e-5)
    assert row["ci_lo"] == pytest.approx(
        max(0.0, auc - 1.9599639845400536 * se), abs=1e-5
    )
    assert row["ci_hi"] == pytest.approx(
        min(1.0, auc + 1.9599639845400536 * se), abs=1e-5
    )
    assert row["n_pos"] == int(y.sum())
    # point estimate agrees with the certified roc_auc
    assert roc_auc(df, "label", "score").collect()[0]["auc"] == row["auc"]


def test_roc_auc_ci_degenerate(spark):
    from econdatapipeline_spark.operators.evaluation import roc_auc_ci

    df = spark.createDataFrame(
        [(1, 0.9), (0, 0.1), (0, 0.2)], "label int, score double"
    )
    row = roc_auc_ci(df, "label", "score").collect()[0]
    assert row["se"] is None and row["auc"] == 1.0


# ---------------------------------------------------------------------------
# jarque_bera / chow_test / breusch_pagan / durbin_watson
# ---------------------------------------------------------------------------

def test_jarque_bera_separates_normal_from_skewed(spark):
    from econdatapipeline_spark.operators.stats import jarque_bera

    rng = np.random.RandomState(8)
    n = 2000
    normal = np.round(rng.normal(0, 1, n), 3)
    skewed = np.round(rng.exponential(1, n), 3)
    rows = [("norm", float(v)) for v in normal] + [
        ("skew", float(v)) for v in skewed
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r for r in jarque_bera(df, "v", "g").collect()
    }

    def jb_ref(x):
        m = x.mean()
        m2 = ((x - m) ** 2).mean()
        m3 = ((x - m) ** 3).mean()
        m4 = ((x - m) ** 4).mean()
        s, k = m3 / m2**1.5, m4 / m2**2 - 3
        return s, k, len(x) / 6 * (s * s + k * k / 4)

    for g, x in (("norm", normal), ("skew", skewed)):
        s, k, jb = jb_ref(x)
        assert out[g]["skewness"] == pytest.approx(s, abs=1e-4)
        assert out[g]["kurtosis_excess"] == pytest.approx(k, abs=1e-4)
        assert out[g]["jb_stat"] == pytest.approx(jb, rel=1e-4)
    assert not out["norm"]["reject_5pct"]
    assert out["skew"]["reject_5pct"]


def test_chow_detects_break(spark):
    from econdatapipeline_spark.operators.timeseries import chow_test

    rng = np.random.RandomState(17)
    n = 200
    x = np.round(rng.uniform(0, 10, 2 * n), 3)
    # slope doubles in regime 1
    y0 = np.round(1 + 2 * x[:n] + rng.normal(0, 0.5, n), 3)
    y1 = np.round(1 + 4 * x[n:] + rng.normal(0, 0.5, n), 3)
    rows = [(0, float(a), float(b)) for a, b in zip(x[:n], y0)] + [
        (1, float(a), float(b)) for a, b in zip(x[n:], y1)
    ]
    df = spark.createDataFrame(rows, "rg int, x double, y double")
    row = chow_test(df, "y", "x", "rg").collect()[0]
    assert row["f_stat"] is not None and row["f_stat"] > 100
    assert row["df2"] == 2 * n - 4
    # no break -> small F
    rows2 = [(int(i >= n), float(a), float(b))
             for i, (a, b) in enumerate(zip(x, np.round(1 + 2 * x + rng.normal(0, 0.5, 2 * n), 3)))]
    df2 = spark.createDataFrame(rows2, "rg int, x double, y double")
    row2 = chow_test(df2, "y", "x", "rg").collect()[0]
    assert row2["f_stat"] < 5


def test_breusch_pagan_detects_fan(spark):
    from econdatapipeline_spark.operators.timeseries import breusch_pagan

    rng = np.random.RandomState(29)
    n = 1000
    x = np.round(rng.uniform(1, 10, n), 3)
    homo = np.round(2 + 3 * x + rng.normal(0, 1, n), 3)
    hetero = np.round(2 + 3 * x + x * rng.normal(0, 1, n), 3)
    rows = [("homo", float(a), float(b)) for a, b in zip(x, homo)] + [
        ("fan", float(a), float(b)) for a, b in zip(x, hetero)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = {
        r["g"]: r
        for r in breusch_pagan(df, "y", "x", "g").collect()
    }
    assert not out["homo"]["reject_5pct"]
    assert out["fan"]["reject_5pct"]
    assert out["fan"]["lm_stat"] > out["homo"]["lm_stat"]


def test_durbin_watson_detects_ar1(spark):
    from econdatapipeline_spark.operators.timeseries import durbin_watson

    rng = np.random.RandomState(41)
    n = 500
    x = np.arange(n, dtype=float) / 100.0
    # independent residuals -> DW ~ 2
    e_ind = rng.normal(0, 1, n)
    # AR(1) residuals, rho = 0.8 -> DW ~ 0.4
    e_ar = np.zeros(n)
    for i in range(1, n):
        e_ar[i] = 0.8 * e_ar[i - 1] + rng.normal(0, 0.6)
    rows = []
    for g, e in (("ind", e_ind), ("ar", e_ar)):
        y = np.round(1 + 0.5 * x + e, 3)
        rows += [
            (g, int(i), float(a), float(b))
            for i, (a, b) in enumerate(zip(x, y))
        ]
    df = spark.createDataFrame(rows, "g string, t int, x double, y double")
    out = {
        r["g"]: r
        for r in durbin_watson(df, "y", "x", "t", "g").collect()
    }
    assert 1.7 < out["ind"]["dw_stat"] < 2.3
    assert out["ar"]["dw_stat"] < 1.0
    assert out["ar"]["rho_approx"] > 0.5


# ---------------------------------------------------------------------------
# synthetic_control
# ---------------------------------------------------------------------------

def _fw_numpy(A, b, iters):
    """Line-search Frank-Wolfe replay: e_1 start, first-minimal-index
    tie-break, closed-form clamped step — the operator's schedule."""
    J = A.shape[1]
    H, c = A.T @ A, A.T @ b
    w = np.zeros(J)
    w[0] = 1.0
    for _ in range(iters):
        hw = H @ w
        g = hw - c
        j = int(np.argmin(g))  # numpy argmin = first minimal index
        num = float(g @ w) - g[j]
        den = H[j, j] - 2 * hw[j] + float(w @ hw)
        gamma = 0.0 if den <= 0 else min(1.0, max(0.0, num / den))
        w = (1 - gamma) * w + gamma * np.eye(J)[j]
    return w


def test_synthetic_control_recovers_known_mixture(spark):
    """Treated unit built as 0.6*d1 + 0.4*d2 (+0 of d3) pre-period;
    a level shift of +5 lands post. Weights approach the true
    mixture and att approaches the shift."""
    from econdatapipeline_spark.operators.synth import synthetic_control

    rng = np.random.RandomState(3)
    T = 60
    d1 = np.round(10 + np.sin(np.arange(T) / 5) * 3 + rng.normal(0, 0.1, T), 3)
    d2 = np.round(20 + np.cos(np.arange(T) / 7) * 2 + rng.normal(0, 0.1, T), 3)
    d3 = np.round(5 + rng.normal(0, 0.1, T), 3)
    y = np.round(0.6 * d1 + 0.4 * d2, 3)
    y[40:] += 5.0  # treatment at t = 40
    rows = []
    for t in range(T):
        rows += [
            ("treated", t, float(y[t])),
            ("d1", t, float(d1[t])),
            ("d2", t, float(d2[t])),
            ("d3", t, float(d3[t])),
        ]
    df = spark.createDataFrame(rows, "unit string, t int, v double")
    out = {
        r["param"]: r["value"]
        for r in synthetic_control(
            df, "unit", "t", "v", "treated", ["d1", "d2", "d3"],
            pre_end=39, iters=12,
        ).collect()
    }
    assert out["n_pre"] == 40 and out["n_post"] == 20
    assert abs(out["w_d1"] - 0.6) < 0.1
    assert abs(out["w_d2"] - 0.4) < 0.1
    assert out["w_d3"] < 0.1
    assert abs(out["att"] - 5.0) < 0.5
    assert out["pre_rmspe"] < 0.5
    assert out["post_rmspe"] > 4.0
    # weights are a convex combination
    s = out["w_d1"] + out["w_d2"] + out["w_d3"]
    assert abs(s - 1.0) < 1e-6
    # matches the numpy Frank-Wolfe replay of the same schedule
    A = np.column_stack([d1[:40], d2[:40], d3[:40]])
    w_ref = _fw_numpy(A, y[:40], 12)
    assert abs(out["w_d1"] - w_ref[0]) < 1e-4
    assert abs(out["w_d2"] - w_ref[1]) < 1e-4
    assert abs(out["w_d3"] - w_ref[2]) < 1e-4


# ---------------------------------------------------------------------------
# atkinson_index / event_study
# ---------------------------------------------------------------------------

def test_atkinson_matches_numpy_and_orders_inequality(spark):
    from econdatapipeline_spark.operators.stats import atkinson_index

    rng = np.random.RandomState(10)
    equal = np.full(500, 10.0)
    unequal = np.round(rng.lognormal(2, 1, 500), 3)
    rows = [("eq", float(v)) for v in equal] + [
        ("uneq", float(v)) for v in unequal
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {
        r["g"]: r
        for r in atkinson_index(df, "v", 0.5, "g").collect()
    }

    def atk_ref(x, eps=0.5):
        mu = x.mean()
        return 1 - (np.mean(x ** (1 - eps))) ** (1 / (1 - eps)) / mu

    assert out["eq"]["atkinson"] == pytest.approx(0.0, abs=1e-6)
    assert out["uneq"]["atkinson"] == pytest.approx(
        atk_ref(unequal), abs=1e-5
    )
    assert 0 < out["uneq"]["atkinson"] < 1


def test_event_study_flat_pre_and_effect_post(spark):
    from econdatapipeline_spark.operators.evaluation import event_study

    rng = np.random.RandomState(55)
    rows = []
    for r in range(-4, 5):
        eff = 3.0 if r >= 0 else 0.0
        for _ in range(150):
            rows.append((r, 1, float(np.round(10 + eff + rng.normal(0, 1), 3))))
            rows.append((r, 0, float(np.round(10 + rng.normal(0, 1), 3))))
    df = spark.createDataFrame(rows, "r int, tr int, y double")
    out = {
        row["rel_period"]: row
        for row in event_study(df, "tr", "r", "y").collect()
    }
    # base period coef is exactly 0
    assert out[-1]["coef"] == 0.0
    # pre-period coefs are statistically flat
    for r in (-4, -3, -2):
        assert abs(out[r]["coef"]) < 3 * out[r]["se_diff"] + 0.2
    # post-period coefs near the true +3
    for r in (0, 1, 2, 3, 4):
        assert abs(out[r]["coef"] - 3.0) < 0.5
    assert out[0]["n_treat"] == 150 and out[0]["n_ctrl"] == 150


# ---------------------------------------------------------------------------
# oracle literal exactness (the ORACLE_PARITY "never inject a
# full-precision double" rule: these ARE injected, so pin that each
# one parses bit-exact through DuckDB's decimal literal path)
# ---------------------------------------------------------------------------

def test_injected_oracle_literals_parse_exact_in_duckdb():
    import struct

    import duckdb

    literals = {
        # mde_report / roc_auc_ci z quantiles (stdlib NormalDist)
        "1.9599639845400536": 1.9599639845400536,
        "2.801585218112968": 2.801585218112968,
        # kpss Bartlett weight 1 - 4/5 (NOT 0.2 in IEEE)
        "0.19999999999999996": 0.19999999999999996,
    }
    con = duckdb.connect()
    for txt, py in literals.items():
        d = con.execute(f"SELECT CAST({txt} AS DOUBLE)").fetchone()[0]
        assert struct.pack("<d", d) == struct.pack("<d", py), txt


# ---------------------------------------------------------------------------
# cox_ph_check
# ---------------------------------------------------------------------------

def _coxfit_numpy(t, e, x, rounds=4):
    """Breslow binary-covariate Cox Newton (cox_ph's schedule,
    unquantized) + the one-step GT score test with g = t/1000."""
    t, e, x = np.asarray(t), np.asarray(e), np.asarray(x)
    times = np.sort(np.unique(t[e == 1]))
    beta = 0.0
    for _ in range(rounds):
        eb = np.exp(beta)
        u = i = 0.0
        for tt in times:
            at = (t == tt) & (e == 1)
            d = at.sum()
            sx = x[at].sum()
            r1 = int(x[t >= tt].sum())
            r0 = int((t >= tt).sum()) - r1
            p = eb * r1 / (r0 + eb * r1)
            u += sx - d * p
            i += d * p * (1 - p)
        beta += u / i
    eb = np.exp(beta)
    sd = sdg = sr = sgr = sv = sgv = sggv = 0.0
    for tt in times:
        at = (t == tt) & (e == 1)
        d = at.sum()
        sx = x[at].sum()
        r1 = int(x[t >= tt].sum())
        r0 = int((t >= tt).sum()) - r1
        p = eb * r1 / (r0 + eb * r1)
        g = tt / 1000.0
        r = sx - d * p
        v = d * p * (1 - p)
        sd += d; sdg += d * g; sr += r; sgr += g * r
        sv += v; sgv += g * v; sggv += g * g * v
    gbar = sdg / sd
    num = sgr - gbar * sr
    den = sggv - 2 * gbar * sgv + gbar * gbar * sv
    return beta, num * num / den


def test_cox_ph_check_matches_numpy_and_detects_drift(spark):
    from econdatapipeline_spark.operators.survival import cox_ph_check

    rng = np.random.RandomState(61)
    n = 600
    # proportional arm: constant hazard ratio
    x = (rng.uniform(size=n) < 0.5).astype(int)
    t_prop = np.ceil(rng.exponential(np.where(x == 1, 20, 30))).astype(int) + 1
    e = (rng.uniform(size=n) < 0.85).astype(int)
    df_prop = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(t_prop, e, x)],
        "duration int, event int, x int",
    )
    row = cox_ph_check(df_prop, "duration", "event", "x").collect()[0]
    beta_ref, chi2_ref = _coxfit_numpy(t_prop, e, x)
    assert row["beta"] == pytest.approx(beta_ref, abs=1e-4)
    assert row["chi2_ph"] == pytest.approx(chi2_ref, abs=1e-2)
    assert not row["reject_5pct"]
    # drifting arm: effect reverses over time -> PH violated
    early = rng.exponential(np.where(x == 1, 8, 30))
    late = rng.exponential(np.where(x == 1, 60, 30))
    t_drift = np.ceil(np.where(early < 15, early, 15 + late)).astype(int) + 1
    df_drift = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(t_drift, e, x)],
        "duration int, event int, x int",
    )
    row2 = cox_ph_check(df_drift, "duration", "event", "x").collect()[0]
    assert row2["reject_5pct"]
    assert row2["chi2_ph"] > row["chi2_ph"]


def test_cox_ph_check_degenerate(spark):
    from econdatapipeline_spark.operators.survival import cox_ph_check

    df = spark.createDataFrame(
        [(5, 1, 1), (7, 1, 1), (9, 0, 1)], "duration int, event int, x int"
    )
    row = cox_ph_check(df, "duration", "event", "x").collect()[0]
    assert row["chi2_ph"] is None and row["beta"] is None


def test_cox_ph_check_rejects_nonbinary_covariate(spark):
    """A covariate outside {0, 1} raises as in cox_ph instead of
    fitting a made-up binary contrast."""
    from econdatapipeline_spark.operators.survival import cox_ph_check

    df = spark.createDataFrame(
        [(5, 1, 0), (7, 1, 1), (9, 0, 2), (11, 1, 0)],
        "duration int, event int, x int",
    )
    with pytest.raises(Exception, match="binary"):
        cox_ph_check(df, "duration", "event", "x").collect()


# ---------------------------------------------------------------------------
# levene_test / cochran_armitage / partial_corr
# ---------------------------------------------------------------------------

def test_levene_detects_unequal_variances(spark):
    from econdatapipeline_spark.operators.stats import levene_test

    rng = np.random.RandomState(71)
    rows = (
        [("a", float(v)) for v in np.round(rng.normal(0, 1, 400), 3)]
        + [("b", float(v)) for v in np.round(rng.normal(0, 1, 400), 3)]
        + [("c", float(v)) for v in np.round(rng.normal(0, 4, 400), 3)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    row = levene_test(df, "v", "g").collect()[0]
    assert row["k"] == 3 and row["n"] == 1200
    assert row["f_stat"] > 50  # c's variance is 16x a/b
    # equal-variance groups -> small F
    rows2 = [
        (g, float(v))
        for g in ("a", "b", "c")
        for v in np.round(rng.normal(0, 1, 400), 3)
    ]
    row2 = levene_test(
        spark.createDataFrame(rows2, "g string, v double"), "v", "g"
    ).collect()[0]
    assert row2["f_stat"] < 5


def test_cochran_armitage_matches_closed_form(spark):
    from econdatapipeline_spark.operators.stats import cochran_armitage

    # dose-response: success rate rises with dose
    cfg = [(0.0, 200, 20), (1.0, 200, 35), (2.0, 200, 52), (3.0, 200, 70)]
    rows = []
    for t, n, r in cfg:
        rows += [(float(t), 1)] * r + [(float(t), 0)] * (n - r)
    df = spark.createDataFrame(rows, "dose double, y int")
    row = cochran_armitage(df, "dose", "y").collect()[0]
    N = sum(n for _, n, _ in cfg)
    R = sum(r for _, _, r in cfg)
    pbar = R / N
    num = sum(t * r for t, _, r in cfg) - pbar * sum(
        t * n for t, n, _ in cfg
    )
    stn = sum(t * n for t, n, _ in cfg)
    den = pbar * (1 - pbar) * (
        sum(t * t * n for t, n, _ in cfg) - stn * stn / N
    )
    assert row["chi2_trend"] == pytest.approx(num * num / den, abs=1e-4)
    assert row["reject_5pct"]
    # shuffled (non-monotone) rates -> much weaker trend
    cfg2 = [(0.0, 200, 52), (1.0, 200, 20), (2.0, 200, 70), (3.0, 200, 35)]
    rows2 = []
    for t, n, r in cfg2:
        rows2 += [(float(t), 1)] * r + [(float(t), 0)] * (n - r)
    row2 = cochran_armitage(
        spark.createDataFrame(rows2, "dose double, y int"), "dose", "y"
    ).collect()[0]
    assert row2["chi2_trend"] < row["chi2_trend"] / 3


def test_partial_corr_unmasks_common_driver(spark):
    from econdatapipeline_spark.operators.glm import partial_corr

    rng = np.random.RandomState(83)
    n = 800
    z = rng.normal(0, 1, n)
    x1 = np.round(z + 0.4 * rng.normal(0, 1, n), 3)
    x2 = np.round(z + 0.4 * rng.normal(0, 1, n), 3)  # common driver z
    x3 = np.round(z, 3)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x1, x2, x3)],
        "x1 double, x2 double, x3 double",
    )
    out = {
        (r["var1"], r["var2"]): r
        for r in partial_corr(df, ["x1", "x2", "x3"]).collect()
    }
    X = np.column_stack([x1, x2, x3])
    R = np.corrcoef(X, rowvar=False)
    inv = np.linalg.inv(R)
    for (j, k), key in [((0, 1), ("x1", "x2")), ((0, 2), ("x1", "x3")),
                        ((1, 2), ("x2", "x3"))]:
        ref = -inv[j, k] / np.sqrt(inv[j, j] * inv[k, k])
        assert out[key]["partial_corr"] == pytest.approx(ref, abs=1e-4)
        assert out[key]["corr"] == pytest.approx(R[j, k], abs=1e-4)
    # x1-x2 marginal corr is high, but controlling for z kills it
    assert out[("x1", "x2")]["corr"] > 0.7
    assert abs(out[("x1", "x2")]["partial_corr"]) < 0.2


# ---------------------------------------------------------------------------
# hurst_exponent
# ---------------------------------------------------------------------------

def test_hurst_separates_noise_persistence_reversion(spark):
    from econdatapipeline_spark.operators.timeseries import (
        hurst_exponent,
    )

    rng = np.random.RandomState(91)
    n = 4096
    noise = np.round(rng.normal(0, 1, n), 4)
    # persistent increments: long moving-average of noise (H > 0.5)
    base = rng.normal(0, 1, n + 64)
    persistent = np.round(
        np.convolve(base, np.ones(64) / 64, mode="valid")[:n], 5
    )
    # anti-persistent: strong negative lag-1 dependence (H < 0.5)
    anti = np.round(np.diff(rng.normal(0, 1, n + 1)), 4)
    rows = []
    for g, series in (("noise", noise), ("pers", persistent), ("anti", anti)):
        rows += [
            (g, int(i), float(v)) for i, v in enumerate(series)
        ]
    df = spark.createDataFrame(rows, "dataset string, t int, value double")
    out = {
        r["dataset"]: r
        for r in hurst_exponent(df, "value", "t", "dataset").collect()
    }
    assert 0.4 < out["noise"]["hurst"] < 0.6
    assert out["pers"]["hurst"] > 0.75
    assert out["anti"]["hurst"] < 0.4
    assert out["noise"]["levels_used"] >= 5
    assert out["noise"]["n"] == n


def test_hurst_short_series_nulls(spark):
    from econdatapipeline_spark.operators.timeseries import (
        hurst_exponent,
    )

    df = spark.createDataFrame(
        [("s", i, float(i % 2)) for i in range(3)],
        "dataset string, t int, value double",
    )
    row = hurst_exponent(df, "value", "t", "dataset").collect()[0]
    assert row["hurst"] is None


def test_event_study_missing_base_yields_null_coefs(spark):
    from econdatapipeline_spark.operators.evaluation import event_study

    rows = [(r, tr, 1.0) for r in (0, 1) for tr in (0, 1) for _ in range(3)]
    df = spark.createDataFrame(rows, "r int, tr int, y double")
    out = event_study(df, "tr", "r", "y", base_period=-1).collect()
    assert len(out) == 2  # rows survive
    assert all(r["coef"] is None for r in out)
    assert all(r["diff"] is not None for r in out)


# ---------------------------------------------------------------------------
# huber_regression
# ---------------------------------------------------------------------------

def _huber_numpy(y, x, delta=1.345, rounds=3):
    """Replay of the operator's IRLS schedule (OLS seed, MAD scale,
    clipped weights, weighted refit), unquantized."""
    y, x = np.asarray(y, float), np.asarray(x, float)
    n = len(y)
    cxx = (x * x).sum() - x.sum() ** 2 / n
    cxy = (x * y).sum() - x.sum() * y.sum() / n
    b = cxy / cxx
    a = y.mean() - b * x.mean()
    for _ in range(rounds):
        e = y - a - b * x
        s = np.median(np.abs(e)) * 1.4826
        w = np.where(
            (s > 0) & (np.abs(e) > delta * s),
            delta * s / np.abs(e),
            1.0,
        )
        sw, swx, swy = w.sum(), (w * x).sum(), (w * y).sum()
        swxx, swxy = (w * x * x).sum(), (w * x * y).sum()
        cwxx = swxx - swx * swx / sw
        cwxy = swxy - swx * swy / sw
        b = cwxy / cwxx
        a = swy / sw - b * swx / sw
    return a, b, s


def test_huber_resists_outliers(spark):
    from econdatapipeline_spark.operators.timeseries import (
        huber_regression,
    )

    rng = np.random.RandomState(47)
    n = 400
    x = np.round(rng.uniform(0, 10, n), 3)
    y = np.round(2.0 + 1.5 * x + rng.normal(0, 0.5, n), 3)
    y[:8] += 200.0  # gross outliers
    df = spark.createDataFrame(
        [("s", float(a), float(b)) for a, b in zip(x, y)],
        "g string, x double, y double",
    )
    row = huber_regression(df, "y", "x", "g").collect()[0]
    a_ref, b_ref, s_ref = _huber_numpy(y, x)
    assert row["slope"] == pytest.approx(b_ref, abs=1e-4)
    assert row["intercept"] == pytest.approx(a_ref, abs=1e-4)
    assert row["scale_mad"] == pytest.approx(s_ref, abs=1e-4)
    assert row["n_downweighted"] >= 8
    # huber lands near the true slope where OLS is dragged away
    assert abs(row["slope"] - 1.5) < 0.1


# ---------------------------------------------------------------------------
# rake_weights
# ---------------------------------------------------------------------------

def test_rake_weights_hits_both_margins(spark):
    from econdatapipeline_spark.operators.sampling import rake_weights

    rng = np.random.RandomState(53)
    d1s = ["a", "b", "c"]
    d2s = ["x", "y"]
    rows = [
        (d1s[i % 3] if r < 0.7 else d1s[0], d2s[i % 2])
        for i, r in enumerate(rng.uniform(size=3000))
    ]
    df = spark.createDataFrame(rows, "d1 string, d2 string")
    t1 = {"a": 0.5, "b": 0.3, "c": 0.2}
    t2 = {"x": 0.6, "y": 0.4}
    out = rake_weights(df, "d1", "d2", t1, t2, rounds=10).collect()
    n_tot = sum(r["n"] for r in out)
    # raked totals reproduce both target margins
    for k, share in t1.items():
        got = sum(r["raked_total"] for r in out if r["dim1"] == k)
        assert got == pytest.approx(share * n_tot, rel=1e-4), k
    for k, share in t2.items():
        got = sum(r["raked_total"] for r in out if r["dim2"] == k)
        assert got == pytest.approx(share * n_tot, rel=1e-4), k
    # total mass preserved, weights positive
    assert sum(r["raked_total"] for r in out) == pytest.approx(
        n_tot, rel=1e-6
    )
    assert all(r["unit_weight"] > 0 for r in out)
    # matches a numpy IPF replay of the same schedule
    import itertools

    cells = {
        (a, b): sum(1 for r in rows if r == (a, b))
        for a, b in itertools.product(d1s, d2s)
    }
    m = {k: float(v) for k, v in cells.items()}
    for _ in range(10):
        for a in d1s:
            rm = sum(m[(a, b)] for b in d2s)
            for b in d2s:
                m[(a, b)] *= t1[a] * n_tot / rm
        for b in d2s:
            cm = sum(m[(a, b)] for a in d1s)
            for a in d1s:
                m[(a, b)] *= t2[b] * n_tot / cm
    for r in out:
        assert r["raked_total"] == pytest.approx(
            m[(r["dim1"], r["dim2"])], rel=1e-5
        )
