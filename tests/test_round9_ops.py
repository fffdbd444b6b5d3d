"""Round-9 operator tests: multivariate IPW (+ overlap/trim),
Mann-Kendall time-tie determinism, exact-microsecond sessionize.

Covers VERDICT r8 next-round items #1/#7 and the four r8 ADVICE
fixes, in the established twin-test style: a pure-python/numpy replay
of the same bounded-round fit, plus never-fabricate and determinism
probes.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ipw_ate_multi
# ---------------------------------------------------------------------------

def _ipw_numpy(tr, y, X, rounds=4):
    """Unquantized numpy IRLS + Hájek replica (intercept prepended)."""
    Xd = np.column_stack([np.ones(len(tr))] + [np.asarray(c) for c in X])
    b = np.zeros(Xd.shape[1])
    for _ in range(rounds):
        mu = 1.0 / (1.0 + np.exp(-(Xd @ b)))
        g = Xd.T @ (tr - mu)
        h = (Xd * (mu * (1 - mu))[:, None]).T @ Xd
        b = b + np.linalg.solve(h, g)
    mu = 1.0 / (1.0 + np.exp(-(Xd @ b)))
    t, c = tr == 1, tr == 0
    m1 = np.sum(y[t] / mu[t]) / np.sum(1.0 / mu[t])
    m0 = np.sum(y[c] / (1 - mu[c])) / np.sum(1.0 / (1 - mu[c]))
    return m1 - m0, m1, m0, mu


def _ipw_fixture(n=800, seed=11):
    rng = np.random.RandomState(seed)
    x1 = np.round(rng.normal(0, 1, n), 3)
    x2 = np.round(rng.normal(0, 1, n), 3)
    pr = 1.0 / (1.0 + np.exp(-(0.4 + 0.9 * x1 - 0.6 * x2)))
    tr = (rng.uniform(size=n) < pr).astype(int)
    y = np.round(
        2.0 + 1.5 * tr + 0.8 * x1 + 0.3 * x2 + rng.normal(0, 1, n), 3
    )
    return tr, y, x1, x2


def test_ipw_multi_matches_numpy_reference(spark):
    """The p=2 decimal-quantized Spark fit agrees with an unquantized
    numpy IRLS+Hájek replay to well under the rounding grain, and the
    overlap report brackets every fitted propensity."""
    from econdatapipeline_spark.operators.evaluation import ipw_ate_multi

    tr, y, x1, x2 = _ipw_fixture()
    df = spark.createDataFrame(
        [
            (int(t), float(a), float(b), float(c))
            for t, a, b, c in zip(tr, y, x1, x2)
        ],
        "treat int, y double, x1 double, x2 double",
    )
    row = ipw_ate_multi(df, "treat", "y", ["x1", "x2"]).collect()[0]
    ate, m1, m0, mu = _ipw_numpy(tr, y, [x1, x2])
    assert row["n"] == len(tr) and row["n_treated"] == int(tr.sum())
    assert row["ate"] == pytest.approx(ate, abs=2e-5)
    assert row["mu_treated"] == pytest.approx(m1, abs=2e-5)
    assert row["mu_control"] == pytest.approx(m0, abs=2e-5)
    assert row["n_excluded"] == 0
    # overlap report brackets the fitted propensities per arm
    assert row["e_min_treated"] <= mu[tr == 1].min() + 1e-5
    assert row["e_max_treated"] >= mu[tr == 1].max() - 1e-5
    assert row["e_min_control"] <= mu[tr == 0].min() + 1e-5
    assert row["e_max_control"] >= mu[tr == 0].max() - 1e-5
    # the 2-confounder fit moves the estimate off the naive difference
    naive = y[tr == 1].mean() - y[tr == 0].mean()
    assert abs(row["ate"] - 1.5) < abs(naive - 1.5)


def test_ipw_multi_p1_reduces_to_ipw_ate(spark):
    """With one covariate the generalized fit reproduces ipw_ate's
    certified estimates exactly (same quantization discipline), so the
    existing contract hashes are untouched by construction."""
    from econdatapipeline_spark.operators.evaluation import (
        ipw_ate,
        ipw_ate_multi,
    )

    tr, y, x1, _ = _ipw_fixture(n=500, seed=3)
    df = spark.createDataFrame(
        [(int(t), float(a), float(b)) for t, a, b in zip(tr, y, x1)],
        "treat int, y double, x1 double",
    )
    old = ipw_ate(df, "treat", "y", "x1").collect()[0]
    new = ipw_ate_multi(df, "treat", "y", ["x1"]).collect()[0]
    assert new["ate"] == old["ate"]
    assert new["mu_treated"] == old["mu_treated"]
    assert new["mu_control"] == old["mu_control"]


def test_ipw_multi_near_separation_nulls_then_trim_recovers(spark):
    """A covariate that nearly separates treatment saturates fitted
    propensities to exactly 0/1 under decimal(18,9) quantization: the
    untrimmed estimator NULLs (never-fabricate) while the overlap
    report still shows the saturation; trim_eps excludes the
    off-support subjects, counts them, and returns an estimate."""
    from econdatapipeline_spark.operators.evaluation import ipw_ate_multi

    rng = np.random.RandomState(5)
    n = 300
    # well-overlapped confounded base ...
    x = np.round(rng.normal(0, 1, n), 3)
    pr = 1.0 / (1.0 + np.exp(-(0.2 + 1.0 * x)))
    tr = (rng.uniform(size=n) < pr).astype(int)
    # ... plus off-support outliers whose fitted eta is so large that
    # mu quantizes to exactly 1.0 / 0.0 at the decimal(18,9) grain
    x = np.concatenate([x, [80.0, 85.0, 90.0, -80.0, -85.0, -90.0]])
    tr = np.concatenate([tr, [1, 1, 1, 0, 0, 0]])
    y = np.round(1.0 + 2.0 * tr + 0.01 * x + rng.normal(0, 0.1, n + 6), 3)
    df = spark.createDataFrame(
        [(int(t), float(a), float(b)) for t, a, b in zip(tr, y, x)],
        "treat int, y double, x double",
    )
    strict = ipw_ate_multi(df, "treat", "y", ["x"]).collect()[0]
    assert strict["ate"] is None and strict["mu_treated"] is None
    # the overlap report is the diagnostic that explains the NULL
    assert strict["e_max_treated"] == 1.0
    assert strict["e_min_control"] == 0.0
    trimmed = ipw_ate_multi(
        df, "treat", "y", ["x"], trim_eps=0.05
    ).collect()[0]
    assert trimmed["ate"] is not None
    assert trimmed["n_excluded"] > 0
    assert trimmed["ate"] == pytest.approx(2.0, abs=0.5)


def test_ipw_multi_degenerate_and_validation(spark):
    """Constant covariate -> singular Hessian -> NULL estimates with
    counts intact; single-arm population -> NULL; bad args raise."""
    from econdatapipeline_spark.operators.evaluation import ipw_ate_multi

    rows = [(i % 2, float(i), 1.0, float(i % 3)) for i in range(40)]
    df = spark.createDataFrame(rows, "t int, y double, c double, x double")
    row = ipw_ate_multi(df, "t", "y", ["c", "x"]).collect()[0]
    assert row["n"] == 40 and row["n_treated"] == 20
    assert row["ate"] is None
    one_arm = spark.createDataFrame(
        [(1, float(i), float(i)) for i in range(10)],
        "t int, y double, x double",
    )
    row = ipw_ate_multi(one_arm, "t", "y", ["x"]).collect()[0]
    assert row["n_treated"] == 10 and row["ate"] is None
    with pytest.raises(ValueError):
        ipw_ate_multi(df, "t", "y", [])
    with pytest.raises(ValueError):
        ipw_ate_multi(df, "t", "y", ["x"], rounds=0)
    with pytest.raises(ValueError):
        ipw_ate_multi(df, "t", "y", ["x"] * 9)


# ---------------------------------------------------------------------------
# mann_kendall time ties (r8 ADVICE #1)
# ---------------------------------------------------------------------------

def test_mann_kendall_tied_timestamps_deterministic(spark):
    """Rows sharing a timestamp contribute 0 to S regardless of input
    order, and the full Kendall time-tie variance correction applies;
    null values/timestamps are excluded from every aggregate."""
    from econdatapipeline_spark.operators.timeseries import mann_kendall

    # series with a time tie at t=2 carrying DIFFERENT values: under
    # row_number ordering the (5.0, 1.0) pair's sign depended on
    # arbitrary tie order; now it must contribute 0
    rows = [
        ("g", 1, 2.0),
        ("g", 2, 5.0),
        ("g", 2, 1.0),
        ("g", 3, 6.0),
        ("g", 4, 7.0),
        ("g", 5, None),  # excluded everywhere
        ("g", None, 9.0),  # excluded everywhere
    ]
    out = {}
    for tag, perm in (("fwd", rows), ("rev", rows[::-1])):
        df = spark.createDataFrame(
            perm, "dataset string, date int, value double"
        )
        out[tag] = mann_kendall(df, "value", "date", "dataset").collect()[0]
    assert out["fwd"] == out["rev"]
    r = out["fwd"]
    assert r["n"] == 5  # nulls dropped
    # S by hand over time-ordered pairs, tied-time pair excluded:
    # pairs (1,2a)+ (1,2b)- ... compute: values by time:
    # t1=2, t2={5,1}, t3=6, t4=7
    # (2,5)+ (2,1)- (2,6)+ (2,7)+ (5,6)+ (5,7)+ (1,6)+ (1,7)+ (6,7)+
    assert r["s_stat"] == 7
    # variance: n=5, value ties none (2,5,1,6,7 distinct) -> t terms 0;
    # time ties one group u=2: u_term = 2*1*9 = 18, u3 = 0, u2 = 2
    # var = (5*4*15 - 0 - 18)/18 + 0 + 0*... third term t2=0 -> 0
    var = (5 * 4 * 15 - 18) / 18.0
    assert r["var_s"] == pytest.approx(var, abs=1e-6)
    assert r["z"] == pytest.approx((7 - 1) / math.sqrt(var), abs=1e-6)


# ---------------------------------------------------------------------------
# sessionize exact-microsecond break (r8 ADVICE #4)
# ---------------------------------------------------------------------------

def test_sessionize_subsecond_gap_full_precision(spark):
    """A real gap of 1800.8s splits (the old whole-second unix diff
    kept it joined: 1800 > 1800 false); exactly 1800.000000s does NOT
    split (strict >, the documented seam vs session_window); 1800s +
    1us splits."""
    import datetime as dt

    from econdatapipeline_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0, 500000)
    rows = [
        ("a", t0),
        ("a", t0 + dt.timedelta(seconds=1800, microseconds=300000)),
        ("b", t0),
        ("b", t0 + dt.timedelta(seconds=1800)),
        ("c", t0),
        ("c", t0 + dt.timedelta(seconds=1800, microseconds=1)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (r["user"], r["session_seq"]): r["n_events"]
        for r in sessionize(df, value_col=None).collect()
    }
    users = {}
    for (u, _), n in got.items():
        users.setdefault(u, []).append(n)
    assert sorted(users["a"]) == [1, 1]  # 1800.3s gap splits
    assert users["b"] == [2]  # exactly at gap stays (strict >)
    assert sorted(users["c"]) == [1, 1]  # 1us past gap splits


def test_sessionize_matches_streaming_twin_off_boundary(spark):
    """On sub-second timestamps away from the exact boundary, batch
    sessionize and the session_window twin now agree row-for-row
    (the r8 ADVICE #4 seam is closed)."""
    import datetime as dt

    from econdatapipeline_spark.operators.sessions import sessionize
    from econdatapipeline_spark.streaming.windows import stream_sessionize

    rng = np.random.RandomState(9)
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for u in range(8):
        t = t0 + dt.timedelta(seconds=float(rng.uniform(0, 50)))
        for _ in range(30):
            rows.append(
                (f"u{u}", t, float(np.round(rng.uniform(1, 5), 2)))
            )
            # mix of sub-gap and super-gap steps, never exactly at gap
            step = float(rng.choice([12.3, 400.7, 1799.2, 1801.9, 2400.4]))
            t = t + dt.timedelta(seconds=step + float(rng.uniform(0, 0.9)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, value double")
    batch = {
        (r["user"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in sessionize(df).collect()
    }
    stream = {
        (r["user"], r["session_start"], r["session_end"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in stream_sessionize(df).collect()
    }
    assert batch == stream


# ---------------------------------------------------------------------------
# weibull_aft
# ---------------------------------------------------------------------------

def _weibull_aft_numpy(t, e, X, rounds=8):
    """Unquantized numpy replay of the same Newton in the Burridge
    (gamma = beta/sigma, a = 1/sigma) parameterization: init gamma0 at
    the event-mean of ln t, a = 1, a/2 positivity fallback; returns
    (theta, se) on the AFT scale with theta = (b0..bp, ln_sigma) and
    delta-method standard errors."""
    t = np.asarray(t, dtype=float)
    e = np.asarray(e, dtype=float)
    Xd = np.column_stack(
        [np.ones(len(t))] + [np.asarray(c, dtype=float) for c in X]
    )
    lnt = np.log(t)
    q = Xd.shape[1]
    m = q + 1
    g = np.zeros(q)
    g[0] = lnt[e == 1].mean()
    a = 1.0

    def score_info(g, a):
        z = a * lnt - Xd @ g
        ez = np.exp(z)
        u = np.zeros(m)
        imat = np.zeros((m, m))
        for j in range(q):
            u[j] = (Xd[:, j] * (ez - e)).sum()
            for k in range(j, q):
                imat[j, k] = imat[k, j] = (
                    Xd[:, j] * Xd[:, k] * ez
                ).sum()
            imat[j, q] = imat[q, j] = -(Xd[:, j] * lnt * ez).sum()
        u[q] = (e / a + (e - ez) * lnt).sum()
        imat[q, q] = (e / a**2 + lnt * lnt * ez).sum()
        return u, imat

    for _ in range(rounds):
        u, imat = score_info(g, a)
        d = np.linalg.solve(imat, u)
        g = g + d[:q]
        na = a + d[q]
        a = na if na > 0 else a / 2.0
    _, imat = score_info(g, a)
    cov = np.linalg.inv(imat)
    th = np.zeros(m)
    se = np.zeros(m)
    for j in range(q):
        th[j] = g[j] / a
        var = (
            cov[j, j] / a**2
            - 2.0 * (g[j] / a**3) * cov[q, j]
            + (g[j] ** 2 / a**4) * cov[q, q]
        )
        se[j] = math.sqrt(var)
    th[q] = -math.log(a)
    se[q] = math.sqrt(cov[q, q] / a**2)
    return th, se


def _aft_fixture(n=600, b0=3.0, b1=0.7, b2=-0.4, sigma=0.5, cens=None):
    """Deterministic Weibull-AFT sample: ln t = b0 + b1 x1 + b2 x2 +
    sigma * W with W the standard minimum-extreme-value quantile of a
    fixed uniform grid (no RNG — replayable)."""
    i = np.arange(n)
    u = (i + 0.5) / n
    # decorrelate the grid from the covariates with fixed permutations
    w = np.log(-np.log(1.0 - u))[(i * 7919) % n]
    x1 = np.round(((i * 31) % 200) / 100.0 - 1.0, 3)
    x2 = np.round(((i * 17) % 100) / 50.0 - 1.0, 3)
    t = np.exp(b0 + b1 * x1 + b2 * x2 + sigma * w)
    if cens is not None:
        e = (t <= cens).astype(int)
        t = np.minimum(t, cens)
    else:
        e = np.ones(n, dtype=int)
    return np.round(t, 6), e, x1, x2


def test_weibull_aft_matches_numpy_reference(spark):
    """The decimal-quantized Spark Newton agrees with the unquantized
    numpy replay to well under the 6-dp rounding grain, coefs and
    standard errors both."""
    from econdatapipeline_spark.operators.survival import weibull_aft

    t, e, x1, x2 = _aft_fixture(cens=60.0)
    assert 0 < e.sum() < len(t)  # the fixture really is censored
    df = spark.createDataFrame(
        [
            (float(a), int(b), float(c), float(d))
            for a, b, c, d in zip(t, e, x1, x2)
        ],
        "duration double, event int, x1 double, x2 double",
    )
    rows = {
        r["param"]: r
        for r in weibull_aft(
            df, "duration", "event", ["x1", "x2"], rounds=8
        ).collect()
    }
    th, se = _weibull_aft_numpy(t, e, [x1, x2], rounds=8)
    labels = ["intercept", "x1", "x2", "ln_sigma"]
    for j, lbl in enumerate(labels):
        r = rows[lbl]
        assert r["n"] == len(t) and r["n_events"] == int(e.sum())
        assert r["coef"] == pytest.approx(th[j], abs=2e-5), lbl
        assert r["se"] == pytest.approx(se[j], abs=2e-5), lbl
        assert r["z"] == pytest.approx(th[j] / se[j], abs=2e-4), lbl


def test_weibull_aft_recovers_simulated_parameters(spark):
    """Parameter recovery on the deterministic AFT sample: the fitted
    coefficients land near the generating (b0, b1, b2, ln sigma)."""
    from econdatapipeline_spark.operators.survival import weibull_aft

    t, e, x1, x2 = _aft_fixture(n=2000)
    df = spark.createDataFrame(
        [
            (float(a), int(b), float(c), float(d))
            for a, b, c, d in zip(t, e, x1, x2)
        ],
        "duration double, event int, x1 double, x2 double",
    )
    rows = {
        r["param"]: r
        for r in weibull_aft(
            df, "duration", "event", ["x1", "x2"], rounds=8
        ).collect()
    }
    assert rows["intercept"]["coef"] == pytest.approx(3.0, abs=0.05)
    assert rows["x1"]["coef"] == pytest.approx(0.7, abs=0.05)
    assert rows["x2"]["coef"] == pytest.approx(-0.4, abs=0.05)
    assert rows["ln_sigma"]["coef"] == pytest.approx(
        math.log(0.5), abs=0.05
    )
    # effects are strongly significant on n=2000
    assert abs(rows["x1"]["z"]) > 10 and abs(rows["x2"]["z"]) > 10


def test_weibull_aft_p0_reduces_to_weibull_fit(spark):
    """With no covariates the AFT Newton and weibull_fit's profile
    fixed point maximize the SAME likelihood: shape k = 1/sigma and
    scale lambda = exp(intercept) agree at the shared optimum."""
    from econdatapipeline_spark.operators.survival import (
        weibull_aft,
        weibull_fit,
    )

    t, e, _, _ = _aft_fixture(n=500, b1=0.0, b2=0.0, cens=40.0)
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(t, e)],
        "duration double, event int",
    )
    fit = weibull_fit(df, "duration", "event", rounds=25).collect()[0]
    rows = {
        r["param"]: r
        for r in weibull_aft(df, "duration", "event", rounds=10).collect()
    }
    k_aft = 1.0 / math.exp(rows["ln_sigma"]["coef"])
    lam_aft = math.exp(rows["intercept"]["coef"])
    assert k_aft == pytest.approx(fit["shape_k"], rel=1e-4)
    assert lam_aft == pytest.approx(fit["scale_lambda"], rel=1e-4)


def test_weibull_aft_never_fabricates(spark):
    """No events -> NULL estimates on every row; a collinear covariate
    (constant) -> singular information -> NULL via the pivot gate;
    zero/negative durations are excluded from n."""
    from econdatapipeline_spark.operators.survival import weibull_aft

    allcens = spark.createDataFrame(
        [(float(i + 1), 0, float(i % 3)) for i in range(40)],
        "duration double, event int, x1 double",
    )
    for r in weibull_aft(allcens, covariate_cols=["x1"]).collect():
        assert r["coef"] is None and r["se"] is None and r["z"] is None

    const = spark.createDataFrame(
        [(float(i + 1), 1, 2.5) for i in range(40)],
        "duration double, event int, x1 double",
    )
    for r in weibull_aft(const, covariate_cols=["x1"]).collect():
        assert r["coef"] is None and r["se"] is None

    t, e, x1, _ = _aft_fixture(n=60)
    rows = [(0.0, 1, 0.5), (-3.0, 1, 0.5)] + [
        (float(a), int(b), float(c)) for a, b, c in zip(t, e, x1)
    ]
    df = spark.createDataFrame(
        rows, "duration double, event int, x1 double"
    )
    out = weibull_aft(df, covariate_cols=["x1"]).collect()
    assert all(r["n"] == 60 for r in out)


# ---------------------------------------------------------------------------
# grays_test
# ---------------------------------------------------------------------------

def _grays_numpy(t, e, c, g, groups, cause):
    """Unquantized pure-python replay of the Gray rho=0 score with the
    MH covariance on the subdistribution risk set (the operator's
    documented form)."""
    import collections

    per = collections.defaultdict(lambda: [0, 0, 0])  # (t,g) -> d1,dall,subj
    for ti, ei, ci, gi in zip(t, e, c, g):
        if gi not in groups:
            continue
        row = per[(ti, gi)]
        row[0] += 1 if (ei == 1 and ci == cause) else 0
        row[1] += ei
        row[2] += 1
    times = sorted({ti for ti, _ in per})
    k = len(groups)
    Y = {gv: 0 for gv in groups}
    # reverse cumulative at-risk
    atrisk = {}
    for gv in groups:
        run = 0
        for ti in reversed(times):
            run += per.get((ti, gv), [0, 0, 0])[2]
            atrisk[(ti, gv)] = run
    # forward KM and CIF prefixes
    R = {}
    d1t = {}
    for gv in groups:
        s = 1.0
        f = 0.0
        for ti in times:
            d1, dall, _ = per.get((ti, gv), [0, 0, 0])
            y = atrisk[(ti, gv)]
            s_before, f_before = s, f
            if y > 0:
                f += s_before * d1 / y
                s *= (y - dall) / y if dall < y else 0.0
            R[(ti, gv)] = (
                y * (1.0 - f_before) / s_before if s_before > 0 else 0.0
            )
            d1t[(ti, gv)] = d1
    z = []
    exp_by = {gv: 0.0 for gv in groups}
    vmat = [[0.0] * (k - 1) for _ in range(k - 1)]
    zs = {gv: 0.0 for gv in groups}
    for ti in times:
        dtot = sum(d1t[(ti, gv)] for gv in groups)
        rtot = sum(R[(ti, gv)] for gv in groups)
        if dtot <= 0 or rtot <= 0:
            continue
        ct = dtot * (rtot - dtot) / (rtot - 1.0) if rtot > 1 else 0.0
        for a, gv in enumerate(groups):
            p = R[(ti, gv)] / rtot
            exp_by[gv] += dtot * p
            zs[gv] += d1t[(ti, gv)] - dtot * p
        for a in range(k - 1):
            for b in range(a, k - 1):
                pa = R[(ti, groups[a])] / rtot
                pb = R[(ti, groups[b])] / rtot
                dd = 1.0 if a == b else 0.0
                vmat[a][b] += ct * (dd * pa - pa * pb)
                if a != b:
                    vmat[b][a] = vmat[a][b]
    z = [zs[gv] for gv in groups[: k - 1]]
    sol = np.linalg.solve(np.array(vmat), np.array(z))
    return float(np.dot(z, sol)), exp_by


def _competing_fixture(n=400, seed=7):
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        g = ["A", "B", "C"][i % 3]
        t = int(rng.randint(1, 60))
        e = int(rng.uniform() < 0.85)
        c = None
        if e:
            c = (
                "target"
                if rng.uniform() < (0.7 if g == "A" else 0.4)
                else "other"
            )
        rows.append((t, e, c, g))
    return rows


def test_grays_test_matches_python_replay(spark):
    """The decimal-quantized Spark statistic agrees with an
    unquantized pure-python replay of the same estimator to well
    under the rounding grain."""
    from econdatapipeline_spark.operators.survival import grays_test

    rows = _competing_fixture()
    df = spark.createDataFrame(
        rows, "duration long, event int, cause string, grp string"
    )
    out = {
        r["grp"]: r
        for r in grays_test(
            df, "grp", ["A", "B", "C"], cause="target"
        ).collect()
    }
    t = [r[0] for r in rows]
    e = [r[1] for r in rows]
    c = [r[2] for r in rows]
    g = [r[3] for r in rows]
    chi2, exp_by = _grays_numpy(t, e, c, g, ["A", "B", "C"], "target")
    for gv in ["A", "B", "C"]:
        assert out[gv]["chi2"] == pytest.approx(chi2, abs=1e-4)
        assert out[gv]["expected"] == pytest.approx(
            exp_by[gv], abs=1e-4
        )
        assert out[gv]["dof"] == 2
    # the group with the boosted target-cause rate is over-observed
    assert out["A"]["observed"] > out["A"]["expected"]


def test_grays_test_single_cause_reduces_to_log_rank_k(spark):
    """With a single cause the subdistribution risk set R_g equals the
    ordinary at-risk count Y_g (1 - F(t-) == S(t-)), so Gray's test IS
    the k-sample log-rank — agreement to the shared ln-quantization
    grain, censoring included."""
    from econdatapipeline_spark.operators.survival import (
        grays_test,
        log_rank_k,
    )

    rng = np.random.RandomState(3)
    rows = []
    for i in range(450):
        g = ["A", "B", "C"][i % 3]
        t = int(rng.randint(1, 50) + (6 if g == "B" else 0))
        e = int(rng.uniform() < 0.75)
        rows.append((t, e, "only" if e else None, g))
    df = spark.createDataFrame(
        rows, "duration long, event int, cause string, grp string"
    )
    lr = {
        r["grp"]: r
        for r in log_rank_k(df, "grp", ["A", "B", "C"]).collect()
    }
    gt = {
        r["grp"]: r
        for r in grays_test(
            df, "grp", ["A", "B", "C"], cause="only"
        ).collect()
    }
    for gv in ["A", "B", "C"]:
        assert gt[gv]["n"] == lr[gv]["n"]
        assert gt[gv]["observed"] == lr[gv]["observed"]
        assert gt[gv]["expected"] == pytest.approx(
            lr[gv]["expected"], abs=1e-4
        )
        assert gt[gv]["chi2"] == pytest.approx(lr[gv]["chi2"], abs=1e-4)


def test_grays_test_k4_fixed_gauss_matches_numpy(spark):
    """k = 4 exercises the fixed-order Gaussian solve
    (timeseries._gauss_solve_fixed); the quadratic form matches
    numpy's solve on the same aggregates, and the helper itself is
    bit-compatible with numpy on an SPD system."""
    from econdatapipeline_spark.operators.survival import grays_test
    from econdatapipeline_spark.operators.timeseries import (
        _gauss_solve_fixed,
    )

    rng = np.random.RandomState(11)
    rows = []
    for i in range(600):
        g = ["A", "B", "C", "D"][i % 4]
        t = int(rng.randint(1, 40))
        e = int(rng.uniform() < 0.8)
        c = None
        if e:
            c = "tgt" if rng.uniform() < (0.3 + 0.15 * (i % 4)) else "oth"
        rows.append((t, e, c, g))
    df = spark.createDataFrame(
        rows, "duration long, event int, cause string, grp string"
    )
    out = grays_test(
        df, "grp", ["A", "B", "C", "D"], cause="tgt"
    ).collect()
    t = [r[0] for r in rows]
    e = [r[1] for r in rows]
    c = [r[2] for r in rows]
    g = [r[3] for r in rows]
    chi2, _ = _grays_numpy(t, e, c, g, ["A", "B", "C", "D"], "tgt")
    assert out[0]["chi2"] == pytest.approx(chi2, abs=1e-4)
    assert out[0]["dof"] == 3
    # helper vs numpy on a random SPD system, multi-RHS
    a = rng.normal(size=(5, 5))
    spd = (a @ a.T + 5 * np.eye(5)).tolist()
    rhs = [list(rng.normal(size=5)) for _ in range(3)]
    sols = _gauss_solve_fixed(spd, rhs)
    for got, b in zip(sols, rhs):
        ref = np.linalg.solve(np.array(spd), np.array(b))
        assert np.allclose(got, ref, atol=1e-9)
    # indefinite system -> None (never-fabricate)
    assert _gauss_solve_fixed([[1.0, 0.0], [0.0, -2.0]], [[1.0, 1.0]]) is None


def test_grays_test_validation(spark):
    from econdatapipeline_spark.operators.survival import grays_test

    df = spark.createDataFrame(
        [(1, 1, "x", "A")],
        "duration long, event int, cause string, grp string",
    )
    with pytest.raises(ValueError, match="cause"):
        grays_test(df, "grp", ["A", "B"])
    with pytest.raises(ValueError, match="2..5"):
        grays_test(df, "grp", ["A"], cause="x")
    with pytest.raises(ValueError, match="distinct"):
        grays_test(df, "grp", ["A", "A"], cause="x")


# ---------------------------------------------------------------------------
# cox_ph_multi p >= 3: fixed-order Gauss replaces numpy (VERDICT r8 #5)
# ---------------------------------------------------------------------------

def test_cox_ph_multi_p3_matches_numpy_reference(spark):
    """The p = 3 path now solves via timeseries._gauss_solve_fixed
    (the SQL-replayable operation order); the fit still equals the
    unquantized numpy Newton replay to ~1e-5 — same estimates, now
    oracle-certifiable."""
    from econdatapipeline_spark.operators.survival import cox_ph_multi
    from tests.test_round8_ops import _numpy_cox_reference

    rows = []
    for i in range(300):
        x1 = float(i % 2)
        x2 = (i % 7) / 7.0
        x3 = ((i * 13) % 11) / 11.0 - 0.5
        base = 5 + (i * 37 % 50)
        dur = max(1, int(base * (1.5 if x1 else 1.0) - 10 * x2 + 4 * x3))
        event = 1 if (i % 5) != 0 else 0
        rows.append((dur, event, x1, x2, x3))
    df = spark.createDataFrame(
        rows, "duration long, event int, x1 double, x2 double, x3 double"
    )
    got = {
        r["covariate"]: r
        for r in cox_ph_multi(
            df, "duration", "event", ["x1", "x2", "x3"], rounds=4
        ).collect()
    }
    beta, se = _numpy_cox_reference(rows)
    for j, c in enumerate(["x1", "x2", "x3"]):
        assert got[c]["beta"] == pytest.approx(beta[j], abs=2e-5), c
        assert got[c]["se"] == pytest.approx(se[j], abs=2e-5), c


# ---------------------------------------------------------------------------
# k-means|| seeding (VERDICT r8 #2)
# ---------------------------------------------------------------------------

def _blob_frame(spark, k=5, n_per=40, d=4, spread=0.5):
    rng = np.random.RandomState(0)
    centers = np.eye(k, d if d >= k else k)[:, :d] * 10.0
    rows = []
    for i in range(k * n_per):
        c = centers[i % k]
        rows.append((i, (c + rng.normal(0, spread, d)).tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeanspar_seeds_valid_and_deterministic(spark):
    """k-means|| produces k distinct existing ids, one per separated
    blob (same seeding quality as the sequential D2 race), and the
    md5 stream makes it a pure function of the input."""
    from econdatapipeline_spark.operators.kmeans import (
        _kmeanspar_md5_seeds,
        _kmeanspp_md5_seeds,
    )

    df = _blob_frame(spark, k=5)
    vecs = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).localCheckpoint(eager=True)
    spar = _kmeanspar_md5_seeds(vecs, 5)
    spp = _kmeanspp_md5_seeds(vecs, 5)
    assert len(set(spar)) == 5
    assert sorted(s % 5 for s in spar) == [0, 1, 2, 3, 4]  # one per blob
    assert sorted(s % 5 for s in spp) == [0, 1, 2, 3, 4]
    assert _kmeanspar_md5_seeds(vecs, 5) == spar  # deterministic


def test_kmeanspar_lloyd_matches_kmeanspp_clustering(spark):
    """On separated blobs both seeding paths converge to the identical
    final clustering (sizes and inertias)."""
    from econdatapipeline_spark.operators.kmeans import kmeans_lloyd

    df = _blob_frame(spark, k=5)
    pp = sorted(
        (r["n_vecs"], r["inertia"])
        for r in kmeans_lloyd(
            df, k=5, rounds=3, init="kmeanspp_md5"
        ).collect()
    )
    par = sorted(
        (r["n_vecs"], r["inertia"])
        for r in kmeans_lloyd(
            df, k=5, rounds=3, init="kmeanspar_md5"
        ).collect()
    )
    assert pp == par


def test_kmeanspp_auto_gates_to_kmeanspar_above_k8(spark):
    """init='kmeanspp_md5' with k > 8 routes through the k-means||
    path (rounds-not-k corpus passes) and still one-seed-per-blob on
    a 10-blob input; explicit k <= 8 stays on the certified race."""
    from econdatapipeline_spark.operators.kmeans import (
        _kmeanspar_md5_seeds,
        kmeans_lloyd,
    )

    df = _blob_frame(spark, k=10, n_per=25, d=10)
    out = kmeans_lloyd(df, k=10, rounds=2, init="kmeanspp_md5").collect()
    assert len(out) == 10
    assert all(r["n_vecs"] == 25 for r in out)
    # the gate really selects the parallel seeds
    vecs = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).localCheckpoint(eager=True)
    spar = _kmeanspar_md5_seeds(vecs, 10)
    assert sorted(s % 10 for s in spar) == list(range(10))


# ---------------------------------------------------------------------------
# kaplan_meier_ci (Greenwood + log-log bands)
# ---------------------------------------------------------------------------

def _km_greenwood_numpy(t, e, z=1.959964):
    """Unquantized KM + Greenwood + log-log bands, keyed by time."""
    import collections

    per = collections.defaultdict(lambda: [0, 0])
    for ti, ei in zip(t, e):
        per[ti][0] += ei
        per[ti][1] += 1
    times = sorted(per)
    n = sum(v[1] for v in per.values())
    out = {}
    s, gsum = 1.0, 0.0
    at_risk = n
    for ti in times:
        d, tot = per[ti]
        if d > 0 and d < at_risk:
            s *= (at_risk - d) / at_risk
            gsum += d / (at_risk * (at_risk - d))
        elif d >= at_risk:
            s = 0.0
        if s <= 0:
            out[ti] = (0.0, None, None, None)
        elif gsum == 0:
            out[ti] = (s, 0.0, 1.0, 1.0)
        else:
            se = s * math.sqrt(gsum)
            sig = math.sqrt(gsum) / -math.log(s)
            lo = math.exp(math.log(s) * math.exp(z * sig))
            hi = math.exp(math.log(s) * math.exp(-z * sig))
            out[ti] = (s, se, lo, hi)
        at_risk -= tot
    return out


def test_km_ci_matches_numpy_replay(spark):
    """Survival, Greenwood SE, and both log-log band edges agree with
    the unquantized replay to under the 6-dp grain, censoring mixed
    in; bands bracket the estimate and stay inside [0, 1]."""
    from econdatapipeline_spark.operators.survival import kaplan_meier_ci

    rng = np.random.RandomState(2)
    t = rng.randint(1, 80, 500).tolist()
    e = (rng.uniform(size=500) < 0.7).astype(int).tolist()
    df = spark.createDataFrame(
        list(zip(t, e)), "duration long, event int"
    )
    got = {r["t"]: r for r in kaplan_meier_ci(df).collect()}
    ref = _km_greenwood_numpy(t, e)
    assert set(got) == set(ref)
    for ti, (s, se, lo, hi) in ref.items():
        r = got[ti]
        assert r["survival"] == pytest.approx(s, abs=2e-5)
        if se is None:
            assert r["se"] is None and r["lo"] is None and r["hi"] is None
        else:
            assert r["se"] == pytest.approx(se, abs=2e-5)
            assert r["lo"] == pytest.approx(lo, abs=2e-4)
            assert r["hi"] == pytest.approx(hi, abs=2e-4)
            assert 0.0 <= r["lo"] <= r["survival"] + 1e-9
            assert r["survival"] - 1e-9 <= r["hi"] <= 1.0


def test_km_ci_curve_matches_kaplan_meier(spark):
    """The survival column is bit-identical to kaplan_meier's (same
    machinery), so adding the bands cannot drift the curve."""
    from econdatapipeline_spark.operators.survival import (
        kaplan_meier,
        kaplan_meier_ci,
    )

    rows = [(int(1 + (i * 37) % 60), int(i % 4 != 0)) for i in range(400)]
    df = spark.createDataFrame(rows, "duration long, event int")
    km = {(r["t"], r["survival"]) for r in kaplan_meier(df).collect()}
    ci = {(r["t"], r["survival"]) for r in kaplan_meier_ci(df).collect()}
    assert km == ci


# ---------------------------------------------------------------------------
# msprt_monitor (always-valid sequential testing)
# ---------------------------------------------------------------------------

def _msprt_numpy(rows, tau, periods=None):
    """Unquantized replay keyed by period: rows = (period, tr, y)."""
    import collections

    per = collections.defaultdict(lambda: [0.0] * 6)
    for t, tr, y in rows:
        a = per[t]
        if tr:
            a[0] += 1
            a[2] += y
            a[4] += y * y
        else:
            a[1] += 1
            a[3] += y
            a[5] += y * y
    out = {}
    c = [0.0] * 6
    prun = None
    t2 = tau * tau
    for t in sorted(per):
        c = [a + b for a, b in zip(c, per[t])]
        nt, nc, st, sc, qt, qc = c
        if nt > 1 and nc > 1:
            s2 = ((qt - st * st / nt) + (qc - sc * sc / nc)) / (
                nt + nc - 2.0
            )
            if s2 > 0:
                v = s2 * (1.0 / nt + 1.0 / nc)
                diff = st / nt - sc / nc
                ll = 0.5 * math.log(v / (v + t2)) + t2 * diff * diff / (
                    2.0 * v * (v + t2)
                )
                p = min(1.0, math.exp(-ll))
                prun = p if prun is None else min(prun, p)
                out[t] = (ll, p, prun)
                continue
        out[t] = (None, None, prun)
    return out


def test_msprt_matches_numpy_and_detects_effect(spark):
    """ln(Lambda), always-valid p, and the running-min p agree with
    the unquantized replay; a real 1-sigma effect drives p_running to
    rejection while it stays non-increasing throughout."""
    from econdatapipeline_spark.operators.evaluation import msprt_monitor

    rng = np.random.RandomState(9)
    rows = []
    for day in range(1, 25):
        for i in range(40):
            tr = i % 2
            y = round(
                float(rng.normal(10.0 + (1.0 if tr else 0.0), 1.0)), 3
            )
            rows.append((f"2026-01-{day:02d} 00:00:00", tr, y))
    df = spark.createDataFrame(
        rows, "ts string, tr int, y double"
    ).select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("tr") == 1, "B").otherwise("A").alias("arm"),
        "y",
    )
    out = msprt_monitor(
        df, "arm", "y", "ts", control="A", treatment="B",
        tau=0.5, period="day",
    ).orderBy("period").collect()
    ref = _msprt_numpy(
        [(r[0][:10], r[1], r[2]) for r in rows], tau=0.5
    )
    assert len(out) == 24
    prev = 1.0
    for r in out:
        key = str(r["period"])[:10]
        ll, p, prun = ref[key]
        assert r["ln_lam"] == pytest.approx(ll, abs=2e-5)
        assert r["p_always_valid"] == pytest.approx(p, abs=2e-5)
        assert r["p_running"] == pytest.approx(prun, abs=2e-5)
        assert r["p_running"] <= prev + 1e-9  # never increases
        prev = r["p_running"]
    assert out[-1]["p_running"] < 0.001  # the 1-sigma effect is found


def test_msprt_null_effect_and_gates(spark):
    """Identical arms keep the always-valid p near 1; a first period
    with a single subject per arm emits NULL ln_lam (n < 2 gate);
    tau <= 0 raises."""
    from econdatapipeline_spark.operators.evaluation import msprt_monitor

    rows = [("2026-01-01 00:00:00", "A", 5.0),
            ("2026-01-01 00:00:00", "B", 5.5)]
    for day in range(2, 12):
        for i in range(30):
            rows.append(
                (f"2026-01-{day:02d} 00:00:00",
                 "B" if i % 2 else "A",
                 float(10 + (i * 7 % 13) / 10.0))
            )
    df = spark.createDataFrame(rows, "ts string, arm string, y double")
    df = df.select(F.col("ts").cast("timestamp").alias("ts"), "arm", "y")
    out = msprt_monitor(
        df, "arm", "y", "ts", control="A", treatment="B",
        tau=0.5, period="day",
    ).orderBy("period").collect()
    assert out[0]["ln_lam"] is None and out[0]["p_running"] is None
    # the deterministic identical-arm pattern: no evidence accumulates
    assert out[-1]["p_running"] > 0.5
    with pytest.raises(ValueError, match="tau"):
        msprt_monitor(df, "arm", "y", "ts", "A", "B", tau=0.0)


# ---------------------------------------------------------------------------
# rmst_diff
# ---------------------------------------------------------------------------

def _rmst_var_numpy(t, e, tau):
    """Unquantized single-group RMST + survRM2-style variance."""
    import collections

    per = collections.defaultdict(lambda: [0, 0])
    for ti, ei in zip(t, e):
        per[ti][0] += ei
        per[ti][1] += 1
    times = sorted(per)
    n_risk = {}
    run = sum(v[1] for v in per.values())
    for ti in times:
        n_risk[ti] = run
        run -= per[ti][1]
    s = 1.0
    s_at, s_before = {}, {}
    for ti in times:
        d = per[ti][0]
        s_before[ti] = s
        if d >= n_risk[ti]:
            s = 0.0
        elif d > 0:
            s *= (n_risk[ti] - d) / n_risk[ti]
        s_at[ti] = s
    within = [ti for ti in times if ti <= tau]
    stau = s_at[within[-1]] if within else 1.0
    drops = {ti: ti * (s_before[ti] - s_at[ti]) for ti in within}
    rmst_v = tau * stau + sum(drops.values())
    var = 0.0
    for i, ti in enumerate(within):
        d, nr = per[ti][0], n_risk[ti]
        if d > 0 and d < nr:
            a = tau * stau - ti * s_at[ti] + sum(
                drops[tj] for tj in within[i + 1:]
            )
            var += a * a * d / (nr * (nr - d))
    return rmst_v, var


def test_rmst_diff_matches_numpy_reference(spark):
    """Per-group RMST equals the single-group operator exactly, and
    the SE/z/CI match the unquantized survRM2-style replay."""
    from econdatapipeline_spark.operators.survival import rmst, rmst_diff

    rng = np.random.RandomState(5)
    rows = []
    for i in range(600):
        g = "T" if i % 2 else "C"
        t = int(rng.exponential(30 if g == "T" else 22)) + 1
        e = int(rng.uniform() < 0.8)
        rows.append((t, e, g))
    df = spark.createDataFrame(rows, "duration long, event int, grp string")
    out = rmst_diff(df, "grp", "T", "C", tau=40.0).collect()[0]
    rt = rmst(df.filter("grp = 'T'"), 40.0).collect()[0]["rmst"]
    rc = rmst(df.filter("grp = 'C'"), 40.0).collect()[0]["rmst"]
    assert out["rmst_treat"] == rt and out["rmst_ctrl"] == rc
    tt = [r[0] for r in rows if r[2] == "T"]
    et = [r[1] for r in rows if r[2] == "T"]
    tc = [r[0] for r in rows if r[2] == "C"]
    ec = [r[1] for r in rows if r[2] == "C"]
    r1, v1 = _rmst_var_numpy(tt, et, 40.0)
    r0, v0 = _rmst_var_numpy(tc, ec, 40.0)
    assert out["rmst_treat"] == pytest.approx(r1, abs=2e-5)
    assert out["rmst_ctrl"] == pytest.approx(r0, abs=2e-5)
    se = math.sqrt(v1 + v0)
    assert out["se"] == pytest.approx(se, abs=2e-5)
    assert out["z_stat"] == pytest.approx((r1 - r0) / se, abs=2e-4)
    assert out["lo"] == pytest.approx(r1 - r0 - 1.959964 * se, abs=2e-4)
    assert out["hi"] == pytest.approx(r1 - r0 + 1.959964 * se, abs=2e-4)
    assert out["n_treat"] == 300 and out["n_ctrl"] == 300


def test_rmst_diff_validation(spark):
    from econdatapipeline_spark.operators.survival import rmst_diff

    df = spark.createDataFrame(
        [(5, 1, "T")], "duration long, event int, grp string"
    )
    with pytest.raises(ValueError, match="tau"):
        rmst_diff(df, "grp", "T", "C", tau=0.0)
    with pytest.raises(ValueError, match="differ"):
        rmst_diff(df, "grp", "T", "T", tau=5.0)
    with pytest.raises(ValueError, match="both groups"):
        rmst_diff(df, "grp", "T", "C", tau=5.0).collect()


def test_gauss_solve_fixed_bit_identical_to_sql_steps():
    """THE certification claim behind the p >= 3 solves: the python
    replay (_gauss_solve_fixed) and the generated SQL step text
    (_gauss_steps) executed by DuckDB produce BIT-IDENTICAL doubles —
    same elimination order, same back-substitution nesting, same
    division guards."""
    import duckdb

    from econdatapipeline_spark.operators.timeseries import (
        _gauss_solve_fixed,
        _gauss_steps,
    )

    rng = np.random.RandomState(17)
    for m in (3, 4, 5):
        a = rng.normal(size=(m, m))
        spd = a @ a.T + m * np.eye(m)
        rhs = list(rng.normal(size=m))
        a_names = {
            (j, k): f"i{j}_{k}" for j in range(m) for k in range(j, m)
        }
        b_names = [f"u{j}" for j in range(m)]
        steps, betas, diag = _gauss_steps(m, a_names, b_names, "t")
        cols = {f"i{j}_{k}": spd[j][k] for j in range(m) for k in range(j, m)}
        cols.update({f"u{j}": rhs[j] for j in range(m)})
        con = duckdb.connect()
        # inputs go in as NATIVE float64 (registered frame), never as
        # SQL text: DuckDB parses bare numeric literals through
        # DECIMAL, which does NOT round-trip a double's last ulp —
        # real oracles read exact doubles from parquet
        import pandas as pd

        con.register("s0", pd.DataFrame({k: [v] for k, v in cols.items()}))
        sql = "WITH s1 AS (SELECT * FROM s0)"
        last = "s1"
        for i, (nm, e) in enumerate(steps, 2):
            sql += f", s{i} AS (SELECT *, {e} AS {nm} FROM {last})"
            last = f"s{i}"
        sql += f" SELECT {', '.join(betas)} FROM {last}"
        got_sql = list(con.execute(sql).fetchone())
        got_py = _gauss_solve_fixed(spd.tolist(), [rhs])[0]
        assert got_sql == got_py, f"m={m}: SQL and python solves differ"
