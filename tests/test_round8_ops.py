"""Round-8 operator tests: kmeans arithmetic auto-select + decimal
fold domain, k-means++ seeding, multivariate Cox, multi-lag Granger,
editdist double blocking, stream/batch sessionize twin."""

from __future__ import annotations

import math

import pytest


def _blob_df(spark, centers, n_per=20, dim=4, spread=0.05):
    """Deterministic separated blobs: point j of blob c is
    center_c + (j * spread / n_per) on every coordinate."""
    rows = []
    vid = 0
    for c, center in enumerate(centers):
        for j in range(n_per):
            off = j * spread / n_per
            rows.append((vid, [float(x) + off for x in center]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_auto_select_small_input_is_exact(spark):
    """exact=None at certification size must equal exact=True
    bit-for-bit (the auto-select resolves to the certified path)."""
    from econdatapipeline_spark.operators.kmeans import kmeans_lloyd

    df = _blob_df(spark, [[0.0] * 4, [1.0] * 4, [2.0] * 4])
    auto = kmeans_lloyd(df, k=3, rounds=2, seed_ids=[0, 20, 40]).collect()
    exact = kmeans_lloyd(
        df, k=3, rounds=2, seed_ids=[0, 20, 40], exact=True
    ).collect()
    assert [tuple(r) for r in auto] == [tuple(r) for r in exact]


def test_kmeans_exact_fold_survives_large_magnitudes(spark):
    """Squared deviations past ~9.2e6 overflowed the old 1e12-scaled
    long fold to NULL (silently corrupting assignments via array_min's
    NULL-first sort, ADVICE r7 medium); the decimal(28,12) accumulator
    must cluster magnitude-1e5 blobs correctly."""
    from econdatapipeline_spark.operators.kmeans import kmeans_lloyd

    df = _blob_df(
        spark, [[0.0] * 4, [100000.0] * 4], n_per=10, spread=1.0
    )
    out = {
        r["cluster"]: r["n_vecs"]
        for r in kmeans_lloyd(
            df, k=2, rounds=2, seed_ids=[0, 10], exact=True
        ).collect()
    }
    assert out == {1: 10, 2: 10}


# ---------------------------------------------------------------------------
# Multivariate Cox PH
# ---------------------------------------------------------------------------

def _cox_rows(n=300):
    rows = []
    for i in range(n):
        x = i % 2
        x2 = (i % 7) / 7.0
        base = 5 + (i * 37 % 50)
        dur = max(1, int(base * (1.5 if x else 1.0) - 10 * x2))
        event = 1 if (i % 5) != 0 else 0
        rows.append((dur, event, float(x), x2))
    return rows


def _numpy_cox_reference(rows, rounds=4):
    """The identical iteration (Breslow ties, fixed Newton rounds from
    0) in plain numpy — no quantization, so agreement is approximate
    (the operator's decimal(18,9)/(28,12) quantizations)."""
    import numpy as np

    d = np.array(rows, dtype=float)
    t, e, X = d[:, 0], d[:, 1], d[:, 2:]
    p = X.shape[1]

    def ui(beta):
        w = np.exp(X @ beta)
        U = np.zeros(p)
        imat = np.zeros((p, p))
        for tt in np.unique(t[e == 1]):
            risk = t >= tt
            dead = (t == tt) & (e == 1)
            s0 = w[risk].sum()
            s1 = (w[risk, None] * X[risk]).sum(0)
            s2 = (
                w[risk, None, None]
                * X[risk][:, :, None]
                * X[risk][:, None, :]
            ).sum(0)
            nd = dead.sum()
            U += X[dead].sum(0) - nd * s1 / s0
            imat += nd * (s2 / s0 - np.outer(s1 / s0, s1 / s0))
        return U, imat

    beta = np.zeros(p)
    for _ in range(rounds):
        u, imat = ui(beta)
        beta = beta + np.linalg.solve(imat, u)
    _, imat = ui(beta)
    inv = np.linalg.inv(imat)
    import math as m

    return beta, [m.sqrt(inv[j][j]) for j in range(p)]


def test_cox_ph_multi_matches_numpy_reference(spark):
    """p=2 fit equals the unquantized numpy replay of the same Breslow
    Newton iteration to ~1e-5 (the lifelines-twin property,
    VERDICT r7 #1)."""
    from econdatapipeline_spark.operators.survival import cox_ph_multi

    rows = _cox_rows()
    df = spark.createDataFrame(
        rows, "duration long, event int, x1 double, x2 double"
    )
    got = {
        r["covariate"]: r
        for r in cox_ph_multi(
            df, "duration", "event", ["x1", "x2"], rounds=4
        ).collect()
    }
    beta, se = _numpy_cox_reference(rows)
    for j, c in enumerate(["x1", "x2"]):
        assert got[c]["beta"] == pytest.approx(beta[j], abs=2e-5)
        assert got[c]["se"] == pytest.approx(se[j], abs=2e-5)
        assert got[c]["n"] == 300


def test_cox_ph_multi_p1_equals_binary_cox(spark):
    """A single binary covariate through the p-dim path reproduces
    cox_ph's collapsed-form fit exactly (same quantization ladder)."""
    from econdatapipeline_spark.operators.survival import (
        cox_ph,
        cox_ph_multi,
    )

    rows = _cox_rows()
    df = spark.createDataFrame(
        rows, "duration long, event int, x1 double, x2 double"
    )
    b = cox_ph(df, "duration", "event", "x1", rounds=4).collect()[0]
    m = cox_ph_multi(df, "duration", "event", ["x1"], rounds=4).collect()[0]
    assert (m["beta"], m["hr"], m["se"], m["z"]) == (
        b["beta"], b["hr"], b["se"], b["z"]
    )
    assert (m["n"], m["n_events"]) == (b["n"], b["n_events"])


def test_cox_ph_multi_degenerate_never_fabricates(spark):
    """Constant covariate -> singular information -> NULL estimates
    (the never-fabricate rule), counts still reported."""
    from econdatapipeline_spark.operators.survival import cox_ph_multi

    rows = [(i + 1, 1, 1.0, 1.0) for i in range(20)]
    df = spark.createDataFrame(
        rows, "duration long, event int, x1 double, x2 double"
    )
    out = cox_ph_multi(df, "duration", "event", ["x1", "x2"]).collect()
    for r in out:
        assert r["beta"] is None and r["se"] is None
        assert r["n"] == 20 and r["n_events"] == 20
    with pytest.raises(ValueError):
        cox_ph_multi(df, covariate_cols=[])
    with pytest.raises(ValueError):
        cox_ph_multi(df, covariate_cols=[f"c{i}" for i in range(9)])


def test_cox_ph_multi_p3_solves(spark):
    """p=3 exercises the numpy-solve branch; agreement with the numpy
    reference iteration to ~1e-5."""
    from econdatapipeline_spark.operators.survival import cox_ph_multi

    rows = [
        (dur, ev, x1, x2, ((i * 13) % 11) / 11.0)
        for i, (dur, ev, x1, x2) in enumerate(_cox_rows(200))
    ]
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
        assert got[c]["beta"] == pytest.approx(beta[j], abs=2e-5)
        assert got[c]["se"] == pytest.approx(se[j], abs=2e-5)


# ---------------------------------------------------------------------------
# k-means++ seeding
# ---------------------------------------------------------------------------

def test_kmeanspp_fixes_degenerate_fixed_seeding(spark):
    """Blobs built so ids 0..k-1 all sit inside ONE blob (the exact
    post-ingest near-duplicate degeneracy VERDICT r7 #2 describes):
    fixed seeding must split that blob, kmeans++ must pick spread
    seeds, and the silhouette judge must score kmeans++ at least as
    high (weighted mean over clusters)."""
    from econdatapipeline_spark.operators.kmeans import (
        _kmeanspp_md5_seeds,
        kmeans_silhouette,
    )
    from pyspark.sql import functions as F

    # ids 0..19 -> blob at 0; ids 20..39 -> blob at 10; 40..59 -> 20;
    # 60..79 -> 30 (so fixed seeds 0..3 are four near-duplicates)
    df = _blob_df(
        spark,
        [[0.0] * 4, [10.0] * 4, [20.0] * 4, [30.0] * 4],
        n_per=20,
        spread=0.5,
    )

    def weighted_sil(rows):
        tot = sum(r["n_vecs"] for r in rows)
        return sum(r["mean_silhouette"] * r["n_vecs"] for r in rows) / tot

    fixed = weighted_sil(
        kmeans_silhouette(df, k=4, rounds=2, seed_ids=[0, 1, 2, 3])
        .collect()
    )
    kpp = weighted_sil(
        kmeans_silhouette(df, k=4, rounds=2, init="kmeanspp_md5")
        .collect()
    )
    assert kpp >= fixed
    assert kpp > 0.8  # spread seeds recover the true blobs
    # the race picked one seed per blob
    vecs = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).localCheckpoint(eager=True)
    seeds = _kmeanspp_md5_seeds(vecs, 4)
    assert sorted(s // 20 for s in seeds) == [0, 1, 2, 3]


def test_kmeanspp_is_deterministic(spark):
    """Same input -> same seeds on repeated runs (md5 race, no RNG)."""
    from econdatapipeline_spark.operators.kmeans import _kmeanspp_md5_seeds
    from pyspark.sql import functions as F

    df = _blob_df(spark, [[0.0] * 4, [5.0] * 4], n_per=15)
    vecs = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    ).localCheckpoint(eager=True)
    assert _kmeanspp_md5_seeds(vecs, 3) == _kmeanspp_md5_seeds(vecs, 3)


# ---------------------------------------------------------------------------
# Multi-lag Granger
# ---------------------------------------------------------------------------

def _granger_rows():
    rows = []
    for g in ("a", "b"):
        y_hist = [1.0, 2.0]
        x_hist = [0.5, 1.5]
        for t in range(60):
            x = 0.5 + ((t * 17) % 13) / 13.0 + (0.3 if g == "b" else 0.0)
            y = (
                0.4 * y_hist[-1]
                + 0.2 * y_hist[-2]
                + 0.8 * x_hist[-1]
                + 0.3 * x_hist[-2]
                + ((t * 7) % 5) / 10.0
            )
            rows.append((g, t, round(y, 6), round(x, 6)))
            y_hist.append(y)
            x_hist.append(x)
    return rows


def test_granger_lags2_matches_numpy_ols(spark):
    """lags=2 F-statistic and first-x-lag beta equal the numpy lstsq
    restricted/unrestricted OLS replay (the statsmodels-twin property,
    VERDICT r7 #5)."""
    import numpy as np

    from econdatapipeline_spark.operators.timeseries import (
        granger_causality,
    )

    rows = _granger_rows()
    df = spark.createDataFrame(
        rows, "dataset string, date int, y double, x double"
    )
    got = {
        r["dataset"]: r
        for r in granger_causality(
            df, "y", "x", "date", "dataset", lags=2
        ).collect()
    }
    for g in ("a", "b"):
        d = sorted((t, y, x) for (gg, t, y, x) in rows if gg == g)
        y = np.array([r[1] for r in d])
        x = np.array([r[2] for r in d])
        n = len(y)
        yy = y[2:]
        zu = np.column_stack(
            [np.ones(n - 2), y[1:-1], y[:-2], x[1:-1], x[:-2]]
        )
        zr = np.column_stack([np.ones(n - 2), y[1:-1], y[:-2]])
        bu = np.linalg.lstsq(zu, yy, rcond=None)[0]
        br = np.linalg.lstsq(zr, yy, rcond=None)[0]
        rss_u = ((yy - zu @ bu) ** 2).sum()
        rss_r = ((yy - zr @ br) ** 2).sum()
        f = ((rss_r - rss_u) / 2) / (rss_u / (len(yy) - 5))
        assert got[g]["n"] == len(yy)
        assert got[g]["beta_x"] == pytest.approx(bu[3], abs=1e-5)
        assert got[g]["f_stat"] == pytest.approx(f, abs=1e-4)


def test_granger_lags_validation_and_short_series(spark):
    """lags outside 1..4 raises; a series shorter than 2p+1 usable
    rows yields NULL statistics (never-fabricate)."""
    from econdatapipeline_spark.operators.timeseries import (
        granger_causality,
    )

    rows = [("a", t, float(t), float(t % 3)) for t in range(5)]
    df = spark.createDataFrame(
        rows, "dataset string, date int, y double, x double"
    )
    out = granger_causality(df, "y", "x", "date", "dataset", lags=2)
    r = out.collect()[0]
    assert r["beta_x"] is None and r["f_stat"] is None
    with pytest.raises(ValueError):
        granger_causality(df, "y", "x", lags=0)
    with pytest.raises(ValueError):
        granger_causality(df, "y", "x", lags=5)


# ---------------------------------------------------------------------------
# CUPED
# ---------------------------------------------------------------------------

def test_cuped_matches_numpy_and_reduces_variance(spark):
    """CUPED readout equals the numpy replay (pooled theta = cov/var,
    residualized means/variances per variant) and actually removes
    covariate-explained variance on correlated synthetic data."""
    import numpy as np

    from econdatapipeline_spark.operators.evaluation import cuped_adjust

    rows = []
    for i in range(400):
        v = "treat" if i % 2 == 0 else "ctrl"
        x = (i * 37 % 100) / 10.0
        y = 2.0 * x + (0.5 if v == "treat" else 0.0) + ((i * 13) % 7) / 7.0
        rows.append((v, round(y, 6), round(x, 6)))
    df = spark.createDataFrame(rows, "variant string, y double, x double")
    got = {
        r["variant"]: r
        for r in cuped_adjust(df, "y", "x", "variant").collect()
    }
    d = np.array([(y, x) for _, y, x in rows])
    y, x = d[:, 0], d[:, 1]
    theta = np.cov(y, x, ddof=0)[0][1] / np.var(x)
    ya = y - theta * (x - x.mean())
    for v in ("treat", "ctrl"):
        mask = np.array([r[0] == v for r in rows])
        assert got[v]["mean_raw"] == pytest.approx(y[mask].mean(), abs=1e-5)
        assert got[v]["mean_adj"] == pytest.approx(ya[mask].mean(), abs=1e-5)
        assert got[v]["var_raw"] == pytest.approx(
            y[mask].var(ddof=1), abs=1e-4
        )
        assert got[v]["var_adj"] == pytest.approx(
            ya[mask].var(ddof=1), abs=1e-4
        )
        assert got[v]["var_reduction"] > 0.9  # x explains most variance
    # the treatment contrast survives adjustment
    raw_lift = got["treat"]["mean_raw"] - got["ctrl"]["mean_raw"]
    adj_lift = got["treat"]["mean_adj"] - got["ctrl"]["mean_adj"]
    assert adj_lift == pytest.approx(raw_lift, abs=0.2)


# ---------------------------------------------------------------------------
# k-sample log-rank
# ---------------------------------------------------------------------------

def _surv_rows(k=3, n_per=120):
    rows = []
    for g in range(k):
        for i in range(n_per):
            base = 5 + (i * 31 % 60)
            dur = max(1, int(base * (1.0 + 0.35 * g)))
            event = 1 if (i % 4) != 0 else 0
            rows.append((f"g{g}", dur, event))
    return rows


def test_log_rank_k_two_sample_equals_log_rank(spark):
    """With k=2 the full-covariance statistic reduces exactly to the
    two-sample log_rank chi2 (V11 = Σ c_t·p_A·p_B, Z1 = Σ(d_A − e_A))."""
    from econdatapipeline_spark.operators.survival import (
        log_rank,
        log_rank_k,
    )

    rows = _surv_rows(k=2)
    df = spark.createDataFrame(rows, "grp string, duration long, event int")
    two = log_rank(df, "grp", "g0", "g1").collect()[0]
    kk = log_rank_k(df, "grp", ["g0", "g1"]).collect()
    assert kk[0]["chi2"] == pytest.approx(two["chi2"], abs=2e-6)
    by = {r["grp"]: r for r in kk}
    assert by["g0"]["n"] == two["n_a"] and by["g1"]["n"] == two["n_b"]
    assert by["g0"]["observed"] == two["observed_a"]
    assert by["g0"]["expected"] == pytest.approx(
        two["expected_a"], abs=2e-6
    )
    assert kk[0]["dof"] == 1


def test_log_rank_k_three_sample_matches_python_reference(spark):
    """k=3 and k=4 chi2 equal a pure-python full-covariance
    Mantel-Haenszel replay (the lifelines multivariate_logrank_test
    formula): k=3 runs the explicit Cramer form, k=4 the fixed-order
    Gaussian elimination."""
    from econdatapipeline_spark.operators.survival import log_rank_k

    import numpy as np

    for k in (3, 4):
        rows = _surv_rows(k=k)
        df = spark.createDataFrame(
            rows, "grp string, duration long, event int"
        )
        groups = [f"g{g}" for g in range(k)]
        out = log_rank_k(df, "grp", groups).collect()

        # python reference
        data = [(groups.index(g), d, e) for g, d, e in rows]
        times = sorted({d for _, d, e in data if e == 1})
        z = np.zeros(k - 1)
        vm = np.zeros((k - 1, k - 1))
        exp = np.zeros(k)
        for t in times:
            at_risk = [r for r in data if r[1] >= t]
            dead = [r for r in data if r[1] == t and r[2] == 1]
            n_t = len(at_risk)
            d_t = len(dead)
            if d_t == 0:
                continue
            ng = np.array(
                [sum(1 for r in at_risk if r[0] == g) for g in range(k)],
                dtype=float,
            )
            dg = np.array(
                [sum(1 for r in dead if r[0] == g) for g in range(k)],
                dtype=float,
            )
            p = ng / n_t
            exp += d_t * p
            z += dg[: k - 1] - d_t * p[: k - 1]
            c = d_t * (n_t - d_t) / (n_t - 1) if n_t > 1 else 0.0
            for i in range(k - 1):
                for j in range(k - 1):
                    delta = 1.0 if i == j else 0.0
                    vm[i][j] += c * (delta * p[i] - p[i] * p[j])
        chi2_ref = float(z @ np.linalg.solve(vm, z))
        assert out[0]["chi2"] == pytest.approx(chi2_ref, abs=2e-5), k
        by = {r["grp"]: r for r in out}
        for g in range(k):
            assert by[f"g{g}"]["expected"] == pytest.approx(
                exp[g], abs=2e-5
            )
            assert by[f"g{g}"]["observed"] == sum(
                1 for gg, d, e in rows if gg == f"g{g}" and e == 1
            )
            assert by[f"g{g}"]["n"] == sum(
                1 for gg, _, _ in rows if gg == f"g{g}"
            )
        assert out[0]["dof"] == k - 1
    with pytest.raises(ValueError):
        log_rank_k(df, "grp", ["g0"])
    with pytest.raises(ValueError):
        log_rank_k(df, "grp", ["g0", "g0"])


# ---------------------------------------------------------------------------
# IPW ATE
# ---------------------------------------------------------------------------

def test_ipw_ate_corrects_confounding(spark):
    """On data where treatment probability rises with a covariate that
    also raises the outcome, the naive difference is biased upward;
    IPW recovers the true effect, and matches a pure-python replay of
    the same IRLS + Hájek computation."""
    import math

    from econdatapipeline_spark.operators.evaluation import ipw_ate

    rows = []
    for i in range(800):
        x = ((i * 37) % 100) / 50.0 - 1.0
        u = ((i * 2654435761 + 7) % 999983) / 999983.0
        p = 1.0 / (1.0 + math.exp(-(0.4 + 1.2 * x)))
        tr = 1 if u < p else 0
        y = 2.0 + 3.0 * tr + 1.5 * x + ((i * 13) % 7) / 7.0 - 0.4
        rows.append((tr, round(y, 6), round(x, 6)))
    df = spark.createDataFrame(rows, "tr int, y double, x double")
    out = ipw_ate(df, "tr", "y", "x").collect()[0]
    t = [y for tr, y, x in rows if tr]
    c = [y for tr, y, x in rows if not tr]
    naive = sum(t) / len(t) - sum(c) / len(c)
    assert abs(out["ate"] - 3.0) < abs(naive - 3.0)  # bias reduced
    assert abs(out["ate"] - 3.0) < 0.15

    # python replay of the same 4-round IRLS + Hájek estimator
    import numpy as np

    d = np.array(rows, dtype=float)
    tr, y, x = d[:, 0], d[:, 1], d[:, 2]
    b = np.zeros(2)
    z = np.column_stack([np.ones(len(x)), x])
    for _ in range(4):
        mu = 1.0 / (1.0 + np.exp(-(z @ b)))
        g = z.T @ (tr - mu)
        w = mu * (1 - mu)
        h = (z * w[:, None]).T @ z
        b = b + np.linalg.solve(h, g)
    mu = 1.0 / (1.0 + np.exp(-(z @ b)))
    mu1 = (y[tr == 1] / mu[tr == 1]).sum() / (1.0 / mu[tr == 1]).sum()
    mu0 = (y[tr == 0] / (1 - mu[tr == 0])).sum() / (
        1.0 / (1 - mu[tr == 0])
    ).sum()
    assert out["ate"] == pytest.approx(mu1 - mu0, abs=2e-5)
    assert out["mu_treated"] == pytest.approx(mu1, abs=2e-5)
    assert out["mu_control"] == pytest.approx(mu0, abs=2e-5)


def test_ipw_ate_degenerate_never_fabricates(spark):
    """All-treated input and perfect separation yield NULL estimates."""
    from econdatapipeline_spark.operators.evaluation import ipw_ate

    all_t = spark.createDataFrame(
        [(1, 1.0, float(i)) for i in range(20)], "tr int, y double, x double"
    )
    r = ipw_ate(all_t, "tr", "y", "x").collect()[0]
    assert r["ate"] is None and r["n_treated"] == 20
    with pytest.raises(ValueError):
        ipw_ate(all_t, "tr", "y", "x", rounds=0)


# ---------------------------------------------------------------------------
# Aalen-Johansen cumulative incidence
# ---------------------------------------------------------------------------

def test_cumulative_incidence_identity_and_reference(spark):
    """Sum of CIFs over causes equals 1 − KM at every time (the
    estimator's defining identity), values match a pure-python
    Aalen-Johansen replay, and 1 − per-cause-KM overstates the risk
    (the bias this estimator exists to remove)."""
    from econdatapipeline_spark.operators.survival import (
        cumulative_incidence,
        kaplan_meier,
    )

    rows = []
    for i in range(200):
        dur = 1 + (i * 37 % 50)
        ev = 1 if i % 4 != 0 else 0
        cause = ("a" if i % 3 == 0 else "b") if ev else None
        rows.append((dur, ev, cause))
    df = spark.createDataFrame(rows, "duration long, event int, cause string")
    out = cumulative_incidence(df, causes=["a", "b"]).collect()
    by_t = {}
    for r in out:
        by_t.setdefault(r["t"], {})[r["cause"]] = r["cif"]
    km = {r["t"]: r["survival"] for r in kaplan_meier(df).collect()}
    for t, cs in by_t.items():
        assert sum(cs.values()) == pytest.approx(1 - km[t], abs=3e-6), t

    # python replay
    times = sorted({d for d, e, c in rows})
    n = len(rows)
    s_prev = 1.0
    cif = {"a": 0.0, "b": 0.0}
    ref = {}
    for t in times:
        at_risk = sum(1 for d, e, c in rows if d >= t)
        d_t = sum(1 for d, e, c in rows if d == t and e == 1)
        for cz in ("a", "b"):
            d_c = sum(
                1 for d, e, c in rows if d == t and e == 1 and c == cz
            )
            cif[cz] += s_prev * d_c / at_risk
        s_prev *= 1 - d_t / at_risk
        ref[t] = dict(cif)
    for t, cs in by_t.items():
        for cz in ("a", "b"):
            assert cs[cz] == pytest.approx(ref[t][cz], abs=2e-6), (t, cz)
    # 1 - cause-specific KM (competing events as censoring) >= CIF
    only_a = spark.createDataFrame(
        [(d, 1 if (e == 1 and c == "a") else 0) for d, e, c in rows],
        "duration long, event int",
    )
    km_a = {r["t"]: r["survival"] for r in kaplan_meier(only_a).collect()}
    tmax = max(by_t)
    assert 1 - km_a[tmax] > by_t[tmax]["a"]
    with pytest.raises(ValueError):
        cumulative_incidence(df, causes=[])
    with pytest.raises(ValueError):
        cumulative_incidence(df, causes=["a", "a"])
    # undeclared cause raises loudly rather than silently biasing
    with pytest.raises(Exception, match="undeclared cause"):
        cumulative_incidence(df, causes=["a"]).collect()


# ---------------------------------------------------------------------------
# Weibull fit
# ---------------------------------------------------------------------------

def test_weibull_fit_recovers_parameters_and_matches_replay(spark):
    """Censored MLE recovers (k, lambda) on deterministic
    Weibull(1.8, 50) data within a few percent, and equals a pure
    numpy replay of the same profile fixed point to ~1e-5."""
    import math

    import numpy as np

    from econdatapipeline_spark.operators.survival import weibull_fit

    rows = []
    for i in range(500):
        u = ((i * 2654435761 + 12345) % 999983 + 1) / 999984.0
        t = 50.0 * (-math.log(u)) ** (1 / 1.8)
        rows.append((60.0, 0) if t > 60 else (round(t, 6), 1))
    df = spark.createDataFrame(rows, "duration double, event int")
    out = weibull_fit(df, rounds=10).collect()[0]
    t = np.array([r[0] for r in rows])
    e = np.array([r[1] for r in rows])
    d = e.sum()
    mean_lne = np.log(t)[e == 1].sum() / d
    k = 1.0
    for _ in range(10):
        tk = t ** k
        k = 1.0 / ((tk * np.log(t)).sum() / tk.sum() - mean_lne)
    lam = (sum(t ** k) / d) ** (1 / k)
    assert out["shape_k"] == pytest.approx(k, abs=2e-5)
    assert out["scale_lambda"] == pytest.approx(lam, abs=2e-4)
    assert out["median_t"] == pytest.approx(
        lam * math.log(2) ** (1 / k), abs=2e-4
    )
    assert abs(out["shape_k"] - 1.8) < 0.15  # parameter recovery
    assert abs(out["scale_lambda"] - 50.0) < 3.0
    assert out["n"] == 500 and out["n_events"] == int(d)


def test_weibull_fit_degenerate_never_fabricates(spark):
    """All-censored input (no events) and all-equal durations yield
    NULL estimates, not fabricated parameters."""
    from econdatapipeline_spark.operators.survival import weibull_fit

    no_events = spark.createDataFrame(
        [(float(i + 1), 0) for i in range(20)], "duration double, event int"
    )
    r = weibull_fit(no_events).collect()[0]
    assert r["shape_k"] is None and r["scale_lambda"] is None
    constant = spark.createDataFrame(
        [(5.0, 1)] * 20, "duration double, event int"
    )
    r2 = weibull_fit(constant).collect()[0]
    assert r2["shape_k"] is None  # zero log-spread -> degenerate den
    with pytest.raises(ValueError):
        weibull_fit(constant, rounds=0)


# ---------------------------------------------------------------------------
# Mann-Kendall
# ---------------------------------------------------------------------------

def test_mann_kendall_matches_python_reference(spark):
    """S, tie-corrected variance, and continuity-corrected z equal a
    pure-python replay on a tied, trending series; a flat series gets
    z = 0; an anti-trend gets negative z."""
    from econdatapipeline_spark.operators.timeseries import mann_kendall

    rows = []
    series = {
        "up": [1.0, 2.0, 2.0, 3.0, 5.0, 4.0, 6.0, 7.0, 7.0, 9.0],
        "down": [9.0, 8.0, 8.0, 6.0, 5.0, 5.0, 4.0, 2.0, 2.0, 1.0],
        "flat": [3.0] * 10,
    }
    for g, vals in series.items():
        for i, v in enumerate(vals):
            rows.append((g, i, v))
    df = spark.createDataFrame(rows, "dataset string, date int, value double")
    got = {
        r["dataset"]: r
        for r in mann_kendall(df, "value", "date", "dataset").collect()
    }
    import math

    for g, vals in series.items():
        n = len(vals)
        s = sum(
            (0 if vals[j] == vals[i] else (1 if vals[j] > vals[i] else -1))
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        tie = sum(
            t * (t - 1) * (2 * t + 5)
            for t in Counter(vals).values()
        )
        var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        if var > 0:
            z = (
                (s - 1) / math.sqrt(var)
                if s > 0
                else ((s + 1) / math.sqrt(var) if s < 0 else 0.0)
            )
        else:
            z = None
        r = got[g]
        assert r["s_stat"] == s and r["n"] == n
        assert r["var_s"] == pytest.approx(var, abs=1e-6)
        if z is None:
            assert r["z"] is None
        else:
            assert r["z"] == pytest.approx(z, abs=1e-6)
    assert got["up"]["z"] > 2 and got["down"]["z"] < -2
    assert got["flat"]["z"] is None  # zero variance -> no statistic


# ---------------------------------------------------------------------------
# SRM check
# ---------------------------------------------------------------------------

def test_srm_check_chi2_and_guards(spark):
    """chi2 equals the manual goodness-of-fit on a deliberately
    imbalanced assignment; undeclared variants raise; weight
    validation raises."""
    from econdatapipeline_spark.operators.evaluation import srm_check

    rows = [("a",)] * 120 + [("b",)] * 80
    df = spark.createDataFrame(rows, "v string")
    out = {r["variant"]: r for r in srm_check(df, "v", {"a": 1, "b": 1}).collect()}
    # e = 100 each; chi2 = 400/100 + 400/100 = 8
    assert out["a"]["n_observed"] == 120 and out["b"]["n_observed"] == 80
    assert out["a"]["n_expected"] == 100.0
    assert out["a"]["chi2"] == pytest.approx(8.0, abs=1e-6)
    assert out["a"]["dof"] == 1
    # 90/10 declared split on the same data: e_a = 180, e_b = 20
    out2 = srm_check(df, "v", {"a": 9, "b": 1}).collect()[0]
    assert out2["chi2"] == pytest.approx(
        (120 - 180) ** 2 / 180 + (80 - 20) ** 2 / 20, abs=1e-6
    )
    with pytest.raises(ValueError):
        srm_check(df, "v", {"a": 1})
    with pytest.raises(ValueError):
        srm_check(df, "v", {"a": 1, "b": 0})
    with pytest.raises(ValueError):
        srm_check(df, "v", {"a": 1, "c": 1})  # 'b' undeclared


# ---------------------------------------------------------------------------
# editdist double blocking
# ---------------------------------------------------------------------------

def test_editdist_suffix_pass_recovers_early_edits(spark):
    """Pairs edited INSIDE the 24-char prefix are invisible to prefix
    blocking but share the suffix key; the two-pass union must find
    them while prefix-only documents the miss (VERDICT r7 #6)."""
    from econdatapipeline_spark.operators.dedup import editdist_dedup

    tail = " the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, "alpha document start" + tail),
        (2, "alpba document start" + tail),   # edit at char 4 (prefix)
        (3, "some totally unrelated text that matches nothing else"),
        (4, "shared prefix block AAAA" + tail),
        (5, "shared prefix block AAAB" + tail),  # edit past char 24? no:
        # chars 21-24 differ -> still inside prefix; give a late edit:
        (6, "shared prefix block AAAA" + tail + " x"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pre = {
        (r["id_a"], r["id_b"])
        for r in editdist_dedup(df, max_dist=2).collect()
    }
    both = {
        (r["id_a"], r["id_b"])
        for r in editdist_dedup(
            df, max_dist=2, blocks=("prefix", "suffix")
        ).collect()
    }
    assert (1, 2) not in pre          # the documented prefix blind spot
    assert (1, 2) in both             # suffix pass recovers it
    assert (4, 6) in pre and (4, 6) in both  # prefix pairs retained
    assert pre <= both                 # union never loses recall
    # no duplicate pair rows from the two passes
    rows = editdist_dedup(
        df, max_dist=2, blocks=("prefix", "suffix")
    ).collect()
    keys = [(r["id_a"], r["id_b"]) for r in rows]
    assert len(keys) == len(set(keys))
    with pytest.raises(ValueError):
        editdist_dedup(df, blocks=("middle",))
