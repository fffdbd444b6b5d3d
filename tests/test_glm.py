"""GLM family tests: the count-response Newton/IRLS fits
(poisson_glm, quasipoisson_glm, negbin_glm) and the argument checks
every fit and fragment builder shares.

Established twin-test style: a pure-numpy replay of the same bounded
fit, plus never-fabricate degenerate gates.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


# ---------------------------------------------------------------------------
# poisson_glm
# ---------------------------------------------------------------------------

def _poisson_numpy(y, X, rounds=6):
    """Unquantized numpy replay: init b0 = ln(mean y), Newton on the
    concave log-link likelihood; returns (beta, se, deviance)."""
    y = np.asarray(y, dtype=float)
    Xd = np.column_stack(
        [np.ones(len(y))] + [np.asarray(c, dtype=float) for c in X]
    )
    b = np.zeros(Xd.shape[1])
    b[0] = math.log(y.mean())
    for _ in range(rounds):
        mu = np.exp(Xd @ b)
        b = b + np.linalg.solve((Xd * mu[:, None]).T @ Xd, Xd.T @ (y - mu))
    mu = np.exp(Xd @ b)
    cov = np.linalg.inv((Xd * mu[:, None]).T @ Xd)
    dev = 2.0 * sum(
        yy * math.log(yy / mm) - (yy - mm) if yy > 0 else mm
        for yy, mm in zip(y, mu)
    )
    return b, np.sqrt(np.diag(cov)), dev


def test_poisson_glm_matches_numpy_reference(spark):
    """Coefs, delta-free SEs, z, rate ratios, and deviance agree with
    the unquantized numpy IRLS to under the 6-dp grain, and the fit
    recovers the generating parameters."""
    from econdatapipeline_spark.operators.glm import poisson_glm

    rng = np.random.RandomState(4)
    n = 1500
    x1 = np.round(rng.normal(0, 1, n), 3)
    x2 = (np.arange(n) % 2).astype(float)
    y = rng.poisson(np.exp(0.8 + 0.5 * x1 - 0.3 * x2))
    df = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in zip(y, x1, x2)],
        "y int, x1 double, x2 double",
    )
    rows = {
        r["param"]: r
        for r in poisson_glm(df, "y", ["x1", "x2"]).collect()
    }
    beta, se, dev = _poisson_numpy(y, [x1, x2])
    for j, lbl in enumerate(["intercept", "x1", "x2"]):
        r = rows[lbl]
        assert r["n"] == n
        assert r["coef"] == pytest.approx(beta[j], abs=2e-5)
        assert r["se"] == pytest.approx(se[j], abs=2e-5)
        assert r["rate_ratio"] == pytest.approx(
            math.exp(beta[j]), abs=2e-4
        )
        assert r["deviance"] == pytest.approx(dev, abs=1e-3)
    assert rows["x1"]["coef"] == pytest.approx(0.5, abs=0.06)
    assert rows["x2"]["coef"] == pytest.approx(-0.3, abs=0.08)


def test_poisson_glm_gates_and_validation(spark):
    """Constant covariate -> singular Hessian -> NULL estimates;
    all-zero response -> NULL (ln(mean) undefined); negative
    responses are excluded by the >= 0 filter; bad args raise."""
    from econdatapipeline_spark.operators.glm import poisson_glm

    const = spark.createDataFrame(
        [(i % 3, 2.5) for i in range(40)], "y int, x1 double"
    )
    for r in poisson_glm(const, "y", ["x1"]).collect():
        assert r["coef"] is None and r["se"] is None

    zeros = spark.createDataFrame(
        [(0, float(i % 5)) for i in range(30)], "y int, x1 double"
    )
    for r in poisson_glm(zeros, "y", ["x1"]).collect():
        assert r["coef"] is None

    mixed = spark.createDataFrame(
        [(-3, 1.0)] + [(i % 4, float(i % 7)) for i in range(50)],
        "y int, x1 double",
    )
    out = poisson_glm(mixed, "y", ["x1"]).collect()
    assert all(r["n"] == 50 for r in out)  # the negative row dropped

    with pytest.raises(ValueError):
        poisson_glm(const, "y", [])
    with pytest.raises(ValueError):
        poisson_glm(const, "y", ["x1"], rounds=0)


# ---------------------------------------------------------------------------
# quasipoisson_glm
# ---------------------------------------------------------------------------

def test_quasipoisson_scales_inference_not_estimates(spark):
    from econdatapipeline_spark.operators.glm import (
        poisson_glm,
        quasipoisson_glm,
    )

    rng = np.random.RandomState(37)
    n = 800
    x1 = np.round(rng.uniform(0, 2, n), 3)
    lam = np.exp(0.3 + 0.8 * x1)
    # negative-binomial draws: overdispersed counts (Var > mean)
    y = rng.negative_binomial(2, 2 / (2 + lam))
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, x1)],
        "y int, x1 double",
    )
    pois = {r["param"]: r for r in poisson_glm(df, "y", ["x1"]).collect()}
    quasi = {
        r["param"]: r for r in quasipoisson_glm(df, "y", ["x1"]).collect()
    }
    # identical point estimates and deviance (same Newton rounds)
    for prm in ("intercept", "x1"):
        assert quasi[prm]["coef"] == pois[prm]["coef"]
        assert quasi[prm]["rate_ratio"] == pois[prm]["rate_ratio"]
        assert quasi[prm]["deviance"] == pois[prm]["deviance"]
    # overdispersion detected, SEs widened by sqrt(phi)
    phi = quasi["x1"]["dispersion"]
    assert phi > 1.3
    assert quasi["x1"]["se"] == pytest.approx(
        pois["x1"]["se"] * np.sqrt(phi), rel=1e-3
    )
    assert abs(quasi["x1"]["z"]) < abs(pois["x1"]["z"])
    # Pearson dispersion against numpy on the fitted means
    b0, b1 = pois["intercept"]["coef"], pois["x1"]["coef"]
    mu = np.exp(b0 + b1 * x1)
    phi_ref = np.sum((y - mu) ** 2 / mu) / (n - 2)
    assert phi == pytest.approx(phi_ref, rel=5e-3)


# ---------------------------------------------------------------------------
# negbin_glm
# ---------------------------------------------------------------------------

def _negbin_numpy(y, X, alpha, rounds=6):
    """Float replay of the Fisher-scoring schedule."""
    y = np.asarray(y, dtype=float)
    Xd = np.column_stack([np.ones(len(y))] + [np.asarray(c) for c in X])
    b = np.zeros(Xd.shape[1])
    b[0] = np.log(y.mean())
    for _ in range(rounds):
        mu = np.exp(Xd @ b)
        den = 1.0 + alpha * mu
        g = Xd.T @ ((y - mu) / den)
        W = mu / den
        H = (Xd * W[:, None]).T @ Xd
        b = b + np.linalg.solve(H, g)
    mu = np.exp(Xd @ b)
    H = (Xd * (mu / (1.0 + alpha * mu))[:, None]).T @ Xd
    se = np.sqrt(np.diag(np.linalg.inv(H)))
    return b, se


def test_negbin_recovers_overdispersed_counts(spark):
    from econdatapipeline_spark.operators.glm import negbin_glm

    rng = np.random.RandomState(15)
    n = 4000
    x1 = np.round(rng.uniform(0, 2, n), 3)
    x2 = (rng.uniform(size=n) < 0.4).astype(float)
    mu = np.exp(0.5 + 0.8 * x1 - 0.5 * x2)
    alpha = 0.5
    # NB2 via gamma-poisson mixture
    lam = mu * rng.gamma(1 / alpha, alpha, n)
    y = rng.poisson(lam)
    df = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in zip(y, x1, x2)],
        "y long, x1 double, x2 double",
    )
    rows = {r["param"]: r for r in negbin_glm(df, "y", ["x1", "x2"], alpha=0.5).collect()}
    b_ref, se_ref = _negbin_numpy(y, [x1, x2], 0.5)
    assert rows["intercept"]["coef"] == pytest.approx(b_ref[0], abs=2e-4)
    assert rows["x1"]["coef"] == pytest.approx(b_ref[1], abs=2e-4)
    assert rows["x2"]["coef"] == pytest.approx(b_ref[2], abs=2e-4)
    assert rows["x1"]["se"] == pytest.approx(se_ref[1], abs=2e-4)
    # parameter recovery
    assert abs(rows["x1"]["coef"] - 0.8) < 0.1
    assert abs(rows["x2"]["coef"] + 0.5) < 0.1
    # NB SEs exceed the Poisson SEs the clumped data would understate
    from econdatapipeline_spark.operators.glm import poisson_glm

    prow = {r["param"]: r for r in poisson_glm(df, "y", ["x1", "x2"]).collect()}
    assert rows["x1"]["se"] > prow["x1"]["se"] * 1.15


def test_negbin_small_alpha_matches_poisson(spark):
    from econdatapipeline_spark.operators.glm import negbin_glm, poisson_glm

    rng = np.random.RandomState(33)
    n = 1500
    x = np.round(rng.uniform(0, 1.5, n), 3)
    y = rng.poisson(np.exp(0.3 + 0.6 * x))
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, x)], "y long, x double"
    )
    nb = {r["param"]: r for r in negbin_glm(df, "y", ["x"], alpha=0.0009765625).collect()}
    po = {r["param"]: r for r in poisson_glm(df, "y", ["x"]).collect()}
    # alpha = 2^-10: the NB chain collapses onto Poisson
    assert nb["x"]["coef"] == pytest.approx(po["x"]["coef"], abs=1e-3)
    assert nb["x"]["se"] == pytest.approx(po["x"]["se"], rel=2e-3)

    with pytest.raises(ValueError):
        negbin_glm(df, "y", ["x"], alpha=0.0)


# ---------------------------------------------------------------------------
# argument validation (shared by every fit and fragment builder)
# ---------------------------------------------------------------------------

_FITS = ("poisson_glm", "logistic_glm", "quasipoisson_glm", "negbin_glm")
_BAD_ARGS = [
    *[pytest.param(f, ("y", []), {}, id=f"{f}-no_covariates") for f in _FITS],
    *[
        pytest.param(f, ("y", ["x1"]), {"rounds": 0}, id=f"{f}-rounds0")
        for f in _FITS
    ],
    *[
        pytest.param(f, (p,), {}, id=f"{f}-p{p}")
        for f in ("poisson_fragments", "logistic_fragments")
        for p in (0, 8)
    ],
    *[
        pytest.param(
            "negbin_fragments", (p, 0.5), {}, id=f"negbin_fragments-p{p}"
        )
        for p in (0, 8)
    ],
    *[
        pytest.param(
            "negbin_fragments", (2, a), {}, id=f"negbin_fragments-alpha{a}"
        )
        for a in (0.0, -0.5)
    ],
]


@pytest.mark.parametrize("name,args,kwargs", _BAD_ARGS)
def test_glm_rejects_bad_arguments(request, name, args, kwargs):
    """Empty covariates, rounds < 1, p outside 1..7 and alpha <= 0 raise
    before any Spark job; the fragment cases need no session."""
    from econdatapipeline_spark.operators import glm

    if name.endswith("_glm"):
        spark = request.getfixturevalue("spark")
        df = spark.createDataFrame([(1, 1.0)], "y int, x1 double")
        args = (df, *args)
    with pytest.raises(ValueError):
        getattr(glm, name)(*args, **kwargs)
