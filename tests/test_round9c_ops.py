"""Round-9 third-session operator tests: quantile regression (IRLS
pinball), the Engle ARCH LM test, Yule-Walker AR(p) fit, Fleiss'
kappa, association rules, Yuen's trimmed t-test, TOST equivalence,
HITS hubs/authorities, and grid DBSCAN.

Established twin-test style: a pure-numpy replay of the same bounded
fit, plus never-fabricate degenerate gates.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# quantile_regression
# ---------------------------------------------------------------------------

def _qr_numpy(y, x, tau, rounds=6, eps=1e-3):
    """Unquantized numpy replay of the same IRLS schedule."""
    y = np.asarray(y, dtype=float)
    x = np.asarray(x, dtype=float)
    n = len(y)
    # OLS seed
    sx, sy = x.sum(), y.sum()
    sxx, sxy = (x * x).sum(), (x * y).sum()
    cxx = sxx - sx * sx / n
    cxy = sxy - sx * sy / n
    b = cxy / cxx
    a = sy / n - b * sx / n
    # tau-quantile residual seed shift (operator's certified
    # percentile pass; np 'linear' == quantile_cont interpolation)
    a += np.quantile(y - a - b * x, tau, method="linear")
    for _ in range(rounds):
        e = y - a - b * x
        w = np.where(e < 0, 1.0 - tau, tau) / np.maximum(np.abs(e), eps)
        sw = w.sum()
        swx, swy = (w * x).sum(), (w * y).sum()
        swxx, swxy = (w * x * x).sum(), (w * x * y).sum()
        cwxx = swxx - swx * swx / sw
        cwxy = swxy - swx * swy / sw
        b = cwxy / cwxx
        a = swy / sw - b * swx / sw
    e = y - a - b * x
    pin = np.where(e >= 0, tau * e, (tau - 1.0) * e).mean()
    return a, b, pin, int((e < 0).sum())


def test_quantile_regression_matches_numpy_replay(spark):
    from econdatapipeline_spark.operators.timeseries import (
        quantile_regression,
    )

    rng = np.random.RandomState(31)
    n = 500
    x = np.round(rng.uniform(0, 10, n), 3)
    # heteroscedastic: spread grows with x, so quantile lines fan out
    y = np.round(1.0 + 2.0 * x + (0.2 + 0.3 * x) * rng.normal(0, 1, n), 3)
    df = spark.createDataFrame(
        [("s", float(a), float(b)) for a, b in zip(x, y)],
        "g string, x double, y double",
    )
    for tau in (0.25, 0.5, 0.9):
        row = quantile_regression(df, "y", "x", tau=tau, group_col="g").collect()[0]
        a_ref, b_ref, pin_ref, nb_ref = _qr_numpy(y, x, tau)
        assert row["intercept"] == pytest.approx(a_ref, abs=5e-4), tau
        assert row["slope"] == pytest.approx(b_ref, abs=5e-4), tau
        assert row["pinball_loss"] == pytest.approx(pin_ref, abs=1e-4), tau
        assert abs(row["n_below"] - nb_ref) <= 1, tau


def test_quantile_regression_calibration_and_ordering(spark):
    from econdatapipeline_spark.operators.timeseries import (
        quantile_regression,
    )

    rng = np.random.RandomState(7)
    n = 1000
    x = np.round(rng.uniform(0, 5, n), 3)
    y = np.round(3.0 + 1.0 * x + rng.normal(0, 1.0, n), 3)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)],
        "x double, y double",
    )
    lines = {}
    for tau in (0.1, 0.5, 0.9):
        row = quantile_regression(df, "y", "x", tau=tau).collect()[0]
        lines[tau] = (row["intercept"], row["slope"], row["n_below"])
        # residual share below the line ~ tau (IRLS approximation:
        # generous band)
        assert abs(row["n_below"] / n - tau) < 0.02, tau
    # quantile lines are ordered at the domain midpoint
    mid = 2.5
    v = {t: a + b * mid for t, (a, b, _) in lines.items()}
    assert v[0.1] < v[0.5] < v[0.9]


def test_quantile_regression_degenerate_nulls(spark):
    from econdatapipeline_spark.operators.timeseries import (
        quantile_regression,
    )

    df = spark.createDataFrame(
        [("a", 1.0, 2.0), ("a", 1.0, 3.0)], "g string, x double, y double"
    )
    row = quantile_regression(df, "y", "x", group_col="g").collect()[0]
    assert row["intercept"] is None and row["slope"] is None

    with pytest.raises(ValueError):
        quantile_regression(df, "y", "x", tau=0.0)
    with pytest.raises(ValueError):
        quantile_regression(df, "y", "x", rounds=0)


# ---------------------------------------------------------------------------
# arch_test
# ---------------------------------------------------------------------------

def _arch_numpy(v, lags):
    """Float replay of the ARCH LM schedule (demean -> u -> aux OLS)."""
    v = np.asarray(v, dtype=float)
    e = v - v.sum() / len(v)
    u = np.round(e * e, 6)
    n = len(u) - lags
    Y = u[lags:]
    X = np.column_stack(
        [np.ones(n)] + [u[lags - i : len(u) - i] for i in range(1, lags + 1)]
    )
    beta = np.linalg.solve(X.T @ X, X.T @ Y)
    r = Y - X @ beta
    rss = (r * r).sum()
    tss = ((Y - Y.mean()) ** 2).sum()
    r2 = 1.0 - rss / tss
    return n, n * r2, r2


def _series_df(spark, values, g="s"):
    return spark.createDataFrame(
        [(g, i, float(x)) for i, x in enumerate(values)],
        "dataset string, date long, value double",
    )


def test_arch_detects_volatility_clustering(spark):
    from econdatapipeline_spark.operators.timeseries import arch_test

    rng = np.random.RandomState(3)
    n = 600
    # ARCH(1): sigma2_t = 0.2 + 0.7 * e_{t-1}^2
    e = np.zeros(n)
    prev = 0.0
    for t in range(n):
        sig2 = 0.2 + 0.7 * prev
        e[t] = np.sqrt(sig2) * rng.normal()
        prev = e[t] * e[t]
    arch = np.round(e, 3)
    white = np.round(rng.normal(0, 1, n), 3)
    df = _series_df(spark, arch, "arch").union(_series_df(spark, white, "white"))
    rows = {r["dataset"]: r for r in arch_test(df, "value", "date", "dataset", lags=1).collect()}
    assert rows["arch"]["reject_5pct"] is True
    assert rows["white"]["reject_5pct"] is False
    n_ref, lm_ref, r2_ref = _arch_numpy(arch, 1)
    assert rows["arch"]["n"] == n_ref
    assert rows["arch"]["lm_stat"] == pytest.approx(lm_ref, abs=1e-3)
    assert rows["arch"]["r2"] == pytest.approx(r2_ref, abs=1e-6)


def test_arch_multilag_matches_replay(spark):
    from econdatapipeline_spark.operators.timeseries import arch_test

    rng = np.random.RandomState(9)
    n = 400
    e = np.zeros(n)
    p1, p2 = 0.0, 0.0
    for t in range(n):
        sig2 = 0.3 + 0.4 * p1 + 0.3 * p2
        e[t] = np.sqrt(sig2) * rng.normal()
        p2, p1 = p1, e[t] * e[t]
    v = np.round(e, 3)
    df = _series_df(spark, v)
    for lags in (2, 3):
        row = arch_test(df, "value", "date", "dataset", lags=lags).collect()[0]
        n_ref, lm_ref, r2_ref = _arch_numpy(v, lags)
        assert row["n"] == n_ref, lags
        assert row["lm_stat"] == pytest.approx(lm_ref, abs=1e-3), lags
        assert row["reject_5pct"] is True, lags


def test_arch_degenerate_nulls(spark):
    from econdatapipeline_spark.operators.timeseries import arch_test

    df = _series_df(spark, [5.0] * 50)  # constant: zero variance
    row = arch_test(df, "value", "date", "dataset").collect()[0]
    assert row["lm_stat"] is None and row["reject_5pct"] is None

    with pytest.raises(ValueError):
        arch_test(df, "value", lags=0)


# ---------------------------------------------------------------------------
# ar_fit (Yule-Walker)
# ---------------------------------------------------------------------------

def _yw_numpy(v, p):
    """Float replay: biased autocovariances -> Toeplitz solve."""
    x = np.floor(np.asarray(v, dtype=float) * 1e6 + 0.5) / 1e6
    n = len(x)
    m = x.sum() / n
    d = x - m
    c = [(d[k:] * d[: n - k]).sum() / n for k in range(p + 1)]
    R = np.array([[c[abs(i - j)] for j in range(p)] for i in range(p)])
    r = np.array(c[1 : p + 1])
    phi = np.linalg.solve(R, r)
    s2 = c[0] - float(phi @ r)
    return phi, s2, 1.0 - s2 / c[0]


def test_ar_fit_recovers_ar2(spark):
    from econdatapipeline_spark.operators.timeseries import ar_fit

    rng = np.random.RandomState(21)
    n = 3000
    x = np.zeros(n)
    for t in range(2, n):
        x[t] = 0.6 * x[t - 1] - 0.3 * x[t - 2] + rng.normal()
    v = np.round(x, 3)
    df = _series_df(spark, v)
    row = ar_fit(df, "value", "date", "dataset", order=2).collect()[0]
    phi, s2, r2 = _yw_numpy(v, 2)
    assert row["phi_1"] == pytest.approx(phi[0], abs=1e-5)
    assert row["phi_2"] == pytest.approx(phi[1], abs=1e-5)
    assert row["sigma2"] == pytest.approx(s2, abs=1e-4)
    assert row["r2"] == pytest.approx(r2, abs=1e-5)
    # parameter recovery: near the generating process
    assert abs(row["phi_1"] - 0.6) < 0.06
    assert abs(row["phi_2"] + 0.3) < 0.06


def test_ar_fit_white_noise_low_r2(spark):
    from econdatapipeline_spark.operators.timeseries import ar_fit

    rng = np.random.RandomState(4)
    v = np.round(rng.normal(0, 1, 1500), 3)
    row = ar_fit(_series_df(spark, v), "value", "date", "dataset", order=3).collect()[0]
    assert row["r2"] is not None and row["r2"] < 0.01
    phi, s2, r2 = _yw_numpy(v, 3)
    for k in range(3):
        assert row[f"phi_{k + 1}"] == pytest.approx(phi[k], abs=1e-5)


def test_ar_fit_degenerate_nulls(spark):
    from econdatapipeline_spark.operators.timeseries import ar_fit

    df = _series_df(spark, [2.0] * 40)
    row = ar_fit(df, "value", "date", "dataset", order=2).collect()[0]
    assert row["phi_1"] is None and row["sigma2"] is None
    with pytest.raises(ValueError):
        ar_fit(df, "value", order=5)


# ---------------------------------------------------------------------------
# fleiss_kappa
# ---------------------------------------------------------------------------

_FLEISS_TABLE = [  # Fleiss (1971) worked example: N=10, n=14, k=5
    [0, 0, 0, 0, 14],
    [0, 2, 6, 4, 2],
    [0, 0, 3, 5, 6],
    [0, 3, 9, 2, 0],
    [2, 2, 8, 1, 1],
    [7, 7, 0, 0, 0],
    [3, 2, 6, 3, 0],
    [2, 5, 3, 2, 2],
    [6, 5, 2, 1, 0],
    [0, 2, 2, 3, 7],
]


def _fleiss_rows(table):
    rows = []
    for si, counts in enumerate(table):
        for cat, c in enumerate(counts):
            rows.extend((si, f"c{cat}") for _ in range(c))
    return rows


def test_fleiss_kappa_classic_example(spark):
    from econdatapipeline_spark.operators.stats import fleiss_kappa

    df = spark.createDataFrame(
        _fleiss_rows(_FLEISS_TABLE), "subject long, label string"
    )
    row = fleiss_kappa(df, "subject", "label", n_raters=14).collect()[0]
    assert row["n_subjects"] == 10 and row["n_dropped"] == 0
    # published values for the 1971 example
    assert row["p_bar"] == pytest.approx(0.378, abs=5e-4)
    assert row["p_e"] == pytest.approx(0.213, abs=5e-4)
    assert row["kappa"] == pytest.approx(0.210, abs=5e-4)
    # exact replay from the integer formula
    import itertools
    N, n = 10, 14
    sq_tot = sum(c * c for r in _FLEISS_TABLE for c in r)
    p_bar = (sq_tot - N * n) / (N * n * (n - 1))
    m = [sum(r[j] for r in _FLEISS_TABLE) for j in range(5)]
    p_e = sum(x * x for x in m) / (N * n) ** 2
    assert row["kappa"] == pytest.approx((p_bar - p_e) / (1 - p_e), abs=1e-6)


def test_fleiss_kappa_ragged_and_degenerate(spark):
    from econdatapipeline_spark.operators.stats import fleiss_kappa

    rows = _fleiss_rows(_FLEISS_TABLE) + [(99, "c0"), (99, "c1"), (99, "c1")]
    df = spark.createDataFrame(rows, "subject long, label string")
    row = fleiss_kappa(df, "subject", "label", n_raters=14).collect()[0]
    assert row["n_subjects"] == 10 and row["n_dropped"] == 1
    assert row["kappa"] == pytest.approx(0.210, abs=5e-4)

    # unanimous single category: p_e = 1 -> NULL kappa, p_bar = 1
    uni = spark.createDataFrame(
        [(s, "only") for s in range(4) for _ in range(3)],
        "subject long, label string",
    )
    r2 = fleiss_kappa(uni, "subject", "label", n_raters=3).collect()[0]
    assert r2["p_bar"] == 1.0 and r2["kappa"] is None

    with pytest.raises(ValueError):
        fleiss_kappa(df, "subject", "label", n_raters=1)


# ---------------------------------------------------------------------------
# association_rules
# ---------------------------------------------------------------------------

def test_association_rules_hand_example(spark):
    from econdatapipeline_spark.operators.rules import association_rules

    baskets = {
        1: ["beer", "chips"],
        2: ["beer", "chips", "salsa"],
        3: ["beer", "salsa"],
        4: ["chips", "salsa"],
        5: ["beer", "chips"],
        6: ["milk"],
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "basket", "item").collect()
    }
    # beer -> chips: pair=3, beer=4, chips=4, N=6
    r = out[("beer", "chips")]
    assert r["n_pair"] == 3 and r["n_ante"] == 4 and r["n_cons"] == 4
    assert r["confidence"] == pytest.approx(3 / 4)
    assert r["lift"] == pytest.approx((3 / 4) / (4 / 6))
    # both directions emitted
    assert ("chips", "beer") in out
    # min support pruning: singleton pairs gone at threshold 2
    assert ("beer", "salsa") in out  # pair=2 survives
    df2 = association_rules(df, "basket", "item", min_pair_support=3)
    keys = {(r["antecedent"], r["consequent"]) for r in df2.collect()}
    assert ("beer", "salsa") not in keys and ("beer", "chips") in keys


def test_association_rules_mega_basket_dropped(spark):
    from econdatapipeline_spark.operators.rules import association_rules

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b")]
    rows += [(9, f"i{k}") for k in range(10)]  # over the cap
    df = spark.createDataFrame(rows, "basket long, item string")
    out = association_rules(
        df, "basket", "item", min_pair_support=1, max_basket_size=5
    ).collect()
    # only baskets 1,2 qualify -> N=2; a->b pair=2, supports 2
    r = {(x["antecedent"], x["consequent"]): x for x in out}
    assert set(r) == {("a", "b"), ("b", "a")}
    assert r[("a", "b")]["lift"] == pytest.approx(1.0)

    with pytest.raises(ValueError):
        association_rules(df, "basket", "item", min_pair_support=0)


# ---------------------------------------------------------------------------
# yuen_ttest
# ---------------------------------------------------------------------------

def _yuen_numpy(a, b, trim=0.2):
    """Float replay of Yuen's schedule (floor-quantized inputs)."""
    res = []
    for v in (a, b):
        x = np.sort(np.floor(np.asarray(v, float) * 1e6 + 0.5) / 1e6)
        n = len(x)
        g = int(np.floor(trim * n))
        h = n - 2 * g
        interior = x[g : n - g]
        tm = interior.sum() / h
        wx = np.concatenate([[x[g]] * g, interior, [x[n - g - 1]] * g])
        sw, sww = wx.sum(), (wx * wx).sum()
        var_w = (sww - sw * sw / n) / (n - 1)
        dt = (n - 1) * var_w / (h * (h - 1))
        res.append((n, h, tm, dt))
    (na, ha, ta, da), (nb, hb, tb, db) = res
    t = (ta - tb) / np.sqrt(da + db)
    dfree = (da + db) ** 2 / (da * da / (ha - 1) + db * db / (hb - 1))
    return ta, tb, t, dfree


def test_yuen_resists_outliers_and_matches_replay(spark):
    from econdatapipeline_spark.operators.evaluation import yuen_ttest

    rng = np.random.RandomState(13)
    a = np.round(rng.normal(10.0, 1.0, 300), 3)
    b = np.round(rng.normal(10.1, 1.0, 280), 3)
    b[:6] += 500.0  # gross outliers inflate the raw mean of b
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "arm string, v double")
    row = yuen_ttest(df, "v", "arm", "a", "b").collect()[0]
    ta, tb, t_ref, df_ref = _yuen_numpy(a, b)
    assert row["tmean_a"] == pytest.approx(ta, abs=1e-5)
    assert row["tmean_b"] == pytest.approx(tb, abs=1e-5)
    assert row["t_stat"] == pytest.approx(t_ref, abs=1e-4)
    assert row["df"] == pytest.approx(df_ref, abs=1e-3)
    # trimmed means ignore the outliers: tmean_b stays ~10.1
    assert abs(row["tmean_b"] - 10.1) < 0.2
    assert row["n_b"] == 280 and row["h_b"] == 280 - 2 * 56


def test_yuen_degenerate_and_validation(spark):
    from econdatapipeline_spark.operators.evaluation import yuen_ttest

    tiny = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "arm string, v double"
    )
    row = yuen_ttest(tiny, "v", "arm", "a", "b").collect()[0]
    assert row["t_stat"] is None  # h_b = 1
    # The chosen kernel is visible in the output (ADVICE r9): the
    # auto-gate picks "rank" below 2M rows, and an explicit method
    # is honored and echoed.
    assert row["method"] == "rank"
    forced = yuen_ttest(
        tiny, "v", "arm", "a", "b", method="threshold"
    ).collect()[0]
    assert forced["method"] == "threshold"
    with pytest.raises(ValueError):
        yuen_ttest(tiny, "v", "arm", "a", "b", trim=0.5)


# ---------------------------------------------------------------------------
# tost_equivalence
# ---------------------------------------------------------------------------

def test_tost_confirms_and_denies_equivalence(spark):
    from econdatapipeline_spark.operators.evaluation import (
        tost_equivalence,
    )

    rng = np.random.RandomState(29)
    a = np.round(rng.normal(5.0, 1.0, 2000), 3)
    b_same = np.round(rng.normal(5.02, 1.0, 2000), 3)
    b_diff = np.round(rng.normal(5.6, 1.0, 2000), 3)

    def _run(b):
        rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
        df = spark.createDataFrame(rows, "arm string, v double")
        return tost_equivalence(df, "v", "arm", "a", "b", margin=0.2).collect()[0]

    r1 = _run(b_same)
    assert r1["equivalent_5pct"] is True
    # z replay
    qa = np.floor(a * 1e6 + 0.5) / 1e6
    qb = np.floor(b_same * 1e6 + 0.5) / 1e6
    se = np.sqrt(qa.var(ddof=1) / len(qa) + qb.var(ddof=1) / len(qb))
    diff = qa.mean() - qb.mean()
    assert r1["se"] == pytest.approx(se, abs=1e-6)
    assert r1["z_lower"] == pytest.approx((diff + 0.2) / se, abs=1e-4)
    assert r1["z_upper"] == pytest.approx((0.2 - diff) / se, abs=1e-4)

    r2 = _run(b_diff)
    assert r2["equivalent_5pct"] is False

    with pytest.raises(ValueError):
        _ = tost_equivalence(
            spark.createDataFrame([("a", 1.0)], "arm string, v double"),
            "v", "arm", "a", "b", margin=0.0,
        )


# ---------------------------------------------------------------------------
# hits
# ---------------------------------------------------------------------------

def _hits_numpy(edges, iterations=3):
    nodes = sorted({u for e in edges for u in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    for u, v in edges:
        A[idx[u], idx[v]] = 1.0
    h = np.ones(n)
    a = A.T @ h
    a = a / a.sum()
    for it in range(iterations):
        h = A @ a
        h = h / h.sum()
        if it == iterations - 1:
            break
        a = A.T @ h
        a = a / a.sum()
    return {nodes[i]: (a[i], h[i]) for i in range(n)}


def test_hits_matches_replay_and_separates_roles(spark):
    from econdatapipeline_spark.operators.graph import hits

    # two portals (p1, p2) linking to three content pages; c1 also
    # links onward, so it has a small hub score too
    edges = [
        ("p1", "c1"), ("p1", "c2"), ("p1", "c3"),
        ("p2", "c1"), ("p2", "c2"),
        ("c1", "c2"),
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = {r["node"]: r for r in hits(df, "src", "dst", iterations=3).collect()}
    ref = _hits_numpy(edges, 3)
    for n, (a_ref, h_ref) in ref.items():
        assert rows[n]["authority"] == pytest.approx(a_ref, abs=1e-5), n
        assert rows[n]["hub"] == pytest.approx(h_ref, abs=1e-5), n
    # portals are hubs, content pages are authorities
    assert rows["p1"]["hub"] > rows["c2"]["hub"]
    assert rows["c2"]["authority"] > rows["p1"]["authority"]
    # pure hub has zero authority; pure authority has zero hub
    assert rows["p1"]["authority"] == 0.0
    assert rows["c3"]["hub"] == 0.0


def test_hits_partitioned_twin(spark):
    from econdatapipeline_spark.operators.graph import hits

    rng = np.random.RandomState(8)
    edges = list({(int(rng.randint(0, 40)), int(rng.randint(0, 40)))
                  for _ in range(200)})
    edges = [(f"n{u}", f"n{v}") for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(hits(df, iterations=2).collect())
    b = sorted(hits(df, iterations=2, partitioned=True).collect())
    assert a == b  # bit-identical across modes

    with pytest.raises(ValueError):
        hits(df, iterations=0)


# ---------------------------------------------------------------------------
# price_index
# ---------------------------------------------------------------------------

def test_price_index_known_basket(spark):
    from econdatapipeline_spark.operators.econ import price_index

    # two items; prices double for a, halve for b; quantities shift
    rows = [
        ("a", 0, 10.0, 100.0), ("b", 0, 20.0, 50.0),
        ("a", 1, 20.0, 80.0), ("b", 1, 10.0, 70.0),
        ("c", 1, 99.0, 1.0),  # enters in period 1: excluded (unmatched)
    ]
    df = spark.createDataFrame(rows, "item string, t long, p double, q double")
    r = price_index(df, "item", "t", "p", "q", base_period=0).collect()[0]
    assert r["n_matched"] == 2
    # L = (20*100 + 10*50) / (10*100 + 20*50) = 2500/2000
    assert r["laspeyres"] == pytest.approx(1.25)
    # P = (20*80 + 10*70) / (10*80 + 20*70) = 2300/2200
    assert r["paasche"] == pytest.approx(2300 / 2200, abs=1e-6)
    assert r["fisher"] == pytest.approx(np.sqrt(1.25 * 2300 / 2200), abs=1e-6)
    # Tornqvist replay
    e0, et = 2000.0, 2300.0
    w = lambda p0, q0, pt, qt: 0.5 * ((p0 * q0) / e0 + (pt * qt) / et)
    lnt = w(10, 100, 20, 80) * np.log(2.0) + w(20, 50, 10, 70) * np.log(0.5)
    assert r["tornqvist"] == pytest.approx(np.exp(lnt), abs=1e-6)


def test_price_index_identity_and_zero_price(spark):
    from econdatapipeline_spark.operators.econ import price_index

    # unchanged prices -> all indices exactly 1
    rows = [("a", 0, 5.0, 10.0), ("a", 1, 5.0, 99.0),
            ("b", 0, 3.0, 4.0), ("b", 1, 3.0, 1.0)]
    df = spark.createDataFrame(rows, "item string, t long, p double, q double")
    r = price_index(df, "item", "t", "p", "q", base_period=0).collect()[0]
    for c in ("laspeyres", "paasche", "fisher", "tornqvist"):
        assert r[c] == pytest.approx(1.0), c

    # zero price: L/P/F survive, tornqvist nulls
    rows2 = rows + [("z", 0, 0.0, 5.0), ("z", 1, 1.0, 5.0)]
    df2 = spark.createDataFrame(rows2, "item string, t long, p double, q double")
    r2 = price_index(df2, "item", "t", "p", "q", base_period=0).collect()[0]
    assert r2["laspeyres"] is not None
    assert r2["tornqvist"] is None


# ---------------------------------------------------------------------------
# shift_share
# ---------------------------------------------------------------------------

def test_shift_share_identity(spark):
    from econdatapipeline_spark.operators.econ import shift_share

    rng = np.random.RandomState(17)
    rows = []
    for r in ("north", "south", "west"):
        for i in ("steel", "tech", "farm"):
            vb = float(np.round(rng.uniform(50, 150), 2))
            ve = float(np.round(vb * rng.uniform(0.7, 1.6), 2))
            rows.append((r, i, vb, ve))
    df = spark.createDataFrame(rows, "region string, industry string, vb double, ve double")
    out = shift_share(df, "region", "industry", "vb", "ve").collect()
    assert len(out) == 9
    by = {(r["region"], r["industry"]): r for r in out}
    for (reg, ind, vb, ve) in rows:
        r = by[(reg, ind)]
        total = r["national_effect"] + r["mix_effect"] + r["competitive_effect"]
        # the three effects sum exactly to the absolute change
        assert total == pytest.approx(ve - vb, abs=1e-4), (reg, ind)
    # uniform growth -> zero mix and competitive effects
    uni = [(r, i, 100.0, 120.0) for r in ("a", "b") for i in ("x", "y")]
    df2 = spark.createDataFrame(uni, "region string, industry string, vb double, ve double")
    for r in shift_share(df2, "region", "industry", "vb", "ve").collect():
        assert r["national_effect"] == pytest.approx(20.0)
        assert r["mix_effect"] == pytest.approx(0.0)
        assert r["competitive_effect"] == pytest.approx(0.0)


# ---------------------------------------------------------------------------
# rfm_segments
# ---------------------------------------------------------------------------

def test_rfm_segments_census(spark):
    from econdatapipeline_spark.operators.econ import rfm_segments

    rng = np.random.RandomState(41)
    rows = []
    for c in range(200):
        n_orders = 1 + int(rng.randint(0, 10))
        for _ in range(n_orders):
            day = int(rng.randint(0, 365))
            rows.append(
                (c, f"2024-{1 + day // 31:02d}-{1 + day % 28:02d}",
                 float(np.round(rng.uniform(10, 500), 2)))
            )
    df = spark.createDataFrame(rows, "cust long, d string, v double").select(
        "cust", F.col("d").cast("date").alias("d"), "v"
    )
    out = rfm_segments(df, "cust", "d", "v", "2025-01-01", n_bins=5).collect()
    # census covers every customer exactly once
    assert sum(r["n_customers"] for r in out) == 200
    # scores live in 1..5
    for r in out:
        for c in ("r_score", "f_score", "m_score"):
            assert 1 <= r[c] <= 5, r
    # top-monetary cell outspends bottom cell
    top = [r for r in out if r["m_score"] == 5]
    bot = [r for r in out if r["m_score"] == 1]
    avg = lambda rs: sum(r["avg_monetary"] * r["n_customers"] for r in rs) / sum(
        r["n_customers"] for r in rs
    )
    assert avg(top) > avg(bot)

    with pytest.raises(ValueError):
        rfm_segments(df, "cust", "d", "v", "2025-01-01", n_bins=1)


def test_rfm_segments_all_null_monetary_is_zero_spender(spark):
    """ADVICE r9: a customer whose values are ALL NULL must score as
    an explicit zero spender (mon = 0.0 participates in thresholds),
    not fall through NULL comparisons into m_score = 1 by accident."""
    from econdatapipeline_spark.operators.econ import rfm_segments

    rows = [
        (1, "2024-06-01", None),
        (1, "2024-07-01", None),  # all-NULL customer -> mon = 0
        (2, "2024-06-01", 100.0),
        (3, "2024-06-01", 200.0),
        (4, "2024-06-01", 300.0),
    ]
    df = spark.createDataFrame(
        rows, "cust long, d string, v double"
    ).select("cust", F.col("d").cast("date").alias("d"), "v")
    out = rfm_segments(df, "cust", "d", "v", "2025-01-01", n_bins=2)
    rows_out = out.collect()
    assert sum(r["n_customers"] for r in rows_out) == 4  # nobody dropped
    # the zero spender is the unique m_score=1 cell with avg 0.0
    low = [r for r in rows_out if r["avg_monetary"] == 0.0]
    assert len(low) == 1 and low[0]["m_score"] == 1
# ---------------------------------------------------------------------------

def test_within_estimator_sweeps_entity_effects(spark):
    from econdatapipeline_spark.operators.evaluation import (
        within_estimator,
    )

    rng = np.random.RandomState(5)
    rows = []
    true_beta = 1.7
    for e in range(50):
        alpha = float(rng.normal(0, 10))  # big entity effects
        for _ in range(12):
            x = float(np.round(rng.uniform(0, 4) + alpha / 5, 3))
            y = float(np.round(alpha + true_beta * x + rng.normal(0, 0.5), 3))
            rows.append((f"e{e}", x, y))
    df = spark.createDataFrame(rows, "entity string, x double, y double")
    row = within_estimator(df, "y", "x", "entity").collect()[0]
    assert row["n"] == 600 and row["n_entities"] == 50
    # entity effects correlate with x, so pooled OLS is badly biased;
    # the within estimator recovers the truth
    assert abs(row["beta"] - true_beta) < 0.1
    xs = np.array([r[1] for r in rows]); ys = np.array([r[2] for r in rows])
    pooled = np.cov(xs, ys)[0, 1] / np.var(xs)
    assert abs(pooled - true_beta) > 0.5
    # numpy replay of the demeaned regression
    import collections
    ent = collections.defaultdict(list)
    for e, x, y in rows:
        ent[e].append((x, y))
    xd, yd = [], []
    for vals in ent.values():
        mx = sum(v[0] for v in vals) / len(vals)
        my = sum(v[1] for v in vals) / len(vals)
        xd += [v[0] - mx for v in vals]
        yd += [v[1] - my for v in vals]
    xd, yd = np.array(xd), np.array(yd)
    beta_ref = (xd * yd).sum() / (xd * xd).sum()
    assert row["beta"] == pytest.approx(beta_ref, abs=1e-5)
    rss = ((yd - beta_ref * xd) ** 2).sum()
    se_ref = np.sqrt(rss / (600 - 50 - 1) / (xd * xd).sum())
    assert row["se"] == pytest.approx(se_ref, abs=1e-5)


def test_within_estimator_singleton_entities_null(spark):
    from econdatapipeline_spark.operators.evaluation import (
        within_estimator,
    )

    df = spark.createDataFrame(
        [(f"e{i}", float(i), float(i * 2)) for i in range(10)],
        "entity string, x double, y double",
    )
    row = within_estimator(df, "y", "x", "entity").collect()[0]
    assert row["beta"] is None  # all singletons: zero within variance


# ---------------------------------------------------------------------------
# mediation_sobel
# ---------------------------------------------------------------------------

def test_mediation_full_and_none(spark):
    from econdatapipeline_spark.operators.evaluation import (
        mediation_sobel,
    )

    rng = np.random.RandomState(23)
    n = 2000
    x = np.round(rng.normal(0, 1, n), 3)
    # full mediation: X -> M -> Y, no direct path
    m = np.round(0.8 * x + rng.normal(0, 0.5, n), 3)
    y = np.round(1.2 * m + rng.normal(0, 0.5, n), 3)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, m, y)],
        "x double, m double, y double",
    )
    r = mediation_sobel(df, "x", "m", "y").collect()[0]
    assert abs(r["a"] - 0.8) < 0.06
    assert abs(r["b"] - 1.2) < 0.06
    assert abs(r["c_prime"]) < 0.06          # direct path ~ 0
    assert r["sobel_z"] > 10                  # strongly significant
    assert r["prop_mediated"] > 0.9
    assert r["indirect"] == pytest.approx(
        round(r["a"] * r["b"], 2), abs=0.05
    )
    # no mediation: M independent of X
    m2 = np.round(rng.normal(0, 1, n), 3)
    y2 = np.round(1.0 * x + rng.normal(0, 0.5, n), 3)
    df2 = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, m2, y2)],
        "x double, m double, y double",
    )
    r2 = mediation_sobel(df2, "x", "m", "y").collect()[0]
    assert abs(r2["sobel_z"]) < 2.5
    assert abs(r2["c_prime"] - 1.0) < 0.06


def test_mediation_matches_statsmodels_free_replay(spark):
    from econdatapipeline_spark.operators.evaluation import (
        mediation_sobel,
    )

    rng = np.random.RandomState(77)
    n = 500
    x = np.round(rng.normal(0, 1, n), 3)
    m = np.round(0.5 * x + rng.normal(0, 1, n), 3)
    y = np.round(0.4 * m + 0.3 * x + rng.normal(0, 1, n), 3)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, m, y)],
        "x double, m double, y double",
    )
    r = mediation_sobel(df, "x", "m", "y").collect()[0]
    X1 = np.column_stack([np.ones(n), x])
    a_hat = np.linalg.lstsq(X1, m, rcond=None)[0][1]
    X2 = np.column_stack([np.ones(n), x, m])
    cb = np.linalg.lstsq(X2, y, rcond=None)[0]
    assert r["a"] == pytest.approx(a_hat, abs=1e-4)
    assert r["c_prime"] == pytest.approx(cb[1], abs=1e-4)
    assert r["b"] == pytest.approx(cb[2], abs=1e-4)
    # Sobel variance replay
    e_a = m - X1 @ np.linalg.lstsq(X1, m, rcond=None)[0]
    va = (e_a @ e_a / (n - 2)) / ((x - x.mean()) @ (x - x.mean()))
    e_y = y - X2 @ cb
    sig2 = e_y @ e_y / (n - 3)
    xc = x - x.mean(); mc = m - m.mean()
    det = (xc @ xc) * (mc @ mc) - (xc @ mc) ** 2
    vb = sig2 * (xc @ xc) / det
    z_ref = a_hat * cb[2] / np.sqrt(cb[2] ** 2 * va + a_hat ** 2 * vb)
    assert r["sobel_z"] == pytest.approx(z_ref, abs=1e-3)


# ---------------------------------------------------------------------------
# oaxaca_blinder
# ---------------------------------------------------------------------------

def test_oaxaca_identity_and_known_split(spark):
    from econdatapipeline_spark.operators.evaluation import (
        oaxaca_blinder,
    )

    rng = np.random.RandomState(61)
    # group a: higher x AND higher returns
    xa = np.round(rng.uniform(2, 6, 800), 3)
    ya = np.round(1.0 + 2.0 * xa + rng.normal(0, 0.3, 800), 3)
    xb = np.round(rng.uniform(1, 5, 900), 3)
    yb = np.round(1.0 + 1.5 * xb + rng.normal(0, 0.3, 900), 3)
    rows = [("a", float(x), float(y)) for x, y in zip(xa, ya)]
    rows += [("b", float(x), float(y)) for x, y in zip(xb, yb)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    r = oaxaca_blinder(df, "y", "x", "g", "a", "b").collect()[0]
    # two-fold identity
    assert r["explained"] + r["unexplained"] == pytest.approx(
        r["gap"], abs=2e-6
    )
    assert r["beta_a"] == pytest.approx(2.0, abs=0.05)
    assert r["beta_b"] == pytest.approx(1.5, abs=0.05)
    # explained part = (xbar gap) * beta_b
    assert r["explained"] == pytest.approx(
        (xa.mean() - xb.mean()) * r["beta_b"], abs=0.02
    )
    # both components positive here: composition AND structure favor a
    assert r["explained"] > 0 and r["unexplained"] > 0


# ---------------------------------------------------------------------------
# periodogram
# ---------------------------------------------------------------------------

def test_periodogram_finds_planted_cycle(spark):
    from econdatapipeline_spark.operators.timeseries import periodogram

    n = 120
    t = np.arange(n)
    # strong 12-period cycle (k = n/12 = 10) + noise
    rng = np.random.RandomState(2)
    v = np.round(5.0 + 3.0 * np.sin(2 * np.pi * t / 12) + rng.normal(0, 0.3, n), 3)
    df = _series_df(spark, v)
    out = {r["k"]: r for r in periodogram(df, "value", "date", "dataset", max_k=15).collect()}
    peak = max(out.values(), key=lambda r: r["power"])
    assert peak["k"] == 10 and peak["period"] == pytest.approx(12.0)
    # planted power dominates: ~ n * amp^2 / 4
    assert peak["power"] > 10 * sorted(r["power"] for r in out.values())[-2]
    # numpy replay at the peak
    x = v - v.mean()
    ang = 2 * np.pi * ((10 * t) % n) / n
    p_ref = ((x * np.cos(ang)).sum() ** 2 + (x * np.sin(ang)).sum() ** 2) / n
    assert peak["power"] == pytest.approx(p_ref, abs=1e-3)


def test_periodogram_short_series_nulls(spark):
    from econdatapipeline_spark.operators.timeseries import periodogram

    df = _series_df(spark, list(np.arange(10.0)))
    out = periodogram(df, "value", "date", "dataset", max_k=8).collect()
    assert all(r["power"] is None for r in out)  # n < 2*max_k
    with pytest.raises(ValueError):
        periodogram(df, "value", max_k=0)


# ---------------------------------------------------------------------------
# brier_decompose
# ---------------------------------------------------------------------------

def test_brier_decomposition_identity_and_skill(spark):
    from econdatapipeline_spark.operators.evaluation import (
        brier_decompose,
    )

    rng = np.random.RandomState(19)
    n = 5000
    p_true = np.round(rng.uniform(0.05, 0.95, n), 2)
    y = (rng.uniform(size=n) < p_true).astype(int)

    # calibrated forecaster: p == true rate
    df = spark.createDataFrame(
        [(int(a), float(b)) for a, b in zip(y, p_true)],
        "y long, p double",
    )
    r = brier_decompose(df, "y", "p").collect()[0]
    assert r["n"] == n
    # reliability ~ 0 for the calibrated forecaster; resolution > 0
    assert r["reliability"] < 0.005
    assert r["resolution"] > 0.02
    # Murphy identity holds exactly for the binned score
    assert r["brier_binned"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"], abs=2e-6
    )
    # raw brier replay
    assert r["brier"] == pytest.approx(((p_true - y) ** 2).mean(), abs=1e-4)

    # no-skill forecaster: constant base rate -> zero resolution
    base = float(np.round(y.mean(), 2))
    df2 = spark.createDataFrame(
        [(int(a), base) for a in y], "y long, p double"
    )
    r2 = brier_decompose(df2, "y", "p").collect()[0]
    assert r2["resolution"] == pytest.approx(0.0, abs=1e-4)
    assert r2["brier"] == pytest.approx(r2["uncertainty"], abs=1e-3)

    with pytest.raises(ValueError):
        brier_decompose(df, "y", "p", n_bins=1)


def test_brier_decompose_counts_dropped_out_of_range(spark):
    """ADVICE r9: out-of-range probabilities are excluded from the
    statistics but surfaced in n_dropped — never silently lost."""
    from econdatapipeline_spark.operators.evaluation import (
        brier_decompose,
    )

    df = spark.createDataFrame(
        [(1, 0.8), (0, 0.2), (1, 1.5), (0, -0.1), (1, None)],
        "y long, p double",
    )
    r = brier_decompose(df, "y", "p").collect()[0]
    assert r["n"] == 2  # the two valid rows
    assert r["n_dropped"] == 2  # 1.5 and -0.1; the NULL is not "dropped"
    # statistics computed over the valid rows only
    assert r["brier"] == pytest.approx(((0.8 - 1) ** 2 + 0.2**2) / 2, abs=1e-6)

    # fully-dropped input: counts stay exact, statistics are NULL
    df_bad = spark.createDataFrame([(1, 2.0), (0, -3.0)], "y long, p double")
    r2 = brier_decompose(df_bad, "y", "p").collect()[0]
    assert r2["n"] == 0 and r2["n_dropped"] == 2
    assert r2["brier"] is None


# ---------------------------------------------------------------------------
# cronbach_alpha
# ---------------------------------------------------------------------------

def test_cronbach_alpha_known_reliability(spark):
    from econdatapipeline_spark.operators.stats import cronbach_alpha

    rng = np.random.RandomState(3)
    n, k = 400, 4
    latent = rng.normal(0, 1, n)
    rows = []
    for s in range(n):
        for i in range(k):
            # each item = latent + noise -> high alpha
            rows.append((s, f"i{i}", float(np.round(latent[s] + 0.5 * rng.normal(), 3))))
    rows.append((9999, "i0", 1.0))  # incomplete subject -> dropped
    df = spark.createDataFrame(rows, "subject long, item string, score double")
    r = cronbach_alpha(df, "subject", "item", "score", n_items=4).collect()[0]
    assert r["n_subjects"] == n and r["n_dropped"] == 1
    # numpy replay
    X = np.zeros((n, k))
    idx = 0
    for s in range(n):
        for i in range(k):
            X[s, i] = rows[idx][2]; idx += 1
    var_i = X.var(axis=0, ddof=1).sum()
    var_t = X.sum(axis=1).var(ddof=1)
    alpha_ref = k / (k - 1) * (1 - var_i / var_t)
    assert r["alpha"] == pytest.approx(alpha_ref, abs=1e-5)
    assert r["alpha"] > 0.7

    # independent items -> alpha near 0
    rows2 = [(s, f"i{i}", float(np.round(rng.normal(), 3)))
             for s in range(300) for i in range(4)]
    df2 = spark.createDataFrame(rows2, "subject long, item string, score double")
    r2 = cronbach_alpha(df2, "subject", "item", "score", n_items=4).collect()[0]
    assert abs(r2["alpha"]) < 0.25

    with pytest.raises(ValueError):
        cronbach_alpha(df, "subject", "item", "score", n_items=1)


# ---------------------------------------------------------------------------
# friedman_test
# ---------------------------------------------------------------------------

def test_friedman_detects_treatment_shift(spark):
    from econdatapipeline_spark.operators.stats import friedman_test

    rng = np.random.RandomState(11)
    rows = []
    for b in range(60):
        base = rng.normal(0, 1)
        rows.append((b, "t1", float(np.round(base + rng.normal(0, 0.3), 3))))
        rows.append((b, "t2", float(np.round(base + 0.8 + rng.normal(0, 0.3), 3))))
        rows.append((b, "t3", float(np.round(base - 0.2 + rng.normal(0, 0.3), 3))))
    df = spark.createDataFrame(rows, "blk long, trt string, v double")
    r = friedman_test(df, "blk", "trt", "v", n_treatments=3).collect()[0]
    assert r["n_blocks"] == 60 and r["reject_5pct"] is True
    # scipy-free replay (no ties in this fixture)
    import collections
    byb = collections.defaultdict(dict)
    for b, t, v in rows:
        byb[b][t] = v
    rj = collections.defaultdict(float)
    for b, d in byb.items():
        order = sorted(d, key=lambda t: d[t])
        for pos, t in enumerate(order, start=1):
            rj[t] += pos
    n, k = 60, 3
    q_ref = 12.0 / (n * k * (k + 1)) * sum(v * v for v in rj.values()) - 3 * n * (k + 1)
    assert r["q_stat"] == pytest.approx(q_ref, abs=1e-4)

    # identical treatments -> no rejection
    rows2 = [(b, t, float(np.round(rng.normal(), 3)))
             for b in range(60) for t in ("t1", "t2", "t3")]
    df2 = spark.createDataFrame(rows2, "blk long, trt string, v double")
    r2 = friedman_test(df2, "blk", "trt", "v", n_treatments=3).collect()[0]
    assert r2["reject_5pct"] is False


def test_friedman_ragged_blocks_dropped(spark):
    from econdatapipeline_spark.operators.stats import friedman_test

    rows = [(b, t, float(b + len(t))) for b in range(10) for t in ("a", "bb", "ccc")]
    rows.append((99, "a", 1.0))
    df = spark.createDataFrame(rows, "blk long, trt string, v double")
    r = friedman_test(df, "blk", "trt", "v", n_treatments=3).collect()[0]
    assert r["n_blocks"] == 10 and r["n_dropped"] == 1
    with pytest.raises(ValueError):
        friedman_test(df, "blk", "trt", "v", n_treatments=9)


# ---------------------------------------------------------------------------
# diversity_index
# ---------------------------------------------------------------------------

def test_diversity_index_known_values(spark):
    from econdatapipeline_spark.operators.stats import diversity_index

    rows = [("even", f"c{i % 4}") for i in range(400)]
    rows += [("skew", "c0")] * 97 + [("skew", "c1")] * 1 + [("skew", "c2")] * 1 + [("skew", "c3")] * 1
    rows += [("mono", "only")] * 50
    df = spark.createDataFrame(rows, "g string, cat string")
    out = {r["g"]: r for r in diversity_index(df, "g", "cat").collect()}
    # uniform over 4: shannon = ln 4, simpson = 0.75, evenness = 1
    assert out["even"]["shannon"] == pytest.approx(np.log(4), abs=1e-6)
    assert out["even"]["simpson"] == pytest.approx(0.75, abs=1e-9)
    assert out["even"]["evenness"] == pytest.approx(1.0, abs=1e-6)
    # skewed: much lower diversity
    assert out["skew"]["shannon"] < 0.25
    assert out["skew"]["richness"] == 4
    # single category: zero diversity, NULL evenness
    assert out["mono"]["shannon"] == 0.0
    assert out["mono"]["simpson"] == 0.0
    assert out["mono"]["evenness"] is None


def test_yuen_threshold_path_agrees_on_continuous_data(spark):
    from econdatapipeline_spark.operators.evaluation import yuen_ttest

    rng = np.random.RandomState(83)
    a = np.round(rng.normal(10.0, 2.0, 4000), 3)
    b = np.round(rng.normal(10.4, 2.0, 4000), 3)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, "arm string, v double")
    r_rank = yuen_ttest(df, "v", "arm", "a", "b", method="rank").collect()[0]
    r_thr = yuen_ttest(df, "v", "arm", "a", "b", method="threshold").collect()[0]
    # same decision, near-identical statistics (boundary handling
    # differs by interpolation only on continuous data)
    assert r_rank["reject_5pct"] == r_thr["reject_5pct"]
    assert r_thr["tmean_a"] == pytest.approx(r_rank["tmean_a"], abs=5e-3)
    assert r_thr["t_stat"] == pytest.approx(r_rank["t_stat"], rel=0.02)
    assert abs(r_thr["h_a"] - r_rank["h_a"]) <= 3
    # threshold trim counts ~ floor(trim*n) per side
    assert abs(r_thr["h_a"] - (4000 - 2 * 800)) <= 3

    with pytest.raises(ValueError):
        yuen_ttest(df, "v", "arm", "a", "b", method="exactish")


# ---------------------------------------------------------------------------
# binseg_changepoints
# ---------------------------------------------------------------------------

def test_binseg_finds_two_level_shifts(spark):
    from econdatapipeline_spark.operators.timeseries import (
        binseg_changepoints,
    )

    rng = np.random.RandomState(37)
    v = np.concatenate([
        rng.normal(0.0, 0.5, 60),
        rng.normal(4.0, 0.5, 50),
        rng.normal(-2.0, 0.5, 70),
    ])
    v = np.round(v, 3)
    df = _series_df(spark, v)
    out = binseg_changepoints(
        df, "dataset", "date", "value", depth=2, min_gain=3.0
    ).collect()
    found = sorted(r["order_at"] for r in out)
    # both true breaks located within a few points
    assert len(found) == 2
    assert abs(found[0] - 59) <= 3
    assert abs(found[1] - 109) <= 3
    # round 1 finds the single best split, round 2 the other
    assert {r["round"] for r in out} == {1, 2}
    # the round-1 stat is the global max CUSUM: replay in numpy
    x = np.floor(v * 1e6 + 0.5) / 1e6
    n = len(x)
    P = np.cumsum(x)
    taus = np.arange(5, n - 4)
    C = np.abs(
        (P[taus - 1] / taus - (P[-1] - P[taus - 1]) / (n - taus))
        * np.sqrt(taus * (n - taus) / n)
    )
    r1 = [r for r in out if r["round"] == 1][0]
    assert r1["cstat"] == pytest.approx(C.max(), abs=1e-4)
    assert r1["order_at"] == taus[C.argmax()] - 1  # o is 0-indexed


def test_binseg_flat_series_no_splits(spark):
    from econdatapipeline_spark.operators.timeseries import (
        binseg_changepoints,
    )

    rng = np.random.RandomState(53)
    v = np.round(rng.normal(5.0, 0.4, 150), 3)
    df = _series_df(spark, v)
    out = binseg_changepoints(
        df, "dataset", "date", "value", depth=2, min_gain=3.0
    ).collect()
    assert out == []
    with pytest.raises(ValueError):
        binseg_changepoints(df, "dataset", "date", "value", depth=0)


# ---------------------------------------------------------------------------
# harmonic_centrality
# ---------------------------------------------------------------------------

def test_harmonic_centrality_path_graph(spark):
    from econdatapipeline_spark.operators.graph import (
        harmonic_centrality,
    )

    # path 0-1-2-3-4, symmetrized
    pairs = [(i, i + 1) for i in range(4)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    rows = {r["node"]: r for r in harmonic_centrality(
        edges, sources=[0, 2], max_hops=6
    ).collect()}
    # center of the path beats the end
    assert rows[2]["harmonic"] == pytest.approx(1 + 1 + 0.5 + 0.5)
    assert rows[0]["harmonic"] == pytest.approx(1 + 0.5 + 1 / 3 + 0.25, abs=1e-6)
    assert rows[2]["harmonic"] > rows[0]["harmonic"]
    assert rows[0]["n_reached"] == 4

    # truncation: max_hops=1 counts direct neighbors only
    r1 = {r["node"]: r for r in harmonic_centrality(
        edges, sources=[0], max_hops=1
    ).collect()}
    assert r1[0]["harmonic"] == pytest.approx(1.0)

    # isolated seed: zero centrality, present in output
    r2 = {r["node"]: r for r in harmonic_centrality(
        edges, sources=[99], max_hops=3
    ).collect()}
    assert r2[99]["harmonic"] == 0.0 and r2[99]["n_reached"] == 0

    with pytest.raises(ValueError):
        harmonic_centrality(edges, sources=[0], max_hops=0)


def test_harmonic_centrality_undirected_twin(spark):
    """undirected=True (two-frontier BFS dedup) must be row-identical
    to the default full-visited dedup on any symmetrized edge list —
    exercised on a graph WITH cycles so re-reach pressure is real."""
    from econdatapipeline_spark.operators.graph import (
        harmonic_centrality,
    )

    # 6-cycle + a chord + a pendant, symmetrized
    pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0), (1, 4), (3, 6)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    kw = dict(sources=[0, 3], max_hops=5)
    base = sorted(
        tuple(r) for r in harmonic_centrality(edges, **kw).collect()
    )
    fast = sorted(
        tuple(r)
        for r in harmonic_centrality(
            edges, undirected=True, assume_distinct=True, **kw
        ).collect()
    )
    assert base == fast


# ---------------------------------------------------------------------------
# mahalanobis_scores
# ---------------------------------------------------------------------------

def test_mahalanobis_catches_correlation_breaker(spark):
    from econdatapipeline_spark.operators.stats import mahalanobis_scores

    rng = np.random.RandomState(71)
    n = 1000
    x = np.round(rng.normal(0, 1, n), 3)
    y = np.round(0.9 * x + 0.3 * rng.normal(0, 1, n), 3)  # strongly correlated
    # row 0: within 2-sigma on BOTH axes but breaks the correlation
    x[0], y[0] = 1.5, -1.5
    df = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(x, y))],
        "rid long, x double, y double",
    )
    rows = {r["rid"]: r for r in mahalanobis_scores(df, "rid", ["x", "y"]).collect()}
    assert rows[0]["is_outlier_5pct"] is True
    # numpy twin
    X = np.column_stack([x, y])
    mu = X.mean(axis=0)
    S = np.cov(X.T, ddof=1)
    P = np.linalg.inv(S)
    d0 = X[0] - mu
    md2_ref = float(d0 @ P @ d0)
    assert rows[0]["md2"] == pytest.approx(md2_ref, rel=1e-3)
    # the axis-wise z-screen misses it (both |z| < 2)
    assert abs((1.5 - x.mean()) / x.std()) < 2.0
    assert abs((-1.5 - y.mean()) / y.std()) < 2.0
    # overall flag rate is near the nominal 5%
    rate = sum(1 for r in rows.values() if r["is_outlier_5pct"]) / n
    assert 0.02 < rate < 0.09


def test_mahalanobis_degenerate_and_validation(spark):
    from econdatapipeline_spark.operators.stats import mahalanobis_scores

    # perfectly collinear -> singular covariance -> NULLs
    df = spark.createDataFrame(
        [(i, float(i), float(2 * i)) for i in range(50)],
        "rid long, x double, y double",
    )
    rows = mahalanobis_scores(df, "rid", ["x", "y"]).collect()
    assert all(r["md2"] is None for r in rows)
    with pytest.raises(ValueError):
        mahalanobis_scores(df, "rid", ["x"])


# ---------------------------------------------------------------------------
# eb_shrink_rates
# ---------------------------------------------------------------------------

def test_eb_shrink_orders_small_groups_sensibly(spark):
    from econdatapipeline_spark.operators.stats import eb_shrink_rates

    rng = np.random.RandomState(6)
    rows = []
    true = {}
    for g in range(40):
        p = float(rng.uniform(0.2, 0.8))
        n = 2 if g < 5 else 500  # five tiny groups
        true[f"g{g}"] = p
        for _ in range(n):
            rows.append((f"g{g}", int(rng.uniform() < p)))
    rows += [("tiny_perfect", 1), ("tiny_perfect", 1)]  # 2/2
    df = spark.createDataFrame(rows, "g string, y long")
    out = {r["g"]: r for r in eb_shrink_rates(df, "g", "y").collect()}
    # the 2/2 group must NOT keep rate 1.0
    r = out["tiny_perfect"]
    assert r["rate_raw"] == 1.0 and r["rate_shrunk"] < 0.9
    # big groups barely move
    big = out["g10"]
    assert abs(big["rate_shrunk"] - big["rate_raw"]) < 0.02
    # shrunk rates lie between raw and the prior mean
    mu = np.mean([v["rate_raw"] for v in out.values()])
    for v in out.values():
        lo, hi = sorted([v["rate_raw"], mu])
        assert lo - 0.02 <= v["rate_shrunk"] <= hi + 0.02

    # homogeneous groups: no real heterogeneity -> full shrink, NULL prior
    rows2 = [(f"h{g}", int(rng.uniform() < 0.5))
             for g in range(30) for _ in range(20)]
    df2 = spark.createDataFrame(rows2, "g string, y long")
    out2 = eb_shrink_rates(df2, "g", "y").collect()
    if out2[0]["alpha"] is None:  # noise swallowed the variance
        assert len({r["rate_shrunk"] for r in out2}) == 1


# ---------------------------------------------------------------------------
# svy_mean
# ---------------------------------------------------------------------------

def test_svy_mean_weighted_estimates(spark):
    from econdatapipeline_spark.operators.sampling import svy_mean

    rng = np.random.RandomState(44)
    n = 3000
    y = np.round(rng.normal(50, 10, n), 3)
    w = np.round(rng.uniform(0.5, 3.0, n), 3)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(y, w)], "y double, w double"
    )
    r = svy_mean(df, "y", "w").collect()[0]
    mean_ref = (w * y).sum() / w.sum()
    assert r["mean_w"] == pytest.approx(mean_ref, abs=1e-4)
    # Kish effective n and design effect
    neff_ref = w.sum() ** 2 / (w * w).sum()
    assert r["n_eff"] == pytest.approx(neff_ref, abs=0.01)
    assert r["deff_kish"] == pytest.approx(n / neff_ref, abs=1e-4)
    assert r["deff_kish"] > 1.0
    # Taylor SE replay
    m9 = np.round(mean_ref, 9)
    se_ref = np.sqrt(n / (n - 1) * ((w * (y - m9)) ** 2).sum() / w.sum() ** 2)
    assert r["se"] == pytest.approx(se_ref, abs=1e-5)
    # equal weights: deff = 1, se = classic sem
    df2 = spark.createDataFrame([(float(a), 1.0) for a in y], "y double, w double")
    r2 = svy_mean(df2, "y", "w").collect()[0]
    assert r2["deff_kish"] == pytest.approx(1.0)
    assert r2["se"] == pytest.approx(y.std(ddof=0) / np.sqrt(n - 1), rel=1e-3)


# ---------------------------------------------------------------------------
# qini_curve
# ---------------------------------------------------------------------------

def test_qini_good_score_bulges_random_flatlines(spark):
    from econdatapipeline_spark.operators.evaluation import qini_curve

    rng = np.random.RandomState(9)
    n = 20000
    x = rng.uniform(0, 1, n)              # true uplift driver
    t = (rng.uniform(size=n) < 0.5)
    base_p = 0.10
    p = base_p + np.where(t, 0.25 * x, 0.0)   # treatment helps high-x only
    y = rng.uniform(size=n) < p

    def _run(score):
        df = spark.createDataFrame(
            [(bool(a), bool(b), float(c)) for a, b, c in zip(t, y, score)],
            "t boolean, y boolean, s double",
        )
        return qini_curve(df, "t", "y", "s").collect()

    good = _run(np.round(x, 4))
    rand = _run(np.round(rng.uniform(0, 1, n), 4))
    # monotone-ish uplift for the good score: top bin >> bottom bin
    assert good[0]["uplift"] > good[-1]["uplift"] + 0.1
    # final qini equals total incremental conversions for both
    tot = lambda rows: rows[-1]["qini"]
    assert tot(good) == pytest.approx(tot(rand), rel=0.25)
    # the good curve dominates the straight line at the midpoint
    mid_good = good[4]["qini"]
    line = tot(good) * sum(r["n_t"] + r["n_c"] for r in good[:5]) / n
    assert mid_good > line * 1.2
    # replay the qini fold for the good score
    crt = sum(r["resp_t"] for r in good[:5])
    crc = sum(r["resp_c"] for r in good[:5])
    cnt = sum(r["n_t"] for r in good[:5])
    cnc = sum(r["n_c"] for r in good[:5])
    assert mid_good == pytest.approx(crt - crc * cnt / cnc, abs=1e-3)

    with pytest.raises(ValueError):
        qini_curve(spark.createDataFrame([(True, True, 1.0)],
                   "t boolean, y boolean, s double"), "t", "y", "s", n_bins=1)


# ---------------------------------------------------------------------------
# adstock_transform
# ---------------------------------------------------------------------------

def test_adstock_matches_truncated_convolution(spark):
    from econdatapipeline_spark.operators.econ import adstock_transform

    rng = np.random.RandomState(14)
    v = np.round(rng.uniform(0, 100, 50), 3)
    df = _series_df(spark, v)
    out = {r["date"]: r["adstock"] for r in adstock_transform(
        df, "value", "date", "dataset", decay=0.5, max_lag=6
    ).collect()}
    vq = np.floor(v * 1e6 + 0.5) / 1e6
    for t in (0, 3, 20, 49):
        ref = sum(0.5 ** k * (vq[t - k] if t - k >= 0 else 0.0)
                  for k in range(7))
        assert out[t] == pytest.approx(ref, abs=1e-5), t
    # an impulse decays geometrically
    imp = np.zeros(20); imp[5] = 8.0
    o2 = {r["date"]: r["adstock"] for r in adstock_transform(
        _series_df(spark, imp), "value", "date", "dataset", decay=0.5, max_lag=6
    ).collect()}
    assert o2[5] == 8.0 and o2[6] == 4.0 and o2[8] == 1.0
    assert o2[12] == 0.0  # beyond the truncation window

    with pytest.raises(ValueError):
        adstock_transform(df, "value", decay=1.0)


# ---------------------------------------------------------------------------
# two_by_two
# ---------------------------------------------------------------------------

def test_two_by_two_textbook_table(spark):
    from econdatapipeline_spark.operators.stats import two_by_two

    # a=20 b=80, c=10 d=90: RR = 0.2/0.1 = 2, OR = 20*90/(80*10) = 2.25
    rows = ([(1, 1)] * 20 + [(1, 0)] * 80 + [(0, 1)] * 10 + [(0, 0)] * 90)
    df = spark.createDataFrame(rows, "e long, y long")
    r = two_by_two(df, "e", "y").collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (20, 80, 10, 90)
    assert r["risk_ratio"] == pytest.approx(2.0)
    assert r["odds_ratio"] == pytest.approx(2.25)
    se_rr = np.sqrt(1 / 20 - 1 / 100 + 1 / 10 - 1 / 100)
    assert r["rr_lo"] == pytest.approx(np.exp(np.log(2) - 1.959964 * se_rr), abs=1e-4)
    assert r["rr_hi"] == pytest.approx(np.exp(np.log(2) + 1.959964 * se_rr), abs=1e-4)
    assert r["rr_lo"] < 2.0 < r["rr_hi"]
    # zero cell: OR nulls, RR survives when b = 0? (a>0, c>0 needed)
    rows2 = [(1, 1)] * 5 + [(0, 1)] * 3 + [(0, 0)] * 7
    r2 = two_by_two(spark.createDataFrame(rows2, "e long, y long"), "e", "y").collect()[0]
    assert r2["odds_ratio"] is None  # b = 0


# ---------------------------------------------------------------------------
# capture_recapture
# ---------------------------------------------------------------------------

def test_capture_recapture_estimates_population(spark):
    from econdatapipeline_spark.operators.stats import capture_recapture

    rng = np.random.RandomState(3)
    N = 5000
    pop = np.arange(N)
    a = rng.choice(pop, 1200, replace=False)
    b = rng.choice(pop, 900, replace=False)
    df_a = spark.createDataFrame([(int(k),) for k in a], "k long")
    df_b = spark.createDataFrame([(int(k),) for k in b], "k long")
    r = capture_recapture(df_a, df_b, "k").collect()[0]
    m = len(set(a) & set(b))
    assert r["n_both"] == m
    chap = (1201 * 901) / (m + 1) - 1
    assert r["n_hat"] == pytest.approx(chap, abs=1e-3)
    # the truth sits inside the 95% CI
    assert r["ci_lo"] < N < r["ci_hi"]
    # disjoint lists: estimate exists, CI nulls
    df_c = spark.createDataFrame([(int(k + 10 * N),) for k in b], "k long")
    r2 = capture_recapture(df_a, df_c, "k").collect()[0]
    assert r2["n_both"] == 0 and r2["se"] is None


# ---------------------------------------------------------------------------
# good_turing
# ---------------------------------------------------------------------------

def test_good_turing_mass_accounting(spark):
    from econdatapipeline_spark.operators.stats import good_turing

    rng = np.random.RandomState(8)
    # zipf-ish token stream
    toks = [f"t{int(rng.zipf(1.6))}" for _ in range(20000)]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    out = {r["r"]: r for r in good_turing(df, "tok", max_r=5).collect()}
    import collections
    cnt = collections.Counter(toks)
    hist = collections.Counter(cnt.values())
    N = len(toks)
    # unseen mass = singletons / N
    assert out[0]["p_class"] == pytest.approx(hist[1] / N, abs=1e-6)
    assert out[0]["n_r"] == 0 or out[0]["n_r"] >= 0
    # r* replay at r = 1, 2
    for r in (1, 2):
        rs = (r + 1) * hist[r + 1] / hist[r]
        assert out[r]["r_star"] == pytest.approx(rs, abs=1e-5), r
        assert out[r]["n_r"] == hist[r]
        assert out[r]["p_class"] == pytest.approx(rs * hist[r] / N, abs=1e-6)
    # smoothed counts deflate: r* < r for heavy-tailed data at r = 1
    assert out[1]["r_star"] < 1.0

    with pytest.raises(ValueError):
        good_turing(df, "tok", max_r=0)


def test_good_turing_empty_class_mass_is_zero(spark):
    """An empty count class (n_r = 0) carries mass 0, not NULL
    (ADVICE r9): counts {a:1, b:1, c:3} leave r = 2 empty, and the
    total emitted mass must still sum cleanly (no NULL poisoning)."""
    from econdatapipeline_spark.operators.stats import good_turing

    df = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("c",), ("c",)], "tok string"
    )
    out = {r["r"]: r for r in good_turing(df, "tok", max_r=4).collect()}
    assert out[2]["n_r"] == 0
    assert out[2]["r_star"] is None
    assert out[2]["p_class"] == 0.0
    assert out[4]["p_class"] == 0.0  # empty above max observed count
    total = sum(r["p_class"] for r in out.values())
    assert total == total  # no NULL/NaN leaked into the sum


# ---------------------------------------------------------------------------
# runs_test
# ---------------------------------------------------------------------------

def test_runs_test_separates_trend_noise_oscillation(spark):
    from econdatapipeline_spark.operators.timeseries import runs_test

    rng = np.random.RandomState(27)
    noise = np.round(rng.normal(0, 1, 300), 3)
    trend = np.round(np.linspace(-3, 3, 300) + 0.3 * rng.normal(0, 1, 300), 3)
    osc = np.round(np.array([1.0, -1.0] * 150) + 0.1 * rng.normal(0, 1, 300), 3)
    df = (_series_df(spark, noise, "noise")
          .union(_series_df(spark, trend, "trend"))
          .union(_series_df(spark, osc, "osc")))
    out = {r["dataset"]: r for r in runs_test(df, "value", "date", "dataset").collect()}
    assert out["noise"]["reject_5pct"] is False
    assert out["trend"]["reject_5pct"] is True and out["trend"]["z"] < 0
    assert out["osc"]["reject_5pct"] is True and out["osc"]["z"] > 0
    # z replay for the noise series
    md = np.median(noise)
    s = noise[noise != md] > md
    R = 1 + int((s[1:] != s[:-1]).sum())
    n1, n2 = int(s.sum()), int((~s).sum())
    n = n1 + n2
    mu = 2 * n1 * n2 / n + 1
    var = (2 * n1 * n2) * (2 * n1 * n2 - n) / (n * n * (n - 1))
    assert out["noise"]["n_runs"] == R
    assert out["noise"]["z"] == pytest.approx((R - mu) / np.sqrt(var), abs=1e-5)


# ---------------------------------------------------------------------------
# mcnemar_test
# ---------------------------------------------------------------------------

def test_mcnemar_detects_marginal_shift(spark):
    from econdatapipeline_spark.operators.stats import mcnemar_test

    # model B flips 40 negatives to positive, A flips only 10 back
    rows = ([(0, 0)] * 400 + [(1, 1)] * 300 + [(0, 1)] * 40 + [(1, 0)] * 10)
    df = spark.createDataFrame(rows, "a long, b long")
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert (r["n_01"], r["n_10"]) == (40, 10)
    assert r["chi2"] == pytest.approx((40 - 10) ** 2 / 50)
    assert r["reject_5pct"] is True
    # symmetric discordance: no shift
    rows2 = [(0, 1)] * 25 + [(1, 0)] * 25 + [(1, 1)] * 100
    r2 = mcnemar_test(spark.createDataFrame(rows2, "a long, b long"), "a", "b").collect()[0]
    assert r2["chi2"] == 0.0 and r2["reject_5pct"] is False
    # no discordant pairs: NULL
    rows3 = [(1, 1)] * 50 + [(0, 0)] * 50
    r3 = mcnemar_test(spark.createDataFrame(rows3, "a long, b long"), "a", "b").collect()[0]
    assert r3["chi2"] is None


# ---------------------------------------------------------------------------
# breslow_day
# ---------------------------------------------------------------------------

def _bd_numpy(tables):
    """Float replay: MH pooled OR + Tarone-corrected Breslow-Day."""
    sad = sum(a * d / (a + b + c + d) for a, b, c, d in tables)
    sbc = sum(b * c / (a + b + c + d) for a, b, c, d in tables)
    R = round(sad / sbc, 9)
    s_bd = s_dev = s_v = 0.0
    k = 0
    for a, b, c, d in tables:
        n1, n0, m1 = a + b, c + d, a + c
        A, B, C = 1 - R, (n0 - m1) + R * (n1 + m1), -R * n1 * m1
        if abs(A) < 1e-12:
            af = n1 * m1 / (n1 + n0)
        else:
            disc = np.sqrt(B * B - 4 * A * C)
            roots = [(-B + disc) / (2 * A), (-B - disc) / (2 * A)]
            lo, hi = max(0.0, m1 - n0), min(n1, m1)
            af = next((r for r in roots if lo < r < hi), None)
        bf, cf, df_ = n1 - af, m1 - af, n0 - m1 + af
        if not (af > 0 and bf > 0 and cf > 0 and df_ > 0):
            continue
        v = 1.0 / (1 / af + 1 / bf + 1 / cf + 1 / df_)
        s_bd += (a - af) ** 2 / v
        s_dev += a - af
        s_v += v
        k += 1
    return R, s_bd - s_dev * s_dev / s_v, k - 1


def _bd_rows(tables):
    rows = []
    for si, (a, b, c, d) in enumerate(tables):
        rows += [(si, 1, 1)] * a + [(si, 1, 0)] * b
        rows += [(si, 0, 1)] * c + [(si, 0, 0)] * d
    return rows


def test_breslow_day_homogeneous_accepts_heterogeneous_rejects(spark):
    from econdatapipeline_spark.operators.evaluation import breslow_day

    rng = np.random.RandomState(18)
    # homogeneous: OR ~ 2 in every stratum
    homo = []
    for _ in range(4):
        c_ = int(rng.randint(80, 120)); d_ = int(rng.randint(150, 250))
        b_ = int(rng.randint(100, 200))
        a_ = int(round(2.0 * b_ * c_ / d_))
        homo.append((a_, b_, c_, d_))
    df = spark.createDataFrame(_bd_rows(homo), "s long, tr long, oc long")
    r = breslow_day(df, "s", "tr", "oc").collect()[0]
    R_ref, bd_ref, dof_ref = _bd_numpy(homo)
    assert r["n_strata"] == 4 and r["dof"] == dof_ref
    assert r["or_mh"] == pytest.approx(R_ref, abs=1e-4)
    assert r["bd_chi2"] == pytest.approx(bd_ref, abs=1e-3)
    assert r["reject_5pct"] is False

    # heterogeneous: OR 4 in one stratum, 0.5 in another
    het = [(200, 100, 50, 100), (50, 100, 100, 100),
           (120, 80, 60, 90), (90, 60, 70, 110)]
    df2 = spark.createDataFrame(_bd_rows(het), "s long, tr long, oc long")
    r2 = breslow_day(df2, "s", "tr", "oc").collect()[0]
    R2, bd2, _ = _bd_numpy(het)
    assert r2["bd_chi2"] == pytest.approx(bd2, abs=1e-3)
    assert r2["reject_5pct"] is True
