"""Round-7 operators: reference values computed by independent pure-
Python implementations (the test_property_round6 discipline — never
assert against the operator's own arithmetic)."""

from __future__ import annotations

import datetime as dt
import math
import random

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- stats


def test_wilson_ci_known_values(spark):
    """n=10, s=8 at 95%: the textbook Wilson interval."""
    from econdatapipeline_spark.operators.stats import wilson_ci

    rows = [("g", True)] * 8 + [("g", False)] * 2
    df = spark.createDataFrame(rows, "g string, s boolean")
    out = wilson_ci(df, "g", "s").first()
    # pure-python reference
    z, n, p = 1.959964, 10.0, 0.8
    denom = 1 + z * z / n
    center = (p + z * z / (2 * n)) / denom
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n)) / denom
    assert out["n"] == 10 and out["successes"] == 8
    assert out["lo"] == pytest.approx(center - half, abs=1e-6)
    assert out["hi"] == pytest.approx(center + half, abs=1e-6)
    assert 0.0 <= out["lo"] < out["p"] < out["hi"] <= 1.0


def test_wilson_ci_boundary_rates(spark):
    """p = 0 and p = 1 stay inside [0, 1] with nonzero width (the
    failure mode of the Wald interval this replaces)."""
    from econdatapipeline_spark.operators.stats import wilson_ci

    rows = [("all", True)] * 5 + [("none", False)] * 5
    df = spark.createDataFrame(rows, "g string, s boolean")
    out = {r["group"]: r for r in wilson_ci(df, "g", "s").collect()}
    assert out["all"]["hi"] == 1.0 and out["all"]["lo"] > 0.5
    assert out["none"]["lo"] == 0.0 and out["none"]["hi"] < 0.5


def test_anova_oneway_reference(spark):
    """F and eta² against a direct pure-python one-way ANOVA."""
    from econdatapipeline_spark.operators.stats import anova_oneway

    rng = random.Random(7)
    data = {
        "a": [rng.gauss(10, 2) for _ in range(40)],
        "b": [rng.gauss(12, 2) for _ in range(35)],
        "c": [rng.gauss(9, 2) for _ in range(45)],
    }
    rows = [(g, round(v, 4)) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    out = anova_oneway(df, "g", "v").first()
    # reference
    allv = [v for _, v in rows]
    n, k = len(allv), 3
    gm = sum(allv) / n
    ssb = sum(
        len(vs) * (sum(v for g2, v in rows if g2 == g) / len(vs) - gm) ** 2
        for g, vs in data.items()
    )
    ssw = sum(
        (v - sum(v2 for g2, v2 in rows if g2 == g)
         / len(data[g])) ** 2
        for g, v in rows
    )
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    assert out["k"] == 3 and out["n"] == n
    assert out["f_stat"] == pytest.approx(f_ref, rel=1e-4)
    assert out["eta_sq"] == pytest.approx(ssb / (ssb + ssw), rel=1e-4)


def test_kruskal_wallis_reference(spark):
    """Tie-corrected H against a direct rank implementation."""
    from econdatapipeline_spark.operators.stats import kruskal_wallis

    rows = (
        [("a", v) for v in (1.0, 2.0, 3.0, 5.0, 5.0)]
        + [("b", v) for v in (2.0, 4.0, 6.0, 7.0)]
        + [("c", v) for v in (5.0, 8.0, 9.0)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "v", "g").first()
    # reference: average ranks with ties
    vals = sorted(v for _, v in rows)
    n = len(vals)
    rank_of = {}
    i = 0
    while i < n:
        j = i
        while j < n and vals[j] == vals[i]:
            j += 1
        rank_of[vals[i]] = (i + 1 + j) / 2.0
        i = j
    groups = {}
    for g, v in rows:
        groups.setdefault(g, []).append(rank_of[v])
    h = 12.0 / (n * (n + 1)) * sum(
        sum(rs) ** 2 / len(rs) for rs in groups.values()
    ) - 3 * (n + 1)
    from collections import Counter

    t3 = sum(c ** 3 - c for c in Counter(vals).values())
    h_corr = h / (1 - t3 / (n ** 3 - n))
    assert out["k"] == 3 and out["n"] == n
    assert out["h"] == pytest.approx(h, abs=1e-5)
    assert out["h_corrected"] == pytest.approx(h_corr, abs=1e-5)


def test_lorenz_curve_invariants_and_uniform(spark):
    from econdatapipeline_spark.operators.stats import lorenz_curve

    # uniform values: the curve is the diagonal at every point
    df = spark.createDataFrame([(float(7),) for _ in range(40)], "v double")
    pts = lorenz_curve(df, "v", points=4).collect()
    for r in pts:
        assert r["value_share"] == pytest.approx(r["pop_share"], abs=1e-6)
    # skewed values: convex, below diagonal, ends at (1, 1)
    df2 = spark.createDataFrame(
        [(float(i * i),) for i in range(1, 41)], "v double"
    )
    pts2 = sorted(lorenz_curve(df2, "v", points=10).collect(),
                  key=lambda r: r["point"])
    assert pts2[-1]["pop_share"] == 1.0
    assert pts2[-1]["value_share"] == pytest.approx(1.0, abs=1e-6)
    shares = [r["value_share"] for r in pts2]
    assert shares == sorted(shares)
    assert all(
        r["value_share"] <= r["pop_share"] + 1e-9 for r in pts2
    )


def test_rdd_estimator_recovers_jump(spark):
    """Sharp RDD on y = 0.1 + 0.002(x-c) + 1[x>=c]: tau ~= 1."""
    from econdatapipeline_spark.operators.stats import rdd_estimator

    rows = []
    for i in range(-50, 51):
        x = 100.0 + i
        y = 0.1 + 0.002 * (x - 100.0) + (1.0 if x >= 100.0 else 0.0)
        rows.append((x, y))
    df = spark.createDataFrame(rows, "x double, y double")
    out = rdd_estimator(df, "x", "y", cutoff=100.0, bandwidth=30.0).first()
    assert out["tau"] == pytest.approx(1.0, abs=1e-4)
    assert out["slope_l"] == pytest.approx(0.002, abs=1e-4)
    assert out["slope_r"] == pytest.approx(0.002, abs=1e-4)


def test_rdd_estimator_null_when_side_unfit(spark):
    from econdatapipeline_spark.operators.stats import rdd_estimator

    df = spark.createDataFrame(
        [(101.0, 1.0), (102.0, 1.2), (103.0, 1.1)], "x double, y double"
    )
    out = rdd_estimator(df, "x", "y", cutoff=100.0, bandwidth=50.0).first()
    assert out["n_l"] == 0
    assert out["intercept_l"] is None and out["tau"] is None


# ----------------------------------------------------------- sessions


def test_sessionize_hand_values(spark):
    from econdatapipeline_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)

    def at(minute):
        return t0 + dt.timedelta(minutes=minute)

    rows = [
        (1, at(0), 10.0),
        (1, at(10), 5.0),
        (1, at(55), 2.0),   # 45-min gap -> new session
        (2, at(0), 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = {
        (r["user"], r["session_seq"]): r
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert len(out) == 3
    s11 = out[(1, 1)]
    assert s11["n_events"] == 2 and s11["total_value"] == 15.0
    assert s11["duration_s"] == 600
    s12 = out[(1, 2)]
    assert s12["n_events"] == 1 and s12["duration_s"] == 0
    assert out[(2, 1)]["n_events"] == 1


def test_sessionize_boundary_gap_inclusive(spark):
    """A gap EXACTLY at the threshold stays in the same session; one
    second past it breaks."""
    from econdatapipeline_spark.operators.sessions import sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(seconds=1800), 1.0),
        (2, t0, 1.0),
        (2, t0 + dt.timedelta(seconds=1801), 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sessionize(df, gap_minutes=30).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user"], []).append(r)
    assert len(by_user[1]) == 1
    assert len(by_user[2]) == 2


# ------------------------------------------------------------- markov


def test_markov_transitions_hand_counts(spark):
    from econdatapipeline_spark.operators.markov import markov_transitions

    t0 = dt.datetime(2024, 1, 1)
    seq = ["a", "b", "a", "b", "c"]
    rows = [
        (1, t0 + dt.timedelta(minutes=i), s, i) for i, s in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "u long, ts timestamp, state string, eid long"
    )
    out = {
        (r["from_state"], r["to_state"]): r
        for r in markov_transitions(df, "u", "state", "ts", "eid").collect()
    }
    assert out[("a", "b")]["n"] == 2 and out[("a", "b")]["p"] == 1.0
    assert out[("b", "a")]["n"] == 1 and out[("b", "a")]["p"] == 0.5
    assert out[("b", "c")]["p"] == 0.5


def test_markov_stationary_two_state_analytic(spark):
    """Chain a->b w.p. 0.25, b->a w.p. 0.5: stationary = (2/3, 1/3)."""
    from econdatapipeline_spark.operators.markov import markov_stationary

    t = spark.createDataFrame(
        [("a", "a", 3), ("a", "b", 1), ("b", "a", 1), ("b", "b", 1)],
        "from_state string, to_state string, n long",
    )
    out = {r["state"]: r["pi"] for r in markov_stationary(t, rounds=40).collect()}
    assert out["a"] == pytest.approx(2 / 3, abs=1e-3)
    assert out["b"] == pytest.approx(1 / 3, abs=1e-3)
    assert out["a"] + out["b"] == pytest.approx(1.0, abs=1e-3)


def test_markov_stationary_absorbing_state(spark):
    """A sink state self-loops and absorbs all mass."""
    from econdatapipeline_spark.operators.markov import markov_stationary

    t = spark.createDataFrame(
        [("a", "b", 1)], "from_state string, to_state string, n long"
    )
    out = {r["state"]: r["pi"] for r in markov_stationary(t, rounds=5).collect()}
    assert out["b"] == pytest.approx(1.0, abs=1e-6)
    assert out["a"] == 0.0


# -------------------------------------------------------------- series


def test_vwap_hand_values(spark):
    from econdatapipeline_spark.operators.timeseries import vwap

    rows = [
        (dt.date(2024, 1, 5), 10.0, 2),
        (dt.date(2024, 1, 20), 20.0, 3),
        (dt.date(2024, 2, 1), 7.0, 4),
    ]
    df = spark.createDataFrame(rows, "d date, p double, q long")
    out = {r["period"]: r for r in vwap(df, "d", "p", "q").collect()}
    assert out["2024-01"]["vwap"] == 16.0  # 80/5
    assert out["2024-01"]["volume"] == 5
    assert out["2024-01"]["notional"] == 80.0
    assert out["2024-02"]["vwap"] == 7.0


def test_granger_causality_detects_lagged_driver(spark):
    """y_t = 2*x_(t-1) + tiny noise => huge F; y independent of x =>
    small F. Deterministic synthetic series."""
    from econdatapipeline_spark.operators.timeseries import (
        granger_causality,
    )

    rng = random.Random(3)
    xs = [rng.uniform(0, 10) for _ in range(80)]
    rows = []
    for t in range(1, 80):
        y_dep = 2.0 * xs[t - 1] + rng.gauss(0, 0.01)
        rows.append(("dep", dt.date(2020, 1, 1) + dt.timedelta(days=t),
                     round(y_dep, 4), round(xs[t], 4)))
        rows.append(("ind", dt.date(2020, 1, 1) + dt.timedelta(days=t),
                     round(rng.uniform(0, 10), 4), round(xs[t], 4)))
    df = spark.createDataFrame(rows, "dataset string, date date, y double, x double")
    out = {r["dataset"]: r for r in granger_causality(df, "y", "x").collect()}
    assert out["dep"]["f_stat"] > 1000
    assert out["dep"]["beta_x"] == pytest.approx(2.0, abs=0.05)
    assert out["ind"]["f_stat"] < 10


# ------------------------------------------------------- sketch / dedup


def test_cms_never_undercounts_and_tightens_with_width(spark):
    from econdatapipeline_spark.operators.cms import (
        cms_heavy_hitters,
        cms_sketch,
    )

    rng = random.Random(11)
    words = [f"w{i}" for i in range(300)]
    texts = [
        " ".join(rng.choices(words, k=50)) for _ in range(60)
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = cms_heavy_hitters(df, depth=4, width=64, k=15).collect()
    assert len(out) == 15
    assert all(r["overestimate"] >= 0 for r in out)
    # wider sketch overestimates no more (pointwise min over rows can
    # only tighten when collisions thin out); totals must agree
    wide = cms_heavy_hitters(df, depth=4, width=4096, k=15).collect()
    tot_narrow = sum(r["overestimate"] for r in out)
    tot_wide = sum(r["overestimate"] for r in wide)
    assert tot_wide <= tot_narrow
    # sketch counter mass = total token mass per row
    toks = df.select(
        F.explode(F.split("text", " ")).alias("token")
    ).groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    mass = toks.agg(F.sum("freq")).first()[0]
    sk = cms_sketch(toks, depth=4, width=64)
    per_row = {
        r["row"]: r["s"]
        for r in sk.groupBy("row").agg(F.sum("cnt").alias("s")).collect()
    }
    assert all(v == mass for v in per_row.values())


def test_editdist_dedup_finds_small_edits_not_large(spark):
    from econdatapipeline_spark.operators.dedup import editdist_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("dog", "dig")),          # dist 1
        (3, base.replace("again and", "againand")),  # dist 1
        (4, base[:30] + " completely different tail here now"),
        (5, "unrelated document entirely about other things"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in editdist_dedup(df, max_dist=2).collect()}
    assert out[(1, 2)] == 1
    assert out[(1, 3)] == 1
    assert (1, 4) not in out
    assert (1, 5) not in out


def test_editdist_dedup_block_cap_drops_hot_blocks(spark):
    from econdatapipeline_spark.operators.dedup import editdist_dedup

    rows = [(i, "same same same prefix forever " + str(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = editdist_dedup(df, max_dist=2, max_block=5).collect()
    assert out == []  # whole block over the cap -> dropped, not O(n²)


def test_survival_size_gate_paths_identical(spark, monkeypatch):
    """The small-relation window path and the distributed two-pass
    path of ordered_cumsum produce BIT-IDENTICAL kaplan_meier curves
    (VERDICT r6 #6: take the local win back only if hashes hold)."""
    from econdatapipeline_spark.operators import stats
    from econdatapipeline_spark.operators.survival import kaplan_meier

    rng = random.Random(5)
    rows = [
        (rng.randint(1, 40), rng.randint(0, 1)) for _ in range(500)
    ]
    df = spark.createDataFrame(rows, "duration long, event int")
    small = sorted(map(tuple, kaplan_meier(df).collect()))
    monkeypatch.setattr(stats, "CUMSUM_GATE_ROWS", -1)
    large = sorted(map(tuple, kaplan_meier(df).collect()))
    assert small == large


def test_newey_west_reference_and_hac_inflation(spark):
    """Slope/se against a pure-python NW implementation; positively
    autocorrelated residuals must inflate se_hac above se_ols."""
    from econdatapipeline_spark.operators.timeseries import newey_west

    rng = random.Random(9)
    n, rho, lags = 60, 0.8, 4
    xs = [float(t) for t in range(n)]
    e, es = 0.0, []
    for _ in range(n):
        e = rho * e + rng.gauss(0, 1.0)
        es.append(e)
    ys = [round(1.5 * x + 10.0 + ee, 6) for x, ee in zip(xs, es)]
    rows = [("s", dt.date(2020, 1, 1) + dt.timedelta(days=t), xs[t], ys[t])
            for t in range(n)]
    df = spark.createDataFrame(rows, "dataset string, date date, x double, value double")
    out = newey_west(df, "value", "x", "date", "dataset", lags=lags).first()
    # pure-python reference
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    a = (sy - b * sx) / n
    xbar = sx / n
    us = [(x - xbar) * (y - a - b * x) for x, y in zip(xs, ys)]
    sxt = sxx - sx * sx / n
    v = sum(u * u for u in us)
    for lag in range(1, lags + 1):
        w = 1.0 - lag / (lags + 1)
        v += 2.0 * w * sum(us[t] * us[t - lag] for t in range(lag, n))
    se_hac_ref = math.sqrt(v / (sxt * sxt))
    rss = sum((y - a - b * x) ** 2 for x, y in zip(xs, ys))
    se_ols_ref = math.sqrt((rss / (n - 2)) / sxt)
    assert out["slope"] == pytest.approx(b, rel=1e-6)
    assert out["se_ols"] == pytest.approx(se_ols_ref, rel=1e-4)
    assert out["se_hac"] == pytest.approx(se_hac_ref, rel=1e-4)
    assert out["se_hac"] > out["se_ols"]


def test_rolling_corr_hand_values(spark):
    from econdatapipeline_spark.operators.timeseries import rolling_corr

    rows = []
    for t in range(12):
        rows.append(("pos", dt.date(2020, 1, 1) + dt.timedelta(days=t),
                     float(t), 2.0 * t + 1.0))
        rows.append(("neg", dt.date(2020, 1, 1) + dt.timedelta(days=t),
                     float(t), -3.0 * t + 40.0))
    df = spark.createDataFrame(rows, "dataset string, date date, x double, y double")
    out = rolling_corr(df, "x", "y", "date", "dataset", window_rows=6)
    last = {r["dataset"]: r for r in out.collect()
            if r["date"] == dt.date(2020, 1, 12)}
    assert last["pos"]["corr"] == pytest.approx(1.0, abs=1e-6)
    assert last["neg"]["corr"] == pytest.approx(-1.0, abs=1e-6)
    assert last["pos"]["n_w"] == 6
    first = [r for r in out.collect()
             if r["date"] == dt.date(2020, 1, 1)][0]
    assert first["corr"] is None  # single-row frame: undefined


def test_cox_ph_reference_newton(spark):
    """beta/hr/se against an independent full-precision pure-python
    partial-likelihood Newton fit (Breslow ties) on a synthetic
    two-group sample with a real hazard gap."""
    from econdatapipeline_spark.operators.survival import cox_ph

    rng = random.Random(17)
    rows = []
    for _ in range(150):          # group 1: ~2x hazard
        t = max(1, int(-10.0 * math.log(rng.random())))
        rows.append((t, 1 if rng.random() < 0.8 else 0, 1))
    for _ in range(150):
        t = max(1, int(-20.0 * math.log(rng.random())))
        rows.append((t, 1 if rng.random() < 0.8 else 0, 0))
    df = spark.createDataFrame(rows, "duration long, event int, x int")
    out = cox_ph(df, rounds=6).first()

    # independent reference (no quantization, plain floats)
    from collections import defaultdict

    d = defaultdict(int); sx = defaultdict(int)
    c0 = defaultdict(int); c1 = defaultdict(int)
    for t, e, x in rows:
        if e:
            d[t] += 1; sx[t] += x
        (c1 if x else c0)[t] += 1
    times = sorted(set(d) | set(c0) | set(c1))
    r0 = r1 = 0
    R0, R1 = {}, {}
    for t in reversed(times):
        r0 += c0.get(t, 0); r1 += c1.get(t, 0)
        R0[t], R1[t] = r0, r1
    beta = 0.0
    for _ in range(6):
        eb = math.exp(beta)
        u = i = 0.0
        for t in times:
            if d.get(t, 0) < 1:
                continue
            p = eb * R1[t] / (R0[t] + eb * R1[t])
            u += sx[t] - d[t] * p
            i += d[t] * p * (1 - p)
        beta += u / i
    eb = math.exp(beta)
    info = sum(
        d[t] * (eb * R1[t] / (R0[t] + eb * R1[t]))
        * (1 - eb * R1[t] / (R0[t] + eb * R1[t]))
        for t in times if d.get(t, 0) >= 1
    )
    se = 1.0 / math.sqrt(info)
    assert out["beta"] == pytest.approx(beta, abs=1e-5)
    assert out["hr"] == pytest.approx(math.exp(beta), abs=1e-4)
    assert out["se"] == pytest.approx(se, abs=1e-5)
    assert out["beta"] > 0.4  # group 1 really is higher-hazard
    assert out["n"] == 300 and out["n_events"] > 200


def test_cox_ph_degenerate_single_group(spark):
    from econdatapipeline_spark.operators.survival import cox_ph

    df = spark.createDataFrame(
        [(5, 1, 1), (7, 1, 1), (9, 0, 1)], "duration long, event int, x int"
    )
    out = cox_ph(df).first()
    assert out["beta"] is None and out["hr"] is None
    assert out["n"] == 3


def test_cox_ph_rejects_nonbinary_covariate(spark):
    from econdatapipeline_spark.operators.survival import cox_ph
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(5, 1, 2), (7, 1, 0)], "duration long, event int, x int"
    )
    with pytest.raises(Exception, match="binary"):
        cox_ph(df).collect()


def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated blobs: members cluster together and
    match an independent pure-python Lloyd run (same seeds, same
    quantization-free arithmetic — centers far enough apart that the
    1e-9 centroid quantization cannot flip any assignment)."""
    from econdatapipeline_spark.operators.kmeans import kmeans_lloyd

    rng = random.Random(31)
    centers = [(0.0, 0.0), (10.0, 10.0), (-10.0, 8.0)]
    rows = []
    vid = 0
    # seeds must be one per blob: ids 0,1,2 from blobs 0,1,2
    for cx, cy in centers:
        rows.append((vid, [cx, cy])); vid += 1
    for i in range(120):
        cx, cy = centers[i % 3]
        rows.append(
            (vid, [cx + rng.gauss(0, 0.5), cy + rng.gauss(0, 0.5)])
        )
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["cluster"]: r
           for r in kmeans_lloyd(df, k=3, rounds=3,
                                 seed_ids=[0, 1, 2]).collect()}
    assert len(out) == 3
    assert sum(r["n_vecs"] for r in out.values()) == 123
    assert all(r["n_vecs"] == 41 for r in out.values())
    # pure-python reference inertia
    pts = {i: v for i, v in rows}
    cents = {c + 1: list(pts[c]) for c in range(3)}
    assign = {}
    for _ in range(3):
        for i, v in pts.items():
            assign[i] = min(
                cents,
                key=lambda c: (sum((a - b) ** 2
                               for a, b in zip(v, cents[c])), c),
            )
        for c in cents:
            mem = [pts[i] for i in pts if assign[i] == c]
            cents[c] = [sum(col) / len(mem) for col in zip(*mem)]
    for i, v in pts.items():
        assign[i] = min(
            cents,
            key=lambda c: (sum((a - b) ** 2
                           for a, b in zip(v, cents[c])), c),
        )
    inert = {c: 0.0 for c in cents}
    for i, v in pts.items():
        inert[assign[i]] += sum(
            (a - b) ** 2 for a, b in zip(v, cents[assign[i]])
        )
    for c in out:
        assert out[c]["inertia"] == pytest.approx(inert[c], rel=1e-4)


def test_kmeans_validates_args(spark):
    from econdatapipeline_spark.operators.kmeans import kmeans_lloyd

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        kmeans_lloyd(df, k=1)
    with pytest.raises(ValueError):
        kmeans_lloyd(df, k=2, rounds=0)
    with pytest.raises(ValueError):
        kmeans_lloyd(df, k=2, seed_ids=[0])


def test_dp_group_counts_replays_inverse_cdf(spark):
    """Noise equals an independent Python replay of the
    md5-uniform -> Laplace inverse CDF, is deterministic per salt, and
    changes with the salt."""
    import hashlib

    from econdatapipeline_spark.operators.quality import dp_group_counts

    rows = [("a",)] * 40 + [("b",)] * 25 + [("c",)] * 11
    df = spark.createDataFrame(rows, "g string")
    out = {r["group"]: r
           for r in dp_group_counts(df, "g", epsilon=0.5, salt="dp").collect()}
    for g, n in (("a", 40), ("b", 25), ("c", 11)):
        u = (
            int(hashlib.md5(f"dp:{g}".encode()).hexdigest()[:8], 16)
            % 1000003 + 1
        ) / 1000005.0
        half = u - 0.5
        sign = 1.0 if half > 0 else (-1.0 if half < 0 else 0.0)
        noise = -(1.0 / 0.5) * sign * math.log(1.0 - 2.0 * abs(half))
        assert out[g]["n"] == n
        assert out[g]["noisy_n"] == pytest.approx(n + noise, abs=1e-6)
    # determinism + salt sensitivity
    again = {r["group"]: r["noisy_n"]
             for r in dp_group_counts(df, "g", epsilon=0.5, salt="dp").collect()}
    assert again == {g: r["noisy_n"] for g, r in out.items()}
    other = {r["group"]: r["noisy_n"]
             for r in dp_group_counts(df, "g", epsilon=0.5,
                                      salt="release2").collect()}
    assert any(other[g] != out[g]["noisy_n"] for g in other)
    with pytest.raises(ValueError):
        dp_group_counts(df, "g", epsilon=0.0, salt="dp")
    with pytest.raises(ValueError):
        dp_group_counts(df, "g", epsilon=0.5, salt="")


def test_kmeans_fast_mode_agrees_on_separated_data(spark):
    """exact=False (double arithmetic) produces the same clustering
    and n_vecs as the certified exact mode on non-adversarial data."""
    from econdatapipeline_spark.operators.kmeans import kmeans_lloyd

    rng = random.Random(41)
    rows = [(0, [0.0, 0.0]), (1, [8.0, 8.0])]
    vid = 2
    for i in range(80):
        cx, cy = [(0.0, 0.0), (8.0, 8.0)][i % 2]
        rows.append((vid, [cx + rng.gauss(0, 0.4), cy + rng.gauss(0, 0.4)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ex = {r["cluster"]: r["n_vecs"]
          for r in kmeans_lloyd(df, k=2, rounds=3, seed_ids=[0, 1]).collect()}
    fa = {r["cluster"]: r["n_vecs"]
          for r in kmeans_lloyd(df, k=2, rounds=3, seed_ids=[0, 1],
                                exact=False).collect()}
    assert ex == fa == {1: 41, 2: 41}


def test_sessionize_without_value_col(spark):
    from econdatapipeline_spark.operators.sessions import sessionize

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1.0)],
        "user_id long, ts timestamp, value double",
    )
    out = sessionize(df, value_col=None).collect()
    assert len(out) == 1 and "total_value" not in out[0].asDict()


def test_padded_tiebreak_rejects_negative_ids(spark):
    """ohlc tie-break keys raise on negative ids instead of
    mis-sorting ('-' < '0' lexicographically)."""
    from econdatapipeline_spark.operators.timeseries import ohlc_resample

    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1), 5.0, -5)], "d date, v double, tid long"
    )
    with pytest.raises(Exception, match="non-negative"):
        ohlc_resample(df, "d", "v", "tid").collect()
    # 19-digit ids (max long) survive the 20-wide pad
    big = spark.createDataFrame(
        [
            (dt.date(2024, 1, 1), 1.0, 9223372036854775806),
            (dt.date(2024, 1, 1), 2.0, 9223372036854775807),
            (dt.date(2024, 1, 1), 3.0, 5),
        ],
        "d date, v double, tid long",
    )
    bar = ohlc_resample(big, "d", "v", "tid").first()
    assert bar["open"] == 3.0 and bar["close"] == 2.0


def test_rmst_reference_step_integral(spark):
    """RMST against a direct pure-python KM step-function integral,
    with and without censoring, horizon inside and past the curve."""
    from econdatapipeline_spark.operators.survival import rmst

    rng = random.Random(29)
    rows = [
        (rng.randint(1, 60), 1 if rng.random() < 0.7 else 0)
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "duration long, event int")

    def ref(tau):
        from collections import Counter

        d = Counter(t for t, e in rows if e)
        c = Counter(t for t, e in rows if not e)
        times = sorted(set(d) | set(c))
        at_risk = len(rows)
        s = 1.0
        # step function: value BETWEEN event times
        pieces = []  # (start, end, s_value)
        prev = 0
        for t in times:
            pieces.append((prev, t, s))
            dt_ = d.get(t, 0)
            if dt_:
                s *= (at_risk - dt_) / at_risk
            at_risk -= dt_ + c.get(t, 0)
            prev = t
        pieces.append((prev, float("inf"), s))
        area = 0.0
        for a, b, sv in pieces:
            lo, hi = min(a, tau), min(b, tau)
            if hi > lo:
                area += sv * (hi - lo)
        return area

    for tau in (30.0, 100.0):
        out = rmst(df, tau).first()
        assert out["rmst"] == pytest.approx(ref(tau), abs=1e-3), tau
        assert 0.0 < out["rmst"] <= tau
    with pytest.raises(ValueError):
        rmst(df, 0.0)


def test_kmeans_silhouette_separated_vs_overlapping(spark):
    """Well-separated blobs score near 1; a single smeared blob split
    into 2 clusters scores low — plus a pure-python reference of the
    simplified silhouette on the separated case."""
    from econdatapipeline_spark.operators.kmeans import (
        kmeans_lloyd,
        kmeans_silhouette,
    )

    rng = random.Random(47)
    rows = [(0, [0.0, 0.0]), (1, [20.0, 20.0])]
    vid = 2
    for i in range(80):
        cx, cy = [(0.0, 0.0), (20.0, 20.0)][i % 2]
        rows.append((vid, [cx + rng.gauss(0, 0.5), cy + rng.gauss(0, 0.5)]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["cluster"]: r
           for r in kmeans_silhouette(df, k=2, rounds=3,
                                      seed_ids=[0, 1]).collect()}
    assert all(r["mean_silhouette"] > 0.9 for r in out.values())
    assert sum(r["n_vecs"] for r in out.values()) == 82

    # python reference on the same fit's centroids
    import math as m

    pts = {i: v for i, v in rows}
    cents = {1: list(pts[0]), 2: list(pts[1])}
    assign = {}
    for _ in range(3):
        for i, v in pts.items():
            assign[i] = min(cents, key=lambda c: (
                sum((a - b) ** 2 for a, b in zip(v, cents[c])), c))
        for c in cents:
            mem = [pts[i] for i in pts if assign[i] == c]
            cents[c] = [sum(col) / len(mem) for col in zip(*mem)]
    for i, v in pts.items():
        assign[i] = min(cents, key=lambda c: (
            sum((a - b) ** 2 for a, b in zip(v, cents[c])), c))
    ref = {c: [] for c in cents}
    for i, v in pts.items():
        ds = {c: m.sqrt(sum((a - b) ** 2 for a, b in zip(v, cents[c])))
              for c in cents}
        a_ = ds[assign[i]]
        b_ = min(d for c, d in ds.items() if c != assign[i])
        ref[assign[i]].append((b_ - a_) / max(a_, b_) if max(a_, b_) else 0)
    for c in out:
        assert out[c]["mean_silhouette"] == pytest.approx(
            sum(ref[c]) / len(ref[c]), abs=1e-4)

    # one smeared blob split into 2 -> weak structure
    rows2 = [(i, [rng.gauss(0, 3.0), rng.gauss(0, 3.0)]) for i in range(60)]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
    out2 = kmeans_silhouette(df2, k=2, rounds=3, seed_ids=[0, 1]).collect()
    assert all(r["mean_silhouette"] < 0.6 for r in out2)
