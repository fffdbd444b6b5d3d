"""Batched property tests for the round-6 operator families.

Same discipline as test_property_batch.py / _round4/_round5.py: seeded
random data, one Spark job per property, independent pure-Python
references.
"""

from __future__ import annotations

import math
import random


def test_waterfill_budget_invariants(spark):
    """For random supplies/budgets: allocations are exact longs that
    (1) never exceed supply, (2) sum to exactly min(budget, total),
    (3) are max-min fair — every capped group's allocation is >= any
    smaller group's, and uncapped groups keep everything."""
    from econdatapipeline_spark.operators.sampling import waterfill_budget

    rng = random.Random(61)
    for trial in range(3):
        supplies = {f"s{i}": rng.randint(0, 5000) for i in range(12)}
        total = sum(supplies.values())
        budget = rng.randint(0, int(total * 1.2))
        rows = [(g, v) for g, v in supplies.items()]
        df = spark.createDataFrame(rows, "src string, tok long")
        out = {
            r["src"]: r
            for r in waterfill_budget(df, "src", "tok", budget).collect()
        }
        allocs = {g: out[g]["allocated"] for g in supplies}
        assert all(0 <= allocs[g] <= supplies[g] for g in supplies), trial
        assert sum(allocs.values()) == min(budget, total), trial
        capped = [g for g in supplies if out[g]["capped"] == 1]
        uncapped = [g for g in supplies if out[g]["capped"] == 0]
        assert all(allocs[g] == supplies[g] for g in uncapped), trial
        if capped:
            floor_level = min(allocs[g] for g in capped)
            # no uncapped group may hold more than the water level + 1
            assert all(
                supplies[g] <= floor_level + 1 for g in uncapped
            ), trial


def test_bh_adjust_matches_bruteforce_stepup(spark):
    """BH decisions equal the textbook step-up rule: reject the k
    smallest p-values where k = max{i : p_(i) <= i*alpha/m}."""
    from econdatapipeline_spark.operators.stats import bh_adjust

    rng = random.Random(7)
    ps = sorted(round(rng.random() ** 2, 4) for _ in range(25))
    rows = [(f"t{i}", p) for i, p in enumerate(ps)]
    df = spark.createDataFrame(rows, "test_id string, p double")
    alpha = 0.1
    out = {r["test_id"]: r for r in bh_adjust(df, "p", ["test_id"], alpha=alpha).collect()}
    m = len(ps)
    k = 0
    for i, p in enumerate(sorted(ps), start=1):
        if p <= i * alpha / m:
            k = i
    cutoff = sorted(ps)[k - 1] if k else -1.0
    for i, p in enumerate(ps):
        expect = p <= cutoff
        assert bool(out[f"t{i}"]["rejected"]) == expect, (i, p, cutoff)


def test_wilcoxon_signed_python_reference(spark):
    """W+ equals a direct average-rank computation on random paired
    data with deliberate ties and zero diffs."""
    from econdatapipeline_spark.operators.stats import wilcoxon_signed

    rng = random.Random(23)
    pairs = []
    for _ in range(60):
        a = round(rng.uniform(0, 10), 1)
        d = rng.choice([-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0])
        pairs.append((a + d, a))
    df = spark.createDataFrame(pairs, "a double, b double")
    got = wilcoxon_signed(df, "a", "b").first()

    diffs = [round(a - b, 6) for a, b in pairs if abs(a - b) > 1e-12]
    mags = sorted(abs(d) for d in diffs)
    # average ranks over ties
    rank_of = {}
    i = 0
    while i < len(mags):
        j = i
        while j < len(mags) and mags[j] == mags[i]:
            j += 1
        avg = (i + 1 + j) / 2.0
        rank_of[mags[i]] = avg
        i = j
    w_plus = sum(rank_of[abs(d)] for d in diffs if d > 0)
    assert got["n"] == len(diffs)
    assert abs(got["w_plus"] - w_plus) < 1e-9
    assert abs(got["w_plus"] + got["w_minus"] - len(diffs) * (len(diffs) + 1) / 2) < 1e-9


def test_isotonic_calibrate_equals_pav_reference(spark):
    """The minimax closed form equals the classic sequential
    pool-adjacent-violators algorithm on random binned data."""
    from econdatapipeline_spark.operators.evaluation import isotonic_calibrate

    rng = random.Random(41)
    rows = []
    rates = [rng.random() for _ in range(8)]
    counts = [rng.randint(3, 12) for _ in range(8)]
    for b in range(8):
        npos = round(rates[b] * counts[b])
        for i in range(counts[b]):
            rows.append((1 if i < npos else 0, (b + 0.5) / 8.0))
    df = spark.createDataFrame(rows, "label int, score double")
    got = {r["bin"]: r["fit"] for r in isotonic_calibrate(df, bins=8).collect()}

    # sequential PAV reference
    blocks = []  # (sum, n)
    for b in range(8):
        npos = round(rates[b] * counts[b])
        blocks.append([float(npos), float(counts[b])])
        while len(blocks) > 1 and (
            blocks[-2][0] / blocks[-2][1] > blocks[-1][0] / blocks[-1][1]
        ):
            s2, n2 = blocks.pop()
            blocks[-1][0] += s2
            blocks[-1][1] += n2
    fits = []
    for s, n in blocks:
        fits += [s / n] * int(n)
    # expand back to bins by cumulative counts
    per_bin = []
    idx = 0
    for b in range(8):
        per_bin.append(fits[idx])
        idx += counts[b]
    for b in range(8):
        assert abs(got[b] - per_bin[b]) < 1e-6, b


def test_ohlc_resample_python_reference(spark):
    """OHLC bars equal a direct per-month computation with the same
    (date, key) tie-break on random data."""
    from pyspark.sql import functions as F
    from econdatapipeline_spark.operators.timeseries import ohlc_resample

    rng = random.Random(97)
    rows = []
    for k in range(120):
        m = rng.randint(1, 4)
        d = rng.randint(1, 28)
        rows.append((f"2021-{m:02d}-{d:02d}", k, round(rng.uniform(1, 99), 2)))
    df = spark.createDataFrame(rows, "d string, k long, v double").select(
        F.to_date("d").alias("d"), "k", "v"
    )
    got = {r["period"]: r for r in ohlc_resample(df, "d", "v", "k").collect()}

    by_period = {}
    for dstr, k, v in rows:
        p = dstr[:7]
        by_period.setdefault(p, []).append((dstr.replace("-", ""), k, v))
    for p, items in by_period.items():
        items.sort(key=lambda t: (t[0], t[1]))
        r = got[p]
        assert r["open"] == items[0][2] and r["close"] == items[-1][2], p
        vals = [v for _, _, v in items]
        assert r["high"] == max(vals) and r["low"] == min(vals), p
        assert r["volume"] == len(items), p


def test_hhi_matches_python_and_orders_by_concentration(spark):
    from econdatapipeline_spark.operators.stats import hhi_concentration

    rng = random.Random(5)
    vals = {f"g{i}": rng.uniform(1, 100) for i in range(10)}
    rows = [(g, v) for g, v in vals.items()]
    df = spark.createDataFrame(rows, "g string, v double")
    got = hhi_concentration(df, "g", "v").first()
    tot = sum(vals.values())
    ref = sum((v / tot) ** 2 for v in vals.values())
    assert abs(got["hhi"] - ref) < 1e-4
    # adding a dominant group increases HHI
    rows2 = rows + [("big", tot * 5)]
    got2 = hhi_concentration(
        spark.createDataFrame(rows2, "g string, v double"), "g", "v"
    ).first()
    assert got2["hhi"] > got["hhi"]


def test_bradley_terry_paths_agree(spark, monkeypatch):
    """Twin paths, forced through DRIVER_ITEMS_GATE on 7 items, one of
    which never wins: at 7 the driver loop runs, at 6 the relational
    rounds (the output joins theta back to the items); every row is
    IDENTICAL."""
    from econdatapipeline_spark.operators import preference
    from tests.test_gates import _plan

    rng = random.Random(13)
    items = [f"p{i}" for i in range(6)]
    strength = {it: rng.uniform(0.5, 3.0) for it in items}
    rows = [("p0", "z")] * 3
    for _ in range(300):
        a, b = rng.sample(items, 2)
        pa = strength[a] / (strength[a] + strength[b])
        rows.append((a, b) if rng.random() < pa else (b, a))
    df = spark.createDataFrame(rows, "winner string, loser string")
    out = {}
    for gate in (7, 6):
        monkeypatch.setattr(preference, "DRIVER_ITEMS_GATE", gate)
        out[gate] = preference.bradley_terry(df, rounds=5)
    assert "Join" not in _plan(out[7])
    assert "Join" in _plan(out[6])
    driver = {r["item"]: tuple(r) for r in out[7].collect()}
    assert driver == {r["item"]: tuple(r) for r in out[6].collect()}
    assert driver["z"][1:] == (0, 3, 0.0)  # never won: theta 0
    # fitted order tracks true strength for the extremes
    best = max(items, key=lambda i: strength[i])
    worst = min(items, key=lambda i: strength[i])
    assert driver[best][3] > driver[worst][3]


def test_pca_power_matches_numpy_eigh(spark):
    """Top component from numpy's exact eigendecomposition on random
    low-rank-ish data: |cos(angle)| near 1, eigenvalue close."""
    import numpy as np
    from econdatapipeline_spark.operators.pca import pca_power

    rng = np.random.RandomState(29)
    base = rng.randn(8)
    x = np.outer(rng.randn(200) * 5.0, base) + rng.randn(200, 8) * 0.3
    df = spark.createDataFrame(
        [(row.tolist(),) for row in x], "embedding array<float>"
    )
    out = sorted(pca_power(df, dims=8, rounds=15).collect(), key=lambda r: r["dim"])
    v = np.array([r["loading"] for r in out])
    xc = x.astype(np.float32).astype(np.float64)
    xc = xc - xc.mean(axis=0)
    cov = xc.T @ xc / len(xc)
    vals, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    assert abs(float(np.dot(v, top))) > 0.999
    assert abs(out[0]["eigenvalue"] - vals[-1]) / vals[-1] < 0.01
