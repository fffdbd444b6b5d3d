"""Kaplan-Meier survival tests (operators/survival)."""

from __future__ import annotations

import pytest

from econdatapipeline_spark.operators.survival import (
    fleming_harrington,
    kaplan_meier,
    log_rank,
    median_survival,
)

SCHEMA = "duration long, event int"
G_SCHEMA = "grp string, duration long, event int"


def test_textbook_curve(spark):
    # classic hand-checkable example: events at 1,2,4; censor at 3
    # n=5: t=1 (5 at risk, 1 event) S=4/5; t=2 (4 risk, 1 event)
    # S=4/5*3/4=3/5; t=3 censored (no drop); t=4 (2 risk, 1 event)
    # S=3/5*1/2=3/10
    rows = [(1, 1), (2, 1), (3, 0), (4, 1), (5, 0)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["t"]: r for r in kaplan_meier(df).collect()}
    assert out[1]["n_risk"] == 5 and abs(out[1]["survival"] - 0.8) < 1e-6
    assert abs(out[2]["survival"] - 0.6) < 1e-6
    assert out[3]["n_censored"] == 1 and abs(out[3]["survival"] - 0.6) < 1e-6
    assert abs(out[4]["survival"] - 0.3) < 1e-6
    assert out[5]["n_risk"] == 1 and abs(out[5]["survival"] - 0.3) < 1e-6


def test_censoring_keeps_curve_above_naive(spark):
    # heavy censoring: the KM curve must NOT treat censored subjects
    # as events — survival at t=1 reflects only the single event
    rows = [(1, 1)] + [(1, 0)] * 9
    df = spark.createDataFrame(rows, SCHEMA)
    out = kaplan_meier(df).collect()
    assert len(out) == 1
    assert abs(out[0]["survival"] - 0.9) < 1e-6  # 1 - 1/10


def test_full_mortality_hits_exact_zero(spark):
    rows = [(1, 1), (2, 1), (2, 1)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["t"]: r for r in kaplan_meier(df).collect()}
    assert out[2]["survival"] == 0.0  # d == n at t=2: exact zero


def test_median_survival(spark):
    rows = [(t, 1) for t in (1, 2, 3, 4)]
    df = spark.createDataFrame(rows, SCHEMA)
    curve = kaplan_meier(df)
    med = median_survival(curve).first()
    assert med["median_t"] == 2  # S(2) = 0.5

    censored = spark.createDataFrame([(5, 0)] * 4 + [(1, 1)], SCHEMA)
    med2 = median_survival(kaplan_meier(censored)).first()
    assert med2["median_t"] is None  # never falls to 0.5 -> honest null


def test_log_rank_textbook_two_arm(spark):
    # hand-computed Mantel-Cox: A events at t=1,2; B events at t=2,3.
    # t=1: nA=2 nB=2 dA=1 dB=0 -> eA=0.5,  v=0.25
    # t=2: nA=1 nB=2 dA=1 dB=1 -> eA=2/3, v=2*(1/3)*(2/3)*1/2=2/9
    # t=3: nA=0 nB=1 dA=0 dB=1 -> eA=0,   v=0 (n_t=1)
    # O-E = (1-0.5)+(1-2/3) = 5/6; V = 0.25+2/9 = 17/36
    # chi2 = (5/6)^2 / (17/36) = 25/17 ~= 1.470588
    rows = [("A", 1, 1), ("A", 2, 1), ("B", 2, 1), ("B", 3, 1)]
    df = spark.createDataFrame(rows, G_SCHEMA)
    out = log_rank(df, "grp", "A", "B").first()
    assert out["n_a"] == 2 and out["n_b"] == 2
    assert out["observed_a"] == 2
    assert abs(out["expected_a"] - round(0.5 + 2.0 / 3.0, 6)) < 1e-6
    assert abs(out["chi2"] - 1.470588) < 1e-6


def test_log_rank_identical_arms_is_zero(spark):
    # identical event patterns in both arms -> O == E exactly, chi2 = 0
    rows = [(g, t, 1) for g in ("A", "B") for t in (1, 2, 3)] + [
        (g, 4, 0) for g in ("A", "B")
    ]
    df = spark.createDataFrame(rows, G_SCHEMA)
    out = log_rank(df, "grp", "A", "B").first()
    assert out["chi2"] == 0.0
    assert abs(out["expected_a"] - out["observed_a"]) < 1e-6


def test_log_rank_censoring_shrinks_risk_sets(spark):
    # a censored B subject at t=1 must leave B's risk set before t=2
    # (nB(2)=1, not 2): with it, eA(2) = 1*1/2 = 0.5
    rows = [("A", 2, 1), ("B", 1, 0), ("B", 2, 1)]
    df = spark.createDataFrame(rows, G_SCHEMA)
    out = log_rank(df, "grp", "A", "B").first()
    assert out["n_a"] == 1 and out["n_b"] == 2
    # both groups have 1 at risk at t=2 where both events pool: dt=2,
    # nt=2 -> eA=1, v=0 (nt-dt=0) -> chi2 0/0 -> 0 by the den>0 guard
    assert out["observed_a"] == 1
    assert abs(out["expected_a"] - 1.0) < 1e-6
    assert out["chi2"] == 0.0


def test_two_group_tests_reject_equal_group_labels(spark):
    # comparing a group with itself has no contrast: log_rank used to
    # return chi2 = 0 (n_b = 0) and fleming_harrington NULL; both now
    # raise as rmst_diff does
    rows = [("A", 1, 1), ("A", 2, 1), ("B", 2, 1), ("B", 3, 1)]
    df = spark.createDataFrame(rows, G_SCHEMA)
    for test in (log_rank, fleming_harrington):
        with pytest.raises(ValueError, match="groups must differ"):
            test(df, "grp", "A", "A")


def test_nelson_aalen_textbook(spark):
    from econdatapipeline_spark.operators.survival import nelson_aalen

    # events at 1,2,4; censor at 3; n=5:
    # H(1)=1/5; H(2)=1/5+1/4=0.45; H(3)=0.45 (censor only);
    # H(4)=0.45+1/2=0.95
    rows = [(1, 1), (2, 1), (3, 0), (4, 1), (5, 0)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["t"]: r for r in nelson_aalen(df).collect()}
    assert out[1]["n_risk"] == 5 and abs(out[1]["cum_hazard"] - 0.2) < 1e-6
    assert abs(out[2]["cum_hazard"] - 0.45) < 1e-6
    assert abs(out[3]["cum_hazard"] - 0.45) < 1e-6
    assert abs(out[4]["cum_hazard"] - 0.95) < 1e-6
    # exp(-H) tracks the KM curve loosely from above
    curve = {r["t"]: r["survival"] for r in kaplan_meier(df).collect()}
    import math
    for t, r in out.items():
        assert math.exp(-r["cum_hazard"]) >= curve[t] - 1e-9
