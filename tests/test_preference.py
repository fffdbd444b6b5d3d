"""Bradley-Terry preference-fit tests (operators/preference)."""

from __future__ import annotations

import pytest

from econdatapipeline_spark.operators import preference
from econdatapipeline_spark.operators.preference import bradley_terry

SCHEMA = "winner string, loser string"


def test_bt_recovers_win_ratio(spark):
    # A beats B 3:1 -> theta_A/theta_B converges to 3, so the implied
    # P(A beats B) = 3/4
    rows = [("A", "B")] * 3 + [("B", "A")]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["item"]: r for r in bradley_terry(df, rounds=12).collect()}
    assert out["A"]["wins"] == 3 and out["A"]["games"] == 4
    ratio = out["A"]["theta"] / out["B"]["theta"]
    assert abs(ratio - 3.0) < 0.05
    # normalization: thetas sum to ~n_items
    assert abs(out["A"]["theta"] + out["B"]["theta"] - 2.0) < 1e-3


def test_bt_unbalanced_schedule_beats_winrate(spark):
    # C only played (and sometimes beat) the strong item A; D farmed
    # wins off weak B. Win-rates order D > C, but BT must rank C > D
    # because C's wins came against strength.
    rows = (
        [("A", "B")] * 8        # A strong, B weak
        + [("A", "C")] * 4 + [("C", "A")] * 4   # C splits with A
        + [("D", "B")] * 6 + [("B", "D")] * 2   # D farms B
    )
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["item"]: r for r in bradley_terry(df, rounds=20).collect()}
    # win rates: C = 4/8 = .5, D = 6/8 = .75 — yet strength says C > D
    assert out["C"]["theta"] > out["D"]["theta"]
    assert out["A"]["theta"] > out["C"]["theta"]
    assert out["B"]["theta"] < out["D"]["theta"]


def test_bt_never_winner_goes_to_zero_and_validation(spark):
    rows = [("A", "Z")] * 5
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["item"]: r for r in bradley_terry(df, rounds=6).collect()}
    assert out["Z"]["theta"] == 0.0 and out["Z"]["wins"] == 0
    assert out["A"]["theta"] > 0
    with pytest.raises(ValueError):
        bradley_terry(df, rounds=0)


def test_bt_auto_selects_distributed_path_past_threshold(spark, monkeypatch):
    """A preference graph well past DRIVER_ITEMS_GATE (31 items against
    10) takes the relational rounds (the output joins theta back to
    the items); with the gate at the item count the driver loop runs
    (no join); both give identical rows."""
    from tests.test_gates import _plan

    rows = [(f"d{i}", f"d{i+1}") for i in range(30)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {}
    for gate in (10, 31):
        monkeypatch.setattr(preference, "DRIVER_ITEMS_GATE", gate)
        out[gate] = bradley_terry(df, rounds=3)
    assert "Join" in _plan(out[10])
    assert "Join" not in _plan(out[31])
    dist = {r["item"]: tuple(r) for r in out[10].collect()}
    assert len(dist) == 31
    assert dist == {r["item"]: tuple(r) for r in out[31].collect()}
