"""Round-12 optimization twin-path pins.

Each optimization that re-expressed an operator's internals must be
bit-identical to the path it replaced; these tests force both branches
on the same input and compare collected rows exactly (repr-level —
no tolerance), the same discipline as the r11 twin-path tests.
"""

from __future__ import annotations

import pytest  # noqa: F401

import econdatapipeline_spark.operators.survival as sv
from econdatapipeline_spark.operators import stats


def _cox_rows(n=300):
    rows = []
    for i in range(n):
        x1 = float(i % 2)
        x2 = (i % 7) / 7.0
        x3 = ((i * 13) % 11) / 11.0 - 0.5
        base = 5 + (i * 37 % 50)
        dur = max(1, int(base * (1.5 if x1 else 1.0) - 10 * x2 + 4 * x3))
        event = 1 if (i % 5) != 0 else 0
        rows.append((dur, event, x1, x2, x3))
    return rows


def test_cox_ph_multi_one_sql_round_is_bit_identical(spark, monkeypatch):
    """cox_ph_multi's one-SQL Newton round (r12, guide §1.3) vs the
    DataFrame fallback chain it mirrors: forcing the gate both ways on
    the same input must produce repr-identical rows for p=2 and p=3
    (betas, hr, se, z — every float bit)."""
    df = spark.createDataFrame(
        _cox_rows(), "duration long, event int, x1 double, x2 double,"
        " x3 double"
    )
    for covs in (["x1", "x2"], ["x1", "x2", "x3"]):
        # SQL path (times << the gate)
        monkeypatch.setattr(stats, "CUMSUM_GATE_ROWS", 100_000)
        via_sql = sorted(
            tuple(map(repr, r))
            for r in sv.cox_ph_multi(
                df, "duration", "event", covs, rounds=4
            ).collect()
        )
        # the DataFrame fallback over the distributed ordered_cumsum
        monkeypatch.setattr(stats, "CUMSUM_GATE_ROWS", -1)
        via_df = sorted(
            tuple(map(repr, r))
            for r in sv.cox_ph_multi(
                df, "duration", "event", covs, rounds=4
            ).collect()
        )
        assert via_sql == via_df, covs
