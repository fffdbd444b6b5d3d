"""Read-side query surface tests (EP3, J2, resample, stats)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from econdatapipeline_spark.operators.merge import smart_update
from econdatapipeline_spark.plans import queries as Q
from econdatapipeline_spark.sources.warehouse import Warehouse

RUN_TS = dt.datetime(2025, 6, 1)


@pytest.fixture()
def wh(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    a = spark.createDataFrame(
        [(dt.date(2025, m, 1), float(m)) for m in range(1, 7)], "date date, sales double"
    )
    b = spark.createDataFrame(
        [(dt.date(2025, m, 1), 10.0 * m) for m in (1, 3, 5)], "date date, rate double"
    )
    wh.write_dataset(a, "autosales")
    wh.write_dataset(b, "unemploymentrate")
    # Produce some revisions through a merge.
    rev = spark.createDataFrame(
        [(dt.date(2025, 1, 1), 100.0), (dt.date(2025, 2, 1), 2.0)], "date date, sales double"
    )
    res = smart_update(wh.read("autosales"), rev, ["date"], ["sales"], "autosales", run_ts=RUN_TS)
    wh.apply_merge(res, "autosales")
    return wh


def test_read_dataset_range(spark, wh):
    out = Q.read_dataset(wh, "autosales", date_from=dt.date(2025, 3, 1), date_to=dt.date(2025, 5, 1))
    assert [r["date"].month for r in out.collect()] == [3, 4, 5]


def test_revision_history_filters_and_topk(spark, wh):
    hist = Q.get_revision_history(wh, dataset="autosales").collect()
    assert len(hist) == 1
    assert hist[0]["old_value"] == 1.0 and hist[0]["new_value"] == 100.0
    none = Q.get_revision_history(wh, dataset="autosales", field="nope").collect()
    assert none == []
    limited = Q.get_revision_history(wh, limit=0).collect()
    assert limited == []


def test_latest_values(spark, wh):
    out = Q.latest_values(wh, "autosales", n=2).collect()
    assert [r["date"].month for r in out] == [6, 5]


def test_export_wide_alignment(spark, wh):
    wide = Q.export_wide(wh, ["autosales", "unemploymentrate"]).collect()
    assert len(wide) == 6  # union of dates
    jan = next(r for r in wide if r["date"] == dt.date(2025, 1, 1))
    assert jan["autosales"] == 100.0 and jan["unemploymentrate"] == 10.0
    feb = next(r for r in wide if r["date"] == dt.date(2025, 2, 1))
    assert feb["unemploymentrate"] is None  # no obs that month


def test_resample_and_stats(spark, wh):
    res = Q.resample_last(wh, ["autosales"], freq="quarter").collect()
    by_period = {r["period"]: r["value"] for r in res}
    assert by_period[dt.date(2025, 1, 1)] == 3.0   # last obs in Q1 (Mar)
    assert by_period[dt.date(2025, 4, 1)] == 6.0   # last obs in Q2 (Jun)

    stats = {r["dataset"]: r for r in Q.dataset_stats(wh, ["autosales", "unemploymentrate"]).collect()}
    assert stats["autosales"]["n_obs"] == 6
    assert stats["unemploymentrate"]["max_value"] == 50.0


def test_building_reads_launches_no_job(spark, wh):
    """Building (not collecting) each read-surface query launches no
    Spark job: the warehouse hands every read its schema, and the
    cross-dataset ops read each table once."""
    from test_merge import _jobs_in

    names = ["autosales", "unemploymentrate"]
    builds = {
        "read_dataset": lambda: Q.read_dataset(wh, "autosales", date_from=dt.date(2025, 3, 1)),
        "latest_values": lambda: Q.latest_values(wh, "autosales", n=2),
        "point_lookup": lambda: wh.point_lookup("autosales", dt.date(2025, 3, 1)),
        "get_revision_history": lambda: Q.get_revision_history(wh, dataset="autosales", limit=5),
        "export_wide": lambda: Q.export_wide(wh, names),
        "dataset_stats": lambda: Q.dataset_stats(wh, names),
        "resample_last": lambda: Q.resample_last(wh, names, freq="quarter"),
    }
    jobs = {op: _jobs_in(spark, f"build-{op}", build)[1] for op, build in builds.items()}
    assert jobs == dict.fromkeys(builds, 0)


def test_revision_history_plan_is_topk(spark, wh):
    plan = Q.get_revision_history(wh, dataset="autosales", limit=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_approx_distinct_error_bound(spark):
    """The quantitative bound that replaces the missing SQL oracle for
    approx_distinct (mirror of the IVF recall bound): every group's HLL
    estimate at rsd=0.02 must be within 5% of the exact count the same
    row carries. Deterministic: Spark's HLL++ is a pure function of the
    value set."""
    import __spark_entry__ as E

    rows = E.q_approx_distinct(spark, "/root/testdata/sf0.01").collect()
    assert rows
    for r in rows:
        exact = r["exact_customers"]
        assert abs(r["approx_customers"] - exact) <= max(1, 0.05 * exact), (
            r["o_orderpriority"], r["approx_customers"], exact,
        )


def test_sketch_rollup_vs_exact_twin(spark):
    """The explicit twin-pair certification for the last rows-only
    mechanism (HLL sketches): q_sketch_rollup and q_distinct_rollup
    share one rollup topology (per-group + merged '__all__', never a
    re-scan), so running BOTH on the same table must put every sketch
    estimate within the documented DataSketches bound of the exact twin
    (lg_k=12 -> ~1.6% RSE; 5% ~ 3 sigma). This is the certification an
    oracle cannot provide — estimates are engine-specific — and it
    pins the SAME contract queries the driver runs, not a synthetic."""
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.01"
    approx = {
        r["group"]: r["approx_distinct"]
        for r in E.q_sketch_rollup(spark, sf).collect()
    }
    exact = {
        r["group"]: r["n_distinct"]
        for r in E.q_distinct_rollup(spark, sf).collect()
    }
    assert set(approx) == set(exact) and "__all__" in exact
    for g, n in exact.items():
        assert abs(approx[g] - n) <= max(1, 0.05 * n), (g, approx[g], n)
