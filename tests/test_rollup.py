"""Continuous rollup: incremental refresh == full recompute, with audit."""

from __future__ import annotations

import datetime as dt
import tempfile

from pyspark.sql import functions as F

from econdatapipeline_spark.sources.warehouse import Warehouse
from econdatapipeline_spark.streaming.rollup import bucket_aggregate, refresh_rollup

SCHEMA = "event_id long, ts timestamp, event_type string, value double"
RUN_TS = dt.datetime(2025, 6, 1)


def _events(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_incremental_refresh_matches_full_recompute(spark):
    t = dt.datetime(2024, 1, 1, 10, 15)
    late = dt.datetime(2024, 1, 1, 10, 45)  # same bucket as t
    other = dt.datetime(2024, 1, 1, 11, 5)
    batch1 = [(1, t, "click", 2.0), (2, t, "view", 1.0), (3, other, "click", 4.0)]
    batch2 = [(4, late, "click", 10.0), (5, other, "view", 7.0)]

    wh = Warehouse(spark, tempfile.mkdtemp())
    c1 = refresh_rollup(wh, _events(spark, batch1), run_ts=RUN_TS)
    assert c1 == {"new": 3, "updated": 0, "revisions": 0}

    c2 = refresh_rollup(wh, _events(spark, batch2), run_ts=RUN_TS)
    # late click restates the 10:00/click bucket; other/view is a new bucket
    assert c2["new"] == 1
    assert c2["updated"] == 1
    assert c2["revisions"] == 2  # both n_events and sum_value changed

    got = {
        (r["bucket"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in wh.read("events_rollup_1h").collect()
    }
    full = {
        (r["bucket"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in bucket_aggregate(_events(spark, batch1 + batch2)).collect()
    }
    assert got == full

    # The audit trail names the restated bucket.
    revs = wh.revisions().filter(F.col("dataset") == "events_rollup_1h").collect()
    assert {r["value_field"] for r in revs} == {"n_events", "sum_value"}
    assert all("2024-01-01 10:00:00|click" in r["data_date"] for r in revs)


def test_idempotent_on_empty_batch(spark):
    t = dt.datetime(2024, 1, 1, 10, 15)
    wh = Warehouse(spark, tempfile.mkdtemp())
    refresh_rollup(wh, _events(spark, [(1, t, "click", 2.0)]), run_ts=RUN_TS)
    c = refresh_rollup(wh, _events(spark, []), run_ts=RUN_TS)
    assert c == {"new": 0, "updated": 0, "revisions": 0}
    assert wh.read("events_rollup_1h").count() == 1


def test_replayed_batch_needs_the_ledger(spark):
    """The additive fold double-counts a redelivered batch BY DESIGN
    (it cannot distinguish a replay from genuinely new events in the
    same bucket); refresh_rollup_once's batch-id ledger is what makes
    foreachBatch's at-least-once delivery exactly-once."""
    from econdatapipeline_spark.streaming.rollup import refresh_rollup_once

    t = dt.datetime(2024, 1, 1, 10, 15)
    batch = [(1, t, "click", 2.0), (2, t, "view", 1.0)]

    # unguarded: replay double-counts (documents the hazard)
    wh = Warehouse(spark, tempfile.mkdtemp())
    refresh_rollup(wh, _events(spark, batch), run_ts=RUN_TS)
    replay = refresh_rollup(wh, _events(spark, batch), run_ts=RUN_TS)
    assert replay["updated"] == 2  # buckets restated = double count

    # guarded: the replayed batch id is a no-op
    wh2 = Warehouse(spark, tempfile.mkdtemp())
    first = refresh_rollup_once(wh2, _events(spark, batch), batch_id=0, run_ts=RUN_TS)
    assert first["new"] == 2
    again = refresh_rollup_once(wh2, _events(spark, batch), batch_id=0, run_ts=RUN_TS)
    assert again == {"new": 0, "updated": 0, "revisions": 0}
    n = wh2.read("events_rollup_1h").agg(F.sum("n_events")).collect()[0][0]
    assert n == 2.0  # counts unchanged by the replay


def test_refresh_rollup_once_run_id_scopes_the_marker(spark):
    """A stale marker from an old query incarnation (checkpoint deleted,
    batch ids restarted at 0) must not swallow the new run's batch 0."""
    from econdatapipeline_spark.streaming.rollup import refresh_rollup_once

    t = dt.datetime(2024, 3, 1, 9, 10)
    wh = Warehouse(spark, tempfile.mkdtemp())
    batch = [(1, t, "click", 2.0)]
    first = refresh_rollup_once(
        wh, _events(spark, batch), batch_id=0, run_ts=RUN_TS, run_id="runA"
    )
    assert first["new"] == 1
    # same incarnation replays batch 0 -> skipped
    again = refresh_rollup_once(
        wh, _events(spark, batch), batch_id=0, run_ts=RUN_TS, run_id="runA"
    )
    assert again == {"new": 0, "updated": 0, "revisions": 0}
    # new incarnation's batch 0 carries new data -> must fold
    batch_b = [(2, dt.datetime(2024, 3, 1, 11, 5), "view", 1.0)]
    fresh = refresh_rollup_once(
        wh, _events(spark, batch_b), batch_id=0, run_ts=RUN_TS, run_id="runB"
    )
    assert fresh["new"] == 1
    assert wh.read("events_rollup_1h").count() == 2


def test_failed_stage_appends_no_revisions(spark, tmp_path, monkeypatch):
    """A refresh commits like Warehouse.apply_merge: when the staged
    table write fails, no revision row reaches the log and the table is
    untouched. The retry then restates the bucket once; a null
    event_type folds into its one bucket instead of re-inserting it."""
    import os

    import pytest
    from pyspark.sql import DataFrameWriter

    t = dt.datetime(2024, 1, 1, 10, 15)
    wh = Warehouse(spark, str(tmp_path))
    refresh_rollup(wh, _events(spark, [(1, t, None, 2.0)]), run_ts=RUN_TS)
    table = sorted(map(tuple, wh.read("events_rollup_1h").collect()))
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if path.endswith("__staging"):
            raise OSError("injected: staging write failed")
        return real_parquet(self, path, *args, **kwargs)

    late = _events(spark, [(2, t, None, 3.0)])
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(OSError, match="injected"):
        refresh_rollup(wh, late, run_ts=RUN_TS)
    monkeypatch.undo()

    assert wh.revisions().count() == 0
    assert sorted(map(tuple, wh.read("events_rollup_1h").collect())) == table
    assert not os.path.isdir(wh.path("events_rollup_1h") + "__staging")

    assert refresh_rollup(wh, late, run_ts=RUN_TS) == {"new": 0, "updated": 1, "revisions": 2}
    rows = wh.read("events_rollup_1h").collect()
    assert [(r["event_type"], r["n_events"], r["sum_value"]) for r in rows] == [(None, 2.0, 5.0)]
    assert wh.revisions().count() == 2
