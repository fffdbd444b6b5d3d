"""smart_update contract tests — the reference's executable spec.

Ported from /root/reference/tests/test_azure_connector.py:171-249 (the
only behavioral test in the reference) plus the tolerance-boundary and
multi-field cases FIXTURES.md A5 calls out.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from collections import Counter
from decimal import Decimal
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql import types as T

from econdatapipeline_spark.operators.merge import DEFAULT_TOLERANCE, smart_update
from econdatapipeline_spark.sources.warehouse import Warehouse

RUN_TS = dt.datetime(2025, 6, 1, 12, 0, 0)


def _df(spark, rows, value_cols=("value",)):
    schema = "date date, " + ", ".join(f"{c} double" for c in value_cols)
    return spark.createDataFrame(rows, schema)


def test_initial_insert(spark):
    existing = _df(spark, [])
    incoming = _df(
        spark,
        [(dt.date(2025, 1, 1), 100.0), (dt.date(2025, 2, 1), 200.0), (dt.date(2025, 3, 1), 300.0)],
    )
    res = smart_update(existing, incoming, ["date"], ["value"], "testdataset", run_ts=RUN_TS)
    assert res.counts() == {"new": 3, "updated": 0, "revisions": 0}
    assert res.merged.count() == 3


def test_update_with_revisions(spark):
    existing = _df(
        spark,
        [(dt.date(2025, 1, 1), 100.0), (dt.date(2025, 2, 1), 200.0), (dt.date(2025, 3, 1), 300.0)],
    )
    incoming = _df(
        spark,
        [(dt.date(2025, 1, 1), 110.0), (dt.date(2025, 2, 1), 200.0), (dt.date(2025, 3, 1), 310.0)],
    )
    res = smart_update(existing, incoming, ["date"], ["value"], "testdataset", run_ts=RUN_TS)
    # Exact reference assertion: updated==2 and revisions==2
    # (test_azure_connector.py:219-236).
    assert res.counts() == {"new": 0, "updated": 2, "revisions": 2}

    revs = {
        (r["data_date"], r["value_field"], r["old_value"], r["new_value"], r["revision_date"])
        for r in res.revisions.collect()
    }
    assert ("2025-01-01", "value", 100.0, 110.0, RUN_TS) in revs
    assert ("2025-03-01", "value", 300.0, 310.0, RUN_TS) in revs

    merged = {(r["date"], r["value"]) for r in res.merged.collect()}
    assert merged == {
        (dt.date(2025, 1, 1), 110.0),
        (dt.date(2025, 2, 1), 200.0),
        (dt.date(2025, 3, 1), 310.0),
    }


def test_tolerance_boundary(spark):
    """|delta| must be strictly greater than 0.001 (azure_data_tracker.py:113).

    Note the reference compares IEEE doubles, so an exactly-at-boundary
    literal like 100.001 actually differs by 0.001000000000004775 and IS
    flagged changed — we pin clearly-inside (0.0005) and clearly-outside
    (0.002) deltas, which is the contract both engines agree on.
    """
    existing = _df(spark, [(dt.date(2025, 1, 1), 100.0), (dt.date(2025, 2, 1), 100.0)])
    incoming = _df(spark, [(dt.date(2025, 1, 1), 100.0005), (dt.date(2025, 2, 1), 100.002)])
    res = smart_update(existing, incoming, ["date"], ["value"], "ds", run_ts=RUN_TS)
    assert res.counts() == {"new": 0, "updated": 1, "revisions": 1}
    rev = res.revisions.collect()[0]
    assert rev["data_date"] == "2025-02-01"


def test_multi_value_field(spark):
    """NYU shape: 3 value cols, change 1 -> 1 update, 1 revision (A5)."""
    cols = ("tbond_rate", "erp_t12m", "expected_return")
    existing = _df(spark, [(dt.date(2025, 1, 1), 0.04, 0.05, 0.09)], cols)
    incoming = _df(spark, [(dt.date(2025, 1, 1), 0.04, 0.06, 0.09)], cols)
    res = smart_update(existing, incoming, ["date"], list(cols), "equityriskpremium", run_ts=RUN_TS)
    assert res.counts() == {"new": 0, "updated": 1, "revisions": 1}
    rev = res.revisions.collect()[0]
    assert rev["value_field"] == "erp_t12m"
    assert rev["old_value"] == 0.05 and rev["new_value"] == 0.06


def test_null_value_skipped(spark):
    """float(None) fails in the reference -> change silently skipped (:128-130)."""
    existing = _df(spark, [(dt.date(2025, 1, 1), None), (dt.date(2025, 2, 1), 5.0)])
    incoming = _df(spark, [(dt.date(2025, 1, 1), 100.0), (dt.date(2025, 2, 1), None)])
    res = smart_update(existing, incoming, ["date"], ["value"], "ds", run_ts=RUN_TS)
    assert res.counts() == {"new": 0, "updated": 0, "revisions": 0}


def test_mixed_insert_update(spark):
    existing = _df(spark, [(dt.date(2025, 1, 1), 1.0)])
    incoming = _df(spark, [(dt.date(2025, 1, 1), 2.0), (dt.date(2025, 2, 1), 3.0)])
    res = smart_update(existing, incoming, ["date"], ["value"], "ds", run_ts=RUN_TS)
    assert res.counts() == {"new": 1, "updated": 1, "revisions": 1}
    assert res.merged.count() == 2


def test_compact_collapses_small_files(spark, tmp_path):
    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(100).selectExpr("id", "id * 2 as v")
    for _ in range(5):
        wh.append(df.repartition(4), "log")
    import os

    files_before = [
        f for f in os.listdir(wh.path("log")) if f.endswith(".parquet")
    ]
    assert len(files_before) >= 20
    n = wh.compact("log")
    files_after = [
        f for f in os.listdir(wh.path("log")) if f.endswith(".parquet")
    ]
    assert n == 1 and len(files_after) == 1
    got = wh.read("log").groupBy().agg(
        __import__("pyspark.sql.functions", fromlist=["sum"]).sum("v")
    ).collect()[0][0]
    assert got == 5 * sum(2 * i for i in range(100))


def test_failed_write_leaves_table_intact_and_no_staging(spark, tmp_path):
    import os

    import pytest
    from pyspark.sql import functions as F
    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    wh.write_dataset(spark.range(10).selectExpr("id", "id * 2 as v"), "t")
    before = sorted(r["id"] for r in wh.read("t").collect())

    # a plan that fails mid-job (ANSI division by zero on some rows)
    bad = spark.range(10).select("id", (F.lit(1) / (F.col("id") - 5)).alias("v"))
    with pytest.raises(Exception):
        wh.write_dataset(bad, "t")

    assert sorted(r["id"] for r in wh.read("t").collect()) == before
    assert not os.path.isdir(wh.path("t") + "__staging")


# -- twin test: smart_update vs a plain-Python model of the contract ------

# deltas around the tolerance: exactly equal, just inside, on the
# boundary (IEEE decides; the model and Spark use the same doubles),
# just outside, and far outside
_DELTAS = (0.0, 0.0009, -0.0009, 0.001, 0.0011, -0.0011, 2.5)


def _model(existing, incoming, cols, tol=DEFAULT_TOLERANCE):
    """The reference contract on a dict: existing keys map to value
    tuples, incoming rows are applied in order (keys unique per side)."""
    ex = {r[0]: tuple(r[1:]) for r in existing}
    merged = dict(ex)
    inserts, updates, revisions = [], [], []
    for key, *new in incoming:
        new = tuple(new)
        if key not in ex:
            inserts.append((key, *new))
            merged[key] = new
            continue
        changed = [
            (c, o, n) for c, o, n in zip(cols, ex[key], new)
            if o is not None and n is not None and abs(n - o) > tol
        ]
        if changed:
            updates.append((key, *new))
            merged[key] = new
            revisions += [("ds", key.isoformat(), c, o, n, RUN_TS) for c, o, n in changed]
    return {
        "merged": Counter((k, *v) for k, v in merged.items()),
        "inserts": Counter(inserts),
        "updates": Counter(updates),
        "revisions": Counter(revisions),
    }


def _seeded_batches(seed, n_cols):
    """Existing rows, incoming rows: inserts, NULLs on either side and
    deltas just inside / outside the tolerance, from one seed."""
    rng = random.Random(seed)
    keys = [dt.date(2020, 1, 1) + dt.timedelta(days=i) for i in range(40)]

    def value():
        return None if rng.random() < 0.1 else round(rng.uniform(-500, 500), 3)

    existing = [(k, *[value() for _ in range(n_cols)]) for k in keys[:25]]
    incoming = []
    for row in rng.sample(existing, 18):
        new = []
        for old in row[1:]:
            if rng.random() < 0.1:
                new.append(None)
            else:
                base = old if old is not None else 1.0
                new.append(base + rng.choice(_DELTAS))
        incoming.append((row[0], *new))
    incoming += [(k, *[value() for _ in range(n_cols)]) for k in keys[25:32]]
    rng.shuffle(incoming)
    return existing, incoming


def _cols(n_cols):
    return ("value",) if n_cols == 1 else ("tbond_rate", "erp_t12m", "expected_return")


@pytest.mark.parametrize(
    "seed,n_cols,shape",
    [(1, 1, "seeded"), (2, 3, "seeded"), (3, 1, "seeded"), (4, 3, "seeded"),
     (5, 3, "empty_existing"), (6, 1, "empty_incoming")],
)
def test_smart_update_matches_dict_model(spark, tmp_path, seed, n_cols, shape):
    cols = _cols(n_cols)
    existing, incoming = _seeded_batches(seed, n_cols)
    if shape == "empty_existing":
        existing = []
    elif shape == "empty_incoming":
        incoming = []
    want = _model(existing, incoming, cols)

    res = smart_update(
        _df(spark, existing, cols), _df(spark, incoming, cols), ["date"], list(cols), "ds",
        run_ts=RUN_TS,
    )
    for name, expected in want.items():
        got = Counter(tuple(r) for r in getattr(res, name).collect())
        assert got == expected, name
    counts = res.counts()
    assert counts == {
        "new": sum(want["inserts"].values()),
        "updated": sum(want["updates"].values()),
        "revisions": sum(want["revisions"].values()),
    }

    # the committed path: counts observed on the table write == counts()
    wh = Warehouse(spark, str(tmp_path))
    if existing:
        wh.write_dataset(_df(spark, existing, cols), "ds")
    schema = _df(spark, [], cols).schema
    committed = smart_update(
        wh.read_or_empty("ds", schema), _df(spark, incoming, cols), ["date"], list(cols), "ds",
        run_ts=RUN_TS,
    )
    assert committed.counts() == counts
    assert wh.apply_merge(committed, "ds") == counts
    assert Counter(tuple(r) for r in wh.read("ds").collect()) == want["merged"]
    assert Counter(tuple(r) for r in wh.revisions().collect()) == want["revisions"]


def test_duplicate_keys_are_tagged_per_pair(spark):
    """Duplicate keys within one side are OUTSIDE the contract (the
    reference's hash map holds one row per key). The behaviour is pinned
    so a change is explicit: every joined pair is tagged on its own."""
    d1, d2, d3 = dt.date(2025, 1, 1), dt.date(2025, 2, 1), dt.date(2025, 3, 1)
    existing = _df(spark, [(d1, 1.0), (d3, 5.0), (d3, 6.0)])
    incoming = _df(spark, [(d1, 2.0), (d1, 1.0), (d2, 7.0), (d2, 8.0), (d3, 5.0)])
    res = smart_update(existing, incoming, ["date"], ["value"], "ds", run_ts=RUN_TS)
    # d1: one incoming copy changed (update), the other equal (keep, old
    # value); d2: both copies insert; d3: 5.0 meets the existing 5.0
    # (keep) and 6.0 (update to 5.0).
    assert sorted(tuple(r) for r in res.merged.collect()) == [
        (d1, 1.0), (d1, 2.0), (d2, 7.0), (d2, 8.0), (d3, 5.0), (d3, 5.0),
    ]
    assert res.counts() == {"new": 2, "updated": 2, "revisions": 2}
    assert sorted((r["data_date"], r["old_value"], r["new_value"])
                  for r in res.revisions.collect()) == [
        ("2025-01-01", 1.0, 2.0), ("2025-03-01", 6.0, 5.0),
    ]


# -- the commit path: job budget and fault injection ----------------------

def _refresh(spark, wh, rows, cols=("value",)):
    schema = _df(spark, [], cols).schema
    existing = wh.read_or_empty("ds", schema)
    return smart_update(existing, _df(spark, rows, cols), ["date"], list(cols), "ds", run_ts=RUN_TS)


def _executions_scanning(spark, group, table_path):
    """SQL executions launched under ``group`` whose plan scans ``table_path``."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    job_ids = {str(j) for j in sc.statusTracker().getJobIdsForGroup(group)}
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    hits = []
    for i in range(execs.size()):
        e = execs.apply(i)
        jobs = set(e.jobs().keys().mkString(",").split(","))
        if jobs & job_ids and f"[file:{table_path}]" in e.physicalPlanDescription():
            hits.append(e.executionId())
    return hits


def _revision_files(wh):
    p = wh.path("datarevisions")
    return sorted(f for f in os.listdir(p) if f.endswith(".parquet")) if os.path.isdir(p) else []


@pytest.mark.parametrize("changed", [True, False])
def test_commit_scans_existing_at_most_twice(spark, tmp_path, changed):
    """A 3-column refresh with revisions scans the existing table in at
    most 2 SQL executions (staged write + revision append); one without
    revisions in exactly 1 and appends nothing to the revision log."""
    cols = ("tbond_rate", "erp_t12m", "expected_return")
    wh = Warehouse(spark, str(tmp_path))
    base = [(dt.date(2025, m, 1), 0.04, 0.05, 0.09) for m in range(1, 7)]
    wh.write_dataset(_df(spark, base, cols), "ds")
    delta = 0.01 if changed else 0.0
    rows = [(d, a, b + delta, c) for d, a, b, c in base] + [(dt.date(2025, 7, 1), 0.1, 0.2, 0.3)]
    files_before = _revision_files(wh)

    sc = spark.sparkContext
    group = f"commit-guard-{changed}"
    meta = "spark.sql.maxMetadataStringLength"
    old_meta = spark.conf.get(meta)
    spark.conf.set(meta, "10000")  # full scan paths in the plan text
    sc.setJobGroup(group, "commit guard")
    try:
        counts = wh.apply_merge(_refresh(spark, wh, rows, cols), "ds")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(meta, old_meta)

    scans = _executions_scanning(spark, group, wh.path("ds"))
    if changed:
        assert counts == {"new": 1, "updated": 6, "revisions": 6}
        assert 1 <= len(scans) <= 2, scans
        assert len(_revision_files(wh)) > len(files_before)
    else:
        assert counts == {"new": 1, "updated": 0, "revisions": 0}
        assert len(scans) == 1, scans
        assert _revision_files(wh) == files_before


def _table_state(wh):
    return sorted(tuple(r) for r in wh.read("ds").collect())


def _revision_rows(wh):
    return sorted(tuple(r) for r in wh.revisions().collect())


def test_failed_revision_append_leaves_table_and_log(spark, tmp_path, monkeypatch):
    wh = Warehouse(spark, str(tmp_path))
    wh.write_dataset(_df(spark, [(dt.date(2025, 1, 1), 1.0)]), "ds")
    wh.apply_merge(_refresh(spark, wh, [(dt.date(2025, 1, 1), 2.0)]), "ds")
    table, log = _table_state(wh), _revision_rows(wh)

    def boom(df, table):
        raise OSError("injected: revision log unwritable")

    monkeypatch.setattr(wh, "append", boom)
    res = _refresh(spark, wh, [(dt.date(2025, 1, 1), 3.0), (dt.date(2025, 2, 1), 4.0)])
    with pytest.raises(OSError, match="injected"):
        wh.apply_merge(res, "ds")
    monkeypatch.undo()

    assert _table_state(wh) == table
    assert _revision_rows(wh) == log
    assert not os.path.isdir(wh.path("ds") + "__staging")


def test_failed_staging_write_appends_no_revisions(spark, tmp_path, monkeypatch):
    from pyspark.sql import DataFrameWriter

    wh = Warehouse(spark, str(tmp_path))
    wh.write_dataset(_df(spark, [(dt.date(2025, 1, 1), 1.0)]), "ds")
    wh.apply_merge(_refresh(spark, wh, [(dt.date(2025, 1, 1), 2.0)]), "ds")
    table, log = _table_state(wh), _revision_rows(wh)
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if path.endswith("__staging"):
            os.makedirs(path, exist_ok=True)  # a half-written staging dir
            raise OSError("injected: staging write failed")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    res = _refresh(spark, wh, [(dt.date(2025, 1, 1), 3.0)])
    with pytest.raises(OSError, match="injected"):
        wh.apply_merge(res, "ds")
    monkeypatch.undo()

    assert _table_state(wh) == table
    assert _revision_rows(wh) == log
    assert not os.path.isdir(wh.path("ds") + "__staging")


# -- reads with the caller's schema --------------------------------------

def _jobs_in(spark, group, fn):
    """Run ``fn`` under job group ``group`` -> (its result, jobs launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_known_schema_reads_launch_no_inference_job(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.write_dataset(_df(spark, [(dt.date(2025, 1, 1), 1.0)]), "ds")
    wh.update_last_run("ds", RUN_TS)

    df, n_jobs = _jobs_in(spark, "read-or-empty", lambda: wh.read_or_empty("ds", _df(spark, []).schema))
    assert n_jobs == 0
    assert [tuple(r) for r in df.collect()] == [(dt.date(2025, 1, 1), 1.0)]
    # the watermark is read with pyarrow: no Spark job at all
    last, n_jobs = _jobs_in(spark, "get-last-run", lambda: wh.get_last_run("ds"))
    assert last == RUN_TS and n_jobs == 0
    # the registry view reads with the registry's schema: no inference
    # job, and a numeric-looking dataset name stays as written (type
    # inference of an all-numeric registry read "007" back as "7")
    wh.update_last_run("007", RUN_TS)
    marks, n_jobs = _jobs_in(spark, "watermarks", wh.watermarks)
    assert n_jobs == 0
    assert sorted(map(tuple, marks.collect())) == [("007", RUN_TS), ("ds", RUN_TS)]
    numeric = Warehouse(spark, str(tmp_path / "numeric"))
    numeric.update_last_run("007", RUN_TS)
    assert [tuple(r) for r in numeric.watermarks().collect()] == [("007", RUN_TS)]


# -- reads with the schema from the table's footer -------------------------

def _appended(spark, wh, extra_first):
    """Table ``t``: two Spark-written files of two schemas, renamed so
    the one with the ``extra`` column sorts first or last by path."""
    wh.write_dataset(_df(spark, [(dt.date(2025, 1, 1), 1.0)]).coalesce(1), "t")
    wh.append(_df(spark, [(dt.date(2025, 2, 1), 2.0, 3.0)], ("value", "extra")).coalesce(1), "t")
    p = wh.path("t")
    for f in [f for f in os.listdir(p) if f.endswith(".parquet")]:
        wide = "extra" in pq.read_schema(os.path.join(p, f)).names
        os.rename(os.path.join(p, f), os.path.join(p, f"part-{int(wide != extra_first)}.parquet"))
    return p


def _plain(spark, wh):
    wh.write_dataset(_df(spark, [(dt.date(2025, m, 1), float(m)) for m in (1, 2, 3)]), "t")
    return wh.path("t")


def _partitioned(spark, wh):
    df = spark.createDataFrame([(dt.date(2025, m, 1), float(m), m % 3 * 5) for m in range(1, 7)],
                               "date date, value double, k int")
    wh.write_dataset(df, "t", partition_cols=["k"])  # k=0, k=10, k=5
    return wh.path("t")


def _typed(spark, wh):
    schema = T.StructType([
        T.StructField("d", T.DecimalType(28, 12), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("s", T.StringType(), True),
    ])
    rows = [(Decimal("1234.000000000001"), dt.datetime(2025, 1, 1, 8, 30), None),
            (Decimal("-0.5"), dt.datetime(2025, 2, 1), "b")]
    wh.write_dataset(spark.createDataFrame(rows, schema), "t")
    return wh.path("t")


def _snapshot(spark, wh):
    wh.write_dataset(_df(spark, [(dt.date(2025, 1, 1), 1.0)]), "t")
    wh.write_dataset(_df(spark, [(dt.date(2025, 1, 1), 2.0)]), "t")
    return os.path.join(wh._history_dir("t"), "v1")


FOOTER_TABLES = {
    "plain": _plain,
    "partitioned": _partitioned,
    "typed": _typed,
    "appended-extra-first": partial(_appended, extra_first=True),
    "appended-extra-last": partial(_appended, extra_first=False),
    "snapshot": _snapshot,
}


@pytest.mark.parametrize("kind", list(FOOTER_TABLES))
def test_footer_schema_reads_launch_no_job(spark, tmp_path, kind):
    """Warehouse reads hand Spark the schema its inference would pick,
    so building them launches no job; schema and rows equal
    ``spark.read.parquet``'s, whose inference opens the first data
    file by sorted path."""
    wh = Warehouse(spark, str(tmp_path), history_depth=1)
    path = FOOTER_TABLES[kind](spark, wh)
    read = (lambda: wh.read_snapshot("t", 1)) if kind == "snapshot" else (lambda: wh.read("t"))
    df, n_jobs = _jobs_in(spark, f"footer-read-{kind}", read)
    assert n_jobs == 0
    ref = spark.read.parquet(path)
    assert df.schema == ref.schema
    assert Counter(map(tuple, df.collect())) == Counter(map(tuple, ref.collect()))
    if kind.startswith("appended"):
        assert ("extra" in df.columns) == kind.endswith("first")


@pytest.mark.parametrize("layout", ["pyarrow", "summary"])
def test_non_spark_schemas_read_as_inferred(spark, tmp_path, layout):
    """A first file without Spark's schema key (pyarrow-written), or a
    ``_common_metadata`` summary, leaves the schema to Spark's
    inference: the read equals ``spark.read.parquet``'s."""
    wh = Warehouse(spark, str(tmp_path))
    p = wh.path("t")
    if layout == "pyarrow":
        os.makedirs(p)
        pq.write_table(pa.table({"date": [dt.date(2025, 1, 1)], "value": [1.0],
                                 "n": pa.array([7], pa.int16())}), os.path.join(p, "part-0.parquet"))
    else:
        _plain(spark, wh)
        pq.write_metadata(pa.schema([("date", pa.date32())]), os.path.join(p, "_common_metadata"))
    df, ref = wh.read("t"), spark.read.parquet(p)
    assert df.schema == ref.schema
    assert df.columns == (["date", "value", "n"] if layout == "pyarrow" else ["date"])
    assert Counter(map(tuple, df.collect())) == Counter(map(tuple, ref.collect()))


def test_missing_and_empty_tables_raise_as_before(spark, tmp_path):
    from pyspark.errors import AnalysisException

    wh = Warehouse(spark, str(tmp_path))
    wh.initialize(["empty"])
    for table, condition in (("missing", "PATH_NOT_FOUND"), ("empty", "UNABLE_TO_INFER_SCHEMA")):
        for read in (lambda: wh.read(table), lambda: spark.read.parquet(wh.path(table))):
            with pytest.raises(AnalysisException) as err:
                read()
            assert err.value.getCondition() == condition


@pytest.mark.parametrize("extra_first", [True, False])
def test_merge_schema_reads_union_every_file(spark, tmp_path, extra_first):
    """``merge_schema=True``, or the session's parquet mergeSchema,
    reads the union of both files' columns, wherever the extra one
    sorts."""
    wh = Warehouse(spark, str(tmp_path))
    p = _appended(spark, wh, extra_first)
    ref = spark.read.option("mergeSchema", "true").parquet(p)
    assert wh.read("t", merge_schema=True).schema == ref.schema
    key = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = wh.read("t")
    finally:
        spark.conf.set(key, old)
    assert df.schema == ref.schema and "extra" in df.columns
    assert Counter(map(tuple, df.collect())) == {(dt.date(2025, 1, 1), 1.0, None): 1,
                                                 (dt.date(2025, 2, 1), 2.0, 3.0): 1}


def test_refresh_job_budget(spark, tmp_path):
    """The watermark write launches no Spark job, and a whole
    ``run_dataset`` refresh of the 3-column NYU sheet with revisions
    (gate, normalize, merge commit, revision append, watermark)
    launches at most 6."""
    from econdatapipeline_spark.pipeline import UPDATED, run_dataset
    from econdatapipeline_spark.registry import NYU_SPEC

    wh = Warehouse(spark, str(tmp_path))
    _, n_jobs = _jobs_in(spark, "update-last-run", lambda: wh.update_last_run("ds", RUN_TS))
    assert n_jobs == 0 and wh.get_last_run("ds") == RUN_TS

    def sheet(erp, months):
        return [{"Start of month": f"2025-{m:02d}-01", "T.Bond Rate": "4.0%",
                 "ERP (T12m)": erp, "Expected Return": "9.0%"} for m in months]

    first = run_dataset(spark, wh, NYU_SPEC, lambda spec: sheet("5.0%", range(1, 7)), run_ts=RUN_TS)
    assert first["status"] == UPDATED
    res, n_jobs = _jobs_in(spark, "refresh", lambda: run_dataset(
        spark, wh, NYU_SPEC, lambda spec: sheet("5.5%", range(1, 8)),
        run_ts=RUN_TS + dt.timedelta(days=1)))
    assert res == {"dataset": NYU_SPEC.name, "status": UPDATED,
                   "new": 1, "updated": 6, "revisions": 6}, res
    assert n_jobs <= 6, n_jobs


def test_read_or_empty_type_mismatch_fails_loudly(spark, tmp_path):
    """A stored column whose type differs from the spec must raise, not
    read back as NULL."""
    wh = Warehouse(spark, str(tmp_path))
    wh.write_dataset(spark.createDataFrame([(dt.date(2025, 1, 1), "1.5")], "date date, value string"), "ds")
    with pytest.raises(Exception, match="(?i)parquet|convert|mismatch"):
        wh.read_or_empty("ds", _df(spark, []).schema).collect()
