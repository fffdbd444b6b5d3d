"""End-to-end pipeline orchestration tests (C1-C3, S9, F13)."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from econdatapipeline_spark.pipeline import (
    FAILED,
    NO_UPDATE_NEEDED,
    UPDATED,
    run_pipeline,
    save_run_summary,
)
from econdatapipeline_spark.registry import EDB_SPECS, FRED_SPECS, NYU_SPEC
from econdatapipeline_spark.sources.warehouse import Warehouse

RUN1 = dt.datetime(2025, 6, 1, 2, 0, 0)
RUN2 = dt.datetime(2025, 6, 1, 12, 0, 0)  # same day: inside 24h gate
RUN3 = dt.datetime(2025, 6, 2, 3, 0, 0)   # > 24h later


def edb_fetcher(spec):
    grid = [["", 2024, 2025]]
    months = ["July", "August", "September", "October", "November", "December",
              "January", "February", "March", "April", "May", "June"]
    for i, m in enumerate(months):
        grid.append([m, str(100 + i), str(200 + i)])
    return grid


def fred_fetcher(spec):
    return {"observations": [
        {"date": "2024-01-01", "value": "1.5"},
        {"date": "2024-02-01", "value": "2.5"},
    ]}


def nyu_fetcher(spec):
    return [
        {"Start of month": "2025-01-01", "T.Bond Rate": "4.0%",
         "ERP (T12m)": "5.0%", "Expected Return": "9.0%"},
    ]


def failing_fetcher(spec):
    raise RuntimeError("upstream 503")


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def test_full_run_and_gate(spark, wh):
    specs = (EDB_SPECS[0], FRED_SPECS[0], NYU_SPEC)
    fetchers = {"edb_monthly": edb_fetcher, "fred": fred_fetcher, "nyu_stern": nyu_fetcher}

    s1 = run_pipeline(spark, wh, fetchers, specs=specs, run_ts=RUN1)
    assert s1["updated"] == 3 and s1["failed"] == 0
    edb_detail = s1["details"][0]
    assert edb_detail["new"] == 24 and edb_detail["updated"] == 0

    # Within 24h: the freshness gate skips everything.
    s2 = run_pipeline(spark, wh, fetchers, specs=specs, run_ts=RUN2)
    assert s2["no_update_needed"] == 3 and s2["updated"] == 0

    # After 24h: runs again; identical data -> zero changes, still 'updated'.
    s3 = run_pipeline(spark, wh, fetchers, specs=specs, run_ts=RUN3)
    assert s3["updated"] == 3
    assert all(d.get("new", 0) == 0 and d.get("updated", 0) == 0 for d in s3["details"])


def test_failure_isolation(spark, wh):
    specs = (EDB_SPECS[0], FRED_SPECS[0])
    fetchers = {"edb_monthly": failing_fetcher, "fred": fred_fetcher}
    s = run_pipeline(spark, wh, fetchers, specs=specs, run_ts=RUN1)
    assert s["failed"] == 1 and s["updated"] == 1
    failed = next(d for d in s["details"] if d["status"] == FAILED)
    assert "upstream 503" in failed["error"]


def test_run_summary_sink(spark, wh):
    s = run_pipeline(spark, wh, {"fred": fred_fetcher}, specs=(FRED_SPECS[0],), run_ts=RUN1)
    path = save_run_summary(wh, s)
    assert os.path.exists(path)
    loaded = json.load(open(path))
    assert loaded["updated"] == 1
    assert loaded["details"][0]["dataset"] == "federalfundsrate"


def test_revision_on_changed_refetch(spark, wh):
    spec = FRED_SPECS[0]
    run_pipeline(spark, wh, {"fred": fred_fetcher}, specs=(spec,), run_ts=RUN1)

    def revised(spec):
        return {"observations": [
            {"date": "2024-01-01", "value": "1.5"},
            {"date": "2024-02-01", "value": "9.9"},   # changed
            {"date": "2024-03-01", "value": "3.5"},   # new
        ]}

    s = run_pipeline(spark, wh, {"fred": revised}, specs=(spec,), run_ts=RUN3)
    d = s["details"][0]
    assert d["new"] == 1 and d["updated"] == 1 and d["revisions"] == 1
    revs = wh.revisions().filter("dataset = 'federalfundsrate'").collect()
    assert len(revs) == 1
    assert revs[0]["old_value"] == 2.5 and revs[0]["new_value"] == 9.9


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located bucketed tables must sort-merge-join with zero shuffle."""
    from econdatapipeline_spark.sources.warehouse import Warehouse
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path))
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 5_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    wh.write_bucketed(left, "bjoin_left", ["k"], num_buckets=8, sort_cols=["k"])
    wh.write_bucketed(right, "bjoin_right", ["k"], num_buckets=8, sort_cols=["k"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bjoin_left").join(spark.table("bjoin_right"), "k")
        assert joined.count() == 5_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        # aggregation on the bucket key reuses the layout too
        agg = spark.table("bjoin_left").groupBy("k").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in aplan, aplan
        # pre-repartitioned write: one file per bucket, not tasks*buckets
        import glob as _g
        files = _g.glob(f"{wh.path('bjoin_left')}/*.parquet")
        assert len(files) == 8, files
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bjoin_left")
        spark.sql("DROP TABLE IF EXISTS bjoin_right")


def test_parallel_run_matches_serial(spark, wh):
    """max_workers>1: same statuses, same warehouse contents, watermarks
    for every dataset despite concurrent writers of the shared table."""
    specs = tuple(EDB_SPECS[:4]) + (FRED_SPECS[0], NYU_SPEC)
    fetchers = {"edb_monthly": edb_fetcher, "fred": fred_fetcher, "nyu_stern": nyu_fetcher}
    s = run_pipeline(spark, wh, fetchers, specs=specs, run_ts=RUN1, max_workers=4)
    assert s["updated"] == len(specs) and s["failed"] == 0
    # order of details follows spec order even under the pool
    assert [d["dataset"] for d in s["details"]] == [sp.name for sp in specs]
    for sp in specs:
        assert wh.get_last_run(sp.name) is not None
        assert wh.read(sp.name).count() > 0
    # re-run inside the gate: all skipped, still correct under the pool
    s2 = run_pipeline(spark, wh, fetchers, specs=specs, run_ts=RUN2, max_workers=4)
    assert s2["no_update_needed"] == len(specs)


def test_parallel_run_isolates_failures(spark, wh):
    specs = (EDB_SPECS[0], EDB_SPECS[1], FRED_SPECS[0])
    fetchers = {"edb_monthly": edb_fetcher, "fred": failing_fetcher}
    s = run_pipeline(spark, wh, fetchers, specs=specs, run_ts=RUN1, max_workers=3)
    assert s["updated"] == 2 and s["failed"] == 1


def test_watermark_partitioned_parallel_updates(spark, wh):
    """Watermark updates touch only their own dataset=<name> partition
    dir (no whole-registry rewrite), so concurrent updaters never
    contend (VERDICT r2 #9)."""
    import os
    from concurrent.futures import ThreadPoolExecutor
    from datetime import datetime, timedelta

    t0 = datetime(2025, 6, 1)
    names = [f"ds{i}" for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lambda n: wh.update_last_run(n, t0), names))
    meta_dir = wh.path("scrapermetadata")
    assert sorted(os.listdir(meta_dir)) == [f"dataset=ds{i}" for i in range(8)]
    assert all(wh.get_last_run(n) == t0 for n in names)
    assert wh.get_last_run("never-seen") is None

    # Per-dataset overwrite leaves the others untouched.
    wh.update_last_run("ds3", t0 + timedelta(hours=30))
    assert wh.get_last_run("ds3") == t0 + timedelta(hours=30)
    assert wh.get_last_run("ds2") == t0
    rows = {(r["dataset"], r["last_run"]) for r in wh.watermarks().collect()}
    assert len(rows) == 8 and ("ds3", t0 + timedelta(hours=30)) in rows

    # should_update contract stays green on the partitioned layout.
    assert wh.should_update("ds2", 24.0, now=t0 + timedelta(hours=30))
    assert not wh.should_update("ds3", 24.0, now=t0 + timedelta(hours=31))
    assert wh.should_update("brand-new", 24.0, now=t0)


def test_clustered_write_yields_disjoint_file_ranges(spark, tmp_path):
    """Range clustering must give each parquet file a narrow min/max on
    the cluster key so footer stats prune whole files for range
    predicates — verified directly against the file footers."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(0, 40_000).select(
        (F.col("id") % 365).alias("day"), F.col("id").alias("payload")
    )
    wh.write_clustered(df, "clustered", ["day"], num_files=8)

    ranges = []
    for f in glob.glob(f"{wh.path('clustered')}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "day"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) > 1
    # file ranges must not overlap (disjoint up to the range boundaries)
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)
    # a one-day predicate intersects at most one file's range
    probe = 100
    touching = [r for r in ranges if r[0] <= probe <= r[1]]
    assert len(touching) == 1
    # correctness: the table reads back complete
    assert wh.read("clustered").count() == 40_000


def test_delete_rows_hard_delete_and_null_semantics(spark, tmp_path):
    """Matching rows are physically removed; a NULL-evaluating
    predicate keeps the row (it did not match)."""
    from pyspark.sql import functions as F

    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (4, 40.0)], "uid long, v double"
    )
    wh.write_dataset(df, "t")
    removed = wh.delete_rows("t", F.col("v") > 15.0)
    assert removed == 2  # rows 2 and 4
    left = {r["uid"] for r in wh.read("t").collect()}
    assert left == {1, 3}  # NULL row survives
    # no matches -> zero removed, table untouched (no rewrite)
    assert wh.delete_rows("t", F.col("v") > 999.0) == 0
    assert {r["uid"] for r in wh.read("t").collect()} == {1, 3}


def test_read_merge_schema_unions_appended_columns(spark, tmp_path):
    """An append-only table whose later files carry a new column reads
    back with the union schema; pre-evolution rows get NULL."""
    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    v1 = spark.createDataFrame([(1, 10.0)], "uid long, v double")
    wh.write_dataset(v1, "log")
    v2 = spark.createDataFrame(
        [(2, 20.0, "batch7")], "uid long, v double, src string"
    )
    wh.append(v2, "log")
    merged = wh.read("log", merge_schema=True)
    assert set(merged.columns) == {"uid", "v", "src"}
    rows = {r["uid"]: r["src"] for r in merged.collect()}
    assert rows == {1: None, 2: "batch7"}


def test_zordered_write_prunes_both_dimensions(spark, tmp_path):
    """Morton interleaving must give every file a narrow min/max window
    on BOTH columns; lexicographic clustering on (x, y) leaves y at
    nearly full range in every file."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    # two independent uniform dims derived from id (decorrelated)
    df = spark.range(0, 65_536).select(
        (F.col("id") % 256).alias("x"),
        ((F.col("id") * 131) % 256).alias("y"),
    )

    def file_spans(table, col_idx):
        spans = []
        for f in glob.glob(f"{wh.path(table)}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = md.row_group(rg).column(col_idx)
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            spans.append(max(maxs) - min(mins))
        return spans

    wh.write_zordered(df, "zorder", "x", "y", num_files=16, bits=8)
    zx, zy = file_spans("zorder", 0), file_spans("zorder", 1)
    assert len(zx) > 4
    # both dims narrow: average file window well under half the domain
    assert sum(zx) / len(zx) < 128 and sum(zy) / len(zy) < 128, (zx, zy)

    wh.write_clustered(df, "lex", ["x", "y"], num_files=16)
    ly = file_spans("lex", 1)
    # lexicographic: y's average file window is far wider than z-order's
    assert sum(ly) / len(ly) > 2 * sum(zy) / len(zy), (ly, zy)

    # completeness + determinism of the layout
    assert wh.read("zorder").count() == 65_536


def test_table_snapshots_time_travel_and_retention(spark, tmp_path):
    """history_depth=2: each overwrite snapshots the outgoing table;
    read_snapshot time-travels; retention prunes beyond depth; the
    default warehouse (depth 0) keeps no history."""
    from pyspark.sql import functions as F

    from econdatapipeline_spark.operators.diff import snapshot_diff
    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"), history_depth=2)

    def gen(n):
        return spark.range(0, n).select(
            F.col("id"), (F.col("id") * 10.0).alias("v")
        )

    for n in (3, 4, 5, 6):  # 4 writes -> 3 snapshots -> pruned to 2
        wh.write_dataset(gen(n), "t")
    assert wh.read("t").count() == 6
    assert wh.list_snapshots("t") == [2, 3]  # v1 pruned by retention
    assert wh.read_snapshot("t", 2).count() == 4
    assert wh.read_snapshot("t", 3).count() == 5

    # storage-level CDC between a snapshot and the live table
    d = snapshot_diff(
        wh.read_snapshot("t", 3), wh.read("t"), key_cols=["id"], value_cols=["v"]
    )
    kinds = {r["id"]: r["change"] for r in d.collect()}
    assert kinds[5] == "inserted" and kinds[0] == "unchanged"

    import pytest

    with pytest.raises(FileNotFoundError):
        wh.read_snapshot("t", 1)

    # depth 0 (default): overwrites keep no history
    wh0 = Warehouse(spark, str(tmp_path / "wh0"))
    wh0.write_dataset(gen(2), "t")
    wh0.write_dataset(gen(3), "t")
    assert wh0.list_snapshots("t") == []


def test_same_dataset_watermark_update_is_race_free(spark, wh):
    """Regression: concurrent updates of the SAME dataset previously
    shared one staging dir and raced on the swap."""
    from concurrent.futures import ThreadPoolExecutor
    from datetime import datetime

    stamps = [datetime(2025, 6, 1, h) for h in range(8)]
    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lambda t: wh.update_last_run("hot", t), stamps))
    # exactly one writer won, and the dir is a clean readable parquet
    assert wh.get_last_run("hot") in stamps
    import glob
    import os

    meta_dir = os.path.dirname(wh._watermark_path("hot"))
    assert not glob.glob(os.path.join(meta_dir, "_staging-*"))


def test_watermark_staging_is_invisible_and_swept(spark, wh):
    """A crashed writer's staging dir must be ignored by partition
    discovery (leading '_') and reclaimed on the next Warehouse init."""
    import os

    from datetime import datetime

    from econdatapipeline_spark.registry import METADATA_TABLE
    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh.update_last_run("real", datetime(2025, 6, 1))
    # simulate a crash between the parquet write and the locked swap:
    # a stale staging dir with a half-written footer
    stale = os.path.join(
        wh.path(METADATA_TABLE), "_staging-ghost-deadbeef"
    )
    os.makedirs(stale)
    with open(os.path.join(stale, "part-00000.parquet"), "wb") as fh:
        fh.write(b"PAR1garbage")  # torn file: unreadable footer
    # partition discovery must not surface a phantom dataset or crash
    rows = {r["dataset"] for r in wh.watermarks().collect()}
    assert rows == {"real"}
    # re-init sweeps the debris
    Warehouse(spark, wh.root)
    assert not os.path.isdir(stale)


@pytest.fixture()
def non_utc_tz(monkeypatch):
    """Process-local time zone with DST, 5 hours behind UTC in winter."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _watermark_file(wh, dataset):
    d = wh._watermark_path(dataset)
    (name,) = [f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return os.path.join(d, name)


@pytest.mark.parametrize("ts", [
    dt.datetime(2025, 1, 15, 23, 30, 0, 123456),  # winter, crosses midnight UTC
    dt.datetime(2025, 7, 1, 2, 0, 0, 999999),     # summer time
    dt.datetime(2025, 7, 1, 2, 0, 0, 1, tzinfo=dt.timezone.utc),  # aware value
])
def test_watermark_round_trip_matches_spark_in_local_tz(spark, wh, non_utc_tz, ts):
    """The watermark stores the instant PySpark's createDataFrame stores
    for ``ts`` (a naive value is process-local time) and reads back what
    a createDataFrame -> collect round trip returns."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import TimestampType

    via_spark = spark.createDataFrame([(ts,)], "last_run timestamp").collect()[0][0]
    wh.update_last_run("ds", ts)
    assert wh.get_last_run("ds") == via_spark
    col = pq.read_table(_watermark_file(wh, "ds")).column("last_run")
    assert str(col.type) == "timestamp[us, tz=UTC]"
    assert col.cast("int64")[0].as_py() == TimestampType().toInternal(ts)
    if ts.tzinfo is None:  # the time zone is really in effect
        assert via_spark == ts
        assert col[0].as_py().replace(tzinfo=None) != ts
    # Spark reads the same instant off the file
    assert spark.read.parquet(wh._watermark_path("ds")).collect()[0][0] == via_spark


def test_spark_written_watermarks_still_read(spark, wh):
    """Watermark partitions that Spark wrote (INT96) are read by
    get_last_run, should_update and watermarks(), next to new ones."""
    import pyarrow.parquet as pq

    old_ts = dt.datetime(2025, 6, 1, 8, 15, 0, 250000)
    new_ts = dt.datetime(2025, 6, 2, 9, 0, 0)
    (spark.createDataFrame([(old_ts,)], "last_run timestamp")
     .coalesce(1).write.parquet(wh._watermark_path("legacy")))
    wh.update_last_run("fresh", new_ts)
    physical = pq.ParquetFile(_watermark_file(wh, "legacy")).schema.column(0).physical_type
    assert physical == "INT96"

    assert wh.get_last_run("legacy") == old_ts
    assert wh.get_last_run("fresh") == new_ts
    assert not wh.should_update("legacy", 24.0, now=old_ts + dt.timedelta(hours=23))
    assert wh.should_update("legacy", 24.0, now=old_ts + dt.timedelta(hours=24))
    rows = {(r["dataset"], r["last_run"]) for r in wh.watermarks().collect()}
    assert rows == {("legacy", old_ts), ("fresh", new_ts)}


def test_watermark_of_another_type_raises(spark, wh):
    """A stored last_run that is not a timestamp fails loudly instead
    of reading as "never run" (which would re-run the dataset)."""
    (spark.createDataFrame([("2025-06-01 00:00:00",)], "last_run string")
     .coalesce(1).write.parquet(wh._watermark_path("bad")))
    with pytest.raises(TypeError, match="last_run is stored as string"):
        wh.get_last_run("bad")
    with pytest.raises(TypeError, match="not a timestamp"):
        wh.should_update("bad", 24.0, now=RUN3)


def test_compact_and_delete_preserve_evolved_schema(spark, tmp_path):
    """Regression: compact()/delete_rows() on a schema-evolved table
    must keep the appended column (previously could drop it)."""
    from pyspark.sql import functions as F

    from econdatapipeline_spark.sources.warehouse import Warehouse

    wh = Warehouse(spark, str(tmp_path))
    wh.write_dataset(
        spark.range(0, 50).select(F.col("id"), (F.col("id") * 1.0).alias("v")),
        "t",
    )
    wh.append(
        spark.createDataFrame([(100, 1.0, "late")], "id long, v double, src string"),
        "t",
    )
    wh.compact("t")
    cols = set(wh.read("t").columns)
    assert "src" in cols, cols
    n = wh.delete_rows("t", F.col("id") == 100)
    assert n == 1
    assert "src" in set(wh.read("t").columns)
    assert wh.read("t").count() == 50
