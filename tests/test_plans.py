"""Physical-plan assertions — the 100 TB posture, checked in CI.

Correctness tests prove the operators compute the right rows; these
prove Catalyst produced the plan we designed for at scale: filters
reach the parquet scan, projections prune the read schema, small dims
broadcast, top-k avoids a global sort, EXISTS/NOT EXISTS decorrelate
to semi/anti joins, and exact dedup is a single exchange. A regression
here is invisible at sf0.001 and fatal at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_reaches_parquet_scan(spark):
    plan = plan_of(E.q_filter_project(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # Non-trivial pushdown: the shipdate range and quantity bound.
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_projection_prunes_read_schema(spark):
    plan = plan_of(E.q_filter_project(spark, SF_DIR))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # 16-column lineitem reduced to the 6 referenced columns.
    assert "l_orderkey" in read_schema and "l_returnflag" not in read_schema
    assert read_schema.count(",") <= 6


def test_small_dims_broadcast(spark):
    plan = plan_of(E.q_join_agg(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    plan = plan_of(E.q_broadcast_dim_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = plan_of(E.q_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_exists_decorrelates_to_semi_join(spark):
    plan = plan_of(E.q_order_priority(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_not_exists_decorrelates_to_anti_join(spark):
    plan = plan_of(E.q_anti_join(spark, SF_DIR))
    assert "LeftAnti" in plan


def test_exact_dedup_is_single_shuffle(spark):
    plan = plan_of(E.q_exact_dedup(spark, SF_DIR), "simple")
    assert plan.count("Exchange") == 1


def test_aggregates_have_map_side_partials(spark):
    plan = plan_of(E.q_pricing_summary(spark, SF_DIR), "simple")
    # Two HashAggregates (partial + final) around one exchange.
    assert plan.count("HashAggregate") >= 2
    assert "WholeStageCodegen" in plan_of(E.q_pricing_summary(spark, SF_DIR), "codegen")


def test_global_sort_is_range_partitioned(spark):
    plan = plan_of(E.q_sorted_export(spark, SF_DIR), "simple")
    assert "rangepartitioning" in plan.lower()
    assert "TakeOrdered" not in plan  # a real distributed sort, not top-k


def test_point_lookup_pushes_equality(spark):
    plan = plan_of(E.q_point_lookup(spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "EqualTo(o_orderkey,42)" in plan.replace(" ", "").replace("`", "")


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """A selective build side injects a bloom filter into the fact scan.

    The application-side size threshold is production-sane (10 GB) in
    the session defaults, so the injection is exercised here by
    lowering it for this plan only — what matters is that the rule is
    ON and fires: at 100 TB the might_contain pre-filter drops most of
    the fact rows before the join shuffle.
    """
    from pyspark.sql import functions as F

    thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bcast = "spark.sql.autoBroadcastJoinThreshold"
    old_thr, old_bcast = spark.conf.get(thr), spark.conf.get(bcast)
    try:
        spark.conf.set(thr, "0")
        spark.conf.set(bcast, "-1")  # shuffle join, where the filter pays
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan and "bloom_filter_agg" in plan
    finally:
        spark.conf.set(thr, old_thr)
        spark.conf.set(bcast, old_bcast)


def test_no_cartesian_or_row_python_anywhere(spark):
    """Sweep every declared query's plan for scale anti-patterns.

    CartesianProduct = an unbounded all-pairs join slipped in;
    BatchEvalPython = a row-at-a-time Python UDF on the hot path
    (Arrow paths show as ArrowEvalPython / MapInPandas and are
    allowed). Cheap at sf0.001 because explain only plans.
    """
    offenders = {}
    for name, fn in E.queries().items():
        plan = plan_of(fn(spark, SF_DIR), "extended")
        flags = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if flags:
            offenders[name] = flags
    assert offenders == {}


def test_value_asof_prunes_earlier_revisions(spark):
    # The revision_date > ts predicate must reach the log derivation.
    # Here both batches stamp literal run_ts values, so the proof is
    # constant folding: the batch-1 branch (T1 < asof ts) is eliminated
    # from the plan entirely while batch 2 survives — the plan-time
    # analog of row-group pruning on a real append-only log. The
    # aggregate must stay the no-window min_by shape.
    # materialize=False: the bench-path fixture caches/persists the
    # log (an InMemoryRelation would mask the pruning proof); the lazy
    # build exposes the same plan a real append-only log table yields.
    from econdatapipeline_spark.operators.scd import value_asof
    from pyspark.sql import functions as F

    # Distinct run_ts stamps: with the default literals the lazy plan
    # is fragment-identical to the persisted bench fixture and Spark's
    # CacheManager swaps the InMemoryRelation back in, masking folding.
    import datetime as dt

    t1 = dt.datetime(2025, 7, 1, 0, 0, 0)
    t2 = dt.datetime(2025, 7, 2, 0, 0, 0)
    mid = dt.datetime(2025, 7, 1, 12, 0, 0)
    merged, revlog = E._two_batch_log(
        spark, SF_DIR, materialize=False, run_ts1=t1, run_ts2=t2
    )
    rev = revlog.withColumn("okey", F.col("data_date").cast("long"))
    plan = plan_of(
        value_asof(merged, rev, F.lit(mid), key_cols=["okey"],
                   value_col="total")
    )
    assert "min_by" in plan
    assert "2025-07-02 00:00:00" in plan        # later batch feeds min_by
    assert "2025-07-01 00:00:00" not in plan    # earlier batch pruned away


def test_scd2_single_window_pass(spark):
    # rn + lead share one partition/order, so each union branch plans
    # exactly one Window operator — not one per output column. (The
    # formatted plan names every node twice: tree + detail section.)
    import re

    plan = plan_of(E.q_scd2_intervals(spark, SF_DIR))
    window_nodes = set(re.findall(r"\((\d+)\) Window\b", plan))
    assert len(window_nodes) <= 2


def test_q21_shape_uses_semi_and_anti(spark):
    plan = plan_of(E.q_late_multi_supplier(spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_smart_update_large_incoming_sort_merges(spark):
    """A huge incoming batch must NOT be broadcast (VERDICT r2 #1).

    smart_update is one full outer join, which Catalyst never plans as
    a broadcast-hash join; when both sides exceed the auto-broadcast
    threshold (simulated with threshold=-1, since sf0.001 inputs are
    all tiny) it is a SortMergeJoin — the only strategy that survives
    a 100 GB incoming batch. ``merged`` runs that one join and no other.
    """
    import re

    from econdatapipeline_spark.operators.merge import smart_update

    bcast = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(bcast)
    try:
        spark.conf.set(bcast, "-1")
        ex = spark.read.parquet(f"{SF_DIR}/orders.parquet").selectExpr(
            "o_orderkey as date", "o_totalprice as value"
        )
        inc = ex.selectExpr("date", "value + 1.0 as value")
        import datetime as _dt

        run_ts = _dt.datetime(2024, 1, 1)
        res = smart_update(ex, inc, ["date"], ["value"], "big", run_ts=run_ts)
        plan = plan_of(res.merged, "simple")
        assert "SortMergeJoin" in plan
        assert "BroadcastHashJoin" not in plan
        joins = re.findall(r"\b(\w+Join|CartesianProduct)\b", plan)
        assert joins == ["SortMergeJoin"], joins
    finally:
        spark.conf.set(bcast, old)


def _payload_frames(spark, root):
    """(name, frame) for the raw frame of every source normalizer, plus
    its normalized output, on a payload and on an empty one, and the
    empty frames a warehouse under ``root`` hands out before its first
    write."""
    from econdatapipeline_spark.registry import EDB_SPECS, FRED_SPECS
    from econdatapipeline_spark.sources.excel_grid import (
        grid_to_dataframe,
        normalize_edb_grid,
    )
    from econdatapipeline_spark.sources.fred import (
        normalize_fred_observations,
        observations_to_dataframe,
    )
    from econdatapipeline_spark.sources.html_table import read_html_table
    from econdatapipeline_spark.sources.nyu import normalize_nyu_sheet
    from econdatapipeline_spark.sources.warehouse import Warehouse

    grid = [["", 2024, 2025], ["July", "1", None], ["August", "2"]]
    observations = {"observations": [{"date": "2025-01-01", "value": "1"},
                                     {"date": "2025-02-01", "value": "."}]}
    sheet = [{"Start of month": "2025-01-01", "T.Bond Rate": "4.0%",
              "ERP (T12m)": "5.0%", "Expected Return": "9.0%"}]
    junk_sheet = [dict(sheet[0], **{"ERP (T12m)": "n/a"})]
    html = "<table><tr><th>Date</th><th>Value</th></tr><tr><td>2025-01-01</td><td>1</td></tr></table>"
    header_only = "<table><tr><th>Date</th><th>Value</th></tr></table>"
    edb, fred = EDB_SPECS[0], FRED_SPECS[0]
    wh = Warehouse(spark, str(root))
    return [
        ("grid_to_dataframe", grid_to_dataframe(spark, grid)),
        ("normalize_edb_grid", normalize_edb_grid(spark, grid, edb)),
        ("normalize_edb_grid/header-only", normalize_edb_grid(spark, grid[:1], edb)),
        ("observations_to_dataframe", observations_to_dataframe(spark, observations)),
        ("observations_to_dataframe/empty", observations_to_dataframe(spark, {"observations": []})),
        ("normalize_fred_observations/empty", normalize_fred_observations(spark, {}, fred)),
        ("normalize_nyu_sheet", normalize_nyu_sheet(spark, sheet)),
        ("normalize_nyu_sheet/all-junk", normalize_nyu_sheet(spark, junk_sheet)),
        ("read_html_table", read_html_table(spark, html)),
        ("read_html_table/header-only", read_html_table(spark, header_only)),
        ("Warehouse.read_or_empty/missing", wh.read_or_empty(edb.name, edb.spark_schema())),
        ("Warehouse.watermarks/empty", wh.watermarks()),
    ]


def test_payload_frames_are_local_relations(spark, tmp_path):
    """Every source hands its driver-side cells to Spark as a local
    relation: a LocalTableScan with an exact size, never a pickled
    Python RDD (``Scan ExistingRDD``, sizeInBytes = Long.MaxValue)."""
    for name, df in _payload_frames(spark, tmp_path):
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, (name, plan)
        size = int(qe.optimizedPlan().stats().sizeInBytes())
        assert size < 2**20, (name, size)


def test_q13_left_join_preserves_zero_groups(spark):
    plan = plan_of(E.q_cust_order_distribution(spark, SF_DIR))
    # the outer join must survive optimization (no inner-join rewrite)
    assert "LeftOuter" in plan or "RightOuter" in plan


def test_corpus_shuffle_has_no_global_window(spark):
    """The training-order rank must come from bucket-partitioned
    windows — a Window over the whole input (empty partition spec)
    funnels 100 TB through one task."""
    plan = plan_of(E.q_corpus_shuffle(spark, SF_DIR), "extended")
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        # every big-side window is keyed; the only unkeyed windows are
        # over the 256-row bucket-offset relation, whose spec contains
        # the tiny __b ordering, never the row hash __h alone
        if "__h" in spec:
            assert "__b" in spec.split("__h")[0], spec


def test_domain_cap_rank_filter_prunes_before_shuffle(spark):
    """row_number <= N must plan a WindowGroupLimit (partial top-k per
    partition) so the exchange never carries a domain's full tail."""
    plan = plan_of(E.q_domain_cap(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_negative_sample_broadcasts_representatives(spark):
    plan = plan_of(E.q_negative_sample(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_partitioned_pagerank_never_broadcasts(spark):
    """partitioned=True is the billion-node mode: with the auto-broadcast
    threshold off, the full unrolled 3-round plan must contain NO
    BroadcastExchange (no forced |nodes|-sized broadcast anywhere),
    while the default mode broadcasts the rank relation by design."""
    import random

    from econdatapipeline_spark.operators import graph as G

    rng = random.Random(5)
    edges = spark.createDataFrame(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(300)],
        "src long, dst long",
    ).filter("src != dst").distinct()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ranks, working = G._build_pagerank(
            edges, "src", "dst", 3, 0.85, False, True
        )
        part_plan = plan_of(ranks)
        for df in working:
            df.unpersist()
        ranks_b, working_b = G._build_pagerank(
            edges, "src", "dst", 3, 0.85, False, False
        )
        bcast_plan = plan_of(ranks_b)
        for df in working_b:
            df.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastExchange" not in part_plan
    assert "BroadcastExchange" in bcast_plan


def test_distinct_rollup_total_branch_is_column_pruned(spark):
    """The '__all__' branch of the exact rollup twin must plan as a
    single-column scan (Catalyst prunes the group column entirely), not
    a second full-width pass."""
    from econdatapipeline_spark.operators.stats import distinct_rollup

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    plan = plan_of(distinct_rollup(docs, "doc_id", "source"))
    schemas = [seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]]
    assert any("doc_id" in s and "source" not in s for s in schemas), schemas


def test_stratified_priority_sample_uses_window_group_limit(spark):
    """The per-group rank<=k filter must push a partial top-k below the
    exchange (WindowGroupLimit), so shuffles carry at most k x
    partitions rows per group — not every group's full tail."""
    plan = plan_of(E.q_stratified_priority_sample(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_lm_score_model_joins_broadcast(spark):
    """At sf0.001 the self-trained bigram model IS small, so the
    size-based planner still broadcasts it onto the occurrence scan
    (no sort-merge join shuffles the corpus by bigram key)."""
    plan = plan_of(E.queries()["lm_score"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    """Disable size-based broadcast so any BroadcastHashJoin left in a
    plan can only come from a forced F.broadcast() hint."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_spearman_rank_relations_not_force_broadcast(spark):
    """spearman_corr's rank relations are distinct-value-sized — for a
    continuous column that is the input's size, so a forced broadcast
    hint would OOM at 100 TB. With auto-broadcast disabled, a hint
    would still plan BroadcastHashJoin; its absence proves the join is
    size-decided (AQE picks broadcast only when genuinely small)."""
    with _no_auto_broadcast(spark):
        plan = plan_of(E.queries()["spearman"](spark, SF_DIR))
    # The rank joins (Inner, on the value key) must fall back to SMJ.
    # At sf0.001 ordered_cumsum takes its small window path (no join);
    # past its gate its only broadcast is the |partitions|-row offset
    # table, bounded by design.
    assert "SortMergeJoin Inner" in plan
    assert "BroadcastHashJoin Inner" not in plan


def test_lm_score_self_trained_model_not_force_broadcast(spark):
    """A self-trained bigram model has O(corpus tokens) bigram types;
    the hint must be absent on the self-trained path (hint-free plans
    collapse to non-broadcast joins when auto-broadcast is off). The
    1-row vocab relation legitimately keeps its hint, but that is a
    cross join (BroadcastNestedLoopJoin); a hinted model equi-join
    would surface as BroadcastHashJoin."""
    with _no_auto_broadcast(spark):
        plan = plan_of(E.queries()["lm_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" not in plan


def test_lm_score_explicit_model_keeps_broadcast_hint(spark):
    """The cross-corpus path (CCNet shape: model trained on a small
    trusted corpus) SHOULD pin the broadcast — the hint must survive
    auto-broadcast being disabled."""
    from econdatapipeline_spark.operators.lm import lm_score, train_bigram_lm
    from econdatapipeline_spark.sources.tables import load_table

    d = load_table(spark, SF_DIR, "documents")
    model = train_bigram_lm(d.limit(50))
    with _no_auto_broadcast(spark):
        plan = plan_of(lm_score(d, model))
    assert "BroadcastHashJoin" in plan


def test_graph_partitioned_mode_never_broadcasts_node_relations(spark):
    """The billion-node escape hatch: with partitioned=True,
    adamic_adar's |entities|-sized weight relation and
    degree_assortativity's |nodes|-sized degree relation must never
    carry a broadcast hint (with auto-broadcast off, any
    BroadcastHashJoin left could only come from a hint)."""
    from econdatapipeline_spark.operators.graph import (
        adamic_adar,
        degree_assortativity,
    )
    from pyspark.sql import functions as F

    edges = spark.range(200).select(
        (F.col("id") % 40).alias("cust"), (F.col("id") % 23).alias("supp")
    )
    with _no_auto_broadcast(spark):
        aa = plan_of(
            adamic_adar(edges, node_col="cust", via_col="supp",
                        partitioned=True)
        )
        da = plan_of(
            degree_assortativity(edges, src="cust", dst="supp",
                                 partitioned=True)
        )
    assert "BroadcastHashJoin" not in aa
    assert "BroadcastHashJoin" not in da


def test_target_encode_table_broadcasts(spark):
    """The (category x fold) encoding table broadcasts onto the row
    scan — the row side must never shuffle on the category key."""
    plan = plan_of(E.queries()["target_encode"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_loo_source_influence_model_relations_not_force_broadcast(spark):
    """loo_source_influence's count tables (c2/c1 totals and
    per-source) are token-TYPE-sized — O(corpus tokens) at 100 TB — so
    none of them may carry a forced broadcast hint (the lm_score rule
    applied to its sibling). With auto-broadcast disabled the only
    broadcasts left must be the sources/vocab cross joins
    (BroadcastNestedLoopJoin, bounded by |sources| and 1 row); a hinted
    model equi-join would surface as BroadcastHashJoin."""
    with _no_auto_broadcast(spark):
        plan = plan_of(E.queries()["source_influence"](spark, SF_DIR))
    assert "BroadcastHashJoin" not in plan


def test_seasonal_decompose_trend_pinned_and_unhinted(spark):
    """seasonal_decompose's sequential trend kernel must execute
    exactly ONCE: the hp_filter relation is eagerly localCheckpoint'ed
    before the per-period aggregate and the fact join both consume it
    (r10 PLANS measured arrow=3 without the pin — the LDL' kernel ran
    per consumer). The returned plan therefore reads a checkpoint scan
    and carries NO Arrow stage; and the seasonal-index joins must not
    be force-broadcast (group-count-proportional at 100 TB), so with
    auto-broadcast off they fall back to shuffle joins."""
    plan = plan_of(E.queries()["seasonal_decompose"](spark, SF_DIR))
    assert "FlatMapGroupsInPandas" not in plan
    assert "ExistingRDD" in plan
    with _no_auto_broadcast(spark):
        plan = plan_of(E.queries()["seasonal_decompose"](spark, SF_DIR))
    assert "BroadcastHashJoin" not in plan
