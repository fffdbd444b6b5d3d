"""Size gates: each twin-path primitive picks its path by comparing an
input size with one module constant. One test per gate forces each side
by setting the constant just below and at the measured size, checks
which side ran (plan, job count or dtype), and compares the results.
A test that did not check the side would pass twice over one path once
the code stopped reading its constant. The bradley_terry and mmr_select
gates are tested the same way in test_preference.py,
test_property_round6.py and test_diversity.py."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from econdatapipeline_spark.operators import kmeans, markov, pca, similarity

SF_DIR = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _run(spark, group, fn):
    """Run ``fn`` under job group ``group`` -> (its result, jobs
    launched, physical plans of the SQL executions those jobs ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    job_ids = {str(j) for j in sc.statusTracker().getJobIdsForGroup(group)}
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if set(e.jobs().keys().mkString(",").split(",")) & job_ids:
            plans.append(e.physicalPlanDescription())
    return out, len(job_ids), "\n".join(plans)


def _blobs(spark, centers, n_per, dim):
    """Separated blobs: point j of blob c is c + j * 0.05 / n_per on
    every coordinate."""
    rows = [[float(c) + j * 0.05 / n_per] * dim for c in centers for j in range(n_per)]
    return spark.createDataFrame(list(enumerate(rows)), "vec_id long, embedding array<double>")


def test_markov_stationary_gate(spark, monkeypatch):
    """7 states: at DRIVER_STATES_GATE = 7 the driver loop runs (its
    output is a plain local frame), at 6 the distributed rounds (the
    output joins pi back to the states); pi is identical."""
    rng = random.Random(23)
    states = [f"s{i}" for i in range(7)]
    rows = [(a, b, rng.randint(1, 9)) for a in states for b in states if rng.random() < 0.6]
    t = spark.createDataFrame(rows, "from_state string, to_state string, n long")
    out = {}
    for gate in (7, 6):
        monkeypatch.setattr(markov, "DRIVER_STATES_GATE", gate)
        out[gate] = markov.markov_stationary(t, rounds=9)
    assert "Join" not in _plan(out[7])
    assert "Join" in _plan(out[6])
    assert sorted(map(tuple, out[7].collect())) == sorted(map(tuple, out[6].collect()))


def test_brute_force_topk_gate(spark, monkeypatch):
    """40 queries: at EXPR_QUERIES_GATE = 39 the Arrow kernel runs (a
    Python stage in the plan), at 40 the column expressions (none); the
    neighbours and ranks agree."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 40)
    out = {}
    for gate in (39, 40):
        monkeypatch.setattr(similarity, "EXPR_QUERIES_GATE", gate)
        out[gate] = similarity.brute_force_topk(e, queries, k=3)
    assert "InPandas" in _plan(out[39])
    assert "InPandas" not in _plan(out[40]) and "ArrowEval" not in _plan(out[40])

    def ranks(df):
        return sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect())

    assert ranks(out[39]) == ranks(out[40])


def test_pca_power_gate(spark, monkeypatch):
    """50 vectors: at WIDE_GATE_ROWS = 49 the wide d-column aggregates
    run, at 50 the narrow posexplode form; every output row is
    identical."""
    df = _blobs(spark, (0.0, 3.0), 25, 6)
    got, plans = {}, {}
    for gate in (49, 50):
        monkeypatch.setattr(pca, "WIDE_GATE_ROWS", gate)
        got[gate], _, plans[gate] = _run(
            spark, f"gate-pca-{gate}",
            lambda: [tuple(r) for r in pca.pca_power(df, dims=6, rounds=4).collect()],
        )
    assert "posexplode" not in plans[49]
    assert "posexplode" in plans[50]
    assert got[49] == got[50]


def test_kmeans_exact_gate(spark, monkeypatch):
    """40 vectors, exact=None: at EXACT_GATE_ROWS = 40 the certified
    decimal fold runs, at 39 the double fold (the carried distance's
    dtype says which); the clustering is the same on separated blobs,
    the hashes need not be."""
    df = _blobs(spark, (0.0, 5.0), 20, 4)
    fin = {}
    for gate in (40, 39):
        monkeypatch.setattr(kmeans, "EXACT_GATE_ROWS", gate)
        fin[gate], _ = kmeans._fit(df, "embedding", "vec_id", 2, 2, [0, 20], None)
    assert dict(fin[40].dtypes)["dl"].startswith("decimal")
    assert dict(fin[39].dtypes)["dl"] == "double"
    clusters = {g: {r["id"]: r["cluster"] for r in f.collect()} for g, f in fin.items()}
    assert clusters[40] == clusters[39]
    assert sorted(clusters[40].values()) == [1] * 20 + [2] * 20

