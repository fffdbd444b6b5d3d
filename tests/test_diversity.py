"""MMR diverse-selection tests (operators/diversity.mmr_select)."""

from __future__ import annotations

import pytest

from econdatapipeline_spark.operators import diversity
from econdatapipeline_spark.operators.diversity import mmr_select


def _cand(spark):
    # Three near-identical high-relevance vectors pointing along +x and
    # one orthogonal lower-relevance vector along +y: plain top-3 takes
    # the redundant x-cluster; MMR must interleave the y vector.
    rows = [
        (1, 0.90, [1.0, 0.0, 0.0]),
        (2, 0.89, [0.999, 0.01, 0.0]),
        (3, 0.88, [0.998, 0.02, 0.0]),
        (4, 0.60, [0.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(
        rows, "vec_id long, rel double, embedding array<float>"
    )


def test_mmr_breaks_up_redundant_cluster(spark):
    out = mmr_select(_cand(spark), k=3, lam=0.5).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    # pick 1: best rel (id 1). pick 2: ids 2,3 are ~duplicates of 1
    # (cos ~1 -> score ~0.5*0.89-0.5 ~ -0.05) while id 4 is orthogonal
    # (score 0.5*0.6-0 = 0.3). MMR must take 4 before 2.
    assert order[0] == 1 and order[1] == 4
    assert out[0]["mmr_score"] == round(0.5 * 0.90, 6)


def test_plain_relevance_order_when_lam_is_one(spark):
    out = mmr_select(_cand(spark), k=4, lam=1.0).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == [1, 2, 3, 4]


def test_mmr_string_ids_and_caller_column_name(spark):
    # retrieval shortlists typically carry STRING doc ids: the id
    # schema must derive from the input (never an assumed long) and
    # the output must keep the caller's column name
    rows = [
        ("doc-a", 0.90, [1.0, 0.0]),
        ("doc-b", 0.89, [0.999, 0.01]),
        ("doc-c", 0.60, [0.0, 1.0]),
    ]
    cand = spark.createDataFrame(
        rows, "doc_id string, score double, vec array<float>"
    )
    out = mmr_select(
        cand, k=2, lam=0.5, id_col="doc_id", rel_col="score", vec_col="vec"
    ).collect()
    assert set(out[0].asDict()) == {"rank", "doc_id", "rel", "mmr_score"}
    order = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert order == ["doc-a", "doc-c"]  # orthogonal beats the near-dup


def test_k_larger_than_pool_and_validation(spark):
    out = mmr_select(_cand(spark), k=10, lam=0.5).collect()
    assert len(out) == 4  # pool exhausted cleanly
    with pytest.raises(ValueError):
        mmr_select(_cand(spark), k=0)
    with pytest.raises(ValueError):
        mmr_select(_cand(spark), lam=1.5)


def test_mmr_driver_and_distributed_paths_agree(spark, monkeypatch):
    """Twin paths, forced through DRIVER_SHORTLIST_GATE on 6 candidates
    with k=5: at 6 the greedy loop replays on the driver, at 5 every
    later pick is its own TakeOrdered job (at least k-1 more jobs).
    The rows are IDENTICAL — same picks, same rounded scores —
    including on a rel tie broken by ascending id."""
    from tests.test_gates import _run

    rows = [
        (1, 0.90, [1.0, 0.0, 0.0]),
        (2, 0.90, [1.0, 0.0, 0.0]),   # exact tie with id 1 -> id wins
        (3, 0.88, [0.998, 0.02, 0.0]),
        (4, 0.60, [0.0, 1.0, 0.0]),
        (5, 0.55, [0.0, 0.8, 0.6]),
        (6, 0.50, [0.5, 0.5, 0.5]),
    ]
    cand = spark.createDataFrame(
        rows, "vec_id long, rel double, embedding array<float>"
    )
    got, jobs = {}, {}
    for gate in (6, 5):
        monkeypatch.setattr(diversity, "DRIVER_SHORTLIST_GATE", gate)
        got[gate], jobs[gate], _ = _run(
            spark, f"mmr-paths-{gate}",
            lambda: [tuple(r) for r in mmr_select(cand, k=5, lam=0.6).collect()],
        )
    assert jobs[5] >= jobs[6] + 4, jobs
    assert got[6] == got[5]
    assert got[6][0][1] == 1  # tie broken by id asc


def test_mmr_auto_selects_distributed_past_threshold(spark, monkeypatch):
    """A candidate set well past DRIVER_SHORTLIST_GATE (12 against 5)
    routes to the distributed rounds (k-1 more jobs than the driver
    replay) and still agrees with the driver path."""
    from tests.test_gates import _run

    rows = [
        (i, 1.0 - i * 0.01, [float(i % 3), float((i + 1) % 3), 1.0])
        for i in range(12)
    ]
    cand = spark.createDataFrame(
        rows, "vec_id long, rel double, embedding array<float>"
    )
    got, jobs = {}, {}
    for gate in (5, 12):
        monkeypatch.setattr(diversity, "DRIVER_SHORTLIST_GATE", gate)
        got[gate], jobs[gate], _ = _run(
            spark, f"mmr-auto-{gate}",
            lambda: [tuple(r) for r in mmr_select(cand, k=3, lam=0.7).collect()],
        )
    assert jobs[5] >= jobs[12] + 2, jobs
    assert got[5] == got[12]
