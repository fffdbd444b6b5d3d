"""Diversity-aware selection: maximal marginal relevance (MMR).

The curation counterpart of plain top-k: when assembling few-shot
exemplars, eval suites, or seed corpora from a retrieval shortlist,
taking the k highest-relevance items yields near-duplicates; MMR
(Carbonell & Goldstein, SIGIR 1998) greedily picks

    argmax over unselected c of
        lam * rel(c) - (1 - lam) * max over selected s of cos(c, s)

so each pick trades relevance against redundancy with what is already
chosen.

Execution shape: the greedy loop is inherently sequential in k, so the
driver runs k rounds — but each round is ONE distributed TakeOrdered
over the candidate relation (the bpe_train / centroid-update pattern:
driver-side loop bounded by a small constant, per-round work fully
parallel), and the selected set it compares against is <= k vectors
shipped as a broadcast-sized literal relation. Candidates are a
SHORTLIST by contract (the output of bm25/ANN retrieval, thousands of
rows) — MMR over a raw corpus would be mis-use, and the docstring of
the contract query pins that: run retrieval first, diversify second.

Determinism: pair cosines round to 6 decimals before the max, the MMR
score rounds to 6 before the argmax, and ties break by ascending id —
the same discipline as brute_force_topk, so the full greedy trajectory
is engine-portable and a SQL oracle replays it as k unrolled CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from econdatapipeline_spark.functions.vectors import dot, norm

# mmr_select's size gate: at or below this many candidates the greedy
# loop replays on the driver, above it each round is a TakeOrdered job.
DRIVER_SHORTLIST_GATE = 100_000


def _r6(x):
    """Replay Spark's Round(col, 6) on a double: BigDecimal.valueOf
    (shortest decimal repr — Python ``repr`` emits the identical
    shortest round-trip digits) setScale(6, HALF_UP); NaN/Inf pass
    through, as in Spark's RoundBase."""
    import math  # noqa: PLC0415
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    if x is None or math.isnan(x) or math.isinf(x):
        return x
    return float(
        Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )


def _ieee_div(a, b):
    """Double division with Spark/Java IEEE semantics (x/0 -> signed
    Inf, 0/0 -> NaN) — Python raises where Java does not."""
    import math  # noqa: PLC0415

    if b == 0.0:
        if math.isnan(a) or a == 0.0:
            return float("nan")
        neg = (math.copysign(1.0, a) * math.copysign(1.0, b)) < 0
        return float("-inf") if neg else float("inf")
    return a / b


def _key_desc(x):
    """Sort key replaying Spark desc ordering on a nullable double:
    nulls LAST, NaN greater than everything (so first under desc)."""
    import math  # noqa: PLC0415

    if x is None:
        return (1, 0, 0.0)
    if math.isnan(x):
        return (0, 0, 0.0)
    return (0, 1, -x)


def _key_id_asc(i):
    """Spark asc ordering on the id: nulls FIRST."""
    return (0,) if i is None else (1, i)


def _mmr_greedy_driver(rows, k, lam):
    """Replay mmr_select's exact greedy trajectory over collected
    shortlist rows -> [(rank, id, rel, mmr_score)].

    Every arithmetic step mirrors the distributed form operation for
    operation: dot/norm are the same sequential left folds in double
    (functions/vectors.py), rounding is _r6, greatest skips nulls and
    treats NaN as largest, ties break by ascending id with Spark's
    null ordering."""
    import math  # noqa: PLC0415

    cand = [(r["id"], r["rel"], r["v"], r["vn"]) for r in rows]
    if not cand:
        return []

    def _dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            if x is None or y is None:
                return None
            acc = acc + float(x) * float(y)
        return acc

    def _cos(v, vn, sv, svn):
        if v is None or sv is None or vn is None or svn is None:
            return None
        d = _dot(v, sv)
        if d is None:
            return None
        return _r6(_ieee_div(d, vn * svn))

    def _greatest(vals):
        vs = [x for x in vals if x is not None]
        if not vs:
            return None
        if any(math.isnan(x) for x in vs):
            return float("nan")
        return max(vs)

    first = min(cand, key=lambda c: (_key_desc(c[1]), _key_id_asc(c[0])))
    ms1 = None if first[1] is None else _r6(lam * first[1])
    picked = [(1, first[0], first[1], ms1)]
    selected = [(first[2], first[3])]
    # ~id.isin(sel_ids) drops null-id rows (NULL predicate) once
    # anything is selected, and drops EVERY row once a null id is in
    # the selected list — replay both SQL three-valued-logic corners.
    remaining = (
        []
        if first[0] is None
        else [c for c in cand if c[0] is not None and c[0] != first[0]]
    )
    while len(picked) < k and remaining:
        best = None
        best_key = None
        best_ms = None
        for cid, rel, v, vn in remaining:
            sim = _greatest(
                [_cos(v, vn, sv, svn) for sv, svn in selected]
            )
            ms = (
                None
                if rel is None or sim is None
                else _r6(lam * rel - (1.0 - lam) * sim)
            )
            key = (_key_desc(ms), _key_id_asc(cid))
            if best_key is None or key < best_key:
                best, best_key, best_ms = (cid, rel, v, vn), key, ms
        picked.append((len(picked) + 1, best[0], best[1], best_ms))
        selected.append((best[2], best[3]))
        remaining = (
            []
            if best[0] is None
            else [c for c in remaining if c[0] != best[0]]
        )
    return picked


def mmr_select(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    rel_col: str = "rel",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy MMR top-k -> (rank, <id_col>, rel, mmr_score).

    ``candidates`` carries (id, rel, vec). Round 1 picks the highest
    ``rel`` (ties by id); each later round scores every unselected
    candidate against the current selected set and takes the best
    rounded MMR score (ties by id). ``mmr_score`` for rank 1 is
    lam * rel (no redundancy term yet) — the standard convention.

    A shortlist of at most ``DRIVER_SHORTLIST_GATE`` candidates (the
    common case: candidates are a retrieval SHORTLIST by contract) is
    collected ONCE and the identical greedy trajectory replays in
    Python — same left-fold dot / norm order, same HALF_UP rounding
    via the shortest-repr decimal (the bradley_terry driver-replay
    discipline) — removing the k per-round TakeOrdered jobs whose
    fixed cost dominates a thousands-row shortlist. Larger inputs run
    the distributed rounds. The twins are hash-identical
    (tests/test_gates.py, and the contract's mmr_select with the gate
    forced).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    spark = candidates.sparkSession
    cand = candidates.select(
        F.col(id_col).alias("id"),
        F.col(rel_col).cast("double").alias("rel"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("vn"),
    ).localCheckpoint(eager=True)
    # id keeps the CALLER's type (string doc ids are typical in
    # retrieval shortlists) — derived from the input schema, never
    # assumed long; the output column keeps the caller's name too.
    id_type = dict(cand.dtypes)["id"]
    if cand.count() <= DRIVER_SHORTLIST_GATE:
        picked = _mmr_greedy_driver(cand.collect(), k, lam)
        return spark.createDataFrame(
            picked,
            f"rank int, `{id_col}` {id_type}, rel double, mmr_score double",
        )

    first = (
        cand.orderBy(F.desc("rel"), F.asc("id"))
        .limit(1)
        .select(
            "id",
            "rel",
            # HALF_UP like every other score in the trajectory — a
            # Python round() here would be banker's rounding
            F.round(F.lit(lam) * F.col("rel"), 6).alias("ms"),
            "v",
            "vn",
        )
        .collect()[0]
    )
    picked = [(1, first["id"], first["rel"], first["ms"])]
    sel_ids = [first["id"]]
    # the <= k selected vectors live as PLAN LITERALS (array<double>
    # columns — dot() casts every element to double anyway, so the
    # literal path is value-identical to the old broadcast-join path):
    # each round is ONE projection over the checkpointed shortlist +
    # one TakeOrdered, with no join, no groupBy shuffle, and no
    # per-round createDataFrame
    sel_vecs = [([float(x) for x in first["v"]], float(first["vn"]))]
    for _ in range(1, k):
        cos_exprs = [
            F.round(
                dot(F.col("v"), F.lit(sv)) / (F.col("vn") * F.lit(svn)), 6
            )
            for sv, svn in sel_vecs
        ]
        max_sim = (
            cos_exprs[0] if len(cos_exprs) == 1 else F.greatest(*cos_exprs)
        )
        scored = cand.filter(~F.col("id").isin(sel_ids)).select(
            "id",
            "rel",
            "v",
            "vn",
            F.round(
                F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * max_sim,
                6,
            ).alias("mmr_score"),
        )
        best = (
            scored.orderBy(F.desc("mmr_score"), F.asc("id")).limit(1).collect()
        )
        if not best:
            break
        b = best[0]
        picked.append((len(picked) + 1, b["id"], b["rel"], b["mmr_score"]))
        sel_ids.append(b["id"])
        sel_vecs.append(([float(x) for x in b["v"]], float(b["vn"])))
    return spark.createDataFrame(
        [(r, i, rel, ms) for r, i, rel, ms in picked],
        f"rank int, `{id_col}` {id_type}, rel double, mmr_score double",
    )
