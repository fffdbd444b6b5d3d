"""Top principal component by matrix-free power iteration.

The embedding-quality workhorse ("is there one dominant direction?
how anisotropic is this space?") without ever materializing the d x d
covariance: each power-iteration step needs only

    s = X_c^T (X_c v)     (X_c = mean-centered data)

— per row ONE dot product against the broadcast-literal v, then d
quantized column sums. That is a single hash aggregate per round over
the pinned input; v itself stays on the driver (d doubles), so the
loop is the mmr_select/bpe_train pattern: driver-bounded by the
literal round count, per-round work fully distributed, nothing driver
-side ever grows with rows.

Determinism (the replay contract): per-row terms are
decimal(28,12)-quantized before every sum; the driver's normalization
uses LEFT-ASSOCIATIVE float accumulation and floor(x*1e9 + 0.5)/1e9
half-up quantization — exactly the expression tree the SQL oracle
generates — so every round's v is byte-identical on both engines.
Power iteration's sign/limit depends only on the deterministic init
(uniform 1/sqrt(d)), and the output is DEFINED as the state after
``rounds`` steps, not as a converged limit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..sources.tables import fan_out as _fan_out_capped


# pca_power's size gate: above this many vectors the moment and
# per-round sums use the wide d-column aggregate, at or below it the
# narrow posexplode form.
WIDE_GATE_ROWS = 100_000


def _q9(x: float) -> float:
    return math.floor(x * 1e9 + 0.5) / 1e9


def pca_power(
    df: DataFrame,
    vec_col: str = "embedding",
    dims: int = 64,
    rounds: int = 8,
) -> DataFrame:
    """Top principal component -> one row per dimension:
    (dim, loading, eigenvalue, explained).

    ``eigenvalue`` is the Rayleigh estimate ||X_c^T X_c v|| / n after
    the final round; ``explained`` divides it by the total variance
    (sum of per-dimension variances).

    The per-round / moment aggregates have TWO plan shapes carrying
    the IDENTICAL decimal-quantized per-term values (order-free sums,
    so the totals — and therefore every output — are hash-identical;
    tests/test_gates.py, and the contract's pca_power with the gate
    forced): at or below ``WIDE_GATE_ROWS`` vectors the
    narrow (pos, term) posexplode form (one ~3-node aggregate;
    Catalyst codegen for the d-column form costs ~1-2.5 s/round,
    dominating small inputs), above it the WIDE d-column aggregate —
    at 2M x 64 the explode materializes 128M rows per round and the
    wide form is 4.2x faster per round (r8 probe: 41.3 -> 9.9 s/round,
    full 8-round fit 347 -> 73 s on local[32]). A double-arithmetic
    escape was probed and REJECTED: the cost is row generation, not
    BigDecimal (a double variant measured 347.5 s — identical).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if dims < 1:
        raise ValueError(f"dims must be >= 1, got {dims}")
    spark = df.sparkSession
    # a vector whose length differs from `dims` would null the
    # zip_with/aggregate folds below and silently drop out of every
    # iteration — malformed embeddings fail loudly instead (the
    # fixed_width raise_error convention)
    x = df.select(
        F.when(
            F.size(F.col(vec_col)) != dims,
            F.raise_error(
                F.concat(
                    F.lit(f"pca_power: expected {dims}-dim vector, got "),
                    F.size(F.col(vec_col)).cast("string"),
                )
            ),
        )
        .otherwise(F.col(vec_col))
        .alias("v")
    ).transform(
        # the power-iteration aggregate re-scans this relation every
        # round; a single-file source would serialize each round onto
        # one task (the glm.py lesson) — but 32 tasks on a KB..MB
        # working set is over-parallelism (driver scaling ratio 0.66:
        # 8 cores beat 32). Row-capped fan_out, decimal sums order-free.
        _fan_out_capped
    ).localCheckpoint(eager=True)
    n = x.count()
    use_wide = n > WIDE_GATE_ROWS
    # moment sums: narrow (pos, e) explode below the gate (one ~3-node
    # hash aggregate; the 2d-column wide form spent ~2.5 s in codegen
    # alone at d=64), WIDE d-column aggregate above it (the explode
    # generates n*d rows — the actual cost at corpus scale). Values
    # are the identical decimal-quantized per-element sums either way.
    if use_wide:
        xd = x.select(F.col("v").cast("array<double>").alias("vd"))
        maggs = []
        for k in range(dims):
            ek = F.col("vd")[k]
            maggs.append(
                F.sum(ek.cast("decimal(28,12)")).alias(f"s{k}")
            )
            maggs.append(
                F.sum((ek * ek).cast("decimal(38,12)")).alias(f"q{k}")
            )
        mrow = xd.agg(*maggs).first()
        mrows = [
            {"pos": k, "s": mrow[f"s{k}"], "q": mrow[f"q{k}"]}
            for k in range(dims)
        ]
    else:
        mrows = (
            x.select(F.posexplode(F.col("v").cast("array<double>")))
            .select(
                "pos",
                F.col("col").cast("decimal(28,12)").alias("e"),
                (F.col("col") * F.col("col"))
                .cast("decimal(38,12)")
                .alias("e2"),
            )
            .groupBy("pos")
            .agg(F.sum("e").alias("s"), F.sum("e2").alias("q"))
            .collect()
        )
    if n == 0 or not mrows:
        return spark.createDataFrame(
            [], "dim int, loading double, eigenvalue double, explained double"
        )
    s_by = {r["pos"]: r["s"] for r in mrows}
    q_by = {r["pos"]: r["q"] for r in mrows}
    mu = [float(s_by.get(k - 1) or 0) / n for k in range(1, dims + 1)]
    tv = 0.0
    for k in range(1, dims + 1):
        tv += float(q_by.get(k - 1) or 0) / n - mu[k - 1] * mu[k - 1]

    # centered vector ONCE per row as an array column; the per-round
    # dot product is an aggregate/zip_with FOLD over it — the fold is
    # the SAME left-associative chain ((0 + t1) + t2) + ... the oracle
    # writes out longhand, but as ~3 expression nodes instead of a
    # 64-term codegen chain per round (measured: the longhand form
    # spent ~2 s/round in Catalyst/codegen on a 2000-row input)
    xc = x.select(
        F.zip_with(
            F.col("v").cast("array<double>"),
            F.lit(mu),
            lambda a, b: a - b,
        ).alias("xc")
    ).localCheckpoint(eager=True)

    v = [_q9(1.0 / math.sqrt(dims))] * dims
    norm = 0.0
    for _ in range(rounds):
        w = F.aggregate(
            F.zip_with(F.col("xc"), F.lit(v), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        # one narrow (pos, term) explode + ONE hash aggregate instead
        # of d wide aggregate expressions: identical per-term values
        # and order-free decimal sums, but a ~3-node plan Catalyst
        # compiles once per round (the d-column agg form spent
        # ~1 s/round in codegen alone)
        if use_wide:
            staged = xc.select(w.alias("w"), "xc")
            row = staged.agg(
                *[
                    F.sum(
                        (F.col("w") * F.col("xc")[k]).cast(
                            "decimal(28,12)"
                        )
                    ).alias(f"s{k}")
                    for k in range(dims)
                ]
            ).first()
            by_pos = {k: row[f"s{k}"] for k in range(dims)}
        else:
            rows = (
                xc.select(w.alias("w"), F.posexplode(F.col("xc")))
                .select(
                    F.col("pos"),
                    (F.col("w") * F.col("col"))
                    .cast("decimal(28,12)")
                    .alias("t"),
                )
                .groupBy("pos")
                .agg(F.sum("t").alias("s"))
                .collect()
            )
            by_pos = {r["pos"]: r["s"] for r in rows}
        s = [float(by_pos.get(k - 1) or 0) for k in range(1, dims + 1)]
        acc = 0.0
        for sk in s:
            acc += sk * sk
        norm = math.sqrt(acc)
        if norm > 0:
            v = [_q9(sk / norm) for sk in s]
    lam = norm / n if n else 0.0
    explained = lam / tv if tv > 0 else 0.0
    lam_q = math.floor(lam * 1e6 + 0.5) / 1e6
    exp_q = math.floor(explained * 1e6 + 0.5) / 1e6
    return spark.createDataFrame(
        [(k, v[k - 1], lam_q, exp_q) for k in range(1, dims + 1)],
        "dim int, loading double, eigenvalue double, explained double",
    )
