"""Markov chain estimation over event/state sequences.

The econ-domain classic is the credit-rating migration matrix (count
state transitions per entity, row-normalize); the corpus-curation
reading is user-journey / document-pipeline stage flow. Both reduce
to the same two relational shapes:

- transitions: one per-entity lag window (PARTITIONED, never global)
  + one hash aggregate -> a states²-bounded relation;
- stationary distribution: unrolled power iterations of pi' = pi·P on
  the states-sized relation (the pagerank discipline: each round is
  one join + one aggregate on tiny relations, localCheckpoint every
  other round so the plan tree stays linear — the pacf lesson).

Engine parity: transition probabilities are exact integer ratios
quantized to decimal(18,9); each iteration's mass terms quantize to
decimal(28,12) before the order-free sum and the new pi re-quantizes
to decimal(18,9), so an oracle replays every round bit-for-bit.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# markov_stationary's size gate: at or below this many states the
# power iteration runs on the driver, above it as distributed rounds.
# The two paths are hash-identical. Tests monkeypatch it to force a side.
DRIVER_STATES_GATE = 256


def markov_transitions(
    df: DataFrame,
    entity_col: str,
    state_col: str,
    order_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-entity consecutive state pairs -> one row per observed
    transition (from_state, to_state, n, p), with p the row-normalized
    transition probability.

    ``tiebreak_col`` makes intra-timestamp order deterministic when
    the order column can tie (pass the event id).
    """
    order = [F.col(order_col).asc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(entity_col).orderBy(*order)
    pairs = (
        df.select(
            F.lag(F.col(state_col)).over(w).alias("from_state"),
            F.col(state_col).alias("to_state"),
        )
        .filter(F.col("from_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    row_tot = pairs.groupBy("from_state").agg(
        F.sum("n").cast("long").alias("tot")
    )
    return pairs.join(row_tot, "from_state").select(
        "from_state",
        "to_state",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("tot").cast("double"), 6
        ).alias("p"),
    )


def markov_stationary(
    transitions: DataFrame,
    rounds: int = 12,
) -> DataFrame:
    """Stationary distribution of a transition relation
    (from_state, to_state, n) -> one row per state (state, pi).

    Power iteration from the uniform vector: pi_{k+1}(j) =
    Σ_i pi_k(i)·P(i,j), with P the exact-ratio row-normalized counts
    quantized to decimal(18,9). States with no outgoing transitions
    keep their mass in place (self-loop completion — the standard
    absorbing-state fix, keeping total mass at 1 so the iteration is
    stochastic).

    Each distributed round is one states²-bounded join + one
    states-sized aggregate; ``rounds`` bounds the loop (the
    bpe_train/pagerank driver-loop discipline). For SMALL chains the
    per-round scheduling overhead dominates (measured ~3 s for 12
    rounds on a 5-state chain at sf0.1 — all fixed cost), so a chain
    of at most ``DRIVER_STATES_GATE`` states runs a driver loop (the
    bradley_terry discipline): the k²-bounded P collects once and
    Python replays the engine's EXACT quantization chain (double
    product -> decimal(28,12) HALF_UP of the shortest double repr ->
    exact sum -> correctly-rounded double -> decimal(18,9) HALF_UP).
    The twins are hash-identical (tests/test_gates.py, and the
    contract's markov_stationary with the gate forced). Measured
    2.97 s -> ~0.4 s.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    spark = transitions.sparkSession
    row_tot = transitions.groupBy("from_state").agg(
        F.sum("n").cast("long").alias("tot")
    )
    p_rel = (
        transitions.join(row_tot, "from_state")
        .select(
            F.col("from_state").alias("i"),
            F.col("to_state").alias("j"),
            (F.col("n").cast("double") / F.col("tot").cast("double"))
            .cast("decimal(18,9)")
            .alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    states = (
        transitions.select(F.col("from_state").alias("s"))
        .unionByName(transitions.select(F.col("to_state").alias("s")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    k = states.count()
    if k == 0:
        # an empty Arrow table plans as a local relation, not an RDD scan
        return spark.createDataFrame(
            pa.schema([("state", pa.string()), ("pi", pa.double())]).empty_table()
        )
    # absorbing states (no outgoing row) self-loop with p = 1
    sinks = (
        states.join(
            p_rel.select(F.col("i").alias("s")).distinct(), "s", "left_anti"
        )
        .select(
            F.col("s").alias("i"),
            F.col("s").alias("j"),
            F.lit(1.0).cast("decimal(18,9)").alias("p"),
        )
    )
    p_full = p_rel.unionByName(sinks).localCheckpoint(eager=True)
    if k <= DRIVER_STATES_GATE:
        from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

        q12 = Decimal("0.000000000001")
        q9 = Decimal("0.000000001")

        def d28_12(x: float) -> Decimal:
            return Decimal(repr(x)).quantize(q12, rounding=ROUND_HALF_UP)

        def d18_9(x: float) -> Decimal:
            return Decimal(repr(x)).quantize(q9, rounding=ROUND_HALF_UP)

        edges = [
            (r["i"], r["j"], float(r["p"])) for r in p_full.collect()
        ]
        state_rows = [r["s"] for r in states.collect()]
        pi_by = {s: d18_9(1.0 / float(k)) for s in state_rows}
        for _ in range(rounds):
            acc: dict = {}
            for i, j, p in edges:
                cur = pi_by.get(i)
                if cur is None:
                    continue
                acc[j] = acc.get(j, Decimal(0)) + d28_12(float(cur) * p)
            pi_by = {j: d18_9(float(m)) for j, m in acc.items()}
        q6 = Decimal("0.000001")
        out = [
            (
                s,
                float(
                    Decimal(repr(float(pi_by[s]))).quantize(
                        q6, rounding=ROUND_HALF_UP
                    )
                )
                if s in pi_by
                else 0.0,
            )
            for s in state_rows
        ]
        return spark.createDataFrame(out, "state string, pi double")
    pi = states.select(
        "s",
        (F.lit(1.0) / F.lit(float(k))).cast("decimal(18,9)").alias("pi"),
    )
    for r in range(rounds):
        pi = (
            p_full.join(F.broadcast(pi), p_full.i == pi.s)
            .select(
                F.col("j").alias("s"),
                (F.col("pi").cast("double") * F.col("p").cast("double"))
                .cast("decimal(28,12)")
                .alias("m"),
            )
            .groupBy("s")
            .agg(
                F.sum("m").cast("double").cast("decimal(18,9)").alias("pi")
            )
        )
        if r % 2 == 1:
            pi = pi.localCheckpoint(eager=True)
    # states that never received mass surface as exact zeros rather
    # than silently vanishing from the output
    return (
        states.join(F.broadcast(pi), "s", "left")
        .select(
            F.col("s").alias("state"),
            F.round(
                F.coalesce(F.col("pi").cast("double"), F.lit(0.0)), 6
            ).alias("pi"),
        )
    )
