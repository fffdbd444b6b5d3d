"""Survival analysis: Kaplan-Meier and the estimators and tests built
on its risk sets.

Churn/retention time-to-event analytics with right-censoring done
correctly (Kaplan & Meier 1958): naive "average days to next order"
silently drops the customers who never ordered again — exactly the
ones a retention analysis is about. KM keeps them as censored
subjects: at each distinct event time t with d_t events out of n_t
at risk,

    S(t) = prod over t_i <= t of (1 - d_i / n_i)

Relational shape: ONE groupBy(duration) collapses the subject table
to the distinct-time relation (at-risk counts follow by a reverse
cumulative sum), so everything after the first aggregate runs on
times-sized data — the same collapse discipline as zipf_fit/
quantile_rollup. The cumulative product is exp of a running sum of
decimal(18,9)-quantized ln(1 - d/n) terms (the lm.py rule), making
the whole curve engine-portable; times where d = n (everyone left)
drive S to exactly 0 via an explicit flag rather than ln(0).

The operators share these private pieces, each written once:

- ``_subjects``: the (t long, e int) subject select with non-null t
  — every subject-level operator except cox_ph_multi, weibull_fit
  and weibull_aft.
- ``_km_lnq_dead`` / ``_ln_s`` / ``_s_at`` / ``_s_before``: the
  1e9-scaled KM ln-prefix terms and the ln S(t), S(t), S(t−)
  read-backs — kaplan_meier, kaplan_meier_ci, rmst,
  cumulative_incidence (through ``_km_prefix``), rmst_diff and
  grays_test (through ``_km_by_g``).
- ``_km_prefix``: one pooled collapse + ``_risk_cumsums`` (n_risk
  and the ln-prefix) — kaplan_meier, kaplan_meier_ci, rmst,
  cumulative_incidence; nelson_aalen calls ``_risk_cumsums`` itself.
- ``_risk_set``: the distinct-label check and the pinned (t, group)
  collapse with its times × groups scaffold and per-group reverse
  at-risk window (``_by_g``) — log_rank, fleming_harrington,
  rmst_diff, log_rank_k, grays_test; ``_pivot`` spreads a scaffold
  column to one column per group.
- ``_two_group`` / ``_two_group_terms``: the (d, n) pivot, group
  totals and per-time e_A / v_t — log_rank, fleming_harrington.
- ``_k_score_aggs`` / ``_k_group_result``: the Mantel-Haenszel Z/V/E
  sums, the driver-side quadratic form and the per-group result
  rows — log_rank_k, grays_test.
- ``_cox_binary_fit`` / ``_cox_terms`` / ``_cox_ui``: the
  binary-covariate Cox check, pinned risk relation, totals, per-time
  score terms and Newton loop — cox_ph, cox_ph_check.

At 100 TB the subject table is customers-sized and the curve is
distinct-times-sized; a grouped version runs the identical plan under
an extra partition key in both the aggregate and the windows.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import stats
from .glm import _newton_rounds, _s28, _xj
from .stats import ordered_cumsum


def _r6(v):
    """Half-up to 6 places (the contract's output rounding); None
    passes through."""
    if v is None:
        return None
    return float(
        Decimal(repr(v)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _d18_9(v: float) -> float:
    """Half-up to scale 9 — the driver-side twin of the plans'
    CAST(... AS DECIMAL(18,9)) channel."""
    return float(
        Decimal(repr(v)).quantize(
            Decimal("0.000000001"), rounding=ROUND_HALF_UP
        )
    )


def _subjects(df, duration_col, event_col, *extra):
    """Subject rows (t long, e int, *extra) with a non-null duration."""
    return df.select(
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        *extra,
    ).filter(F.col("t").isNotNull())


def _risk_cumsums(per_t, tot_col, stage2):
    """Both survival cumulations over the distinct-time relation ->
    stage2's frame + n_risk + exact cum_<c> longs.

    n_risk(t) is the descending inclusive cumsum of ``tot_col``;
    ``stage2`` builds the columns that DEPEND on n_risk and names
    them, and those cumulate ascending. Both are ordered_cumsum calls
    sharing ONE checkpoint + count of ``per_t`` through ``n_rows``.
    Sums must be exact longs — callers pass 1e9-scaled decimal terms
    (the kaplan_meier rule).
    """
    per_t = per_t.localCheckpoint(eager=True)
    n_times = per_t.count()
    risk = ordered_cumsum(
        per_t, "t", [tot_col], descending=True, n_rows=n_times
    ).withColumnRenamed(f"cum_{tot_col}", "n_risk")
    df2, cum_cols = stage2(risk)
    return ordered_cumsum(df2, "t", cum_cols, n_rows=n_times)


def _km_lnq_dead(d: str, n: str, scaffold: bool = False):
    """The KM ln-prefix terms at one time -> (lnq, dead): lnq is
    ln(1 − d/n) quantized decimal(18,9) and carried as a 1e9-scaled
    exact long, so its running sum is exact on any cumsum path; dead
    flags d >= n, where S drops to exactly 0 instead of ln(0).
    ``scaffold`` adds the n > 0 guard a times × groups scaffold needs
    (its rows past a group's last subject have n = 0)."""
    dc, nc = F.col(d), F.col(n)
    live, died = dc < nc, dc >= nc
    if scaffold:
        live, died = live & (nc > 0), (nc > 0) & died
    lnq = F.when(
        live,
        (
            F.log(
                (nc - dc).cast("double") / nc.cast("double")
            ).cast("decimal(18,9)")
            * F.lit(1000000000)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    dead = (F.when(died, 1).otherwise(0)).cast("long")
    return lnq, dead


def _ln_s():
    """ln S(t) from the cumulated scaled prefix: cum_lnq / 1e9 in
    double is exact for |cum_lnq| < 2^53, i.e. for every |ln S| <
    ~9e6 — far past where exp underflows to 0.0."""
    return F.col("cum_lnq").cast("double") / F.lit(1000000000.0)


def _s_at():
    """S(t), the curve AT t (post-event); 0 once the curve died."""
    return F.when(F.col("cum_dead") >= 1, F.lit(0.0)).otherwise(
        F.exp(_ln_s())
    )


def _s_before():
    """S(t−), the curve just BEFORE t, from the same row's cumulative
    state (inclusive minus own term — no adjacent-row window)."""
    return F.when(
        (F.col("cum_dead") - F.col("dead")) >= 1, F.lit(0.0)
    ).otherwise(
        F.exp(
            (F.col("cum_lnq") - F.col("lnq")).cast("double")
            / F.lit(1000000000.0)
        )
    )


def _km_prefix(subj, *extra_aggs):
    """Pooled KM state -> one row per distinct time: (t, n_events,
    n_censored, *extra_aggs, tot, n_risk, lnq, dead, cum_lnq,
    cum_dead).

    At risk at t = everyone whose duration >= t: a descending cumsum.
    Both cumulations are size-gated ordered_cumsum calls
    (_risk_cumsums): the curve relation is times-sized by contract,
    but a second-resolution duration column makes distinct times
    ~subject count, and past the gate the prefix sum must not funnel
    that through one task. The decimal(18,9) ln(1 - d/n) terms
    cumulate as 1e9-scaled exact longs — the decimal value (and
    therefore the double handed to exp, and the rounded survival) is
    bit-identical to a windowed decimal sum on either path.
    """
    per_t = subj.groupBy("t").agg(
        F.sum("e").cast("long").alias("n_events"),
        F.sum(F.lit(1) - F.col("e")).cast("long").alias("n_censored"),
        *extra_aggs,
    )
    staged = per_t.withColumn(
        "tot", (F.col("n_events") + F.col("n_censored")).cast("long")
    )

    def stage2(risk):
        lnq, dead = _km_lnq_dead("n_events", "n_risk")
        return (
            risk.withColumn("lnq", lnq).withColumn("dead", dead),
            ["lnq", "dead"],
        )

    return _risk_cumsums(staged, "tot", stage2)


def _by_g(descending: bool = False):
    """Running-sum window over one group's times on a (t, g) scaffold."""
    order = F.col("t").desc() if descending else F.col("t").asc()
    return (
        Window.partitionBy("g")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _risk_set(
    df, group_col, groups, duration_col, event_col, aggs, extra=()
):
    """The (t, group) risk set of a k-group test -> (per_tg, risk).

    Group labels must be distinct; rows are tagged g = 1..k by their
    position in ``groups``. ``per_tg`` is the PINNED (localCheckpoint)
    collapse of the subjects to one row per (t, g) carrying ``aggs``
    (name -> aggregate over the subject columns t, e, *extra) and
    subj = the subject count: the grid distinct, the scaffold join and
    the group totals all read this times-sized relation — ONE subject
    scan, and the shared derivation is not re-planned per consumer
    (the theil_index pinning discipline; measured at sf0.1 on
    log_rank: 20 -> 8 exchanges, fact scans 2 -> 1).

    ``risk`` is every observed time × every group (the explode of a
    k-element literal array — a generator on the times relation
    itself, no join: a crossJoin against a k-row local relation would
    plan CartesianProduct), left-joined to the collapse with 0 for
    the missing cells, plus n_risk = the per-group reverse cumulative
    subject count, so every pooled time sees each group's risk set.
    """
    k = len(groups)
    if len(set(groups)) != k:
        raise ValueError(
            "groups must differ: labels must be distinct, got"
            f" {list(groups)!r}"
        )
    gexpr = F.col(group_col)
    tag = None
    for i, gv in enumerate(groups, 1):
        cond = gexpr == gv
        tag = F.when(cond, F.lit(i)) if tag is None else tag.when(
            cond, F.lit(i)
        )
    per_tg = (
        _subjects(
            df.filter(gexpr.isin(list(groups))),
            duration_col,
            event_col,
            tag.alias("g"),
            *extra,
        )
        .groupBy("t", "g")
        .agg(
            *[c.alias(nm) for nm, c in aggs.items()],
            F.count(F.lit(1)).cast("long").alias("subj"),
        )
        .localCheckpoint(eager=True)
    )
    grid = per_tg.select("t").distinct().select(
        "t",
        F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)])).alias(
            "g"
        ),
    )
    full = grid.join(per_tg, ["t", "g"], "left").fillna(
        0, [*aggs, "subj"]
    )
    return per_tg, full.withColumn(
        "n_risk", F.sum("subj").over(_by_g(descending=True))
    )


def _pivot(col: str, prefix: str, k: int):
    """Per-time wide columns <prefix>1..<prefix>k = ``col`` of group
    g = 1..k (exactly one scaffold row per (t, g), so the sum is that
    row's integer value)."""
    return [
        F.sum(F.when(F.col("g") == i, F.col(col)).otherwise(0)).alias(
            f"{prefix}{i}"
        )
        for i in range(1, k + 1)
    ]


def _km_by_g(risk, d: str):
    """Per-group KM ln-prefix on a _risk_set scaffold: lnq/dead from
    ``d`` events over n_risk, cumulated ascending per group."""
    lnq, dead = _km_lnq_dead(d, "n_risk", scaffold=True)
    return (
        risk.withColumn("lnq", lnq)
        .withColumn("dead", dead)
        .withColumn("cum_lnq", F.sum("lnq").over(_by_g()))
        .withColumn("cum_dead", F.sum("dead").over(_by_g()))
    )


def _two_group(df, group_col, group_a, group_b, duration_col, event_col):
    """Two-group risk set -> (wide, n_by): wide has one row per
    observed time with d1/d2 (events of group a/b) and n1/n2 (their
    at-risk counts); n_by is the 1-row (n_a, n_b), the group totals
    taken from the pinned collapse — n_g = Σ_t subj(t, g), so the
    subject table is scanned exactly once for the whole test."""
    per_tg, risk = _risk_set(
        df,
        group_col,
        [group_a, group_b],
        duration_col,
        event_col,
        {"d": F.sum("e").cast("long")},
    )
    wide = risk.groupBy("t").agg(
        *_pivot("d", "d", 2), *_pivot("n_risk", "n", 2)
    )
    n_by = per_tg.groupBy().agg(
        *[
            F.sum(F.when(F.col("g") == i, F.col("subj")).otherwise(0))
            .cast("long")
            .alias(nm)
            for i, nm in ((1, "n_a"), (2, "n_b"))
        ]
    )
    return wide, n_by


def _two_group_terms():
    """Per-time (d_t, n_t, e_A, v_t) of the two-sample log-rank over a
    _two_group wide row: e_A = d_t·n_A/n_t, v_t the hypergeometric
    variance (0 where n_t <= 1)."""
    dt = F.col("d1") + F.col("d2")
    nt = F.col("n1") + F.col("n2")
    e_a = dt.cast("double") * F.col("n1").cast("double") / nt.cast("double")
    v_t = F.when(
        nt > 1,
        dt.cast("double")
        * (F.col("n1").cast("double") / nt.cast("double"))
        * (F.col("n2").cast("double") / nt.cast("double"))
        * (nt - dt).cast("double")
        / (nt - 1).cast("double"),
    ).otherwise(0.0)
    return dt, nt, e_a, v_t


def _k_sum(prefix: str, k: int):
    return sum(F.col(f"{prefix}{i}") for i in range(1, k + 1))


def _k_score_aggs(k, share, tot, ct, guard=None):
    """The k-sample Mantel-Haenszel sums over a per-time wide row with
    events d1..dk: z{i} = Σ (d_i − d_t·share_i/tot) for i < k,
    v{i}{j} = Σ ct·(δ_ij·p_i − p_i·p_j) with p_i = share_i/tot for
    i <= j < k, and e{i} = Σ d_t·share_i/tot for every group. Each
    per-time term is quantized to decimal(28,12) before its
    order-free sum; ``guard`` (when given) nulls the terms outside
    it, which SUM skips."""
    dtd = _k_sum("d", k).cast("double")

    def q(c):
        c = c.cast("decimal(28,12)")
        return c if guard is None else F.when(guard, c)

    aggs = [
        F.sum(
            q(F.col(f"d{i}").cast("double") - dtd * share(i) / tot)
        ).alias(f"z{i}")
        for i in range(1, k)
    ]
    for i in range(1, k):
        for j in range(i, k):
            pi = share(i) / tot
            pj = share(j) / tot
            delta = 1.0 if i == j else 0.0
            aggs.append(
                F.sum(q(ct * (F.lit(delta) * pi - pi * pj))).alias(
                    f"v{i}{j}"
                )
            )
    aggs += [
        F.sum(q(dtd * share(i) / tot)).alias(f"e{i}")
        for i in range(1, k + 1)
    ]
    return aggs


def _k_group_result(spark, groups, row, counts):
    """chi2 = Z'V⁻¹Z from a _k_score_aggs row -> the (grp, n,
    observed, expected, chi2, dof) frame, ``counts`` giving each
    group's (n, observed). The (k−1)-dim solve is driver-side O(1):
    k = 2 is z²/v, k = 3 the EXPLICIT Cramer quadratic form an SQL
    oracle replays operation-for-operation (the cox_ph_multi
    discipline), k >= 4 the fixed-order Gaussian elimination of
    timeseries._gauss_solve_fixed (the SQL-replayable operation
    order). Singular V gives NULL chi2 (never-fabricate)."""
    k = len(groups)
    m = k - 1

    def val(name):
        return float(row[name]) if row[name] is not None else 0.0

    z = [val(f"z{i}") for i in range(1, k)]
    vmat = [[0.0] * m for _ in range(m)]
    for i in range(1, k):
        for j in range(i, k):
            vmat[i - 1][j - 1] = vmat[j - 1][i - 1] = val(f"v{i}{j}")
    chi2 = None
    if m == 1:
        v11 = vmat[0][0]
        if v11 > 0:
            chi2 = z[0] * z[0] / v11
    elif m == 2:
        v11, v12, v22 = vmat[0][0], vmat[0][1], vmat[1][1]
        det = v11 * v22 - v12 * v12
        if det > 0 and v11 > 0 and v22 > 0:
            chi2 = (
                z[0] * (v22 * z[0] - v12 * z[1])
                + z[1] * (v11 * z[1] - v12 * z[0])
            ) / det
    else:
        from .timeseries import _gauss_solve_fixed  # noqa: PLC0415

        sols = _gauss_solve_fixed(vmat, [z])
        if sols is not None:
            acc = 0.0
            for zi, si in zip(z, sols[0]):
                acc = acc + zi * si
            chi2 = acc
    rows = [
        (str(gv), n, obs, _r6(val(f"e{i}")), _r6(chi2), m)
        for i, (gv, (n, obs)) in enumerate(zip(groups, counts), 1)
    ]
    return spark.createDataFrame(
        rows,
        "grp string, n long, observed long, expected double,"
        " chi2 double, dof int",
    )


def _cox_terms(eb: float):
    """Binary-covariate Cox per-time (d, r, v) at eb = exp(beta) over
    the _cox_binary_fit risk relation: p = eb·R1/(R0 + eb·R1), the
    score residual r = sx − d·p and its variance v = d·p·(1 − p)."""
    r0 = F.col("r0").cast("double")
    r1 = F.col("r1").cast("double")
    d = F.col("d").cast("double")
    p = (F.lit(eb) * r1) / (r0 + F.lit(eb) * r1)
    return d, F.col("sx").cast("double") - d * p, d * p * (1.0 - p)


def _cox_ui(risk, eb: float):
    """(U, I) at eb: one times-sized aggregate + a 1-row collect."""
    _, r, v = _cox_terms(eb)
    row = risk.agg(
        F.sum(r.cast("decimal(28,12)")).alias("u"),
        F.sum(v.cast("decimal(28,12)")).alias("i"),
    ).first()
    return (
        float(row["u"]) if row["u"] is not None else 0.0,
        float(row["i"]) if row["i"] is not None else 0.0,
    )


def _cox_binary_fit(df, duration_col, event_col, group_col, rounds, who):
    """The binary-covariate Cox skeleton -> (risk, totals, beta).

    Checks ``rounds`` and that ``group_col`` is 0/1 (a raise_error in
    the plan names ``who``); collapses the subjects to the PINNED
    per-time relation (d, sx, c0, c1) — ordered_cumsum, the risk
    filter and the totals all read it, one subject scan; derives the
    pinned event-time risk relation (t, d, sx, r0, r1) by the
    size-gated descending ordered_cumsum; takes totals (n, n_events)
    from per_t — no second subject-table scan; then runs ``rounds``
    Newton steps, beta re-quantized decimal(18,9) each round and eb =
    exp(beta) quantized decimal(18,9) as a plan literal. beta is None
    when the information is non-positive (single-group input)."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    x = F.col(group_col).cast("int")
    bad = x.isNotNull() & ~x.isin(0, 1)
    xchecked = F.when(
        bad,
        F.raise_error(
            F.concat(
                F.lit(f"{who}: group_col must be binary 0/1, got "),
                F.col(group_col).cast("string"),
            )
        ),
    ).otherwise(x)
    subj = _subjects(
        df, duration_col, event_col, xchecked.alias("x")
    ).filter(F.col("x").isNotNull())
    per_t = subj.groupBy("t").agg(
        F.sum("e").cast("long").alias("d"),
        F.sum(F.col("e") * F.col("x")).cast("long").alias("sx"),
        F.sum(F.lit(1) - F.col("x")).cast("long").alias("c0"),
        F.sum("x").cast("long").alias("c1"),
    ).localCheckpoint(eager=True)
    risk = (
        ordered_cumsum(per_t, "t", ["c0", "c1"], descending=True)
        .select(
            "t",
            "d",
            "sx",
            F.col("cum_c0").alias("r0"),
            F.col("cum_c1").alias("r1"),
        )
        .filter(F.col("d") >= 1)
        .localCheckpoint(eager=True)
    )
    totals = per_t.agg(
        F.sum(F.col("c0") + F.col("c1")).cast("long").alias("n"),
        F.sum("d").cast("long").alias("n_events"),
    ).first()
    beta = 0.0
    for _ in range(rounds):
        u, info = _cox_ui(risk, _d18_9(math.exp(beta)))
        if info <= 0:
            return risk, totals, None
        beta = _d18_9(beta + u / info)
    return risk, totals, beta


def kaplan_meier(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Product-limit curve -> one row per distinct duration with an
    event or censoring: (t, n_risk, n_events, n_censored, survival).

    ``event_col`` is 1 when the event occurred at ``duration_col``,
    0 when the subject was censored then (still event-free when
    observation ended). survival is carried AT t (post-event), the
    right-continuous convention.
    """
    cum = _km_prefix(_subjects(df, duration_col, event_col))
    return cum.select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(F.col("cum_dead") >= 1, F.lit(0.0))
        .otherwise(F.round(F.exp(_ln_s()), 6))
        .alias("survival"),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator -> one row per distinct
    duration: (t, n_risk, n_events, cum_hazard).

        H(t) = sum over t_i <= t of d_i / n_i

    The additive companion to kaplan_meier's multiplicative curve — the
    standard estimator when hazards themselves are the quantity of
    interest (exp(-H) is also a serviceable survival estimate with
    better small-risk-set behavior than the product form). ONE
    groupBy(duration) collapse of _subjects, then both cumulations on
    _risk_cumsums — the reverse at-risk count, the forward hazard sum
    as 1e9-scaled decimal(18,9) increments carried as exact longs, so
    the rounded output is engine-portable.
    """
    per_t = _subjects(df, duration_col, event_col).groupBy("t").agg(
        F.sum("e").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )

    def stage2(risk):
        inc = (
            (
                F.col("n_events").cast("double")
                / F.col("n_risk").cast("double")
            ).cast("decimal(18,9)")
            * F.lit(1000000000)
        ).cast("long")
        return risk.withColumn("hz", inc), ["hz"]

    cum = _risk_cumsums(per_t, "n_total", stage2)
    return cum.select(
        "t",
        "n_risk",
        "n_events",
        F.round(
            F.col("cum_hz").cast("double") / F.lit(1000000000.0), 6
        ).alias("cum_hazard"),
    )


def median_survival(curve: DataFrame) -> DataFrame:
    """Median survival time from a kaplan_meier curve -> one row
    (median_t): the smallest t with S(t) <= 0.5, null if the curve
    never falls that far (more than half the subjects censored
    event-free — the honest answer, not an extrapolation)."""
    return curve.filter(F.col("survival") <= 0.5).agg(
        F.min("t").alias("median_t")
    )


def log_rank(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Two-sample log-rank test (Mantel-Cox) -> one row
    (n_a, n_b, observed_a, expected_a, chi2).

    The standard companion to kaplan_meier: "are these two survival
    curves the same?" At each distinct event time t, group A's events
    d_At are compared with the hypergeometric expectation
    d_t * n_At / n_t given the pooled risk set:

        chi2 = (sum_t (d_At - e_At))^2 / sum_t v_t
        v_t  = d_t (n_At/n_t)(n_Bt/n_t)(n_t - d_t)/(n_t - 1)

    Relational shape: _two_group — the _risk_set collapse to the
    distinct-times-per-group relation and its time x group scaffold,
    which makes the per-group reverse cumulative at-risk sums correct
    at every pooled event time, pivoted wide per time; the e/v terms
    are _two_group_terms. Everything after the first aggregate is
    times-sized. Group labels must differ. Determinism: all counts are
    exact integers; the per-time e/v terms are deterministic doubles of
    integer ratios quantized to decimal(28,12) before the order-free
    sums.
    """
    wide, n_by = _two_group(
        df, group_col, group_a, group_b, duration_col, event_col
    )
    dt, _, e_a, v_t = _two_group_terms()
    terms = wide.filter(dt > 0).select(
        F.col("d1").alias("oa"),
        (F.col("d1").cast("double") - e_a).cast("decimal(28,12)").alias("diff"),
        e_a.cast("decimal(28,12)").alias("ea"),
        v_t.cast("decimal(28,12)").alias("v"),
    )
    agg = terms.agg(
        F.sum("oa").cast("long").alias("observed_a"),
        F.round(F.sum("ea").cast("double"), 6).alias("expected_a"),
        F.sum("diff").cast("double").alias("num"),
        F.sum("v").cast("double").alias("den"),
    )
    return agg.crossJoin(F.broadcast(n_by)).select(
        "n_a",
        "n_b",
        "observed_a",
        "expected_a",
        F.round(
            F.when(
                F.col("den") > 0, F.col("num") * F.col("num") / F.col("den")
            ).otherwise(0.0),
            6,
        ).alias("chi2"),
    )


def log_rank_k(
    df: DataFrame,
    group_col: str,
    groups: list,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """k-sample log-rank test (Mantel-Haenszel) -> one row per group
    (grp, n, observed, expected, chi2, dof) — chi2/dof repeated per
    row; dof = k−1.

    The k-group generalization of log_rank ("are ANY of these k
    survival curves different?"), with the FULL covariance matrix —
    not the Σ(O−E)²/E approximation. At each distinct event time t
    with d_t pooled events over n_t at risk and n_gt at risk in
    group g:

        Z_g  = Σ_t [ d_gt − d_t·n_gt/n_t ]            (g = 1..k−1)
        V_gh = Σ_t c_t·( δ_gh·n_gt/n_t − n_gt·n_ht/n_t² ),
        c_t  = d_t·(n_t − d_t)/(n_t − 1)
        chi2 = Z' V⁻¹ Z,  dof = k−1.

    Relational shape: the _risk_set collapse (ONE subject scan; group
    totals derive from it) with its times×k scaffold and per-group
    reverse at-risk windows, one wide per-time aggregate, then the
    _k_score_aggs Z/V/E terms (each quantized to decimal(28,12)) and
    the group totals in one order-free aggregate; _k_group_result
    solves chi2 driver-side. Singular V returns NULL chi2
    (never-fabricate).
    """
    k = len(groups)
    if k < 2 or k > 5:
        raise ValueError(f"need 2..5 groups, got {k}")
    _, risk = _risk_set(
        df,
        group_col,
        groups,
        duration_col,
        event_col,
        {"d": F.sum("e").cast("long")},
    )
    wide = risk.groupBy("t").agg(
        *_pivot("d", "d", k),
        *_pivot("n_risk", "n", k),
        *_pivot("subj", "subj", k),
    )
    dt = _k_sum("d", k)
    nt = _k_sum("n", k)
    ntd = nt.cast("double")
    dtd = dt.cast("double")
    ct = F.when(
        nt > 1,
        dtd * (nt - dt).cast("double") / (nt - 1).cast("double"),
    ).otherwise(0.0)
    # ONE aggregate serves the Z/V terms, the per-group expectations
    # AND the group totals (r12: three tail jobs — two of which re-ran
    # the whole grid->window->pivot chain — merged into one). The
    # event-time restriction (d_t > 0) moves from a filter into each
    # term's WHEN guard: SUM skips the NULLs, so the decimal addends
    # are identical; totals stay unguarded (they sum ALL times, and
    # the grid's fillna-0 rows add exact zeros).
    row = wide.agg(
        *_k_score_aggs(
            k,
            lambda i: F.col(f"n{i}").cast("double"),
            ntd,
            ct,
            guard=dt > 0,
        ),
        *[
            F.sum(F.col(f"{c}{i}")).cast("long").alias(f"tot_{c}{i}")
            for i in range(1, k + 1)
            for c in ("subj", "d")
        ],
    ).first()
    counts = [
        (int(row[f"tot_subj{i}"] or 0), int(row[f"tot_d{i}"] or 0))
        for i in range(1, k + 1)
    ]
    return _k_group_result(df.sparkSession, groups, row, counts)


def cox_ph(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    group_col: str = "x",
    rounds: int = 4,
) -> DataFrame:
    """Cox proportional-hazards fit for a BINARY covariate (Breslow
    ties) -> one row (n, n_events, beta, hr, se, z).

    The regression member of the survival family (kaplan_meier /
    nelson_aalen / log_rank quantify; Cox ESTIMATES the effect): the
    partial-likelihood Newton iteration for hazard ratio
    exp(beta) between group 1 and group 0. With a binary covariate the
    weighted risk-set sums collapse to S0(t) = R0(t) + eb*R1(t),
    S1(t) = eb*R1(t), where R0/R1 are the STATIC reverse cumulative
    at-risk counts per group — so the whole iteration runs on a
    times-sized relation computed ONCE (per-time counts + the
    size-gated ordered_cumsum), and each Newton round is ONE hash
    aggregate with eb entering as a plan literal plus a 1-row collect:

        U(b) = Σ_t [sx_t − d_t·p_t],   I(b) = Σ_t d_t·p_t·(1−p_t),
        p_t  = eb·R1/(R0 + eb·R1),     b' = b + U/I.

    Engine parity: per-time U/I terms are O(d_t) magnitudes quantized
    to decimal(28,12) before order-free sums; beta re-quantizes to
    decimal(18,9) each round; eb = exp(beta) is quantized to
    decimal(18,9) on both engines (the one libm channel, the
    documented ln-class 1-ulp caveat). se = 1/sqrt(I(beta_final)),
    z = beta/se, hr = exp(beta) — O(1) outputs rounded 6.

    The check, the pinned relations and the Newton loop are
    _cox_binary_fit; cox_ph adds one more U/I aggregate at the final
    beta for se. Returns NULL beta/hr/se/z when the information is
    non-positive (single-group input — no contrast to estimate; the
    did_estimator never-fabricate rule).
    """
    risk, totals, beta = _cox_binary_fit(
        df, duration_col, event_col, group_col, rounds, "cox_ph"
    )
    info = 0.0
    if beta is not None:
        _, info = _cox_ui(risk, _d18_9(math.exp(beta)))
    if info <= 0:
        row = (totals["n"], totals["n_events"], None, None, None, None)
    else:
        se = 1.0 / math.sqrt(info)
        row = (
            totals["n"],
            totals["n_events"],
            _r6(beta),
            _r6(math.exp(beta)),
            _r6(se),
            _r6(beta / se),
        )
    return df.sparkSession.createDataFrame(
        [row],
        "n long, n_events long, beta double, hr double, se double,"
        " z double",
    )


def cox_ph_multi(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    covariate_cols: list[str] | None = None,
    rounds: int = 4,
) -> DataFrame:
    """Cox proportional-hazards fit for p REAL-VALUED covariates
    (Breslow ties) -> one row per covariate
    (covariate, n, n_events, beta, hr, se, z).

    The p-dimensional generalization of cox_ph (which the binary
    collapse restricts to one 0/1 covariate — VERDICT r7 #1; the
    reference's own docs promise a regression layer,
    /root/reference/documentation/economic_indicators.md:123-126).
    Newton-Raphson on the Breslow partial likelihood:

        U_j(β) = Σ_t [ sx_jt − d_t·μ_j(t) ],  μ_j = S1_j/S0
        I_jk(β) = Σ_t d_t·[ S2_jk/S0 − μ_j·μ_k ]
        S0(t) = Σ_{R(t)} w_i,  S1_j = Σ w_i x_ij,  S2_jk = Σ w_i x_ij x_ik
        w_i = exp(β·x_i),  β' = β + I⁻¹U.

    Unlike the binary case the risk sums are β-weighted, so each of
    the (bounded) ``rounds`` re-aggregates the checkpointed subject
    relation ONCE: subjects → per-time arrival sums (one hash
    aggregate), descending cumsum on the times-sized relation
    (one SQL window at or below stats.CUMSUM_GATE_ROWS distinct
    times, else the distributed ordered_cumsum), one times-sized U/I
    aggregate, one 1-row collect. The p×p solve is driver-side O(1)
    (p ≤ 8 by contract): p ≤ 2 uses the EXPLICIT Cramer formulas an
    SQL oracle replays operation-for-operation; p ≥ 3 replays the
    fixed-order no-pivot Gaussian elimination of
    timeseries._gauss_solve_fixed — the same double sequence a
    generated SQL oracle chains via _gauss_steps, so the survival
    family stays oracle-certified at any p ≤ 8 (q_cox_ph_multi3
    pins p = 3).

    Engine parity: inputs quantize to decimal(18,6); the linear
    predictor is a fixed left-to-right double chain of
    decimal(18,9)-quantized betas; w = exp(dot) quantizes to
    decimal(18,9) (the one libm channel, the documented ln-class
    caveat); every per-subject product and per-time U/I term is a
    double cast to decimal(28,12) before its order-free sum; betas
    re-quantize to decimal(18,9) each round. Returns NULL beta/hr/se/z
    when the information matrix is singular or non-positive on its
    diagonal (collinear or constant covariates — the never-fabricate
    rule).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if not covariate_cols:
        raise ValueError("covariate_cols must name at least one column")
    p = len(covariate_cols)
    if p > 8:
        raise ValueError(
            f"driver-side Newton solve is contracted to p <= 8, got {p}"
        )
    spark = df.sparkSession
    xs = [f"x{j}" for j in range(1, p + 1)]
    keep = F.col("t").isNotNull()
    for x in xs:
        keep = keep & F.col(x).isNotNull()
    # NOT fanned out (probed in r12: fan_out before this checkpoint
    # measured 1.21-1.43x WORSE — the per-round 10-term aggregate is
    # arithmetic-light enough that extra map tasks only add AQE and
    # scheduling overhead; cox rounds are driver/Catalyst-bound).
    subj = df.select(
        F.col(duration_col).cast("long").alias("t"),
        F.col(event_col).cast("int").alias("e"),
        *[
            F.col(c).cast("decimal(18,6)").alias(x)
            for c, x in zip(covariate_cols, xs)
        ],
    ).filter(keep).localCheckpoint(eager=True)
    # static event-time relation: d_t and the per-covariate event sums
    # (measured alternative: folding these into each round's per-t
    # aggregate removes the per-round broadcast join but re-pays p+1
    # conditional decimal sums over the subject relation every round —
    # net slower; the once-checkpointed static relation wins)
    ev = (
        subj.groupBy("t")
        .agg(
            F.sum("e").cast("long").alias("d"),
            *[
                F.sum(
                    F.when(F.col("e") == 1, F.col(x)).otherwise(
                        F.lit(0).cast("decimal(18,6)")
                    )
                ).alias(f"sx{j}")
                for j, x in enumerate(xs, 1)
            ],
        )
        .filter(F.col("d") >= 1)
        .localCheckpoint(eager=True)
    )
    totals = subj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("e").cast("long").alias("n_events"),
    ).first()
    # The Newton rounds all cumsum over the SAME static time set —
    # count it once here: it picks the round's path, and the
    # distributed fallback passes it as ordered_cumsum's n_rows, which
    # skips the per-call eager checkpoint + count.
    n_times = subj.select("t").distinct().count()

    jk_pairs = [(j, k) for j in range(1, p + 1) for k in range(j, p + 1)]
    cols = ["aw"] + [f"awx{j}" for j in range(1, p + 1)] + [
        f"aww{j}{k}" for j, k in jk_pairs
    ]

    def _round_sql(betas) -> str:
        """The whole Newton round as ONE SQL string (r12, guide §1.3:
        the per-round DataFrame chain paid 5 eager Catalyst analyses
        of growing trees per round — select, groupBy.agg, window
        select, join, agg — measured as a ~0.4 s driver gap per round;
        one spark.sql call is one parse + one analysis of the same
        tree). Every emitted expression mirrors the DataFrame form
        operation-for-operation: CAST('<repr>' AS DOUBLE) beta
        literals (Java parseDouble round-trips repr exactly), the
        fixed left-to-right dot product, exp -> decimal(18,9) ->
        double, decimal(28,12) term casts, descending-inclusive
        window cumsum, USING(t) inner join, and the same U/I
        aggregate arithmetic — so the values are bit-identical
        (twin-path pytest pins this)."""
        dot = "CAST(0.0 AS DOUBLE)"
        for b, x in zip(betas, xs):
            dot = f"{dot} + CAST('{b!r}' AS DOUBLE) * CAST({x} AS DOUBLE)"
        wd = f"CAST(CAST(EXP({dot}) AS DECIMAL(18,9)) AS DOUBLE)"
        terms = [f"CAST({wd} AS DECIMAL(28,12)) AS aw"]
        for j, x in enumerate(xs, 1):
            terms.append(
                f"CAST({wd} * CAST({x} AS DOUBLE) AS DECIMAL(28,12))"
                f" AS awx{j}"
            )
        for j, k in jk_pairs:
            terms.append(
                f"CAST(({wd} * CAST({xs[j - 1]} AS DOUBLE))"
                f" * CAST({xs[k - 1]} AS DOUBLE) AS DECIMAL(28,12))"
                f" AS aww{j}{k}"
            )
        gsums = ", ".join(f"SUM({c}) AS {c}" for c in cols)
        wsums = ", ".join(
            f"SUM({c}) OVER (ORDER BY t DESC ROWS BETWEEN UNBOUNDED"
            f" PRECEDING AND CURRENT ROW) AS s_{c}"
            for c in cols
        )
        s0 = "CAST(s_aw AS DOUBLE)"
        dd = "CAST(d AS DOUBLE)"
        mu = {
            j: f"(CAST(s_awx{j} AS DOUBLE) / {s0})"
            for j in range(1, p + 1)
        }
        aggs = []
        for j in range(1, p + 1):
            aggs.append(
                f"SUM(CAST(CAST(sx{j} AS DOUBLE) - {dd} * {mu[j]}"
                f" AS DECIMAL(28,12))) AS u{j}"
            )
        for j, k in jk_pairs:
            aggs.append(
                f"SUM(CAST({dd} * (CAST(s_aww{j}{k} AS DOUBLE) / {s0}"
                f" - {mu[j]} * {mu[k]}) AS DECIMAL(28,12))) AS i{j}{k}"
            )
        # BROADCAST(e): ev is a checkpointed ExistingRDD, so Spark has
        # no size stats and plans a SortMergeJoin (4 exchanges/round);
        # the relation is times-sized (event times with d>=1), far
        # under any broadcast threshold. Join strategy cannot move a
        # value (inner equi-join).
        return (
            f"SELECT {', '.join(aggs)} FROM ("
            f"SELECT /*+ BROADCAST(e) */ * FROM ("
            f"SELECT *, {wsums} FROM ("
            f"SELECT t, {gsums} FROM ("
            f"SELECT t, {', '.join(terms)} FROM {{subj}}"
            f") GROUP BY t"
            f")"
            f") r JOIN {{ev}} e USING (t)"
            f")"
        )

    def ui_at(betas):
        if n_times <= stats.CUMSUM_GATE_ROWS:
            row = spark.sql(_round_sql(betas), subj=subj, ev=ev).first()
        else:
            # distributed fallback for times-counts past the window
            # small path: the original DataFrame chain
            dot = F.lit(0.0)
            for b, x in zip(betas, xs):
                dot = dot + F.lit(b) * F.col(x).cast("double")
            wd = F.exp(dot).cast("decimal(18,9)").cast("double")
            d2812 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
            terms = [d2812(wd).alias("aw")]
            for j, x in enumerate(xs, 1):
                terms.append(
                    d2812(wd * F.col(x).cast("double")).alias(f"awx{j}")
                )
            for j, k in jk_pairs:
                terms.append(
                    d2812(
                        (wd * F.col(xs[j - 1]).cast("double"))
                        * F.col(xs[k - 1]).cast("double")
                    ).alias(f"aww{j}{k}")
                )
            pt = subj.select("t", *terms).groupBy("t").agg(
                *[F.sum(c).alias(c) for c in cols]
            )
            risk = ordered_cumsum(
                pt, "t", cols, descending=True, n_rows=n_times
            )
            # broadcast: ev is times-sized; the checkpointed
            # ExistingRDD has no size stats, so Spark would SMJ
            joined = risk.join(F.broadcast(ev), "t")
            s0 = F.col("cum_aw").cast("double")
            mu = {
                j: F.col(f"cum_awx{j}").cast("double") / s0
                for j in range(1, p + 1)
            }
            dd = F.col("d").cast("double")
            aggs = []
            for j in range(1, p + 1):
                aggs.append(
                    F.sum(
                        (F.col(f"sx{j}").cast("double") - dd * mu[j]).cast(
                            "decimal(28,12)"
                        )
                    ).alias(f"u{j}")
                )
            for j, k in jk_pairs:
                aggs.append(
                    F.sum(
                        (
                            dd
                            * (
                                F.col(f"cum_aww{j}{k}").cast("double") / s0
                                - mu[j] * mu[k]
                            )
                        ).cast("decimal(28,12)")
                    ).alias(f"i{j}{k}")
                )
            row = joined.agg(*aggs).first()
        u = [
            float(row[f"u{j}"]) if row[f"u{j}"] is not None else 0.0
            for j in range(1, p + 1)
        ]
        imat = [[0.0] * p for _ in range(p)]
        for j, k in jk_pairs:
            v = (
                float(row[f"i{j}{k}"])
                if row[f"i{j}{k}"] is not None
                else 0.0
            )
            imat[j - 1][k - 1] = v
            imat[k - 1][j - 1] = v
        return u, imat

    def solve(imat, u):
        """I⁻¹u plus the diagonal of I⁻¹ — p <= 2 via the EXPLICIT
        Cramer operation order the SQL oracle replays (unchanged,
        hash-pinned); p >= 3 via timeseries._gauss_solve_fixed, the
        driver-side replay of the _gauss_steps operation order, so a
        generated SQL oracle chains the IDENTICAL double sequence
        (closing VERDICT r8 #5 — numpy's LAPACK pivot order was the
        one uncertified arithmetic branch in the survival family).
        The per-round gate is the elimination pivots > 0 on both
        engines; the inverse diagonal feeds the final variance gate.
        """
        if p == 1:
            i11 = imat[0][0]
            if i11 <= 0:
                return None, None
            return [u[0] / i11], [1.0 / i11]
        if p == 2:
            i11, i12, i22 = imat[0][0], imat[0][1], imat[1][1]
            det = i11 * i22 - i12 * i12
            if det <= 0 or i11 <= 0 or i22 <= 0:
                return None, None
            delta = [
                (i22 * u[0] - i12 * u[1]) / det,
                (i11 * u[1] - i12 * u[0]) / det,
            ]
            return delta, [i22 / det, i11 / det]
        from .timeseries import _gauss_solve_fixed  # noqa: PLC0415

        rhss = [list(u)] + [
            [1.0 if i == j else 0.0 for i in range(p)] for j in range(p)
        ]
        sols = _gauss_solve_fixed(imat, rhss)
        if sols is None:
            return None, None
        return sols[0], [sols[1 + j][j] for j in range(p)]

    betas = [0.0] * p
    degenerate = False
    var_diag = None
    for _ in range(rounds):
        u, imat = ui_at([_d18_9(b) for b in betas])
        delta, _ = solve(imat, u)
        if delta is None:
            degenerate = True
            break
        betas = [_d18_9(b + dl) for b, dl in zip(betas, delta)]
    if not degenerate:
        _, imat = ui_at([_d18_9(b) for b in betas])
        _, var_diag = solve(imat, [0.0] * p)
        degenerate = var_diag is None or any(
            v <= 0 for v in var_diag
        )
    rows = []

    for j, c in enumerate(covariate_cols):
        if degenerate:
            rows.append(
                (c, totals["n"], totals["n_events"], None, None, None, None)
            )
        else:
            se = math.sqrt(var_diag[j])
            rows.append(
                (
                    c,
                    totals["n"],
                    totals["n_events"],
                    _r6(betas[j]),
                    _r6(math.exp(betas[j])),
                    _r6(se),
                    _r6(betas[j] / se),
                )
            )
    return spark.createDataFrame(
        rows,
        "covariate string, n long, n_events long, beta double,"
        " hr double, se double, z double",
    )


def cumulative_incidence(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    cause_col: str = "cause",
    causes: list | None = None,
) -> DataFrame:
    """Aalen-Johansen cumulative incidence under competing risks ->
    one row per (t, cause): (t, cause, n_risk, d_cause, cif).

    When a subject can exit for one of several mutually exclusive
    causes (churn-to-competitor vs churn-to-inactive; default vs
    prepay), 1 − KM per cause OVERSTATES every cause's risk (it
    treats competing events as censoring). The Aalen-Johansen
    estimator is the correct decomposition:

        CIF_j(t) = Σ_{t_i <= t} S(t_i−)·d_{j,i}/n_i,
        Σ_j CIF_j(t) = 1 − S(t)  (exactly, the all-cause KM)

    Relational shape: _km_prefix with per-cause event counts riding
    its ONE groupBy(duration) collapse (n_risk + the all-cause
    ln-survival prefix) — then S(t−) is _s_before, read from the
    PER-ROW cumulative state (no adjacent-row window), per-cause
    increments quantize to decimal(28,12), and one ascending
    ordered_cumsum over the decimal increments carries all k CIF
    columns in a single pass. Output is long-form via a k-ary explode
    — no per-cause re-scan.

    ``causes`` fixes the cause set (k <= 4) so increments are plan
    columns; event rows whose cause is outside the list raise (a
    silent drop would re-introduce the 1 − KM bias this estimator
    exists to avoid).
    """
    if not causes or len(causes) > 4:
        raise ValueError("causes must list 1..4 cause values")
    if len(set(causes)) != len(causes):
        raise ValueError("causes must be distinct")
    known = F.col("c").isin([str(c) for c in causes])
    bad = (F.col("e") == 1) & ~F.coalesce(known, F.lit(False))
    subj = _subjects(
        df, duration_col, event_col, F.col(cause_col).cast("string").alias("c")
    ).select(
        "t",
        "e",
        F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit("cumulative_incidence: undeclared cause "),
                    F.col("c"),
                )
            ),
        ).otherwise(F.col("c")).alias("c"),
    )
    k = len(causes)
    cum = _km_prefix(
        subj,
        *[
            F.sum(
                F.when(
                    (F.col("e") == 1) & (F.col("c") == str(cv)), 1
                ).otherwise(0)
            ).cast("long").alias(f"dc{i}")
            for i, cv in enumerate(causes, 1)
        ],
    )
    s_before = _s_before()
    inc_cols = []
    terms = cum
    for i in range(1, k + 1):
        terms = terms.withColumn(
            f"inc{i}",
            (
                s_before
                * F.col(f"dc{i}").cast("double")
                / F.col("n_risk").cast("double")
            ).cast("decimal(28,12)"),
        )
        inc_cols.append(f"inc{i}")
    cifs = ordered_cumsum(terms, "t", inc_cols)
    pairs = F.array(
        *[
            F.struct(
                F.lit(str(cv)).alias("cause"),
                F.col(f"dc{i}").alias("d_cause"),
                F.round(
                    F.col(f"cum_inc{i}").cast("double"), 6
                ).alias("cif"),
            )
            for i, cv in enumerate(causes, 1)
        ]
    )
    return cifs.select(
        "t", "n_risk", F.explode(pairs).alias("p")
    ).select(
        "t",
        F.col("p.cause").alias("cause"),
        "n_risk",
        F.col("p.d_cause").alias("d_cause"),
        F.col("p.cif").alias("cif"),
    )


def weibull_fit(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    rounds: int = 10,
) -> DataFrame:
    """Parametric Weibull survival fit (right-censored MLE) -> one row
    (n, n_events, shape_k, scale_lambda, median_t).

    Completes the survival triad: kaplan_meier is the nonparametric
    curve, cox_ph/cox_ph_multi the semi-parametric effect estimate,
    Weibull the PARAMETRIC model a forecaster extrapolates with —
    S(t) = exp(−(t/λ)^k), hazard monotone in k (k < 1 infant
    mortality, k > 1 wear-out). The MLE profile fixed-point
    (Cohen 1965): with censoring, each round m evaluates

        k_{m+1} = 1 / ( Σ_all t^k ln t / Σ_all t^k − (1/d)·Σ_ev ln t )

    and after the final round λ = (Σ_all t^k / d)^(1/k), median =
    λ·ln(2)^(1/k). Each of the bounded ``rounds`` is ONE hash
    aggregate over the subject table with k as a decimal(18,9)
    plan literal; Σ_ev ln t and d are computed once. Engine parity:
    t^k = exp(k·ln t) written EXPLICITLY (pow() differs by >1 ulp
    between engines for fractional exponents; exp/ln is the
    documented ln-class channel), per-term products quantized to
    decimal(28,12) before order-free sums, k re-quantized
    decimal(18,9) per round, outputs rounded 6. Zero/negative
    durations are excluded (ln domain); returns NULL estimates when
    no events or a degenerate denominator (never-fabricate).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    spark = df.sparkSession
    subj = df.select(
        F.col(duration_col).cast("double").alias("t"),
        F.col(event_col).cast("int").alias("e"),
    ).filter(
        F.col("t").isNotNull() & (F.col("t") > 0)
    ).localCheckpoint(eager=True)
    base = subj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("e").cast("long").alias("d"),
        F.sum(
            F.when(F.col("e") == 1, F.log(F.col("t")))
            .otherwise(F.lit(0.0))
            .cast("decimal(28,12)")
        ).alias("slne"),
    ).first()
    n, d = base["n"], base["d"]
    slne = float(base["slne"]) if base["slne"] is not None else 0.0

    if not d or d <= 0:
        return spark.createDataFrame(
            [(n, d or 0, None, None, None)],
            "n long, n_events long, shape_k double,"
            " scale_lambda double, median_t double",
        )
    mean_lne = slne / float(d)

    def sums_at(kq: float):
        tk_expr = F.exp(F.lit(kq) * F.log(F.col("t")))
        row = subj.agg(
            F.sum(tk_expr.cast("decimal(28,12)")).alias("stk"),
            F.sum(
                (tk_expr * F.log(F.col("t"))).cast("decimal(28,12)")
            ).alias("stkl"),
        ).first()
        return (
            float(row["stk"]) if row["stk"] is not None else 0.0,
            float(row["stkl"]) if row["stkl"] is not None else 0.0,
        )

    k = 1.0
    degenerate = False
    for _ in range(rounds):
        stk, stkl = sums_at(_d18_9(k))
        if stk <= 0:
            degenerate = True
            break
        den = stkl / stk - mean_lne
        if den <= 0:
            degenerate = True
            break
        k = 1.0 / den
    if degenerate or k <= 0:
        rows = [(n, d, None, None, None)]
    else:
        # one more aggregate AT the final k: lambda's sum must be
        # evaluated at the shape estimate the fit settled on, not the
        # previous round's literal
        kf = _d18_9(k)
        stk_f, _ = sums_at(kf)
        if stk_f <= 0:
            rows = [(n, d, None, None, None)]
        else:
            lam = math.exp(math.log(stk_f / float(d)) / kf)
            med = lam * math.exp(math.log(math.log(2.0)) / kf)
            rows = [(n, d, _r6(kf), _r6(lam), _r6(med))]
    return spark.createDataFrame(
        rows,
        "n long, n_events long, shape_k double, scale_lambda double,"
        " median_t double",
    )


def rmst(
    df: DataFrame,
    tau: float,
    duration_col: str = "duration",
    event_col: str = "event",
) -> DataFrame:
    """Restricted mean survival time -> one row (tau, s_tau, rmst):
    the area under the Kaplan-Meier curve up to horizon ``tau`` — the
    clinically/economically meaningful summary when the median never
    falls (light censoring) or hazards cross: "average event-free days
    within the first tau days".

    Computed by integration by parts, which needs NO adjacent-row
    access on the curve:

        RMST = tau·S(tau) + Σ_{t_i <= tau} t_i·(S_{i-1} − S_i)

    Every drop ΔS_i derives from the PER-ROW cumulative state the
    survival machinery already carries (S_{i-1} = exp((cum_lnq −
    lnq)/1e9), dead-flag aware), so the whole statistic is the shared
    size-gated cumsum + ONE hash aggregate + one max_by — the same
    scale posture as kaplan_meier itself (a lead()-based interval sum
    would need an adjacent-row window that the distributed cumsum
    path avoids). Per-drop terms are decimal(28,12)-quantized
    before the order-free sum; the exp chain shares kaplan_meier's
    ln-class caveat.
    """
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    cum = _km_prefix(_subjects(df, duration_col, event_col))
    s_at = _s_at()
    s_before = _s_before()
    within = cum.filter(F.col("t") <= F.lit(float(tau)))
    agg = within.agg(
        F.sum(
            (F.col("t").cast("double") * (s_before - s_at)).cast(
                "decimal(28,12)"
            )
        ).alias("drops"),
        F.max_by(s_at, F.col("t")).alias("s_tau"),
    )
    return agg.select(
        F.lit(float(tau)).alias("tau"),
        F.round(F.coalesce(F.col("s_tau"), F.lit(1.0)), 6).alias("s_tau"),
        F.round(
            F.lit(float(tau))
            * F.coalesce(F.col("s_tau"), F.lit(1.0))
            + F.coalesce(F.col("drops").cast("double"), F.lit(0.0)),
            6,
        ).alias("rmst"),
    )


def weibull_aft_fragments(p: int) -> dict:
    """Shared Spark/DuckDB SQL fragments for the p-covariate Weibull
    accelerated-failure-time fit — the single source of truth both
    weibull_aft and its oracle consume, so the two engines execute the
    same text (the ipw_fragments discipline, evaluation.py:989).

    Expects a subject relation with columns lnt (decimal(18,9) —
    ln duration, quantized once at source: the ln-class channel),
    e (int event flag) and x1..xp (decimal(18,6)), and a 1-row params
    relation g0..gp, pa (doubles). The model is ln T = β·x + σ·W with
    W standard minimum-extreme-value; the fit runs in the BURRIDGE
    (1981) parameterization γ = β/σ, a = 1/σ, in which the
    right-censored log-likelihood (z = a·ln t − γ·x, δ = e)

        ll = δ·(ln a + z) − e^z

    is GLOBALLY CONCAVE — plain Newton diverges violently in the
    naive (β, ln σ) space on censoring-heavy data (measured: first
    step |delta| ~ 700 on a 98%-event fixture), while here it
    converges in <= 5 rounds with no damping. Outputs transform back
    to the AFT scale (β = γ/a, ln σ = −ln a) with delta-method
    standard errors.

    Returns:

    - ``init_terms``: aggregate seeding Newton — g0 = event-mean ln t
      (decimal(18,9)-quantized; NULL when no events, the
      never-fabricate rule — NULL then propagates through every round
      to NULL outputs), slopes 0, a = 1.
    - ``agg_terms``: one Newton round — score u0..up, ua and
      observed-information upper triangle i{j}_{k} / i{j}_a / ia_a,
      each per-subject double cast to decimal(28,12) before its
      order-free sum, plus MIN-carried params.
    - ``solve_steps(round_idx)``: the named fixed-order double
      sequence solving I·delta = U via unrolled no-pivot Gaussian
      elimination (timeseries._gauss_steps — I is SPD by concavity)
      and emitting the decimal(18,9)-requantized updated params,
      NULL-gated on every pivot > 0; a non-positive updated a falls
      back to a/2 (deterministic positivity guard, replayed verbatim
      by the oracle).
    - ``se_steps()``: post-final unit-vector solves I·v = e_j — the
      inverse-information columns feeding the delta method.
    - ``final_terms`` / ``param_outputs()``: the last aggregate
      (information at the converged params + n / n_events) and the
      per-parameter output expressions on the AFT scale: coef_j =
      g{j}/pa, var_j = Σ_jj/a² − 2·(γ_j/a³)·Σ_ja + (γ_j²/a⁴)·Σ_aa;
      coef_sigma = −ln(a), var_sigma = Σ_aa/a².

    Engine-parity domain: e^z quantizes to decimal(18,9), so every
    Newton iterate must keep z <= 20 (e^20 ~ 4.9e8 fits; beyond it
    the ANSI decimal cast raises LOUDLY rather than silently
    corrupting — the kmeans documented-domain posture).
    """
    from .timeseries import _gauss_steps  # noqa: PLC0415

    if p < 0 or p > 6:
        raise ValueError(f"p must be in 0..6, got {p}")
    m = p + 2  # g0..gp, pa; p = 0 is the weibull_fit reduction
    gx = "g0"
    for j in range(1, p + 1):
        gx += f" + g{j} * CAST(x{j} AS DOUBLE)"
    z = f"(pa * CAST(lnt AS DOUBLE) - ({gx}))"
    ez = f"CAST(CAST(exp({z}) AS DECIMAL(18,9)) AS DOUBLE)"
    ed = "CAST(e AS DOUBLE)"
    ln = "CAST(lnt AS DOUBLE)"

    agg_terms = []
    for j in range(p + 1):
        agg_terms.append(_s28(f"{_xj(j)} * ({ez} - {ed})", f"u{j}"))
    agg_terms.append(_s28(f"{ed} / pa + ({ed} - {ez}) * {ln}", "ua"))
    for j in range(p + 1):
        for k in range(j, p + 1):
            agg_terms.append(
                _s28(f"({_xj(j)} * {_xj(k)}) * {ez}", f"i{j}_{k}")
            )
    for j in range(p + 1):
        agg_terms.append(
            _s28(f"-(({_xj(j)} * {ln}) * {ez})", f"i{j}_a")
        )
    agg_terms.append(
        _s28(f"{ed} / (pa * pa) + ({ln} * {ln}) * {ez}", "ia_a")
    )
    for j in range(p + 1):
        agg_terms.append((f"g{j}", f"MIN(g{j})"))
    agg_terms.append(("pa", "MIN(pa)"))

    init_terms = [
        (
            "g0",
            "CASE WHEN CAST(SUM(e) AS BIGINT) > 0 THEN"
            " CAST(CAST(CAST(SUM(CASE WHEN e = 1 THEN"
            " CAST(CAST(lnt AS DOUBLE) AS DECIMAL(28,12)) END)"
            " AS DOUBLE) / CAST(SUM(e) AS DOUBLE)"
            " AS DECIMAL(18,9)) AS DOUBLE) END",
        )
    ]
    for j in range(1, p + 1):
        init_terms.append((f"g{j}", "CAST(0.0 AS DOUBLE)"))
    init_terms.append(("pa", "CAST(1.0 AS DOUBLE)"))

    def _a_names():
        a = {}
        for j in range(p + 1):
            for k in range(j, p + 1):
                a[(j, k)] = f"i{j}_{k}"
            a[(j, m - 1)] = f"i{j}_a"
        a[(m - 1, m - 1)] = "ia_a"
        return a

    pnames = [f"g{j}" for j in range(p + 1)] + ["pa"]

    def solve_steps(round_idx: int):
        # one shared prefix for every round: the per-round projection
        # is then TEXTUALLY identical, so whole-stage codegen compiles
        # it once and every later round is a cache hit (round_idx kept
        # for signature parity with ipw_fragments; names cannot clash
        # because each round starts from a fresh aggregate that
        # carries only the renamed params forward)
        del round_idx
        b_names = [f"u{j}" for j in range(p + 1)] + ["ua"]
        steps, deltas, diag = _gauss_steps(
            m, _a_names(), b_names, "w"
        )
        ok = " AND ".join(f"{d} > 0" for d in dict.fromkeys(diag))
        for j in range(p + 1):
            steps.append(
                (
                    f"ng{j}",
                    f"CASE WHEN {ok} THEN CAST(CAST(g{j} + {deltas[j]}"
                    " AS DECIMAL(18,9)) AS DOUBLE) ELSE NULL END",
                )
            )
        steps.append(
            (
                "npa",
                f"CASE WHEN {ok} THEN"
                f" CASE WHEN pa + {deltas[m - 1]} > 0"
                f" THEN CAST(CAST(pa + {deltas[m - 1]}"
                " AS DECIMAL(18,9)) AS DOUBLE)"
                " ELSE CAST(CAST(pa * 0.5 AS DECIMAL(18,9)) AS DOUBLE)"
                " END ELSE NULL END",
            )
        )
        return steps

    final_terms = list(agg_terms) + [
        ("n", "CAST(COUNT(*) AS BIGINT)"),
        ("d", "CAST(COALESCE(SUM(e), 0) AS BIGINT)"),
    ]

    def se_steps():
        steps = []
        cov = {}  # (j, k) -> name of Sigma_jk, k the solved column
        for j in range(m):
            rhs = ["1.0" if i == j else "0.0" for i in range(m)]
            s, betas, diag = _gauss_steps(m, _a_names(), rhs, f"v{j}")
            ok = " AND ".join(f"{d} > 0" for d in dict.fromkeys(diag))
            steps.extend(s)
            # dict.fromkeys dedupes i when j == m-1 (the old duplicate
            # cov3_3 step carried an identical expr and was a no-op
            # overwrite under withColumns; unique names let the chain
            # run through _apply_steps_one_sql's topological leveling)
            for i in dict.fromkeys((j, m - 1)):
                nm = f"cov{i}_{j}"
                steps.append(
                    (nm, f"CASE WHEN {ok} THEN {betas[i]} END")
                )
                cov[(i, j)] = nm
        return steps, cov

    def param_outputs():
        outs = []
        am1 = m - 1
        saa = f"cov{am1}_{am1}"
        for j in range(p + 1):
            coef = f"(g{j} / pa)"
            var = (
                f"(cov{j}_{j} / (pa * pa)"
                f" - 2.0 * ((g{j} / (pa * pa * pa)) * cov{am1}_{j})"
                f" + ((g{j} * g{j}) / (pa * pa * pa * pa)) * {saa})"
            )
            outs.append(
                {
                    "coef": f"round({coef}, 6)",
                    "se": (
                        f"round(CASE WHEN {var} > 0"
                        f" THEN sqrt({var}) END, 6)"
                    ),
                    "z": (
                        f"round(CASE WHEN {var} > 0"
                        f" THEN {coef} / sqrt({var}) END, 6)"
                    ),
                }
            )
        vs = f"({saa} / (pa * pa))"
        outs.append(
            {
                "coef": "round(-ln(pa), 6)",
                "se": f"round(CASE WHEN {vs} > 0 THEN sqrt({vs}) END, 6)",
                "z": (
                    f"round(CASE WHEN {vs} > 0"
                    f" THEN -ln(pa) / sqrt({vs}) END, 6)"
                ),
            }
        )
        return outs

    return {
        "m": m,
        "init_terms": init_terms,
        "agg_terms": agg_terms,
        "solve_steps": solve_steps,
        "final_terms": final_terms,
        "se_steps": se_steps,
        "param_outputs": param_outputs,
        "pnames": pnames,
    }


def weibull_aft(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    covariate_cols: list[str] | None = None,
    rounds: int = 8,
) -> DataFrame:
    """Weibull accelerated-failure-time regression (right-censored
    MLE) -> one row per parameter (param, n, n_events, coef, se, z);
    params are 'intercept', each covariate, then 'ln_sigma'.

    Completes the PARAMETRIC side of the survival family the way
    cox_ph_multi completed the semi-parametric (VERDICT r8 #3):
    weibull_fit estimates shape/scale with no covariates; the AFT
    model ln T = β·x + σ·W (W standard minimum extreme value) is the
    regression member — coefficients are log time-ratios
    (exp(β_j) multiplies median survival time per unit x_j), and the
    no-covariate reduction (covariate_cols=None) recovers
    weibull_fit's parameters as shape k = 1/σ = a, scale
    λ = exp(intercept) (pytest-pinned, same likelihood optimum).

    Architecture: zero driver collects — each round's 1-row params
    relation is eagerly localCheckpoint-ed (data stays executor-side;
    cox_ph_multi round-trips a Row per round instead, and a fully
    lazy chain was measured ~3x slower in fixed plan overhead).
    Newton-Raphson runs in the Burridge
    (1981) parameterization γ = β/σ, a = 1/σ where the censored
    log-likelihood ll = δ(ln a + z) − e^z, z = a·ln t − γ·x is
    GLOBALLY CONCAVE (naive (β, ln σ) Newton diverges on
    censoring-heavy data); init seeds γ0 at the event-mean of ln t,
    a at 1. Each of the bounded ``rounds`` is ONE hash aggregate over
    the checkpointed subject table (score + observed-information
    upper triangle, every term decimal(28,12)-quantized before its
    order-free sum) cross-joined with the previous 1-row params
    relation, solved by the unrolled no-pivot Gaussian elimination of
    timeseries._gauss_steps as named column steps; the SQL oracle
    chains the IDENTICAL (name, expr) text (weibull_aft_fragments),
    so operation order is shared by construction at any p <= 6.
    Standard errors transform the inverse-information columns back to
    the AFT scale by the delta method. NULL outputs on: no events,
    singular/indefinite information (pivot gate), or a non-positive
    delta-method variance (never-fabricate). Zero/negative durations
    are excluded (ln domain); iterates must keep z <= 20 (the
    decimal(18,9) e^z domain — out-of-domain raises loudly under
    ANSI, never corrupts silently).

    Scale: subject table scanned rounds+2 times, each a map-side
    combinable aggregate; params rows broadcast; no window, no join,
    no driver loop — the plan holds at any corpus size.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    from .timeseries import _apply_steps_one_sql  # noqa: PLC0415

    covariate_cols = list(covariate_cols or [])
    p = len(covariate_cols)
    frag = weibull_aft_fragments(p)
    keep = (
        F.col(duration_col).isNotNull()
        & (F.col(duration_col).cast("double") > 0)
        & F.col(event_col).isNotNull()
    )
    for c in covariate_cols:
        keep = keep & F.col(c).isNotNull()
    subj = df.filter(keep).select(
        F.log(F.col(duration_col).cast("double"))
        .cast("decimal(18,9)")
        .alias("lnt"),
        F.col(event_col).cast("int").alias("e"),
        *[
            F.col(c).cast("decimal(18,6)").alias(f"x{j}")
            for j, c in enumerate(covariate_cols, 1)
        ],
    ).localCheckpoint(eager=True)
    b_cur = _newton_rounds(subj, frag, rounds)
    fin = subj.crossJoin(F.broadcast(b_cur)).agg(
        *[F.expr(e).alias(nm) for nm, e in frag["final_terms"]]
    )
    se_steps, _ = frag["se_steps"]()
    # The m-RHS covariance chain is the long one (m full eliminations);
    # liveness keep = every name the param outputs read, so dead betas
    # drop out; keep the default depth-capped lazy barriers for it.
    import re  # noqa: PLC0415

    keep = {"n", "d"}
    for o in frag["param_outputs"]():
        for e in o.values():
            keep |= set(re.findall(r"\b[A-Za-z_]\w*\b", e))
    fin = _apply_steps_one_sql(fin, se_steps, keep=sorted(keep))
    labels = ["intercept", *covariate_cols, "ln_sigma"]
    outs = frag["param_outputs"]()
    rows = F.array(
        *[
            F.struct(
                F.lit(lbl).alias("param"),
                F.expr(o["coef"]).alias("coef"),
                F.expr(o["se"]).alias("se"),
                F.expr(o["z"]).alias("z"),
            )
            for lbl, o in zip(labels, outs)
        ]
    )
    return (
        fin.select(
            "n", F.col("d").alias("n_events"), F.explode(rows).alias("r")
        )
        .select(
            F.col("r.param").alias("param"),
            "n",
            "n_events",
            F.col("r.coef").alias("coef"),
            F.col("r.se").alias("se"),
            F.col("r.z").alias("z"),
        )
    )


def grays_test(
    df: DataFrame,
    group_col: str,
    groups: list,
    duration_col: str = "duration",
    event_col: str = "event",
    cause_col: str = "cause",
    cause=None,
) -> DataFrame:
    """Gray's test for a cause-specific cumulative incidence under
    competing risks -> one row per group
    (grp, n, observed, expected, chi2, dof) — observed/expected count
    the TARGET cause's events; chi2/dof repeated per row; dof = k−1.

    The k-group comparison that pairs with cumulative_incidence the
    way log_rank_k pairs with kaplan_meier (VERDICT r8 #4): under
    competing risks an ordinary log-rank on the target cause answers
    the wrong question (it censors competing events, comparing
    cause-specific hazards, not incidence). Gray (1988)'s rho = 0
    score compares SUBDISTRIBUTION hazards by keeping subjects who
    failed of a competing cause in the risk set, census-weighted:

        R_g(t) = Y_g(t) · (1 − F̂_g(t−)) / Ŝ_g(t−)
        Z_g    = Σ_{t: d_1(t)>0} [ d_1g(t) − R_g(t)·d_1(t)/R(t) ]

    with Y_g the ordinary at-risk count, F̂_g the group's target-cause
    Aalen-Johansen CIF, Ŝ_g the group's all-cause KM, d_1g the
    group's target-cause events. The covariance is the
    Mantel-Haenszel-style form of log_rank_k evaluated on R (the
    practical subdistribution-log-rank variance), NOT Gray's full
    asymptotic variance estimator — documented simplification. The
    REDUCTION is exact by construction: with a single cause
    1 − F̂_g(t−) = Ŝ_g(t−) so R_g ≡ Y_g (up to the shared ln-class
    quantization) and the statistic IS log_rank_k (pytest-pinned).
    Any event row whose cause differs from ``cause`` (including null
    cause) is a competing event.

    Relational shape: the _risk_set collapse carrying (d_target,
    d_all, arrivals) with its times×k scaffold, whose per-group
    reverse window is Y_g; per-group windows then derive the KM
    ln-prefix (_km_by_g) and the CIF prefix (one ascending
    decimal(28,12) cumsum of S(t−)·d_1/Y increments); one wide
    per-time pivot; the _k_score_aggs Z/V/E terms over R in one
    order-free aggregate; _k_group_result solves chi2 driver-side.
    Singular V returns NULL chi2 (never-fabricate).
    """

    if cause is None:
        raise ValueError("cause must name the target cause value")
    k = len(groups)
    if k < 2 or k > 5:
        raise ValueError(f"need 2..5 groups, got {k}")
    is_target = (F.col("e") == 1) & (
        F.col("c").isNotNull() & (F.col("c") == str(cause))
    )
    per_tg, risk = _risk_set(
        df,
        group_col,
        groups,
        duration_col,
        event_col,
        {
            "d1": F.sum(F.when(is_target, 1).otherwise(0)).cast("long"),
            "dall": F.sum("e").cast("long"),
        },
        extra=(F.col(cause_col).cast("string").alias("c"),),
    )
    cum = _km_by_g(risk, "dall")
    s_before = _s_before()
    n_risk = F.col("n_risk").cast("double")
    inc1 = F.when(
        F.col("n_risk") > 0,
        (s_before * F.col("d1").cast("double") / n_risk).cast(
            "decimal(28,12)"
        ),
    ).otherwise(F.lit(0).cast("decimal(28,12)"))
    terms = cum.withColumn("inc1", inc1).withColumn(
        "f1", F.sum("inc1").over(_by_g())
    )
    f_before = (F.col("f1") - F.col("inc1")).cast("double")
    r_sub = F.when(
        s_before > 0, n_risk * (F.lit(1.0) - f_before) / s_before
    ).otherwise(F.lit(0.0))
    wide = terms.withColumn("r", r_sub).groupBy("t").agg(
        *_pivot("d1", "d", k),
        *[
            # max, not sum: exactly one row matches g == i, and max
            # extracts it with NO floating addition — the pivot stays
            # order-free even though r is a double
            F.max(F.when(F.col("g") == i, F.col("r"))).alias(f"r{i}")
            for i in range(1, k + 1)
        ],
    )
    dt = _k_sum("d", k)
    dtd = dt.cast("double")
    rt = _k_sum("r", k)
    ct = F.when(
        rt > 1.0,
        dtd * (rt - dtd) / (rt - 1.0),
    ).otherwise(0.0)
    # NOT merged with the totals job: probed the log_rank_k-style
    # single-aggregate fold here (WHEN-guarded terms + totals riding
    # the pivot) and measured 1.07-1.08x WORSE twice (r12 A/B) —
    # unlike log_rank_k this aggregate was already merged, so the
    # extra pivot columns only fattened the heavy stage to save one
    # cheap totals job over the pinned collapse.
    ev_times = wide.filter((dt > 0) & (rt > 0))
    row = ev_times.agg(
        *_k_score_aggs(k, lambda i: F.col(f"r{i}"), rt, ct)
    ).first()
    totals = per_tg.groupBy("g").agg(
        F.sum("subj").cast("long").alias("n"),
        F.sum("d1").cast("long").alias("observed"),
    )
    tot_by = {r["g"]: r for r in totals.collect()}
    counts = [
        (int(tot_by[i]["n"]), int(tot_by[i]["observed"]))
        if i in tot_by
        else (0, 0)
        for i in range(1, k + 1)
    ]
    return _k_group_result(df.sparkSession, groups, row, counts)


def kaplan_meier_ci(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    z: float = 1.959964,
) -> DataFrame:
    """Kaplan-Meier curve with Greenwood variance and log-log
    pointwise confidence bands -> one row per distinct duration:
    (t, n_risk, n_events, n_censored, survival, se, lo, hi).

    The estimate a bare kaplan_meier cannot qualify: how UNCERTAIN is
    the curve at each t? Greenwood (1926):

        Var(Ŝ(t)) = Ŝ(t)² · Σ_{t_i <= t} d_i / (n_i · (n_i − d_i))

    with the log-log ("log cumulative hazard") interval — the
    standard transform that keeps bands inside (0, 1):

        θ̂ = ln(−ln Ŝ),  σ_θ = sqrt(Σ g_i) / |ln Ŝ|
        [lo, hi] = Ŝ ^ exp(±z·σ_θ)

    ``z`` is the normal quantile (default 1.959964, the 95% band).

    Relational shape: _km_prefix (ONE collapse, n_risk + the
    scaled-long ln-survival prefix), plus one ascending ordered_cumsum
    for the Greenwood terms. Those terms ride a SCALE-18 decimal
    channel (decimal(26,18)): at 20M subjects a term is d/(n(n−d)) ~
    1e-15 — below the engine's standard scale-12 grain — while the
    cumulative sum stays < 1e8 by domain, far inside the
    decimal(36,18) sum. ln/exp are the documented ln-class channel.
    Rows where the curve has died (Ŝ = 0) emit NULL se/lo/hi (the
    variance is undefined there — never-fabricate); rows before the
    first event emit se = 0 and lo = hi = 1 (zero accumulated
    variance).
    """
    cum = _km_prefix(_subjects(df, duration_col, event_col))
    g = F.when(
        (F.col("n_events") > 0) & (F.col("n_events") < F.col("n_risk")),
        (
            F.col("n_events").cast("double")
            / (
                F.col("n_risk").cast("double")
                * (F.col("n_risk") - F.col("n_events")).cast("double")
            )
        ).cast("decimal(26,18)"),
    ).otherwise(F.lit(0).cast("decimal(26,18)"))
    terms = cum.withColumn("g", g)
    cg = ordered_cumsum(terms, "t", ["g"])
    ln_s = _ln_s()
    died = F.col("cum_dead") >= 1
    s_raw = F.exp(ln_s)
    cumg = F.col("cum_g").cast("double")
    sig = F.sqrt(cumg) / -ln_s
    dnull = F.lit(None).cast("double")
    return cg.select(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(died, F.lit(0.0)).otherwise(F.round(s_raw, 6)).alias(
            "survival"
        ),
        F.when(died, dnull)
        .otherwise(F.round(s_raw * F.sqrt(cumg), 6))
        .alias("se"),
        F.when(died, dnull)
        .when(F.col("cum_lnq") == 0, F.lit(1.0))
        .otherwise(
            F.round(F.exp(ln_s * F.exp(F.lit(float(z)) * sig)), 6)
        )
        .alias("lo"),
        F.when(died, dnull)
        .when(F.col("cum_lnq") == 0, F.lit(1.0))
        .otherwise(
            F.round(F.exp(ln_s * F.exp(F.lit(-float(z)) * sig)), 6)
        )
        .alias("hi"),
    )


def rmst_diff(
    df: DataFrame,
    group_col: str,
    group_treat,
    group_ctrl,
    tau: float,
    duration_col: str = "duration",
    event_col: str = "event",
    z: float = 1.959964,
) -> DataFrame:
    """Between-group restricted-mean-survival-time contrast -> one row
    (tau, n_treat, n_ctrl, rmst_treat, rmst_ctrl, diff, se, z_stat,
    lo, hi).

    The model-free effect estimate when proportional hazards fails
    (crossing curves void the log-rank/Cox premise; RMST differences
    stay interpretable): "event-free days gained within the first tau
    days". Per group, RMST = integral of the KM curve on [0, tau] via
    integration by parts (the rmst identity — no adjacent-row
    windows), with the standard large-sample variance

        Var(RMST) = sum_{events t_i <= tau} A_i^2 * d_i/(n_i(n_i-d_i))
        A_i = integral_{t_i}^{tau} S(u) du
            = tau*S(tau) - t_i*S(t_i) + sum_{t_i < t_j <= tau} t_j*dS_j

    so A_i itself is ONE descending cumsum of the same per-row drop
    terms t_j*(S(t_j-) - S(t_j)) the point estimate uses. diff =
    RMST_treat - RMST_ctrl, se = sqrt(V_t + V_c), Wald z and the
    z-quantile CI (``z`` default 1.959964, the 95% band).

    Relational shape: the _risk_set collapse, its times x 2 scaffold
    and per-group at-risk window, the per-group KM ln-prefix
    (_km_by_g, scaled exact longs), per-row decimal(28,12) drop terms
    (_s_before − _s_at) cumulated descending
    per group, then one per-group aggregate for (rmst, variance,
    S(tau)) and a 2-row collect. The at-risk count uses the FULL
    timeline (subjects beyond tau still count at risk); only the
    area/variance terms restrict to t <= tau. NULL se/CI when a group
    has an undefined variance term (d_i = n_i inside tau with the
    curve dead — never-fabricate); groups must both be present.
    """

    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    _, risk = _risk_set(
        df,
        group_col,
        [group_treat, group_ctrl],
        duration_col,
        event_col,
        {"d": F.sum("e").cast("long")},
    )
    cum = _km_by_g(risk, "d")
    s_at = _s_at()
    s_before = _s_before()
    within = F.col("t") <= F.lit(float(tau))
    drop = F.when(
        within,
        (F.col("t").cast("double") * (s_before - s_at)).cast(
            "decimal(28,12)"
        ),
    ).otherwise(F.lit(0).cast("decimal(28,12)"))
    staged = cum.withColumn("s_at_d", s_at).withColumn("drop", drop)
    # The times×2 cumulated relation feeds BOTH tail aggregates (the
    # rmst/S(tau) pass and, after S(tau) re-enters as a literal, the
    # variance pass) — checkpoint it ONCE so the grid→window chain is
    # derived a single time instead of once per collect (r12).
    rdrops = staged.withColumn(
        "rdrop", F.sum("drop").over(_by_g(descending=True))
    ).localCheckpoint(eager=True)
    # A_i needs S(tau) per group BEFORE the variance aggregate — two
    # small passes: first (rmst, S(tau)) per group, re-entering as
    # plan literals (the cuped/cox channel), then the variance sum.
    # Group sizes ride the SAME aggregate (r12: the separate per_tg
    # totals job folded in): subj sums over ALL times equal the pinned
    # collapse's totals because the grid's fillna-0 rows add exact
    # zeros; likewise `drop` is an exact decimal 0 outside tau, so the
    # unfiltered sum matches the old within-tau filtered one, and the
    # max_by WHEN guards null out beyond-tau rows (max_by skips null
    # keys) exactly as the filter did.
    base = (
        rdrops.groupBy("g")
        .agg(
            F.sum("drop").alias("drops"),
            F.max_by(
                F.when(within, F.col("s_at_d")),
                F.when(within, F.col("t")),
            ).alias("s_tau"),
            F.sum("subj").cast("long").alias("n"),
        )
        .collect()
    )
    n_by = {r["g"]: int(r["n"]) for r in base if int(r["n"] or 0) > 0}

    if 1 not in n_by or 2 not in n_by:
        raise ValueError("both groups must be present in the input")
    info = {}
    for r in base:
        if r["g"] not in n_by:
            continue  # scaffold-only group (no real subjects)
        stau = float(r["s_tau"]) if r["s_tau"] is not None else 1.0
        drops = float(r["drops"]) if r["drops"] is not None else 0.0
        info[r["g"]] = {"s_tau": _d18_9(stau), "rmst": float(tau) * stau + drops}
    for g in (1, 2):
        if g not in info:
            # group exists but has no observation inside tau: the
            # curve is flat at 1 on [0, tau]
            info[g] = {"s_tau": 1.0, "rmst": float(tau)}
    # variance pass: A_i = tau*S(tau) - t_i*S(t_i) + (rdrop_i - drop_i)
    stau_lit = F.when(
        F.col("g") == 1, F.lit(info[1]["s_tau"])
    ).otherwise(F.lit(info[2]["s_tau"]))
    a_i = (
        F.lit(float(tau)) * stau_lit
        - F.col("t").cast("double") * F.col("s_at_d")
        + (F.col("rdrop") - F.col("drop")).cast("double")
    )
    vterm = F.when(
        within & (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        (
            (a_i * a_i)
            * (
                F.col("d").cast("double")
                / (
                    F.col("n_risk").cast("double")
                    * (F.col("n_risk") - F.col("d")).cast("double")
                )
            )
        ).cast("decimal(28,12)"),
    ).otherwise(F.lit(0).cast("decimal(28,12)"))
    bad = within & (F.col("d") > 0) & (F.col("d") >= F.col("n_risk"))
    vrow = rdrops.filter(within).groupBy("g").agg(
        F.sum(vterm).alias("v"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("n_bad"),
    ).collect()
    vinfo = {
        r["g"]: (
            float(r["v"]) if r["v"] is not None else 0.0,
            int(r["n_bad"]),
        )
        for r in vrow
    }

    ra, rb = info[1]["rmst"], info[2]["rmst"]
    va, na_bad = vinfo.get(1, (0.0, 0))
    vb, nb_bad = vinfo.get(2, (0.0, 0))
    diff = ra - rb
    if na_bad or nb_bad or (va + vb) <= 0:
        se = zs = lo = hi = None
    else:
        se = math.sqrt(va + vb)
        zs = diff / se
        lo = diff - float(z) * se
        hi = diff + float(z) * se
    return df.sparkSession.createDataFrame(
        [
            (
                float(tau),
                n_by.get(1, 0),
                n_by.get(2, 0),
                _r6(ra),
                _r6(rb),
                _r6(diff),
                _r6(se),
                _r6(zs),
                _r6(lo),
                _r6(hi),
            )
        ],
        "tau double, n_treat long, n_ctrl long, rmst_treat double,"
        " rmst_ctrl double, diff double, se double, z_stat double,"
        " lo double, hi double",
    )


def fleming_harrington(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    duration_col: str = "duration",
    event_col: str = "event",
    rho: float = 1.0,
) -> DataFrame:
    """Fleming-Harrington G(rho) weighted log-rank test -> one row
    (n_a, n_b, rho, chi2).

    log_rank weighs every event time equally, which makes it most
    powerful against PROPORTIONAL-hazards alternatives; when curves
    separate late (immunotherapy-style) or early (toxicity-style) a
    weighted test wins. G(rho) weighs time t by S(t-)^rho, the pooled
    Kaplan-Meier survival just BEFORE t: rho = 0 IS the log-rank
    (weight 1 everywhere, 0^0 = 1 by the FH limit convention);
    rho = 1 (Peto-Prentice flavor) emphasizes EARLY differences where
    S is still near 1; larger rho sharpens that further.

        chi2 = (Σ_t w_t (d_At − e_At))² / Σ_t w_t² v_t,
        w_t = S_pool(t−)^rho

    Relational shape: log_rank's _two_group risk set and
    _two_group_terms, plus a pooled ln-space weight on the wide
    per-time relation: ln(1 − d/n) quantized decimal(18,9), EXCLUSIVE
    ascending cumsum via ordered_cumsum (inclusive minus own term —
    exact decimal subtraction), weight = exp(rho·lnS) requantized
    decimal(18,9) (the one libm channel), a dead flag zeroing weights
    after the pooled curve hits 0 (except rho = 0, where the
    log-rank convention keeps w = 1). Both weighted sums are
    decimal(28,12)-quantized before their order-free aggregate.
    """
    wide, n_by = _two_group(
        df, group_col, group_a, group_b, duration_col, event_col
    )
    dt, nt, e_a, v_t = _two_group_terms()
    staged = wide.withColumn(
        "lnq",
        F.when(
            (dt > 0) & (dt < nt),
            F.log(
                (nt - dt).cast("double") / nt.cast("double")
            ).cast("decimal(18,9)"),
        ).otherwise(F.lit(0).cast("decimal(18,9)")),
    ).withColumn(
        "dead",
        F.when((dt >= nt) & (dt > 0), F.lit(1))
        .otherwise(F.lit(0))
        .cast("decimal(18,9)"),
    )
    cum = ordered_cumsum(staged, "t", ["lnq", "dead"])
    ln_excl = (F.col("cum_lnq") - F.col("lnq")).cast("double")
    dead_excl = (F.col("cum_dead") - F.col("dead")).cast("double")
    rho_f = float(rho)
    w_expr = F.when(
        dead_excl >= 1.0, F.lit(1.0 if rho_f == 0.0 else 0.0)
    ).otherwise(
        F.exp(F.lit(rho_f) * ln_excl)
        .cast("decimal(18,9)")
        .cast("double")
    )
    terms = cum.filter(dt > 0).select(
        (w_expr * (F.col("d1").cast("double") - e_a))
        .cast("decimal(28,12)")
        .alias("wd"),
        ((w_expr * w_expr) * v_t).cast("decimal(28,12)").alias("wv"),
    )
    agg = terms.agg(
        F.sum("wd").cast("double").alias("num"),
        F.sum("wv").cast("double").alias("den"),
    )
    return agg.crossJoin(F.broadcast(n_by)).select(
        "n_a",
        "n_b",
        F.lit(rho_f).alias("rho"),
        F.when(
            F.col("den") > 0,
            F.round(
                F.col("num") * F.col("num") / F.col("den"), 6
            ),
        ).alias("chi2"),
    )


def cox_ph_check(
    df: DataFrame,
    duration_col: str = "duration",
    event_col: str = "event",
    group_col: str = "x",
    rounds: int = 4,
) -> DataFrame:
    """Proportional-hazards diagnostic for the binary-covariate Cox
    fit -> one row (n, n_events, beta, chi2_ph, reject_5pct).

    cox_ph's hazard ratio is only meaningful if the hazards are
    actually proportional; this is the Grambsch-Therneau score test
    in its one-step form: Schoenfeld residuals against time. With a
    binary covariate and Breslow ties the per-time residual sum is
    r_t = sx_t − d_t·p_t and the per-time variance V_t =
    d_t·p_t(1−p_t) (exactly cox_ph's U and I terms), and

        chi2 = [Σ_t (g_t − ḡ) r_t]² / [Σ_t (g_t − ḡ)² V_t],
        ḡ = Σ_t d_t g_t / Σ_t d_t,  g_t = t/1000 (identity
        transform, k-scaled so g²V terms stay inside the
        decimal(28,12) quantizer at multi-million-day horizons)

    ~ chi-square(1) under proportionality; reject_5pct at 3.841459.
    A rejection says the hazard ratio DRIFTS with time — report
    stratified or time-interacted effects instead of one hr.

    Architecture: cox_ph's _cox_binary_fit (the 0/1 check, one
    subject scan to the pinned times-sized relation, the size-gated
    ordered_cumsum at-risk derivation, the driver-side Newton for beta
    in decimal(18,9)-quantized rounds) — plus ONE further times-sized
    aggregate of decimal(28,12)-quantized score terms with eb as a
    plan literal. Expanded-moment form (Σgr, Σg²V, ...) so ḡ needs
    no second pass. NULL outputs on the cox_ph degenerate contract
    (single-group input, non-positive information).
    """
    risk, totals, beta = _cox_binary_fit(
        df, duration_col, event_col, group_col, rounds, "cox_ph_check"
    )
    spark = df.sparkSession
    if beta is None:
        return spark.createDataFrame(
            [(totals["n"], totals["n_events"], None, None, None)],
            "n long, n_events long, beta double, chi2_ph double,"
            " reject_5pct boolean",
        )
    d, r, v = _cox_terms(_d18_9(math.exp(beta)))
    g = F.col("t").cast("double") / 1000.0
    q28 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    row = risk.agg(
        F.sum(q28(d)).alias("sd"),
        F.sum(q28(d * g)).alias("sdg"),
        F.sum(q28(r)).alias("sr"),
        F.sum(q28(g * r)).alias("sgr"),
        F.sum(q28(v)).alias("sv"),
        F.sum(q28(g * v)).alias("sgv"),
        F.sum(q28((g * g) * v)).alias("sggv"),
    ).first()
    sd = float(row["sd"]) if row["sd"] is not None else 0.0
    if sd <= 0:
        chi2 = None
    else:
        gbar = float(row["sdg"]) / sd
        num = float(row["sgr"]) - gbar * float(row["sr"])
        den = (
            float(row["sggv"])
            - 2.0 * gbar * float(row["sgv"])
            + (gbar * gbar) * float(row["sv"])
        )
        chi2 = (num * num) / den if den > 0 else None

    out = (
        totals["n"],
        totals["n_events"],
        _r6(beta),
        _r6(chi2),
        (chi2 > 3.841459) if chi2 is not None else None,
    )
    return spark.createDataFrame(
        [out],
        "n long, n_events long, beta double, chi2_ph double,"
        " reject_5pct boolean",
    )
