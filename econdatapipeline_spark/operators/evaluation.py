"""Classifier evaluation metrics as distributed aggregates.

A curation pipeline ends in model-in-the-loop filters (quality
classifiers, contamination detectors, langid) whose thresholds must be
chosen from metrics computed over the full corpus — billions of scored
rows, so the metrics themselves must be shuffle-light aggregates, not
sklearn on a driver collect.

Every metric here reduces the corpus ONCE by score (or bin) into a
distinct-score-sized relation, then finishes with a window over that
small relation:

- ``roc_auc``: Mann-Whitney form with tie correction —
  AUC = Σ_g  n_pos(g) · (N_neg below g + ½ n_neg(g)) / (P·N)
  over score groups g. One hash-aggregate + one window over distinct
  scores. No per-row ranking, no global sort of the corpus.
- ``pr_curve``: precision/recall/F1 at every distinct score treated as
  a >=-threshold, from the same grouped relation via a cumulative
  window (descending scores).
- ``confusion_at``: single-pass conditional aggregate at one threshold.
- ``calibration_bins``: equal-width reliability diagram — per-bin mean
  score vs empirical positive rate (one groupBy).

All counts are exact integers; the only floats are final divisions,
rounded at the edge, so a SQL oracle certifies every metric exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..sources.tables import fan_out as _fan_out_capped


def _score_groups(df: DataFrame, label_col: str, score_col: str) -> DataFrame:
    """(score, n_pos, n_neg) — the corpus reduced to distinct scores."""
    lbl = F.col(label_col).cast("boolean")
    return df.groupBy(F.col(score_col).alias("score")).agg(
        F.sum(F.when(lbl, 1).otherwise(0)).alias("n_pos"),
        F.sum(F.when(lbl, 0).otherwise(1)).alias("n_neg"),
    )


def roc_auc(
    df: DataFrame, label_col: str = "label", score_col: str = "score"
) -> DataFrame:
    """One-row (auc, n_pos, n_neg) — tie-corrected Mann-Whitney AUC.

    The window runs over DISTINCT scores only; a 100 TB corpus with a
    6-decimal score column reduces to <= 2e6 rows before the window.
    """
    from econdatapipeline_spark.operators.stats import ordered_cumsum

    g = ordered_cumsum(
        _score_groups(df, label_col, score_col),
        "score",
        ["n_neg"],
        exclusive=True,
    )
    contrib = F.col("n_pos") * (
        F.col("cum_n_neg").cast("double") + 0.5 * F.col("n_neg")
    )
    return (
        g.select(
            contrib.alias("c"), F.col("n_pos").alias("p"), F.col("n_neg").alias("n")
        )
        .agg(
            F.round(
                F.sum("c") / (F.sum("p") * F.sum("n")).cast("double"), 6
            ).alias("auc"),
            F.sum("p").cast("long").alias("n_pos"),
            F.sum("n").cast("long").alias("n_neg"),
        )
    )


def pr_curve(
    df: DataFrame, label_col: str = "label", score_col: str = "score"
) -> DataFrame:
    """(threshold, tp, fp, fn, precision, recall, f1) at every distinct
    score, predicting positive when score >= threshold."""
    from econdatapipeline_spark.operators.stats import ordered_cumsum

    g = _score_groups(df, label_col, score_col)
    cums = ordered_cumsum(g, "score", ["n_pos", "n_neg"], descending=True)
    tot = g.agg(F.sum("n_pos").alias("tot_pos"))
    cum = cums.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        F.col("cum_n_pos").alias("tp"),
        F.col("cum_n_neg").alias("fp"),
        (F.col("tot_pos") - F.col("cum_n_pos")).alias("fn"),
    )
    prec = F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
    rec = F.col("tp") / (F.col("tp") + F.col("fn")).cast("double")
    return cum.select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(2 * prec * rec / (prec + rec), 6).alias("f1"),
    )


def confusion_at(
    df: DataFrame,
    threshold: float,
    label_col: str = "label",
    score_col: str = "score",
) -> DataFrame:
    """One-row confusion matrix + derived rates at a fixed threshold."""
    lbl = F.col(label_col).cast("boolean")
    pred = F.col(score_col) >= threshold
    agg = df.agg(
        F.sum(F.when(lbl & pred, 1).otherwise(0)).cast("long").alias("tp"),
        F.sum(F.when(~lbl & pred, 1).otherwise(0)).cast("long").alias("fp"),
        F.sum(F.when(~lbl & ~pred, 1).otherwise(0)).cast("long").alias("tn"),
        F.sum(F.when(lbl & ~pred, 1).otherwise(0)).cast("long").alias("fn"),
    )
    prec = F.col("tp") / (F.col("tp") + F.col("fp")).cast("double")
    rec = F.col("tp") / (F.col("tp") + F.col("fn")).cast("double")
    return agg.select(
        "tp", "fp", "tn", "fn",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(2 * prec * rec / (prec + rec), 6).alias("f1"),
        F.round(
            (F.col("tp") + F.col("tn"))
            / (F.col("tp") + F.col("fp") + F.col("tn") + F.col("fn")).cast(
                "double"
            ),
            6,
        ).alias("accuracy"),
    )


def calibration_bins(
    df: DataFrame,
    bins: int = 10,
    label_col: str = "label",
    score_col: str = "score",
) -> DataFrame:
    """Reliability diagram: (bin, n, mean_score, frac_pos) over
    equal-width score bins on [0, 1]; scores at exactly 1.0 land in
    the top bin. A well-calibrated scorer has mean_score ≈ frac_pos
    per bin; the gap is the per-bin calibration error."""
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    s = F.col(score_col).cast("double")
    b = F.least(F.floor(s * bins).cast("long"), F.lit(bins - 1))
    lbl = F.col(label_col).cast("boolean")
    return (
        df.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(s.cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum(F.when(lbl, 1).otherwise(0)) / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("frac_pos"),
        )
    )


def topk_overlap(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall@k of an approximate top-k against ground truth.

    The ANN quality gate: join the approximate result to the exact one
    on (query, neighbor) and count survivors — recall@k = |A ∩ E| / k.
    Both inputs are already k-bounded per query, so the join is
    (queries × k)-sized however large the corpus that produced them.
    Output: (query_id, n_overlap, recall) for every query in the exact
    set (queries the approximate index missed entirely score 0).
    """
    a = approx.select(
        F.col(query_col).alias("q"), F.col(id_col).alias("n")
    )
    e = exact.select(
        F.col(query_col).alias("q"), F.col(id_col).alias("n")
    )
    hits = (
        e.join(a, ["q", "n"], "left_semi")
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    qs = e.select("q").distinct()
    return qs.join(hits, "q", "left").select(
        F.col("q").alias(query_col),
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        F.round(
            F.coalesce(F.col("n_overlap"), F.lit(0)) / F.lit(float(k)), 6
        ).alias("recall"),
    )


def conformal_width(
    df: DataFrame,
    group_col: str,
    resid_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal interval half-width per group -> (group, n, k,
    width).

    Split conformal prediction (Vovk et al.; Lei et al. 2018): given a
    calibration set's residuals, the (1 − α) prediction interval is
    ŷ ± width where width is the k-th smallest |residual| with
    k = ⌈(n + 1)(1 − α)⌉ — a finite-sample coverage guarantee with no
    distributional assumptions. Groups too small for the guarantee
    (k > n) emit null width: the honest answer, not the max residual.

    Shape: one per-group count, one rank window over the calibration
    rows (shuffles calibration residuals only — the set a deployment
    can size), and an exact order statistic: ties in |residual| share a
    value, so the k-th smallest VALUE is deterministic regardless of
    tie order.
    """
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    from pyspark.sql import Window  # noqa: PLC0415

    a = df.select(
        F.col(group_col).alias("g"), F.abs(F.col(resid_col)).alias("r")
    )
    counts = a.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    k = F.ceil((F.col("n") + 1) * F.lit(1.0 - alpha)).cast("long")
    w = Window.partitionBy("g").orderBy("r")
    ranked = a.withColumn("rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(counts.withColumn("k", k)), "g")
        .filter(F.col("rn") == F.least(F.col("k"), F.col("n")))
        .select(
            F.col("g").alias(group_col),
            F.col("n").cast("long").alias("n"),
            F.col("k").alias("k"),
            F.when(F.col("k") <= F.col("n"), F.round(F.col("r"), 6)).alias(
                "width"
            ),
        )
    )


def expected_calibration_error(
    df: DataFrame,
    bins: int = 10,
    label_col: str = "label",
    score_col: str = "score",
) -> DataFrame:
    """Scalar calibration summary over :func:`calibration_bins` ->
    one row (n, ece, mce).

    ECE = sum over bins of (n_b / N) * |frac_pos_b - mean_score_b| —
    the bin-weighted reliability gap (Naeini et al., AAAI 2015); MCE
    is the worst single bin's gap. The per-bin inputs are the already-
    rounded calibration_bins outputs, and each weighted term quantizes
    to decimal(18,9) before the (<= bins)-row sum, so both scalars are
    order-free and engine-exact. Cost: the same single hash aggregate
    as calibration_bins plus a bins-row reduction.
    """
    cb = calibration_bins(df, bins=bins, label_col=label_col, score_col=score_col)
    gap = F.abs(F.col("frac_pos") - F.col("mean_score"))
    # "total" not "N": Spark's case-insensitive resolution would make
    # an alias N ambiguous against the per-bin column n after the join
    tot = cb.agg(F.sum("n").alias("total"))
    return (
        cb.crossJoin(tot)
        .select(
            F.col("total"),
            (
                (F.col("n").cast("double") / F.col("total").cast("double"))
                * gap
            )
            .cast("decimal(18,9)")
            .alias("term"),
            gap.alias("gap"),
        )
        .agg(
            F.max("total").cast("long").alias("n"),
            F.round(F.sum("term").cast("double"), 6).alias("ece"),
            F.round(F.max("gap"), 6).alias("mce"),
        )
    )


def decile_lift(
    df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    n_buckets: int = 10,
) -> DataFrame:
    """Cumulative gains / lift table by score decile ->
    (decile, n, n_pos, cum_n, cum_pos, cum_gain, lift), decile 1 =
    highest scores.

    The campaign-targeting readout next to roc_auc: "if we act on the
    top 20% by score, what fraction of all positives do we capture
    (cum_gain), and at what multiple of random (lift)?"

    Scale shape: the roc_auc discipline end-to-end — one hash
    aggregate reduces facts to DISTINCT scores, the size-gated
    ordered_cumsum assigns COUNT-based deciles
    (ceil(B * cum_n / N) on the descending ECDF — integer-exact, no
    quantile interpolation, no unpartitioned window past the gate), and
    the final cumulation runs on the B-row bucket relation (window
    bounded by the literal bucket count, the rbo k-row pattern).
    Everything is integer until the two final ratios per bucket row.
    """
    from econdatapipeline_spark.operators.stats import ordered_cumsum

    g = (
        df.select(
            F.col(score_col).cast("double").alias("s"),
            F.col(label_col).cast("int").alias("y"),
        )
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
        )
    )
    cums = ordered_cumsum(g, "s", ["n"], descending=True)
    tot = g.agg(
        F.sum("n").cast("long").alias("tot_n"),
        F.sum("n_pos").cast("long").alias("tot_pos"),
    )
    bucketed = cums.crossJoin(F.broadcast(tot)).select(
        F.ceil(
            F.lit(n_buckets) * F.col("cum_n") / F.col("tot_n")
        ).cast("int").alias("decile"),
        "n",
        "n_pos",
        "tot_n",
        "tot_pos",
    )
    per = bucketed.groupBy("decile").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.max("tot_n").alias("tot_n"),
        F.max("tot_pos").alias("tot_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n").over(w).cast("long").alias("cum_n"),
        F.sum("n_pos").over(w).cast("long").alias("cum_pos"),
        "tot_n",
        "tot_pos",
    ).select(
        "decile",
        "n",
        "n_pos",
        "cum_n",
        "cum_pos",
        F.round(
            F.when(
                F.col("tot_pos") > 0,
                F.col("cum_pos").cast("double") / F.col("tot_pos").cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("cum_gain"),
        F.round(
            F.when(
                F.col("tot_pos") > 0,
                (F.col("cum_pos").cast("double") / F.col("cum_n").cast("double"))
                / (F.col("tot_pos").cast("double") / F.col("tot_n").cast("double")),
            ).otherwise(0.0),
            6,
        ).alias("lift"),
    )


def isotonic_calibrate(
    df: DataFrame,
    label_col: str = "label",
    score_col: str = "score",
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Isotonic (PAV) probability calibration over score bins ->
    (bin, n, pos, frac_pos, fit), fit monotone non-decreasing in bin.

    The calibration step platt/temperature scaling cannot do when the
    miscalibration is non-linear: fit the best monotone step function
    of the score to the observed positive rates. Instead of the
    sequential pool-adjacent-violators loop, this uses the MINIMAX
    closed form of the isotonic fit (Robertson et al. 1988):

        fit_i = max over j <= i of  min over k >= i of  mean(y, [j,k])

    which is order-free pure relational algebra: interval means come
    from prefix sums over the BINS relation, and the two nested
    extrema are two aggregates over the (j <= i <= k) triple grid.
    The grid is bins^3/6 rows — bins is a LITERAL (default 10), so
    the windows and non-equi joins here are bounded by the contract
    constant, never by data (the rbo k-literal pattern). The
    fact-sized work is ONE hash aggregate into the bins.

    Interval means are exact-integer ratios (long sums), so the
    max/min comparisons see identical doubles on any engine; fit is
    rounded to 6 at the very end.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got {lo}, {hi}")
    from pyspark.sql import Window  # noqa: PLC0415

    s = F.col(score_col).cast("double")
    b = F.least(
        F.greatest(
            F.floor((s - F.lit(lo)) / F.lit(hi - lo) * bins), F.lit(0)
        ),
        F.lit(bins - 1),
    ).cast("int")
    binned = (
        df.select(b.alias("bin"), F.col(label_col).cast("int").alias("y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    # prefix sums over the bins relation: bounded by the literal bin
    # count, so the unpartitioned window is contract-bounded (rbo
    # pattern), not data-sized
    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = binned.select(
        "bin",
        "n",
        "pos",
        F.sum("n").over(w).alias("cn"),
        F.sum("pos").over(w).alias("cp"),
    )
    jj = pre.select(
        F.col("bin").alias("jb"),
        (F.col("cn") - F.col("n")).alias("cn_excl"),
        (F.col("cp") - F.col("pos")).alias("cp_excl"),
    )
    kk = pre.select(
        F.col("bin").alias("kb"),
        F.col("cn").alias("cn_k"),
        F.col("cp").alias("cp_k"),
    )
    intervals = jj.join(kk, F.col("kb") >= F.col("jb")).select(
        "jb",
        "kb",
        (
            (F.col("cp_k") - F.col("cp_excl")).cast("double")
            / (F.col("cn_k") - F.col("cn_excl")).cast("double")
        ).alias("mean_jk"),
    )
    ii = pre.select(F.col("bin").alias("ib"))
    inner = (
        ii.join(
            intervals,
            (F.col("jb") <= F.col("ib")) & (F.col("kb") >= F.col("ib")),
        )
        .groupBy("ib", "jb")
        .agg(F.min("mean_jk").alias("min_k"))
    )
    fit = inner.groupBy("ib").agg(
        F.round(F.max("min_k"), 6).alias("fit")
    )
    return (
        binned.join(fit, binned.bin == fit.ib)
        .select(
            "bin",
            "n",
            "pos",
            F.round(
                F.col("pos").cast("double") / F.col("n").cast("double"), 6
            ).alias("frac_pos"),
            "fit",
        )
    )


def cem_att(
    df: DataFrame,
    treat_col: str,
    y_col: str,
    score_col: str,
    bins: int = 20,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Coarsened-exact-matching ATT -> one row
    (n_treated, n_matched, n_strata_matched, att).

    The matching estimator that actually scales (Iacus, King & Porro
    2012): instead of per-unit nearest-neighbor search (a sequential
    global sort problem), coarsen the balance score into ``bins``
    strata and match every treated unit against the CONTROL MEAN of
    its stratum:

        ATT = mean over matched treated of (y_t − ȳ_control(stratum))

    Treated units in strata with no controls are unmatched and drop
    out (reported: n_matched vs n_treated — a large gap IS the
    overlap-violation diagnostic). With-replacement stratum-mean
    matching is deterministic (no greedy order dependence) and
    relational: one hash aggregate builds the strata control means,
    one broadcast-sized join (strata <= bins, a literal) attaches
    them, one aggregate averages — no window, no global sort.
    Control means are exact-integer/decimal ratios; att is a
    deterministic double rounded at the end.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not lo < hi:
        raise ValueError(f"need lo < hi, got {lo}, {hi}")
    s = F.col(score_col).cast("double")
    stratum = F.least(
        F.greatest(
            F.floor((s - F.lit(lo)) / F.lit(hi - lo) * bins), F.lit(0)
        ),
        F.lit(bins - 1),
    ).cast("int")
    base = df.select(
        F.col(treat_col).cast("int").alias("t"),
        F.col(y_col).cast("decimal(28,6)").alias("y"),
        stratum.alias("stratum"),
    )
    ctrl = (
        base.filter(F.col("t") == 0)
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ctrl"),
            (
                F.sum("y").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("ctrl_mean"),
        )
    )
    treated = base.filter(F.col("t") == 1)
    joined = treated.join(F.broadcast(ctrl), "stratum", "left")
    matched = F.col("ctrl_mean").isNotNull()
    # per-treated effect terms quantized to decimal(28,12) BEFORE the
    # sum — a raw double sum over treated rows would be
    # summation-order-dependent (the repo-wide exactness rule)
    term = F.when(
        matched,
        (F.col("y").cast("double") - F.col("ctrl_mean")).cast(
            "decimal(28,12)"
        ),
    )
    n_matched = F.sum(F.when(matched, 1).otherwise(0)).cast("long")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_treated"),
        n_matched.alias("n_matched"),
        # distinct strata that actually matched — NOT a per-treated sum
        # of n_ctrl, which would count shared controls once per treated
        F.countDistinct(F.when(matched, F.col("stratum")))
        .cast("long")
        .alias("n_strata_matched"),
        F.round(
            F.when(
                n_matched > 0,
                F.sum(term).cast("double") / n_matched.cast("double"),
            ).otherwise(0.0),
            6,
        ).alias("att"),
    )


def ips_policy_value(
    behavior: DataFrame,
    logged: DataFrame,
    action_col: str = "event_type",
    reward_col: str = "value",
    target_action: str = "purchase",
) -> DataFrame:
    """Inverse-propensity-scored off-policy value -> one row
    (n_eval, n_match, p_target, ips_value, snips_value, logged_value).

    The counterfactual "what if we always played ``target_action``"
    estimator for logged interaction data (Horvitz-Thompson / the
    bandit-replay method): propensities are estimated on the
    ``behavior`` slice (a DIFFERENT slice than the one evaluated —
    estimating them on the evaluation rows degenerates IPS into the
    plug-in mean), and each evaluation row where the logged action
    matches the target is up-weighted by 1/p(target).

        IPS   = (1/n) Σ r_i · 1[a_i = t] / p(t)
        SNIPS = Σ r_i w_i / Σ w_i (= the matched-row mean under a
                deterministic target policy — reported for the
                diagnostic gap vs IPS: a large gap means the match
                rate disagrees with the estimated propensity)

    Two hash aggregates + one-row broadcast literals; reward sums are
    decimal(28,6)-quantized, the estimator arithmetic is fixed-order
    doubles of exact counts/sums.
    """
    prop = behavior.agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum(
            F.when(F.col(action_col) == target_action, 1).otherwise(0)
        )
        .cast("long")
        .alias("c_t"),
    )
    ev = logged.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(
            F.when(F.col(action_col) == target_action, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_match"),
        F.sum(
            F.when(
                F.col(action_col) == target_action,
                F.col(reward_col).cast("decimal(28,6)"),
            )
        ).alias("r_match"),
        F.sum(F.col(reward_col).cast("decimal(28,6)")).alias("r_all"),
    )
    j = ev.crossJoin(F.broadcast(prop))
    p_t = F.col("c_t").cast("double") / F.col("n_b").cast("double")
    ips = F.when(
        (F.col("c_t") > 0) & (F.col("n_eval") > 0),
        F.coalesce(F.col("r_match").cast("double"), F.lit(0.0))
        / p_t
        / F.col("n_eval").cast("double"),
    ).otherwise(F.lit(0.0))
    snips = F.when(
        F.col("n_match") > 0,
        F.coalesce(F.col("r_match").cast("double"), F.lit(0.0))
        / F.col("n_match").cast("double"),
    ).otherwise(F.lit(0.0))
    logged_v = F.when(
        F.col("n_eval") > 0,
        F.col("r_all").cast("double") / F.col("n_eval").cast("double"),
    ).otherwise(F.lit(0.0))
    return j.select(
        "n_eval",
        "n_match",
        F.round(p_t, 6).alias("p_target"),
        F.round(ips, 6).alias("ips_value"),
        F.round(snips, 6).alias("snips_value"),
        F.round(logged_v, 6).alias("logged_value"),
    )


def cuped_adjust(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    variant_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment readout -> one row per
    variant (variant, n, mean_raw, mean_adj, var_raw, var_adj,
    var_reduction).

    CUPED (Deng, Xu, Kohavi & Walker, WSDM 2013): regress the
    experiment metric on a PRE-EXPERIMENT covariate and analyze the
    residualized metric

        y_adj = y − θ·(x − x̄),   θ = cov(y, x) / var(x)

    (θ and x̄ pooled over all variants — the covariate predates
    assignment, so the adjustment is unbiased for every variant mean
    while removing the covariate-explained variance). The standard
    online-experimentation trick for cutting required sample sizes:
    var_reduction ≈ corr(x, y)² when the pre-period metric is the
    covariate.

    Relational shape: TWO fact aggregates total — one pooled pass for
    the decimal-exact (n, Σx, Σy, Σxx, Σxy) sums, then θ and x̄
    re-enter as decimal(18,9)-quantized plan literals (the cox_ph
    channel) for one per-variant pass of decimal(28,12)-quantized
    adjusted sums. All outputs are fixed-order doubles of exact
    decimal sums, oracle-replayable. Null metric/covariate rows are
    excluded from both passes.
    """
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    yq = F.col(metric_col).cast("decimal(18,6)")
    xq = F.col(covariate_col).cast("decimal(18,6)")
    # NOT fanned out: probed fan_out here (the vif idiom) and measured
    # 1.05x WORSE — unlike vif's p^2 decimal matrix, these two scalar
    # sum passes are too cheap to pay an extra exchange for (r12 A/B).
    base = df.select(
        F.col(variant_col).cast("string").alias("variant"),
        yq.alias("y"),
        xq.alias("x"),
    ).filter(F.col("y").isNotNull() & F.col("x").isNotNull())
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    g = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
    ).first()
    n = float(g["n"])
    sx = float(g["sx"]) if g["sx"] is not None else 0.0
    sy = float(g["sy"]) if g["sy"] is not None else 0.0
    sxx = float(g["sxx"]) if g["sxx"] is not None else 0.0
    sxy = float(g["sxy"]) if g["sxy"] is not None else 0.0
    den = n * sxx - sx * sx

    q9 = Decimal("0.000000001")

    def d18_9(v: float) -> float:
        return float(
            Decimal(repr(v)).quantize(q9, rounding=ROUND_HALF_UP)
        )

    theta = d18_9((n * sxy - sx * sy) / den) if den > 0 else 0.0
    xbar = d18_9(sx / n) if n > 0 else 0.0
    ya = F.col("y").cast("double") - F.lit(theta) * (
        F.col("x").cast("double") - F.lit(xbar)
    )
    d2812 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    per_v = base.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("y"))).alias("vy"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("vyy"),
        F.sum(d2812(ya)).alias("va"),
        F.sum(d2812(ya * ya)).alias("vaa"),
    )
    nv = F.col("n").cast("double")
    vy = F.col("vy").cast("double")
    vyy = F.col("vyy").cast("double")
    va = F.col("va").cast("double")
    vaa = F.col("vaa").cast("double")
    ok = F.col("n") > 1
    var_raw = (vyy - vy * vy / nv) / (nv - 1.0)
    var_adj = (vaa - va * va / nv) / (nv - 1.0)
    return per_v.select(
        "variant",
        "n",
        F.round(vy / nv, 6).alias("mean_raw"),
        F.round(va / nv, 6).alias("mean_adj"),
        F.round(F.when(ok, var_raw), 6).alias("var_raw"),
        F.round(F.when(ok, var_adj), 6).alias("var_adj"),
        F.round(
            F.when(ok & (var_raw > 0), 1.0 - var_adj / var_raw), 6
        ).alias("var_reduction"),
    )


def srm_check(
    df: DataFrame,
    variant_col: str,
    expected_weights: dict,
) -> DataFrame:
    """Sample-ratio-mismatch check -> one row per declared variant
    (variant, n_observed, n_expected, chi2, dof) — chi2/dof repeated
    per row; dof = k−1.

    THE first experiment-health gate (run before any readout, CUPED
    included): a chi-square goodness-of-fit of observed assignment
    counts against the DECLARED split

        chi2 = Σ_v (o_v − e_v)² / e_v,   e_v = n·w_v / Σw.

    A significant SRM means the assignment or logging pipeline is
    broken and every downstream metric is untrustworthy (Fabijan et
    al. 2019). Rows with variants outside the declared set are counted
    and FAIL the check loudly (a raise) — an undeclared bucket is
    itself an SRM.

    Relational shape: ONE fact-sized hash aggregate to the k-row
    variant relation; weights are plan literals; per-variant terms are
    exact doubles of integer counts and double literals — fixed-order,
    oracle-replayable with no quantization.
    """
    if not expected_weights or len(expected_weights) < 2:
        raise ValueError("need >= 2 declared variants")
    if any(w <= 0 for w in expected_weights.values()):
        raise ValueError("expected weights must be > 0")
    spark = df.sparkSession
    k = len(expected_weights)
    counts = {
        r["v"]: r["c"]
        for r in df.groupBy(
            F.col(variant_col).cast("string").alias("v")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .collect()
    }
    declared = {str(v) for v in expected_weights}
    undeclared = {v: c for v, c in counts.items() if v not in declared}
    if undeclared:
        raise ValueError(
            f"srm_check: undeclared variants observed: {undeclared}"
        )
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    n = sum(counts.get(str(v), 0) for v in expected_weights)
    wsum = float(sum(expected_weights.values()))
    rows = []
    per = []
    q12 = Decimal("0.000000000001")
    # per-variant terms quantized to decimal(28,12) before the sum —
    # order-free, so the oracle's SUM() needs no term ordering
    chi2_d = Decimal(0)
    for v, wt in expected_weights.items():
        o = counts.get(str(v), 0)
        e = float(n) * (float(wt) / wsum)
        per.append((str(v), o, e))
        if e > 0:
            term = (float(o) - e) * (float(o) - e) / e
            chi2_d += Decimal(repr(term)).quantize(
                q12, rounding=ROUND_HALF_UP
            )
    chi2 = float(chi2_d)

    def r6(x):
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    for v, o, e in per:
        rows.append((v, o, r6(e), r6(chi2), k - 1))
    return spark.createDataFrame(
        rows,
        "variant string, n_observed long, n_expected double,"
        " chi2 double, dof int",
    )


def ipw_ate(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    covariate_col: str,
    rounds: int = 4,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect -> one row
    (n, n_treated, ate, mu_treated, mu_control).

    The propensity-based member of the causal family (did_estimator
    compares trends, cem_att matches, rdd_estimator exploits a cutoff;
    IPW reweights): fit e(x) = P(treat | x) by logistic regression,
    then the Hájek (self-normalized, stabilized-weight) estimator

        mu_1 = Σ_T y/e ÷ Σ_T 1/e,   mu_0 = Σ_C y/(1−e) ÷ Σ_C 1/(1−e),
        ATE  = mu_1 − mu_0.

    The propensity fit is IRLS Newton with ONE covariate + intercept:
    each of the bounded ``rounds`` is ONE subject-table hash aggregate
    — per-subject μ = 1/(1+exp(−η)) with the betas as decimal(18,9)
    plan literals (η a fixed-order double chain; the exp is the
    ln-class channel), gradient X'(y−μ) and Hessian X'diag(μ(1−μ))X
    terms quantized decimal(28,12) before order-free sums, the 2×2
    solve in the EXPLICIT Cramer order an SQL oracle replays. The
    final pass computes the four weighted sums the same way. Returns
    NULL estimates when the Hessian is singular or a propensity
    saturates to 0/1 (perfect separation — the never-fabricate rule).
    """
    import math  # noqa: PLC0415
    from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    spark = df.sparkSession
    # fan_out (row-capped ~16) BEFORE the checkpoint: the subject
    # relation is re-scanned every solve round and inherits the
    # source's partitioning — a single-file input would serialize
    # each round onto one task (the glm.py lesson), while an uncapped
    # defaultParallelism width was over-parallelism on this KB..MB
    # working set (driver scaling: 8 cores beat 32 on ipw/pca).
    # Per-round decimal sums are exact, so row order cannot move a
    # value.
    subj = df.select(
        F.col(treat_col).cast("int").alias("tr"),
        F.col(outcome_col).cast("decimal(18,6)").alias("y"),
        F.col(covariate_col).cast("decimal(18,6)").alias("x"),
    ).filter(
        F.col("tr").isNotNull()
        & F.col("y").isNotNull()
        & F.col("x").isNotNull()
    ).transform(_fan_out_capped).localCheckpoint(eager=True)
    tot = subj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("tr").cast("long").alias("nt"),
    ).first()
    n, nt = tot["n"], tot["nt"]

    q9 = Decimal("0.000000001")

    def d18_9(v: float) -> float:
        return float(Decimal(repr(v)).quantize(q9, rounding=ROUND_HALF_UP))

    def r6(v: float) -> float:
        return float(
            Decimal(repr(v)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    if not n or not nt or nt == n:
        return spark.createDataFrame(
            [(n or 0, nt or 0, None, None, None)],
            "n long, n_treated long, ate double, mu_treated double,"
            " mu_control double",
        )

    def mu_expr(b0: float, b1: float):
        eta = F.lit(b0) + F.lit(b1) * F.col("x").cast("double")
        return (
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-eta)))
            .cast("decimal(18,9)")
            .cast("double")
        )

    d2812 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    b0, b1 = 0.0, 0.0
    degenerate = False
    for _ in range(rounds):
        mu = mu_expr(d18_9(b0), d18_9(b1))
        trd = F.col("tr").cast("double")
        xd = F.col("x").cast("double")
        w = mu * (F.lit(1.0) - mu)
        row = subj.agg(
            F.sum(d2812(trd - mu)).alias("g0"),
            F.sum(d2812((trd - mu) * xd)).alias("g1"),
            F.sum(d2812(w)).alias("h00"),
            F.sum(d2812(w * xd)).alias("h01"),
            F.sum(d2812((w * xd) * xd)).alias("h11"),
        ).first()
        g0 = float(row["g0"]) if row["g0"] is not None else 0.0
        g1 = float(row["g1"]) if row["g1"] is not None else 0.0
        h00 = float(row["h00"]) if row["h00"] is not None else 0.0
        h01 = float(row["h01"]) if row["h01"] is not None else 0.0
        h11 = float(row["h11"]) if row["h11"] is not None else 0.0
        det = h00 * h11 - h01 * h01
        if det <= 0 or h00 <= 0 or h11 <= 0:
            degenerate = True
            break
        b0 = float(d18_9(b0 + (g0 * h11 - g1 * h01) / det))
        b1 = float(d18_9(b1 + (h00 * g1 - h01 * g0) / det))
    if degenerate:
        rows = [(n, nt, None, None, None)]
    else:
        mu = mu_expr(d18_9(b0), d18_9(b1))
        yd = F.col("y").cast("double")
        is_t = F.col("tr") == 1
        ok_e = (mu > 0.0) & (mu < 1.0)
        wrow = subj.agg(
            F.sum(
                F.when(is_t & ok_e, d2812(yd / mu))
            ).alias("sy1"),
            F.sum(
                F.when(is_t & ok_e, d2812(F.lit(1.0) / mu))
            ).alias("sw1"),
            F.sum(
                F.when(
                    (~is_t) & ok_e, d2812(yd / (F.lit(1.0) - mu))
                )
            ).alias("sy0"),
            F.sum(
                F.when(
                    (~is_t) & ok_e, d2812(F.lit(1.0) / (F.lit(1.0) - mu))
                )
            ).alias("sw0"),
            F.sum(
                F.when(~ok_e, F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("n_sat"),
        ).first()
        if (
            wrow["n_sat"]
            or wrow["sw1"] is None
            or wrow["sw0"] is None
            or float(wrow["sw1"]) <= 0
            or float(wrow["sw0"]) <= 0
        ):
            rows = [(n, nt, None, None, None)]
        else:
            mu1 = float(wrow["sy1"]) / float(wrow["sw1"])
            mu0 = float(wrow["sy0"]) / float(wrow["sw0"])
            rows = [(n, nt, r6(mu1 - mu0), r6(mu1), r6(mu0))]
    return spark.createDataFrame(
        rows,
        "n long, n_treated long, ate double, mu_treated double,"
        " mu_control double",
    )


def ipw_fragments(p: int, trim_eps: float | None = None) -> dict:
    """Shared Spark/DuckDB SQL fragments for the p-covariate IPW fit —
    the single source of truth both ipw_ate_multi and its oracle
    consume, so the two engines execute the same text (the
    granger_fragments discipline, timeseries.py).

    Expects a subject relation with columns tr (int), y
    (decimal(18,6)), x1..xp (decimal(18,6)) and a 1-row betas relation
    b0..bp (doubles). Returns:

    - ``mu``: the propensity expression over b0..bp and x1..xp —
      sigmoid of the fixed left-to-right linear predictor, quantized
      decimal(18,9) (the exp is the one libm channel).
    - ``agg_terms``: (name, expr) aggregate list for one IRLS round —
      gradient g0..gp and Hessian upper-triangle h{j}_{k} terms, each
      per-subject double cast to decimal(28,12) before its order-free
      sum, plus MIN-carried betas.
    - ``solve_steps(round_idx)``: the named fixed-order double sequence
      solving H·delta = g via unrolled no-pivot Gaussian elimination
      (_gauss_steps — H = X'WX is SPD) and emitting nb0..nbp, the
      decimal(18,9)-requantized updated betas, NULL-gated on every
      pivot > 0 (the never-fabricate rule; NULL betas then propagate
      through remaining rounds to NULL outputs).
    - ``final_terms``: the Hájek weighted sums, the per-arm propensity
      overlap MIN/MAX report, and the excluded-subject count under
      ``oke`` (strict 0<e<1 when trim_eps is None, else the
      [eps, 1-eps] trim band).
    - ``outputs``: output-column exprs over the final aggregate row.
    """
    from .timeseries import _gauss_steps  # noqa: PLC0415

    if p < 1 or p > 8:
        raise ValueError(f"p must be in 1..8, got {p}")
    m = p + 1
    eta = "b0"
    for j in range(1, m):
        eta += f" + b{j} * CAST(x{j} AS DOUBLE)"
    mu = (
        f"CAST(CAST(1.0 / (1.0 + exp(-({eta})))"
        " AS DECIMAL(18,9)) AS DOUBLE)"
    )
    w = f"{mu} * (1.0 - {mu})"
    agg_terms = [
        (
            "g0",
            f"CAST(SUM(CAST(CAST(tr AS DOUBLE) - {mu}"
            " AS DECIMAL(28,12))) AS DOUBLE)",
        )
    ]
    for j in range(1, m):
        agg_terms.append(
            (
                f"g{j}",
                f"CAST(SUM(CAST((CAST(tr AS DOUBLE) - {mu})"
                f" * CAST(x{j} AS DOUBLE) AS DECIMAL(28,12)))"
                " AS DOUBLE)",
            )
        )
    agg_terms.append(
        (
            "h0_0",
            f"CAST(SUM(CAST({w} AS DECIMAL(28,12))) AS DOUBLE)",
        )
    )
    for k in range(1, m):
        agg_terms.append(
            (
                f"h0_{k}",
                f"CAST(SUM(CAST({w} * CAST(x{k} AS DOUBLE)"
                " AS DECIMAL(28,12))) AS DOUBLE)",
            )
        )
    for j in range(1, m):
        for k in range(j, m):
            agg_terms.append(
                (
                    f"h{j}_{k}",
                    f"CAST(SUM(CAST(({w} * CAST(x{j} AS DOUBLE))"
                    f" * CAST(x{k} AS DOUBLE) AS DECIMAL(28,12)))"
                    " AS DOUBLE)",
                )
            )
    for j in range(m):
        agg_terms.append((f"b{j}", f"MIN(b{j})"))

    def solve_steps(round_idx: int):
        a_names = {
            (j, k): f"h{j}_{k}" for j in range(m) for k in range(j, m)
        }
        b_names = [f"g{j}" for j in range(m)]
        steps, deltas, diag = _gauss_steps(
            m, a_names, b_names, f"s{round_idx}"
        )
        ok = " AND ".join(f"{d} > 0" for d in dict.fromkeys(diag))
        for j in range(m):
            steps.append(
                (
                    f"nb{j}",
                    f"CASE WHEN {ok} THEN CAST(CAST(b{j} + {deltas[j]}"
                    " AS DECIMAL(18,9)) AS DOUBLE) ELSE NULL END",
                )
            )
        return steps

    if trim_eps is None:
        oke = f"{mu} > 0.0 AND {mu} < 1.0"
    else:
        e_txt = repr(float(trim_eps))
        oke = f"{mu} >= {e_txt} AND {mu} <= 1.0 - {e_txt}"
    final_terms = [
        ("n", "CAST(COUNT(*) AS BIGINT)"),
        ("nt", "CAST(COALESCE(SUM(tr), 0) AS BIGINT)"),
        (
            "sy1",
            f"CAST(SUM(CASE WHEN tr = 1 AND {oke} THEN"
            f" CAST(CAST(y AS DOUBLE) / {mu} AS DECIMAL(28,12))"
            " END) AS DOUBLE)",
        ),
        (
            "sw1",
            f"CAST(SUM(CASE WHEN tr = 1 AND {oke} THEN"
            f" CAST(1.0 / {mu} AS DECIMAL(28,12)) END) AS DOUBLE)",
        ),
        (
            "sy0",
            f"CAST(SUM(CASE WHEN tr = 0 AND {oke} THEN"
            f" CAST(CAST(y AS DOUBLE) / (1.0 - {mu})"
            " AS DECIMAL(28,12)) END) AS DOUBLE)",
        ),
        (
            "sw0",
            f"CAST(SUM(CASE WHEN tr = 0 AND {oke} THEN"
            f" CAST(1.0 / (1.0 - {mu}) AS DECIMAL(28,12)) END)"
            " AS DOUBLE)",
        ),
        (
            "n_excl",
            f"CAST(COALESCE(SUM(CASE WHEN NOT ({oke}) THEN 1 ELSE 0"
            " END), 0) AS BIGINT)",
        ),
        ("e_min_t", f"MIN(CASE WHEN tr = 1 THEN {mu} END)"),
        ("e_max_t", f"MAX(CASE WHEN tr = 1 THEN {mu} END)"),
        ("e_min_c", f"MIN(CASE WHEN tr = 0 THEN {mu} END)"),
        ("e_max_c", f"MAX(CASE WHEN tr = 0 THEN {mu} END)"),
    ]
    if trim_eps is None:
        valid = (
            "nt > 0 AND nt < n AND n_excl = 0"
            " AND sw1 > 0 AND sw0 > 0"
        )
    else:
        valid = "nt > 0 AND nt < n AND sw1 > 0 AND sw0 > 0"
    outputs = {
        "n": "n",
        "n_treated": "nt",
        "ate": (
            f"round(CASE WHEN {valid} THEN (sy1 / sw1) - (sy0 / sw0)"
            " END, 6)"
        ),
        "mu_treated": f"round(CASE WHEN {valid} THEN sy1 / sw1 END, 6)",
        "mu_control": f"round(CASE WHEN {valid} THEN sy0 / sw0 END, 6)",
        "e_min_treated": "round(e_min_t, 6)",
        "e_max_treated": "round(e_max_t, 6)",
        "e_min_control": "round(e_min_c, 6)",
        "e_max_control": "round(e_max_c, 6)",
        "n_excluded": "n_excl",
    }
    return {
        "mu": mu,
        "agg_terms": agg_terms,
        "solve_steps": solve_steps,
        "final_terms": final_terms,
        "outputs": outputs,
        "m": m,
    }


def ipw_ate_multi(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    covariate_cols: list[str],
    rounds: int = 4,
    trim_eps: float | None = None,
) -> DataFrame:
    """Inverse-propensity-weighted ATE with a p-COVARIATE propensity
    fit and an overlap report -> one row (n, n_treated, ate,
    mu_treated, mu_control, e_min_treated, e_max_treated,
    e_min_control, e_max_control, n_excluded).

    The causal family's analog of cox_ph -> cox_ph_multi (VERDICT r8
    #1): real confounding is multivariate, and with one confounder IPW
    mostly re-derives regression adjustment. The propensity
    e(x) = P(treat | x1..xp) is logistic-IRLS fit with intercept +
    p slopes; the estimate is the Hájek (self-normalized) estimator

        mu_1 = Σ_T y/e ÷ Σ_T 1/e,  mu_0 = Σ_C y/(1−e) ÷ Σ_C 1/(1−e).

    Architecture: ONE LAZY PLAN, zero driver collects. Each of the
    bounded ``rounds`` is one hash aggregate over the checkpointed
    subject table (gradient + Hessian upper triangle, every term
    decimal(28,12)-quantized before its order-free sum) cross-joined
    with the previous 1-row betas relation; the (p+1)-dim Newton solve
    is the unrolled no-pivot Gaussian elimination of
    timeseries._gauss_steps evaluated as named column steps — the SQL
    oracle chains the IDENTICAL (name, expr) text (ipw_fragments), so
    operation order is shared by construction at any p <= 8 (closing
    the one-covariate limit of ipw_ate, evaluation.py:839).

    Overlap report (VERDICT r8 #7): min/max fitted propensity per arm
    is always emitted, so near-saturation is visible instead of
    silently dominating the weighted sums. ``trim_eps=None`` keeps
    ipw_ate's strict contract — ANY subject with e(x) saturated to
    exactly 0/1 NULLs the estimate (never-fabricate); ``trim_eps=e``
    instead excludes subjects outside [e, 1-e] from the weighted sums
    (reported as n_excluded) — the standard overlap-trimming
    estimator. NULL estimates also on singular/indefinite Hessian
    (pivot gate) or a single-arm population.

    Scale: subject table scanned rounds+1 times, each a map-side
    combinable aggregate; betas rows broadcast; no window, no join,
    no driver loop — the plan holds at any corpus size.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if not covariate_cols:
        raise ValueError("covariate_cols must name at least one column")
    p = len(covariate_cols)
    frag = ipw_fragments(p, trim_eps)
    m = frag["m"]
    spark = df.sparkSession
    keep = (
        F.col(treat_col).isNotNull() & F.col(outcome_col).isNotNull()
    )
    for c in covariate_cols:
        keep = keep & F.col(c).isNotNull()
    # fan_out (row-capped ~16) BEFORE the checkpoint: the subject
    # relation is re-scanned every solve round and inherits the
    # source's partitioning — a single-file input would serialize
    # each round onto one task (the glm.py lesson), while an uncapped
    # defaultParallelism width was over-parallelism on this KB..MB
    # working set (driver scaling: 8 cores beat 32 on ipw/pca).
    # Per-round decimal sums are exact, so row order cannot move a
    # value.
    subj = df.filter(keep).select(
        F.col(treat_col).cast("int").alias("tr"),
        F.col(outcome_col).cast("decimal(18,6)").alias("y"),
        *[
            F.col(c).cast("decimal(18,6)").alias(f"x{j}")
            for j, c in enumerate(covariate_cols, 1)
        ],
    ).transform(_fan_out_capped).localCheckpoint(eager=True)
    b_cur = spark.range(1).select(
        *[F.lit(0.0).alias(f"b{j}") for j in range(m)]
    )
    for r in range(1, rounds + 1):
        g = subj.crossJoin(F.broadcast(b_cur)).agg(
            *[F.expr(e).alias(nm) for nm, e in frag["agg_terms"]]
        )
        for nm, e in frag["solve_steps"](r):
            g = g.withColumn(nm, F.expr(e))
        b_cur = g.select(
            *[F.col(f"nb{j}").alias(f"b{j}") for j in range(m)]
        )
    fin = subj.crossJoin(F.broadcast(b_cur)).agg(
        *[F.expr(e).alias(nm) for nm, e in frag["final_terms"]]
    )
    return fin.select(
        *[
            F.expr(e).alias(nm)
            for nm, e in frag["outputs"].items()
        ]
    )


def msprt_monitor(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    time_col: str,
    control,
    treatment,
    tau: float,
    period: str = "month",
) -> DataFrame:
    """Always-valid sequential experiment monitoring via the mixture
    SPRT -> one row per calendar period:
    (period, n_treat, n_ctrl, mean_treat, mean_ctrl, diff, ln_lam,
    p_always_valid, p_running).

    Fixed-horizon t-tests are invalid under the peeking a real
    dashboard invites; the mSPRT (Robbins' mixture sequential
    probability ratio test, the Johari-Koomen-Pekelis-Walsh
    "always-valid p-value" design) stays a valid test at EVERY
    interim look. With a N(0, tau^2) mixture over the effect and
    theta_0 = 0:

        Lambda_n = sqrt(V/(V+tau^2)) * exp(tau^2*diff^2 / (2V(V+tau^2)))
        p_n = min(1, 1/Lambda_n),  p_running = min_{m<=n} p_m

    where diff is the running mean difference and
    V = s^2*(1/n_t + 1/n_c) its estimated variance (pooled s^2).
    ``tau`` sets the prior effect scale (same units as the metric);
    rejection at alpha reads "p_running <= alpha", valid whenever the
    experimenter chooses to look. ln(Lambda) is emitted instead of
    Lambda (which overflows a double once evidence is overwhelming).

    Relational shape: one (period) hash collapse of the fact table
    carrying decimal-exact per-arm (n, sum, sum-of-squares), one
    ascending window for the running sums and the running-min, then
    fixed-order double closed forms — all oracle-replayable. The
    windows ride the periods-sized relation, calendar-bounded by
    construction (sequential monitoring is per-day/week/month — even
    30 years of daily looks is ~11k rows), so the whole query is ONE
    lazy job chain with no size gate. Periods with n_t < 2,
    n_c < 2, or zero pooled variance emit NULL ln_lam/p
    (never-fabricate); p_running skips NULL looks.
    """
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    vexpr = F.col(variant_col)
    # NOT fanned out: probed fan_out on the period collapse (the vif
    # idiom) and measured it confounded-worse in the r12 A/B — the
    # collapse is one narrow groupBy, not a p^2 decimal matrix.
    base = df.filter(
        vexpr.isin([control, treatment])
        & F.col(value_col).isNotNull()
        & F.col(time_col).isNotNull()
    ).select(
        F.date_trunc(period, F.col(time_col)).alias("t"),
        (vexpr == treatment).cast("int").alias("tr"),
        F.col(value_col).cast("decimal(18,6)").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    per_t = base.groupBy("t").agg(
        F.sum(dec(F.col("tr").cast("decimal(18,6)"))).alias("nt"),
        F.sum(dec((1 - F.col("tr")).cast("decimal(18,6)"))).alias("nc"),
        F.sum(
            dec(F.when(F.col("tr") == 1, F.col("y")).otherwise(F.lit(0)))
        ).alias("st"),
        F.sum(
            dec(F.when(F.col("tr") == 0, F.col("y")).otherwise(F.lit(0)))
        ).alias("sc"),
        F.sum(
            dec(
                F.when(
                    F.col("tr") == 1, F.col("y") * F.col("y")
                ).otherwise(F.lit(0))
            )
        ).alias("qt"),
        F.sum(
            dec(
                F.when(
                    F.col("tr") == 0, F.col("y") * F.col("y")
                ).otherwise(F.lit(0))
            )
        ).alias("qc"),
    )
    w_run = Window.orderBy(F.col("t").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_t.select(
        "*",
        *[
            F.sum(c).over(w_run).alias(f"s_{c}")
            for c in ["nt", "nc", "st", "sc", "qt", "qc"]
        ],
    )
    cnt = F.col("s_nt").cast("double")
    cnc = F.col("s_nc").cast("double")
    cst = F.col("s_st").cast("double")
    csc = F.col("s_sc").cast("double")
    cqt = F.col("s_qt").cast("double")
    cqc = F.col("s_qc").cast("double")
    mean_t = cst / cnt
    mean_c = csc / cnc
    diff = mean_t - mean_c
    s2 = (
        (cqt - cst * cst / cnt) + (cqc - csc * csc / cnc)
    ) / (cnt + cnc - 2.0)
    v = s2 * (1.0 / cnt + 1.0 / cnc)
    t2 = float(tau) * float(tau)
    ln_lam = 0.5 * F.log(v / (v + F.lit(t2))) + F.lit(t2) * diff * diff / (
        2.0 * v * (v + F.lit(t2))
    )
    ok = (cnt > 1.0) & (cnc > 1.0) & (s2 > 0.0)
    p = F.least(F.lit(1.0), F.exp(-ln_lam))
    staged = cum.select(
        "t",
        F.col("s_nt").cast("long").alias("n_treat"),
        F.col("s_nc").cast("long").alias("n_ctrl"),
        F.when(cnt > 0, F.round(mean_t, 6)).alias("mean_treat"),
        F.when(cnc > 0, F.round(mean_c, 6)).alias("mean_ctrl"),
        # + 0.0 collapses IEEE negative zero (round(-1e-9, 6) is
        # -0.0 in DuckDB, 0.0 in Spark — the one repr divergence)
        F.when((cnt > 0) & (cnc > 0), F.round(diff, 6) + F.lit(0.0)).alias(
            "diff"
        ),
        F.when(ok, F.round(ln_lam, 6) + F.lit(0.0)).alias("ln_lam"),
        F.when(ok, F.round(p, 6)).alias("p_always_valid"),
        F.when(ok, p).alias("__p_raw"),
    )
    return staged.withColumn(
        "p_running", F.round(F.min("__p_raw").over(w_run), 6)
    ).drop("__p_raw").withColumnRenamed("t", "period")


def aipw_fragments(p: int, trim_eps: float | None = None) -> dict:
    """Shared Spark/DuckDB SQL fragments for the doubly-robust AIPW
    estimator — extends ipw_fragments (whose IRLS propensity rounds it
    reuses verbatim) with per-arm OLS outcome models and the augmented
    influence-function pass, so operator and oracle execute identical
    text (the granger_fragments discipline, timeseries.py).

    Expects the ipw subject relation (tr int, y decimal(18,6),
    x1..xp decimal(18,6)) plus a 1-row params relation carrying the
    fitted propensity betas b0..bp AND the two arm-OLS coefficient
    sets c1_0..c1_p / c0_0..c0_p. Adds to the ipw dict:

    - ``ols_terms``: ONE aggregate emitting both arms' normal
      equations — X'X upper triangles o{a}_{j}_{k} and X'y vectors
      t{a}_{j} (X_0 = 1), every per-subject product decimal(28,12)-
      quantized before its order-free sum.
    - ``ols_steps``: two _gauss_steps chains (prefix ols1/ols0, SPD,
      no pivot) emitting the decimal(18,9)-requantized coefficients
      c{a}_{j}, NULL-gated on every pivot > 0 (never-fabricate; a
      rank-deficient or undersized arm NULLs the whole estimate).
    - ``final_terms`` / ``outputs``: the AIPW arm means

        mu_1 = (1/n_kept) Σ [ m1(x) + T (y - m1(x)) / e(x) ]
        mu_0 = (1/n_kept) Σ [ m0(x) + (1-T)(y - m0(x)) / (1-e(x)) ]

      with m_a(x) the fixed left-to-right arm-a linear predictor and
      e(x) the ipw propensity; ate = mu_1 - mu_0. Same overlap report
      and trim/strict-NULL contract as ipw_ate_multi (oke gate), same
      output schema, so the two estimators are directly comparable.

    Doubly robust: consistent if EITHER the propensity model OR the
    outcome regressions are correct — the reference's docs promise a
    regression layer (documentation/economic_indicators.md:123-126);
    AIPW is that layer fused with the ipw reweighting one.
    """
    from .timeseries import _gauss_steps  # noqa: PLC0415

    base = ipw_fragments(p, trim_eps)
    m = base["m"]
    mu = base["mu"]

    def xj(j: int) -> str:
        return "1.0" if j == 0 else f"CAST(x{j} AS DOUBLE)"

    ols_terms = []
    for a in (1, 0):
        for j in range(m):
            for k in range(j, m):
                ols_terms.append(
                    (
                        f"o{a}_{j}_{k}",
                        f"CAST(SUM(CASE WHEN tr = {a} THEN"
                        f" CAST({xj(j)} * {xj(k)} AS DECIMAL(28,12))"
                        " END) AS DOUBLE)",
                    )
                )
        for j in range(m):
            ols_terms.append(
                (
                    f"t{a}_{j}",
                    f"CAST(SUM(CASE WHEN tr = {a} THEN"
                    f" CAST({xj(j)} * CAST(y AS DOUBLE)"
                    " AS DECIMAL(28,12)) END) AS DOUBLE)",
                )
            )

    def ols_steps():
        out = []
        for a in (1, 0):
            a_names = {
                (j, k): f"o{a}_{j}_{k}"
                for j in range(m)
                for k in range(j, m)
            }
            b_names = [f"t{a}_{j}" for j in range(m)]
            steps, betas, diag = _gauss_steps(
                m, a_names, b_names, f"ols{a}"
            )
            out.extend(steps)
            ok = " AND ".join(f"{d} > 0" for d in dict.fromkeys(diag))
            for j in range(m):
                out.append(
                    (
                        f"c{a}_{j}",
                        f"CASE WHEN {ok} THEN CAST(CAST({betas[j]}"
                        " AS DECIMAL(18,9)) AS DOUBLE) ELSE NULL END",
                    )
                )
        return out

    m1 = "c1_0"
    m0 = "c0_0"
    for j in range(1, m):
        m1 += f" + c1_{j} * CAST(x{j} AS DOUBLE)"
        m0 += f" + c0_{j} * CAST(x{j} AS DOUBLE)"
    if trim_eps is None:
        oke = f"{mu} > 0.0 AND {mu} < 1.0"
    else:
        e_txt = repr(float(trim_eps))
        oke = f"{mu} >= {e_txt} AND {mu} <= 1.0 - {e_txt}"
    t1 = (
        f"({m1}) + CAST(tr AS DOUBLE)"
        f" * (CAST(y AS DOUBLE) - ({m1})) / {mu}"
    )
    t0 = (
        f"({m0}) + (1.0 - CAST(tr AS DOUBLE))"
        f" * (CAST(y AS DOUBLE) - ({m0})) / (1.0 - {mu})"
    )
    final_terms = [
        ("n", "CAST(COUNT(*) AS BIGINT)"),
        ("nt", "CAST(COALESCE(SUM(tr), 0) AS BIGINT)"),
        (
            "nk",
            f"CAST(COALESCE(SUM(CASE WHEN {oke} THEN 1 ELSE 0 END), 0)"
            " AS BIGINT)",
        ),
        (
            "s1",
            f"CAST(SUM(CASE WHEN {oke} THEN"
            f" CAST({t1} AS DECIMAL(28,12)) END) AS DOUBLE)",
        ),
        (
            "s0",
            f"CAST(SUM(CASE WHEN {oke} THEN"
            f" CAST({t0} AS DECIMAL(28,12)) END) AS DOUBLE)",
        ),
        (
            "n_excl",
            f"CAST(COALESCE(SUM(CASE WHEN NOT ({oke}) THEN 1 ELSE 0"
            " END), 0) AS BIGINT)",
        ),
        ("e_min_t", f"MIN(CASE WHEN tr = 1 THEN {mu} END)"),
        ("e_max_t", f"MAX(CASE WHEN tr = 1 THEN {mu} END)"),
        ("e_min_c", f"MIN(CASE WHEN tr = 0 THEN {mu} END)"),
        ("e_max_c", f"MAX(CASE WHEN tr = 0 THEN {mu} END)"),
        ("pb", "MIN(b0)"),
        ("pc1", "MIN(c1_0)"),
        ("pc0", "MIN(c0_0)"),
    ]
    valid = (
        "pb IS NOT NULL AND pc1 IS NOT NULL AND pc0 IS NOT NULL"
        " AND nt > 0 AND nt < n AND nk > 0"
    )
    if trim_eps is None:
        valid += " AND n_excl = 0"
    outputs = {
        "n": "n",
        "n_treated": "nt",
        "ate": (
            f"round(CASE WHEN {valid} THEN (s1 - s0)"
            " / CAST(nk AS DOUBLE) END, 6)"
        ),
        "mu_treated": (
            f"round(CASE WHEN {valid} THEN s1 / CAST(nk AS DOUBLE)"
            " END, 6)"
        ),
        "mu_control": (
            f"round(CASE WHEN {valid} THEN s0 / CAST(nk AS DOUBLE)"
            " END, 6)"
        ),
        "e_min_treated": "round(e_min_t, 6)",
        "e_max_treated": "round(e_max_t, 6)",
        "e_min_control": "round(e_min_c, 6)",
        "e_max_control": "round(e_max_c, 6)",
        "n_excluded": "n_excl",
    }
    return {
        **base,
        "ols_terms": ols_terms,
        "ols_steps": ols_steps,
        "aipw_final_terms": final_terms,
        "aipw_outputs": outputs,
    }


def aipw_ate(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    covariate_cols: list[str],
    rounds: int = 4,
    trim_eps: float | None = None,
) -> DataFrame:
    """Doubly-robust (augmented IPW) ATE -> one row with the
    ipw_ate_multi output schema (n, n_treated, ate, mu_treated,
    mu_control, per-arm propensity min/max, n_excluded).

    Completes the causal triad: DiD/CEM (design), IPW (reweighting),
    AIPW (reweighting x outcome regression). The estimator augments
    each arm's regression prediction m_a(x) with the inverse-
    propensity-weighted residual, so it stays consistent if EITHER
    model is right and attains the semiparametric efficiency bound
    when both are.

    Architecture: ONE LAZY PLAN, zero driver collects —
    1. logistic-IRLS propensity, ``rounds`` bounded rounds, each ONE
       decimal-quantized aggregate over the checkpointed subject
       table (ipw_fragments verbatim);
    2. per-arm OLS outcome models from ONE further aggregate (both
       arms' normal equations as CASE-gated sums) solved by the same
       fixed-order no-pivot Gauss text (SPD, pivot>0 NULL gate);
    3. one final augmented pass with the fitted (p+1)+2(p+1) params
       broadcast as a 1-row relation.
    Total subject scans: rounds + 2, all map-side combinable — the
    plan holds at any corpus size. The SQL oracle chains the
    IDENTICAL fragment text, keeping the estimator hash-certified at
    any p <= 8.

    ``trim_eps`` as in ipw_ate_multi: None = strict (any saturated
    propensity NULLs the estimate), eps = overlap-trim band with
    n_excluded reported.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if not covariate_cols:
        raise ValueError("covariate_cols must name at least one column")
    p = len(covariate_cols)
    frag = aipw_fragments(p, trim_eps)
    m = frag["m"]
    spark = df.sparkSession
    keep = (
        F.col(treat_col).isNotNull() & F.col(outcome_col).isNotNull()
    )
    for c in covariate_cols:
        keep = keep & F.col(c).isNotNull()
    # Repartition BEFORE the checkpoint: the subject relation is
    # re-scanned every solve round and inherits the source's
    # partitioning — a single-file input would serialize each round
    # onto one task (the glm.py lesson). Kept UNCAPPED here (unlike
    # ipw/glm/pca): aipw is the one estimator the driver's scaling
    # block shows benefiting from full width (ratio 1.23), and the
    # row-capped fan_out measured 1.04-1.11x WORSE in the r12 A/B.
    # Per-round decimal sums are exact, so row order cannot move a
    # value.
    subj = df.filter(keep).select(
        F.col(treat_col).cast("int").alias("tr"),
        F.col(outcome_col).cast("decimal(18,6)").alias("y"),
        *[
            F.col(c).cast("decimal(18,6)").alias(f"x{j}")
            for j, c in enumerate(covariate_cols, 1)
        ],
    ).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    b_cur = spark.range(1).select(
        *[F.lit(0.0).alias(f"b{j}") for j in range(m)]
    )
    for r in range(1, rounds + 1):
        g = subj.crossJoin(F.broadcast(b_cur)).agg(
            *[F.expr(e).alias(nm) for nm, e in frag["agg_terms"]]
        )
        for nm, e in frag["solve_steps"](r):
            g = g.withColumn(nm, F.expr(e))
        b_cur = g.select(
            *[F.col(f"nb{j}").alias(f"b{j}") for j in range(m)]
        )
    ols = subj.agg(
        *[F.expr(e).alias(nm) for nm, e in frag["ols_terms"]]
    )
    for nm, e in frag["ols_steps"]():
        ols = ols.withColumn(nm, F.expr(e))
    coef = ols.select(
        *[F.col(f"c1_{j}") for j in range(m)],
        *[F.col(f"c0_{j}") for j in range(m)],
    )
    params = b_cur.crossJoin(coef)
    fin = subj.crossJoin(F.broadcast(params)).agg(
        *[F.expr(e).alias(nm) for nm, e in frag["aipw_final_terms"]]
    )
    return fin.select(
        *[
            F.expr(e).alias(nm)
            for nm, e in frag["aipw_outputs"].items()
        ]
    )


def iv_2sls(
    df: DataFrame,
    outcome_col: str,
    endog_col: str,
    instrument_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """Just-identified instrumental-variables regression (2SLS with
    one endogenous regressor, one instrument, intercept) -> one row
    per group: (group?, n, beta0, beta1, se_beta1, t_beta1,
    f_first_stage).

    Completes the causal family's identification toolbox: DiD
    (trends), CEM (matching), RDD (cutoff), IPW/AIPW (reweighting /
    doubly robust) all assume no unobserved confounding; IV is the
    estimator for when the regressor itself is endogenous and an
    exclusion-restriction instrument z exists. The Wald/2SLS closed
    form:

        beta1 = cov(z, y) / cov(z, x),   beta0 = ybar - beta1 xbar
        Var(beta1) = s^2 * S_zz / S_zx^2,  s^2 = RSS_IV / (n - 2)

    plus the weak-instrument diagnostic every applied paper reports:
    the first-stage F of x on z, F = (S_zx^2 / S_zz) / (RSS_1/(n-2))
    (rule of thumb: F < 10 = weak instrument, the estimate is
    unreliable regardless of its t-stat).

    Relational shape (the newey_west/adf_test discipline): ONE hash
    aggregate of decimal(38,12)-exact sums of decimal(18,6)-quantized
    inputs per group, then O(1) fixed-order double closed forms —
    fully oracle-replayable, and the plan is a single map-side
    combinable aggregate at any corpus size. NULL outputs
    (never-fabricate) when n <= 2, the instrument is constant
    (S_zz = 0), cov(z, x) = 0 (no first stage), or residual variance
    degenerates.
    """
    gcols = [group_col] if group_col else []
    base = df.filter(
        F.col(outcome_col).isNotNull()
        & F.col(endog_col).isNotNull()
        & F.col(instrument_col).isNotNull()
    ).select(
        *gcols,
        F.col(outcome_col).cast("decimal(18,6)").alias("y"),
        F.col(endog_col).cast("decimal(18,6)").alias("x"),
        F.col(instrument_col).cast("decimal(18,6)").alias("z"),
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    sums = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("z"))).alias("sz"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(dec(F.col("z") * F.col("z"))).alias("szz"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("z") * F.col("x"))).alias("szx"),
        F.sum(dec(F.col("z") * F.col("y"))).alias("szy"),
    )
    # fixed-order doubles over the exact sums — the oracle replays
    # this exact expression text (parenthesized association).
    n = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    czx = d("szx") - d("sz") * d("sx") / n
    czy = d("szy") - d("sz") * d("sy") / n
    czz = d("szz") - d("sz") * d("sz") / n
    cxx = d("sxx") - d("sx") * d("sx") / n
    cxy = d("sxy") - d("sx") * d("sy") / n
    cyy = d("syy") - d("sy") * d("sy") / n
    staged = sums.select(
        *gcols,
        "n",
        n.alias("nd"),
        czx.alias("czx"),
        czy.alias("czy"),
        czz.alias("czz"),
        cxx.alias("cxx"),
        cxy.alias("cxy"),
        cyy.alias("cyy"),
        (d("sx") / n).alias("xbar"),
        (d("sy") / n).alias("ybar"),
    )
    # every division NULL-guarded (ANSI mode raises on x/0 even for
    # doubles; degenerate groups must flow to NULL, not crash the job
    # — the _gauss_steps div discipline). The oracle uses the same
    # CASE-guard text, value-identical whenever the divisor != 0.
    dv = F.try_divide
    ok1 = (
        (F.col("n") > 2) & (F.col("czz") > 0) & (F.col("czx") != 0)
    )
    b1 = dv(F.col("czy"), F.col("czx"))
    b0 = F.col("ybar") - b1 * F.col("xbar")
    rss = F.col("cyy") - 2.0 * b1 * F.col("cxy") + b1 * b1 * F.col("cxx")
    s2 = dv(rss, F.col("nd") - 2.0)
    se = dv(F.sqrt(s2 * F.col("czz")), F.abs(F.col("czx")))
    rss1 = F.col("cxx") - dv(
        F.col("czx") * F.col("czx"), F.col("czz")
    )
    fstat = dv(
        dv(F.col("czx") * F.col("czx"), F.col("czz")),
        dv(rss1, F.col("nd") - 2.0),
    )
    zero = F.lit(0.0)
    out = staged.select(
        *gcols,
        "n",
        F.when(ok1, F.round(b0, 6) + zero).alias("beta0"),
        F.when(ok1, F.round(b1, 6) + zero).alias("beta1"),
        F.when(ok1 & (s2 > 0), F.round(se, 6)).alias("se_beta1"),
        F.when(ok1 & (s2 > 0), F.round(dv(b1, se), 6) + zero).alias(
            "t_beta1"
        ),
        F.when(ok1 & (rss1 > 0), F.round(fstat, 6)).alias(
            "f_first_stage"
        ),
    )
    return out


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 test -> one row
    (n_strata, n, chi2_cmh, or_mh, reject_5pct).

    The experimentation family's Simpson's-paradox guard: a pooled
    2x2 chi-square on stratified assignment (by country, platform,
    cohort...) confounds stratum with treatment; CMH tests the
    treatment-outcome association WITHIN strata and combines:

        chi2 = (Σ_i a_i − Σ_i E_i)² / Σ_i V_i
        E_i = n1_i m1_i / n_i
        V_i = n1_i (n_i−n1_i) m1_i (n_i−m1_i) / (n_i² (n_i−1))

    (no continuity correction, 1 dof) plus the Mantel-Haenszel pooled
    odds ratio OR = Σ(a_i d_i/n_i) / Σ(b_i c_i/n_i) — the classic
    common-effect estimate that stays valid with many small strata
    where per-stratum ORs are undefined. reject_5pct compares chi2 to
    the 1-dof 5% critical value 3.841459 (the chi_square convention:
    statistic + decision, no p-value libm channel).

    Relational shape: ONE fact-sized hash aggregate to the strata
    relation (conditional integer counts — exact), strata with
    n_i < 2 dropped (V undefined; documented), then ONE further
    aggregate of decimal(28,12)-quantized per-stratum terms and O(1)
    fixed-order doubles. Oracle-replayable; map-side combinable at
    any corpus size. NULL chi2 when ΣV = 0; NULL OR when Σbc/n = 0.
    """
    tr = F.col(treat_col).cast("int")
    oc = F.col(outcome_col).cast("int")
    base = df.filter(
        F.col(stratum_col).isNotNull()
        & tr.isNotNull()
        & oc.isNotNull()
    ).select(
        F.col(stratum_col).alias("s"),
        tr.alias("tr"),
        oc.alias("oc"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    strata = base.groupBy("s").agg(
        cnt((F.col("tr") == 1) & (F.col("oc") == 1)).alias("a"),
        cnt((F.col("tr") == 1) & (F.col("oc") == 0)).alias("b"),
        cnt((F.col("tr") == 0) & (F.col("oc") == 1)).alias("c"),
        cnt((F.col("tr") == 0) & (F.col("oc") == 0)).alias("d"),
    ).filter((F.col("a") + F.col("b") + F.col("c") + F.col("d")) >= 2)
    ni = (
        F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ).cast("double")
    n1 = (F.col("a") + F.col("b")).cast("double")
    m1 = (F.col("a") + F.col("c")).cast("double")
    q = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    terms = strata.select(
        F.col("a"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("ni"),
        q(n1 * m1 / ni).alias("e_i"),
        q(
            n1 * (ni - n1) * m1 * (ni - m1) / (ni * ni * (ni - 1.0))
        ).alias("v_i"),
        q(F.col("a").cast("double") * F.col("d").cast("double") / ni).alias(
            "ad_n"
        ),
        q(F.col("b").cast("double") * F.col("c").cast("double") / ni).alias(
            "bc_n"
        ),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("ni").cast("long").alias("n"),
        F.sum(F.col("a")).cast("long").alias("sa"),
        F.sum(q(F.col("e_i"))).alias("se"),
        F.sum(q(F.col("v_i"))).alias("sv"),
        F.sum(q(F.col("ad_n"))).alias("sad"),
        F.sum(q(F.col("bc_n"))).alias("sbc"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dev = d("sa") - d("se")
    chi2 = F.try_divide(dev * dev, d("sv"))
    or_mh = F.try_divide(d("sad"), d("sbc"))
    return agg.select(
        "n_strata",
        "n",
        F.when(d("sv") > 0, F.round(chi2, 6)).alias("chi2_cmh"),
        F.when(
            (d("sbc") > 0) & (d("sad") >= 0), F.round(or_mh, 6)
        ).alias("or_mh"),
        F.when(d("sv") > 0, chi2 > 3.841459).alias("reject_5pct"),
    )


def mde_report(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    control,
    treatment,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """Minimum-detectable-effect report for a two-arm experiment ->
    one row (n_treat, n_ctrl, mean_ctrl, se_diff, mde_abs, mde_rel).

    The pre-readout sizing gate that pairs with srm_check and
    msprt_monitor: BEFORE interpreting a non-significant difference,
    check what effect the experiment could actually have detected.
    With pooled variance s² and the standard normal approximation,

        se_diff = sqrt(s² (1/n_t + 1/n_c))
        mde_abs = (z_{1−α/2} + z_{power}) · se_diff
        mde_rel = mde_abs / mean_ctrl

    A "flat" readout whose mde_rel is 20% says nothing about a 2%
    effect — that is the inference this row prevents.

    The z quantiles are resolved DRIVER-SIDE (stdlib NormalDist
    inverse CDF — a deterministic rational approximation) and enter
    the plan as double literals, so the data path needs no erf/Phi:
    it is ONE decimal-exact per-arm aggregate (n, Σy, Σy²) and
    fixed-order double closed forms — oracle-replayable verbatim,
    map-side combinable at any corpus size. NULLs (never-fabricate)
    when either arm has n < 2 or pooled variance degenerates.
    """
    from statistics import NormalDist  # noqa: PLC0415

    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    if not 0 < power < 1:
        raise ValueError(f"power must be in (0,1), got {power}")
    z_alpha = NormalDist().inv_cdf(1.0 - alpha / 2.0)
    z_power = NormalDist().inv_cdf(power)
    zsum = F.lit(z_alpha + z_power)
    vexpr = F.col(variant_col)
    base = df.filter(
        vexpr.isin([control, treatment]) & F.col(value_col).isNotNull()
    ).select(
        (vexpr == treatment).cast("int").alias("tr"),
        F.col(value_col).cast("decimal(18,6)").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    zero = F.lit(0).cast("decimal(18,6)")
    sums = base.agg(
        F.sum(dec(F.col("tr").cast("decimal(18,6)"))).alias("nt"),
        F.sum(dec((1 - F.col("tr")).cast("decimal(18,6)"))).alias("nc"),
        F.sum(
            dec(F.when(F.col("tr") == 1, F.col("y")).otherwise(zero))
        ).alias("st"),
        F.sum(
            dec(F.when(F.col("tr") == 0, F.col("y")).otherwise(zero))
        ).alias("sc"),
        F.sum(
            dec(
                F.when(
                    F.col("tr") == 1, F.col("y") * F.col("y")
                ).otherwise(zero)
            )
        ).alias("qt"),
        F.sum(
            dec(
                F.when(
                    F.col("tr") == 0, F.col("y") * F.col("y")
                ).otherwise(zero)
            )
        ).alias("qc"),
    )
    d = lambda c: F.coalesce(F.col(c).cast("double"), F.lit(0.0))  # noqa: E731
    nt, nc = d("nt"), d("nc")
    st, sc, qt, qc = d("st"), d("sc"), d("qt"), d("qc")
    s2 = F.try_divide(
        (qt - F.try_divide(st * st, nt))
        + (qc - F.try_divide(sc * sc, nc)),
        nt + nc - 2.0,
    )
    se = F.sqrt(s2 * (F.try_divide(F.lit(1.0), nt) + F.try_divide(F.lit(1.0), nc)))
    mean_c = F.try_divide(sc, nc)
    mde = zsum * se
    ok = (nt > 1.0) & (nc > 1.0) & (s2 > 0.0)
    return sums.select(
        F.col("nt").cast("long").alias("n_treat"),
        F.col("nc").cast("long").alias("n_ctrl"),
        F.when(nc > 0.0, F.round(mean_c, 6)).alias("mean_ctrl"),
        F.when(ok, F.round(se, 6)).alias("se_diff"),
        F.when(ok, F.round(mde, 6)).alias("mde_abs"),
        F.when(
            ok & (mean_c != 0.0),
            F.round(F.try_divide(mde, F.abs(mean_c)), 6),
        ).alias("mde_rel"),
    )


def roc_auc_ci(
    df: DataFrame, label_col: str = "label", score_col: str = "score"
) -> DataFrame:
    """Tie-corrected AUC with the DeLong standard error and 95% CI ->
    one row (auc, se, ci_lo, ci_hi, n_pos, n_neg).

    roc_auc emits the point estimate; comparing two classifiers (or
    one against 0.5) needs its sampling variance. DeLong et al. 1988:
    with midrank placements V10_i = (neg below pos i + ½ ties)/N and
    V01_j symmetric,

        Var(AUC) = S10/P + S01/N,
        S10 = Σ_pos (V10 − AUC)²/(P−1),  S01 symmetric.

    Crucially the placements are CONSTANT WITHIN A SCORE GROUP, so
    both variance components reduce to sums over the distinct-score
    relation — the roc_auc posture exactly: a 100 TB corpus with a
    6-decimal score reduces to <= 2e6 rows before any window, and the
    size-gated ordered_cumsum (distributed past its gate) does the
    ranking. Each (V − AUC)² group term is
    decimal(28,12)-quantized before its order-free sum; the z
    quantile is the stdlib literal (the mde_report rule). NULL
    se/CI when either class has < 2 members (never-fabricate).
    """
    from .stats import ordered_cumsum  # noqa: PLC0415

    z95 = 1.9599639845400536  # NormalDist().inv_cdf(0.975)
    g = ordered_cumsum(
        _score_groups(df, label_col, score_col),
        "score",
        ["n_pos", "n_neg"],
        exclusive=True,
    ).localCheckpoint(eager=True)
    tot = g.agg(
        F.sum("n_pos").cast("long").alias("p"),
        F.sum("n_neg").cast("long").alias("n"),
        F.sum(
            (
                F.col("n_pos")
                * (F.col("cum_n_neg").cast("double") + 0.5 * F.col("n_neg"))
            ).cast("decimal(28,12)")
        ).alias("c"),
    )
    pd_ = F.col("p").cast("double")
    nd_ = F.col("n").cast("double")
    auc_raw = F.try_divide(F.col("c").cast("double"), pd_ * nd_)
    joined = g.crossJoin(
        F.broadcast(tot.withColumn("auc_raw", auc_raw))
    )
    v10 = F.try_divide(
        F.col("cum_n_neg").cast("double") + 0.5 * F.col("n_neg"),
        F.col("n").cast("double"),
    )
    pos_above = (
        F.col("p") - F.col("cum_n_pos") - F.col("n_pos")
    ).cast("double")
    v01 = F.try_divide(
        pos_above + 0.5 * F.col("n_pos"), F.col("p").cast("double")
    )
    a = F.col("auc_raw")
    var_terms = joined.select(
        "p",
        "n",
        "auc_raw",
        (
            F.col("n_pos").cast("double") * ((v10 - a) * (v10 - a))
        ).cast("decimal(28,12)").alias("t10"),
        (
            F.col("n_neg").cast("double") * ((v01 - a) * (v01 - a))
        ).cast("decimal(28,12)").alias("t01"),
    )
    agg = var_terms.groupBy("p", "n", "auc_raw").agg(
        F.sum("t10").cast("double").alias("s10"),
        F.sum("t01").cast("double").alias("s01"),
    )
    ok = (F.col("p") > 1) & (F.col("n") > 1)
    pd2 = F.col("p").cast("double")
    nd2 = F.col("n").cast("double")
    var = F.try_divide(F.col("s10"), pd2 - 1.0) / pd2 + F.try_divide(
        F.col("s01"), nd2 - 1.0
    ) / nd2
    se = F.sqrt(var)
    return agg.select(
        F.round(F.col("auc_raw"), 6).alias("auc"),
        F.when(ok, F.round(se, 6)).alias("se"),
        F.when(
            ok,
            F.round(F.greatest(F.lit(0.0), F.col("auc_raw") - F.lit(z95) * se), 6),
        ).alias("ci_lo"),
        F.when(
            ok,
            F.round(F.least(F.lit(1.0), F.col("auc_raw") + F.lit(z95) * se), 6),
        ).alias("ci_hi"),
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
    )


def event_study(
    df: DataFrame,
    treat_col: str,
    rel_period_col: str,
    value_col: str,
    base_period: int = -1,
) -> DataFrame:
    """Event-study (dynamic difference-in-differences) -> one row per
    relative period: (rel_period, n_treat, n_ctrl, diff, coef,
    se_diff).

    did_estimator collapses treatment into one pre/post contrast;
    the event study is its per-period expansion and the modern DiD
    diagnostic: coef_r = (mean_T − mean_C)_r − (mean_T − mean_C)_base
    normalizes the treated-control gap to the base period (default
    −1, the last pre-period). Flat coefs BEFORE the event are the
    parallel-trends evidence; the post-event path is the dynamic
    effect. se_diff is the per-period two-sample standard error of
    the raw gap (Welch form), emitted so pre-trend flatness can be
    judged against noise.

    Relational shape: ONE fact-sized hash aggregate to the
    periods-sized relation (per period x arm decimal-exact n, Σy,
    Σy²), the base-period row broadcast back, O(1) fixed-order
    double closed forms per row. NULL coef when the base period is
    missing; NULL se when either arm has n < 2 in that period.
    """
    tr = F.col(treat_col).cast("int")
    base = df.filter(
        tr.isNotNull()
        & F.col(rel_period_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(rel_period_col).cast("long").alias("r"),
        tr.alias("tr"),
        F.col(value_col).cast("decimal(18,6)").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    zero6 = F.lit(0).cast("decimal(18,6)")
    per = base.groupBy("r").agg(
        F.sum(F.col("tr")).cast("long").alias("nt"),
        F.sum(1 - F.col("tr")).cast("long").alias("nc"),
        F.sum(
            dec(F.when(F.col("tr") == 1, F.col("y")).otherwise(zero6))
        ).alias("st"),
        F.sum(
            dec(F.when(F.col("tr") == 0, F.col("y")).otherwise(zero6))
        ).alias("sc"),
        F.sum(
            dec(
                F.when(F.col("tr") == 1, F.col("y") * F.col("y"))
                .otherwise(zero6)
            )
        ).alias("qt"),
        F.sum(
            dec(
                F.when(F.col("tr") == 0, F.col("y") * F.col("y"))
                .otherwise(zero6)
            )
        ).alias("qc"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    nt, nc = d("nt"), d("nc")
    mt = dv(d("st"), nt)
    mc = dv(d("sc"), nc)
    diff = mt - mc
    vt = dv(d("qt") - dv(d("st") * d("st"), nt), nt - 1.0)
    vc = dv(d("qc") - dv(d("sc") * d("sc"), nc), nc - 1.0)
    se = F.sqrt(dv(vt, nt) + dv(vc, nc))
    staged = per.withColumn("diff_raw", diff)
    # 1-row aggregate, NOT a filter: a missing base period must yield
    # NULL coefs, not an empty result (the crossJoin-with-empty trap
    # caught on the first anchor of this operator's contract query)
    b = staged.agg(
        F.min(
            F.when(F.col("r") == base_period, F.col("diff_raw"))
        ).alias("base_diff")
    )
    joined = staged.crossJoin(F.broadcast(b))
    okd = (F.col("nt") > 0) & (F.col("nc") > 0)
    okse = (F.col("nt") > 1) & (F.col("nc") > 1) & (vt >= 0) & (vc >= 0)
    zero = F.lit(0.0)
    return joined.select(
        F.col("r").alias("rel_period"),
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_ctrl"),
        F.when(okd, F.round(F.col("diff_raw"), 6) + zero).alias("diff"),
        F.when(
            okd & F.col("base_diff").isNotNull(),
            F.round(F.col("diff_raw") - F.col("base_diff"), 6) + zero,
        ).alias("coef"),
        F.when(okse, F.round(se, 6)).alias("se_diff"),
    )


def _yuen_threshold(base: DataFrame, trim: float) -> DataFrame:
    """yuen_ttest's scale path: percentile-threshold trim/winsorize.

    TWO aggregates, zero windows: one per-arm percentile pass (the
    certified exact-interpolation channel) for the lo/hi fences, one
    conditional pass for interior sums + clamp counts. Winsorized
    moments use the fence VALUES for the clamped tails, so all sums
    are decimal-quantized per term; the trimmed count h is whatever
    the fences leave inside (differs from rank-trim by boundary
    ties/interpolation only).
    """
    tl = float(trim)
    fences = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.percentile(F.col("v").cast("double"), tl).alias("lo"),
        F.percentile(F.col("v").cast("double"), 1.0 - tl).alias("hi"),
    )
    j = base.join(F.broadcast(fences), "g")
    vd = F.col("v").cast("double")
    interior = (vd >= F.col("lo")) & (vd <= F.col("hi"))
    q28 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    per_g = j.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum(F.when(interior, 1).otherwise(0))
        .cast("long")
        .alias("h"),
        F.sum(F.when(vd < F.col("lo"), 1).otherwise(0))
        .cast("long")
        .alias("n_lo"),
        F.sum(F.when(vd > F.col("hi"), 1).otherwise(0))
        .cast("long")
        .alias("n_hi"),
        F.sum(F.when(interior, q28(vd))).cast("double").alias("s_int"),
        F.sum(F.when(interior, q28(vd * vd)))
        .cast("double")
        .alias("s2_int"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    nd = d("n")
    hd = d("h")
    sw = d("s_int") + d("n_lo") * F.col("lo") + d("n_hi") * F.col("hi")
    sww = (
        d("s2_int")
        + d("n_lo") * F.col("lo") * F.col("lo")
        + d("n_hi") * F.col("hi") * F.col("hi")
    )
    tmean = dv(d("s_int"), hd)
    var_w = dv(sww - dv(sw * sw, nd), nd - F.lit(1.0))
    dterm = dv((nd - F.lit(1.0)) * var_w, hd * (hd - F.lit(1.0)))
    stats = per_g.select(
        "g",
        F.col("n"),
        hd.alias("h"),
        tmean.alias("tm"),
        dterm.alias("dt"),
    )
    one = stats.groupBy().agg(
        F.max(F.when(F.col("g") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("g") == "b", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("g") == "a", F.col("h"))).alias("h_a"),
        F.max(F.when(F.col("g") == "b", F.col("h"))).alias("h_b"),
        F.max(F.when(F.col("g") == "a", F.col("tm"))).alias("tm_a"),
        F.max(F.when(F.col("g") == "b", F.col("tm"))).alias("tm_b"),
        F.max(F.when(F.col("g") == "a", F.col("dt"))).alias("dt_a"),
        F.max(F.when(F.col("g") == "b", F.col("dt"))).alias("dt_b"),
    )
    diff = F.col("tm_a") - F.col("tm_b")
    se2 = F.col("dt_a") + F.col("dt_b")
    t = F.try_divide(diff, F.sqrt(se2))
    dfree = F.try_divide(
        se2 * se2,
        F.try_divide(
            F.col("dt_a") * F.col("dt_a"), F.col("h_a") - F.lit(1.0)
        )
        + F.try_divide(
            F.col("dt_b") * F.col("dt_b"), F.col("h_b") - F.lit(1.0)
        ),
    )
    ok = (
        (F.col("h_a") > 1)
        & (F.col("h_b") > 1)
        & F.col("dt_a").isNotNull()
        & F.col("dt_b").isNotNull()
        & (se2 > 0)
    )
    return one.select(
        "n_a",
        "n_b",
        F.col("h_a").cast("long").alias("h_a"),
        F.col("h_b").cast("long").alias("h_b"),
        F.when(ok, F.round(F.col("tm_a"), 6)).alias("tmean_a"),
        F.when(ok, F.round(F.col("tm_b"), 6)).alias("tmean_b"),
        F.when(ok, F.round(diff, 6)).alias("diff"),
        F.when(ok, F.round(t, 6)).alias("t_stat"),
        F.when(ok, F.round(dfree, 6)).alias("df"),
        F.when(ok, F.abs(t) > F.lit(1.959964)).alias("reject_5pct"),
    )


def yuen_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    trim: float = 0.2,
    method: str | None = None,
) -> DataFrame:
    """Yuen's trimmed-means t-test -> ONE row (n_a, n_b, h_a, h_b,
    tmean_a, tmean_b, diff, t_stat, df, reject_5pct).

    The robust two-sample location test (Yuen 1974): compare
    gamma-trimmed means with winsorized-variance standard errors —
    what a careful experimenter reaches for when effect_sizes shows
    heavy tails that make the plain t/z read off outliers. g =
    floor(trim*n) observations are trimmed from EACH side; variance
    uses the winsorized sample; df is Welch-Satterthwaite on the
    trimmed counts h = n - 2g. reject_5pct uses the normal 1.959964
    critical value (documented approximation, accurate for h > 30 —
    the regime any warehouse-scale experiment lives in).

    Relational shape: ONE rank window per group (row_number + count —
    tie order provably cannot change any output: boundary order
    statistics and interior sums are multiset functions) feeding ONE
    conditional aggregate of decimal-exact interior sums plus the two
    boundary order statistics; winsorized sums are then g*lo + g*hi
    arithmetic on exact decimals — no second scan, no winsorized
    materialization. Inputs floor-quantized decimal(18,6) (portable
    at money midpoints). NULLs when h <= 1 on either side.

    ``method``: "rank" (the certified path above — but its per-arm
    rank window is ONE sort partition per arm, a wall at warehouse
    scale), "threshold" (the scale path: trim/winsorize against the
    exact interpolated percentiles at trim and 1-trim through the
    certified percentile channel — no window anywhere; counts drop
    #(v < lo)/#(v > hi) instead of exactly floor(trim*n) per side, so
    boundary ties shift h by O(ties) and the statistics by O(1/n)),
    or None (default): auto-gate to "threshold" above 2,000,000 input
    rows — the bradley_terry/markov size-gate pattern.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    if not 0.0 <= trim < 0.5:
        raise ValueError(f"trim must be in [0, 0.5), got {trim}")
    if method not in (None, "rank", "threshold"):
        raise ValueError(f"unknown method {method!r}")

    def _q6(c):
        return (
            F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).cast("decimal(18,6)")

    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.when(F.col(group_col) == F.lit(group_a), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("g"),
        _q6(F.col(value_col).cast("double")).alias("v"),
    )
    if method is None:
        method = "threshold" if base.count() > 2_000_000 else "rank"
    # The chosen kernel is emitted as an output column: with the
    # auto-gate, statistically (slightly) different h/t/df come out of
    # the two algorithms purely as a function of input SIZE — silent
    # switching is a trap for anyone diffing results across scales.
    # Hash-certified contract use should pass method explicitly (the
    # contract query pins "rank"), which also skips the gate's count().
    if method == "threshold":
        return _yuen_threshold(base, trim).withColumn(
            "method", F.lit("threshold")
        )
    w = Window.partitionBy("g").orderBy("v")
    ranked = base.select(
        "g",
        "v",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("g"))
        .alias("n"),
    ).withColumn(
        "gt", F.floor(F.lit(float(trim)) * F.col("n")).cast("long")
    )
    interior = (F.col("rk") > F.col("gt")) & (
        F.col("rk") <= F.col("n") - F.col("gt")
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    per_g = ranked.groupBy("g").agg(
        F.max("n").cast("long").alias("n"),
        F.max("gt").alias("gt"),
        F.sum(F.when(interior, dec(F.col("v")))).alias("s_int"),
        F.sum(
            F.when(interior, dec(F.col("v") * F.col("v")))
        ).alias("s2_int"),
        F.max(
            F.when(F.col("rk") == F.col("gt") + 1, F.col("v"))
        ).alias("lo"),
        F.max(
            F.when(
                F.col("rk") == F.col("n") - F.col("gt"), F.col("v")
            )
        ).alias("hi"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    gd = d("gt")
    nd = d("n")
    hd = nd - F.lit(2.0) * gd
    # winsorized sums: interior (decimal-exact) + g copies of each
    # boundary, tail arithmetic in a FIXED double chain — decimal
    # long-x-decimal scale rules differ between engines, doubles are
    # IEEE-identical
    d_lo = F.col("lo").cast("double")
    d_hi = F.col("hi").cast("double")
    sw = F.col("s_int").cast("double") + gd * (d_lo + d_hi)
    sww = F.col("s2_int").cast("double") + gd * (
        d_lo * d_lo + d_hi * d_hi
    )
    tmean = dv(d("s_int"), hd)
    var_w = dv(sww - dv(sw * sw, nd), nd - F.lit(1.0))
    dterm = dv((nd - F.lit(1.0)) * var_w, hd * (hd - F.lit(1.0)))
    stats = per_g.select(
        "g",
        F.col("n"),
        hd.alias("h"),
        tmean.alias("tm"),
        dterm.alias("dt"),
    )
    one = stats.groupBy().agg(
        F.max(F.when(F.col("g") == "a", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("g") == "b", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("g") == "a", F.col("h"))).alias("h_a"),
        F.max(F.when(F.col("g") == "b", F.col("h"))).alias("h_b"),
        F.max(F.when(F.col("g") == "a", F.col("tm"))).alias("tm_a"),
        F.max(F.when(F.col("g") == "b", F.col("tm"))).alias("tm_b"),
        F.max(F.when(F.col("g") == "a", F.col("dt"))).alias("dt_a"),
        F.max(F.when(F.col("g") == "b", F.col("dt"))).alias("dt_b"),
    )
    diff = F.col("tm_a") - F.col("tm_b")
    se2 = F.col("dt_a") + F.col("dt_b")
    t = dv(diff, F.sqrt(se2))
    dfree = dv(
        se2 * se2,
        dv(
            F.col("dt_a") * F.col("dt_a"), F.col("h_a") - F.lit(1.0)
        )
        + dv(
            F.col("dt_b") * F.col("dt_b"), F.col("h_b") - F.lit(1.0)
        ),
    )
    ok = (
        (F.col("h_a") > 1)
        & (F.col("h_b") > 1)
        & F.col("dt_a").isNotNull()
        & F.col("dt_b").isNotNull()
        & (se2 > 0)
    )
    return one.select(
        "n_a",
        "n_b",
        F.col("h_a").cast("long").alias("h_a"),
        F.col("h_b").cast("long").alias("h_b"),
        F.when(ok, F.round(F.col("tm_a"), 6)).alias("tmean_a"),
        F.when(ok, F.round(F.col("tm_b"), 6)).alias("tmean_b"),
        F.when(ok, F.round(diff, 6)).alias("diff"),
        F.when(ok, F.round(t, 6)).alias("t_stat"),
        F.when(ok, F.round(dfree, 6)).alias("df"),
        F.when(ok, F.abs(t) > F.lit(1.959964)).alias("reject_5pct"),
        F.lit("rank").alias("method"),
    )


def tost_equivalence(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    margin: float,
) -> DataFrame:
    """TOST equivalence test -> ONE row (n_a, n_b, mean_a, mean_b,
    diff, se, z_lower, z_upper, equivalent_5pct).

    Two One-Sided Tests (Schuirmann 1987): the experiment readout
    that can CONFIRM "no meaningful difference" — a non-significant
    ab_ztest never does. H0: |mu_a − mu_b| >= margin; equivalence is
    declared when BOTH one-sided z statistics clear the one-sided 5%
    normal critical 1.644854: z_lower = (diff + margin)/se and
    z_upper = (margin − diff)/se, Welch se. The standard gate for
    "the cheap variant is as good" decisions.

    ONE decimal-exact aggregate (n, Σv, Σv² per arm, conditional) —
    map-side combinable, no windows, no joins; fixed-order doubles
    after. NULLs when either arm has n < 2 or zero variance on both.
    """
    if margin <= 0:
        raise ValueError(f"margin must be > 0, got {margin}")

    def _q6(c):
        return (
            F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).cast("decimal(18,6)")

    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        F.when(F.col(group_col) == F.lit(group_a), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("g"),
        _q6(F.col(value_col).cast("double")).alias("v"),
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    agg = base.groupBy().agg(
        *[
            F.sum(
                F.when(F.col("g") == arm, F.lit(1)).otherwise(0)
            )
            .cast("long")
            .alias(f"n_{arm}")
            for arm in ("a", "b")
        ],
        *[
            F.sum(
                F.when(F.col("g") == arm, dec(F.col("v")))
            ).alias(f"s_{arm}")
            for arm in ("a", "b")
        ],
        *[
            F.sum(
                F.when(
                    F.col("g") == arm, dec(F.col("v") * F.col("v"))
                )
            ).alias(f"q_{arm}")
            for arm in ("a", "b")
        ],
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    out = {}
    for arm in ("a", "b"):
        nd = d(f"n_{arm}")
        out[f"m_{arm}"] = dv(d(f"s_{arm}"), nd)
        out[f"v_{arm}"] = dv(
            d(f"q_{arm}") - dv(d(f"s_{arm}") * d(f"s_{arm}"), nd),
            nd - F.lit(1.0),
        )
    diff = out["m_a"] - out["m_b"]
    se = F.sqrt(
        dv(out["v_a"], d("n_a")) + dv(out["v_b"], d("n_b"))
    )
    mg = F.lit(float(margin))
    z_lo = dv(diff + mg, se)
    z_hi = dv(mg - diff, se)
    ok = (F.col("n_a") > 1) & (F.col("n_b") > 1) & (se > 0)
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, F.round(out["m_a"], 6)).alias("mean_a"),
        F.when(ok, F.round(out["m_b"], 6)).alias("mean_b"),
        F.when(ok, F.round(diff, 6)).alias("diff"),
        F.when(ok, F.round(se, 6)).alias("se"),
        F.when(ok, F.round(z_lo, 6)).alias("z_lower"),
        F.when(ok, F.round(z_hi, 6)).alias("z_upper"),
        F.when(
            ok,
            (z_lo > F.lit(1.644854)) & (z_hi > F.lit(1.644854)),
        ).alias("equivalent_5pct"),
    )


def within_estimator(
    df: DataFrame,
    y_col: str,
    x_col: str,
    entity_col: str,
) -> DataFrame:
    """One-way fixed-effects (within) estimator -> ONE row
    (n, n_entities, beta, se, within_r2).

    The workhorse panel regression: sweep out every entity's
    time-invariant level by demeaning within entity, then OLS on the
    deviations — identical to OLS with entity dummies but without
    materializing them (the Frisch-Waugh-Lovell shortcut, exact for
    one-way FE on any unbalanced panel). What did_estimator assumes
    in two groups, this estimates from the full panel. se is the
    conventional (homoskedastic) within SE with the n - n_entities -
    1 degree-of-freedom correction; pair with newey_west residuals
    when serial correlation matters.

    Shape: ONE per-entity aggregate of decimal-exact (n, Σx, Σy)
    joined back (AQE picks broadcast vs shuffle — the entity relation
    is |entities|-sized), then ONE global aggregate of
    decimal(28,12)-quantized demeaned products; fixed-order doubles
    after. The demeaned values are double arithmetic on exact-sum
    means — both engines execute the identical chain. NULLs when
    every entity is a singleton (no within variance) or degenerate x.
    """
    base = df.filter(
        F.col(y_col).isNotNull()
        & F.col(x_col).isNotNull()
        & F.col(entity_col).isNotNull()
    ).select(
        F.col(entity_col).alias("e"),
        F.col(x_col).cast("decimal(18,6)").alias("x"),
        F.col(y_col).cast("decimal(18,6)").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    q28 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    ent = base.groupBy("e").agg(
        F.count(F.lit(1)).cast("long").alias("ne"),
        F.sum(dec(F.col("x"))).cast("double").alias("sxe"),
        F.sum(dec(F.col("y"))).cast("double").alias("sye"),
    )
    j = base.join(ent, "e")
    xd = F.col("x").cast("double") - F.col("sxe") / F.col("ne").cast(
        "double"
    )
    yd = F.col("y").cast("double") - F.col("sye") / F.col("ne").cast(
        "double"
    )
    agg = j.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct(F.col("e")).cast("long").alias("k"),
        F.sum(q28(xd * xd)).cast("double").alias("sxx"),
        F.sum(q28(xd * yd)).cast("double").alias("sxy"),
        F.sum(q28(yd * yd)).cast("double").alias("syy"),
    )
    beta = dv(d("sxy"), d("sxx"))
    rss = d("syy") - beta * d("sxy")
    dof = d("n") - d("k") - F.lit(1.0)
    se = F.sqrt(dv(dv(rss, dof), d("sxx")))
    r2 = F.lit(1.0) - dv(rss, d("syy"))
    ok = (F.col("sxx") > 0) & (F.col("syy") > 0) & (dof > 0)
    return agg.select(
        "n",
        F.col("k").alias("n_entities"),
        F.when(ok, F.round(beta, 6)).alias("beta"),
        F.when(ok, F.round(se, 6)).alias("se"),
        F.when(ok, F.round(r2, 6)).alias("within_r2"),
    )


def mediation_sobel(
    df: DataFrame,
    x_col: str,
    m_col: str,
    y_col: str,
) -> DataFrame:
    """Baron-Kenny mediation with the Sobel test -> ONE row
    (n, a, b, c_total, c_prime, indirect, sobel_z, prop_mediated).

    "Does X move Y *through* M?" — the standard three-equation
    decomposition: a from M ~ X, (c_prime, b) from Y ~ X + M, total
    c from Y ~ X; indirect = a*b with Sobel's SE
    sqrt(b^2 Va + a^2 Vb). prop_mediated = indirect / c_total (NULL
    when c_total = 0). The causal-family companion to did/ipw: those
    estimate THAT X moves Y, this splits the channel.

    ONE decimal-exact aggregate of the ten cross-moments (n, Σx, Σm,
    Σy, Σxx, Σmm, Σyy, Σxm, Σxy, Σmy), then a fixed-order double
    formula tree (Cramer 2x2 for the two-covariate fit) both engines
    replay. NULLs on collinear X/M or n < 4.
    """
    base = df.filter(
        F.col(x_col).isNotNull()
        & F.col(m_col).isNotNull()
        & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("decimal(18,6)").alias("x"),
        F.col(m_col).cast("decimal(18,6)").alias("m"),
        F.col(y_col).cast("decimal(18,6)").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    agg = base.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("m"))).alias("sm"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("m") * F.col("m"))).alias("smm"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(dec(F.col("x") * F.col("m"))).alias("sxm"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("m") * F.col("y"))).alias("smy"),
    )
    nd = d("n")
    cxx = d("sxx") - dv(d("sx") * d("sx"), nd)
    cmm = d("smm") - dv(d("sm") * d("sm"), nd)
    cyy = d("syy") - dv(d("sy") * d("sy"), nd)
    cxm = d("sxm") - dv(d("sx") * d("sm"), nd)
    cxy = d("sxy") - dv(d("sx") * d("sy"), nd)
    cmy = d("smy") - dv(d("sm") * d("sy"), nd)
    # M ~ X
    a = dv(cxm, cxx)
    rss_a = cmm - a * cxm
    va = dv(dv(rss_a, nd - F.lit(2.0)), cxx)
    # Y ~ X + M (centered Cramer 2x2)
    det = cxx * cmm - cxm * cxm
    c_prime = dv(cxy * cmm - cmy * cxm, det)
    b = dv(cmy * cxx - cxy * cxm, det)
    rss_y = cyy - c_prime * cxy - b * cmy
    sig2 = dv(rss_y, nd - F.lit(3.0))
    vb = dv(sig2 * cxx, det)
    # Y ~ X (total)
    c_tot = dv(cxy, cxx)
    indirect = a * b
    sobel_se = F.sqrt(b * b * va + a * a * vb)
    ok = (
        (F.col("n") > 3)
        & (cxx > 0)
        & (det > 0)
        & a.isNotNull()
        & b.isNotNull()
    )
    return agg.select(
        "n",
        F.when(ok, F.round(a, 6)).alias("a"),
        F.when(ok, F.round(b, 6)).alias("b"),
        F.when(ok, F.round(c_tot, 6)).alias("c_total"),
        F.when(ok, F.round(c_prime, 6)).alias("c_prime"),
        F.when(ok, F.round(indirect, 6)).alias("indirect"),
        F.when(ok, F.round(dv(indirect, sobel_se), 6)).alias(
            "sobel_z"
        ),
        F.when(ok, F.round(dv(indirect, c_tot), 6)).alias(
            "prop_mediated"
        ),
    )


def oaxaca_blinder(
    df: DataFrame,
    y_col: str,
    x_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Oaxaca-Blinder gap decomposition -> ONE row (n_a, n_b, gap,
    explained, unexplained, beta_a, beta_b, xbar_a, xbar_b).

    The classic labor-econ question: how much of the A-vs-B outcome
    gap is composition (different X) vs structure (different returns
    to X)? Using B's coefficients as the reference (the standard
    two-fold split from B's viewpoint):

        gap = ybar_a - ybar_b
        explained   = (xbar_a - xbar_b) * beta_b
        unexplained = gap - explained

    ONE conditional decimal-exact aggregate (both groups' five sums
    in one pass), fixed-order doubles after. The two-fold identity
    explained + unexplained = gap holds by construction (tested).
    NULLs on degenerate x-variance in either group or n < 3.
    """
    base = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(y_col).isNotNull()
        & F.col(x_col).isNotNull()
    ).select(
        F.when(F.col(group_col) == F.lit(group_a), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("g"),
        F.col(x_col).cast("decimal(18,6)").alias("x"),
        F.col(y_col).cast("decimal(18,6)").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    aggs = []
    for arm in ("a", "b"):
        w = F.col("g") == arm
        aggs += [
            F.sum(F.when(w, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{arm}"),
            F.sum(F.when(w, dec(F.col("x")))).alias(f"sx_{arm}"),
            F.sum(F.when(w, dec(F.col("y")))).alias(f"sy_{arm}"),
            F.sum(F.when(w, dec(F.col("x") * F.col("x")))).alias(
                f"sxx_{arm}"
            ),
            F.sum(F.when(w, dec(F.col("x") * F.col("y")))).alias(
                f"sxy_{arm}"
            ),
        ]
    agg = base.groupBy().agg(*aggs)
    out = {}
    for arm in ("a", "b"):
        nd = d(f"n_{arm}")
        cxx = d(f"sxx_{arm}") - dv(
            d(f"sx_{arm}") * d(f"sx_{arm}"), nd
        )
        cxy = d(f"sxy_{arm}") - dv(
            d(f"sx_{arm}") * d(f"sy_{arm}"), nd
        )
        out[f"beta_{arm}"] = dv(cxy, cxx)
        out[f"xbar_{arm}"] = dv(d(f"sx_{arm}"), nd)
        out[f"ybar_{arm}"] = dv(d(f"sy_{arm}"), nd)
        out[f"cxx_{arm}"] = cxx
    gap = out["ybar_a"] - out["ybar_b"]
    explained = (out["xbar_a"] - out["xbar_b"]) * out["beta_b"]
    ok = (
        (F.col("n_a") > 2)
        & (F.col("n_b") > 2)
        & (out["cxx_a"] > 0)
        & (out["cxx_b"] > 0)
    )
    return agg.select(
        "n_a",
        "n_b",
        F.when(ok, F.round(gap, 6)).alias("gap"),
        F.when(ok, F.round(explained, 6)).alias("explained"),
        F.when(ok, F.round(gap - explained, 6)).alias("unexplained"),
        F.when(ok, F.round(out["beta_a"], 6)).alias("beta_a"),
        F.when(ok, F.round(out["beta_b"], 6)).alias("beta_b"),
        F.when(ok, F.round(out["xbar_a"], 6)).alias("xbar_a"),
        F.when(ok, F.round(out["xbar_b"], 6)).alias("xbar_b"),
    )


def brier_decompose(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score -> ONE row
    (n, n_dropped, brier, reliability, resolution, uncertainty,
    brier_binned).

    The forecast-quality split every probabilistic model report
    should carry: brier = reliability - resolution + uncertainty,
    where reliability is calibration error (ece's quadratic cousin),
    resolution is how much the forecast separates outcomes, and
    uncertainty = ybar(1 - ybar) is the no-skill floor. The identity
    holds exactly for bin-mean forecasts (emitted as brier_binned);
    ``brier`` is the raw mean squared error of the unbinned
    probabilities (the within-bin variance gap between the two is the
    binning loss).

    ONE pass to bin (floor(p * n_bins), top edge clamped), one
    bin-level aggregate (exact counts + decimal-quantized prob sums),
    one global fold — map-side combinable throughout. Statistic
    columns are NULL on empty/fully-dropped input (n and n_dropped
    stay exact). Probabilities outside [0, 1] are EXCLUDED from every
    statistic and surfaced in ``n_dropped`` — silent loss is not an
    option for a calibration report.
    """
    if n_bins < 2 or n_bins > 100:
        raise ValueError(f"n_bins must be in 2..100, got {n_bins}")
    nb = F.lit(int(n_bins))
    # Out-of-range probabilities land in sentinel bin -1: they are
    # EXCLUDED from every statistic but COUNTED (n_dropped output) —
    # silent row loss was invisible before (ADVICE r9), unlike sibling
    # operators (fleiss_kappa, cronbach_alpha) that emit n_dropped.
    in_range = (F.col(prob_col) >= 0.0) & (F.col(prob_col) <= 1.0)
    base = df.filter(
        F.col(label_col).isNotNull()
        & F.col(prob_col).isNotNull()
    ).select(
        F.col(label_col).cast("double").alias("y"),
        F.col(prob_col).cast("double").alias("p"),
        F.when(
            in_range,
            F.least(
                F.floor(F.col(prob_col) * nb).cast("long"),
                (nb - F.lit(1)).cast("long"),
            ),
        )
        .otherwise(F.lit(-1).cast("long"))
        .alias("b"),
    )
    q12 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    bins = base.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("nb_"),
        F.sum(q12(F.col("p"))).cast("double").alias("sp"),
        F.sum(F.col("y")).cast("long").alias("sy"),
        F.sum(q12((F.col("p") - F.col("y")) * (F.col("p") - F.col("y"))))
        .cast("double")
        .alias("sq"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    kept = F.col("b") >= 0
    tot = bins.groupBy().agg(
        F.sum(F.when(kept, F.col("nb_")).otherwise(0))
        .cast("long")
        .alias("n"),
        F.sum(F.when(~kept, F.col("nb_")).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum(F.when(kept, F.col("sy"))).cast("long").alias("sy_tot"),
        F.sum(F.when(kept, q12(d("sq"))))
        .cast("double")
        .alias("brier_sum"),
    )
    per_bin = bins.filter(kept).crossJoin(F.broadcast(tot)).select(
        "b",
        "nb_",
        "n",
        dv(d("sp"), d("nb_")).alias("pbar"),
        dv(d("sy"), d("nb_")).alias("ybar_b"),
        dv(d("sy_tot"), d("n")).alias("ybar"),
    )
    rel_t = (
        F.col("nb_").cast("double")
        * (F.col("pbar") - F.col("ybar_b"))
        * (F.col("pbar") - F.col("ybar_b"))
    )
    res_t = (
        F.col("nb_").cast("double")
        * (F.col("ybar_b") - F.col("ybar"))
        * (F.col("ybar_b") - F.col("ybar"))
    )
    fin_bins = per_bin.groupBy().agg(
        F.max("ybar").alias("ybar"),
        F.sum(q12(rel_t)).cast("double").alias("rel_sum"),
        F.sum(q12(res_t)).cast("double").alias("res_sum"),
    )
    # tot (always one row, even when every input row was dropped)
    # carries n / n_dropped; fin_bins carries the bin-level folds.
    fin = tot.crossJoin(F.broadcast(fin_bins))
    nd = d("n")
    rel = dv(d("rel_sum"), nd)
    res = dv(d("res_sum"), nd)
    unc = F.col("ybar") * (F.lit(1.0) - F.col("ybar"))
    ok = F.col("n") > 0
    return fin.select(
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.coalesce(F.col("n_dropped"), F.lit(0))
        .cast("long")
        .alias("n_dropped"),
        F.when(ok, F.round(dv(d("brier_sum"), nd), 6)).alias("brier"),
        F.when(ok, F.round(rel, 6)).alias("reliability"),
        F.when(ok, F.round(res, 6)).alias("resolution"),
        F.when(ok, F.round(unc, 6)).alias("uncertainty"),
        F.when(ok, F.round(rel - res + unc, 6)).alias("brier_binned"),
    )


def qini_curve(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    score_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Qini curve by score decile -> one row per bin, top-scored
    first: (bin, n_t, n_c, resp_t, resp_c, uplift, qini).

    THE uplift-model evaluation (Radcliffe 2007): target by the
    model's score and ask how many INCREMENTAL conversions the
    treated top-k% show over the control baseline scaled to the same
    size: qini_k = cumRt_k - cumRc_k * cumNt_k / cumNc_k. A useless
    score gives a straight line to the endpoint; a good one bulges
    above it. ``uplift`` is the per-bin treated-minus-control rate
    (the decile_lift reading); ``qini`` is the cumulative curve the
    coefficient integrates.

    Scale discipline: bins come from GLOBAL score quantiles through
    the certified percentile channel (the rfm_segments pattern —
    never an ntile sort); per-bin counts are exact integers in ONE
    conditional aggregate; the cumulative fold is a window over the
    n_bins-row relation. Ties at bin edges land deterministically
    (strictly-greater comparison) in both engines.
    """
    if n_bins < 2 or n_bins > 20:
        raise ValueError(f"n_bins must be in 2..20, got {n_bins}")
    base = df.filter(
        F.col(treat_col).isNotNull()
        & F.col(outcome_col).isNotNull()
        & F.col(score_col).isNotNull()
    ).select(
        (F.col(treat_col).cast("double") != 0.0).alias("t"),
        (F.col(outcome_col).cast("double") != 0.0).alias("y"),
        F.col(score_col).cast("double").alias("s"),
    )
    probs = [k / float(n_bins) for k in range(1, n_bins)]
    th = base.agg(
        *[
            F.percentile(F.col("s"), 1.0 - p).alias(f"th_{k}")
            for k, p in enumerate(probs)
        ]
    )
    scored = base.crossJoin(F.broadcast(th))
    # bin 1 = top scores; s > th_0 -> bin 1, else s > th_1 -> 2, ...
    b = F.lit(n_bins)
    for k in reversed(range(len(probs))):
        b = F.when(F.col("s") > F.col(f"th_{k}"), F.lit(k + 1)).otherwise(b)
    bins = scored.select(b.cast("long").alias("bin"), "t", "y").groupBy(
        "bin"
    ).agg(
        F.sum(F.when(F.col("t"), 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(~F.col("t"), 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("t") & F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("resp_t"),
        F.sum(F.when(~F.col("t") & F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("resp_c"),
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    cum = bins.select(
        "bin",
        "n_t",
        "n_c",
        "resp_t",
        "resp_c",
        F.sum("n_t").over(w).cast("double").alias("cnt"),
        F.sum("n_c").over(w).cast("double").alias("cnc"),
        F.sum("resp_t").over(w).cast("double").alias("crt"),
        F.sum("resp_c").over(w).cast("double").alias("crc"),
    )
    uplift = dv(d("resp_t"), d("n_t")) - dv(d("resp_c"), d("n_c"))
    qini = F.col("crt") - F.col("crc") * dv(
        F.col("cnt"), F.col("cnc")
    )
    return cum.select(
        "bin",
        "n_t",
        "n_c",
        "resp_t",
        "resp_c",
        F.round(uplift, 6).alias("uplift"),
        F.round(qini, 6).alias("qini"),
    ).orderBy("bin")


def breslow_day(
    df: DataFrame,
    stratum_col: str,
    treat_col: str,
    outcome_col: str,
) -> DataFrame:
    """Breslow-Day (Tarone-corrected) homogeneity test of the odds
    ratio across strata -> ONE row (n_strata, n, or_mh, bd_chi2, dof,
    reject_5pct).

    cmh_test ASSUMES one common odds ratio and pools; this is the
    gate on that assumption — "is the treatment effect actually the
    same in every stratum, or is the pooled OR averaging away real
    heterogeneity?" Under the common-OR null the fitted count a~_i
    solves the margin-preserving quadratic

        a~^2 (1 - R) + a~ [(n0 - m1) + R (n1 + m1)] - R n1 m1 = 0

    (R = the Mantel-Haenszel pooled OR; the root inside
    [max(0, m1-n0), min(n1, m1)] is taken — both roots are computed
    and range-selected, identical CASE logic in both engines; R
    within 1e-12 of 1 falls back to the independence fit n1 m1 / n).
    Then BD = sum (a_i - a~_i)^2 / V~_i with V~ the harmonic cell
    variance, minus Tarone's (sum(a - a~))^2 / sum V~ correction,
    ~ chi2(K-1). reject_5pct uses the literal critical value for
    dof <= 4 and is NULL beyond (the repo's no-libm-p-value
    convention). Strata where any margin zeroes the fitted table are
    excluded from the sum and from dof (documented, never fabricated).

    Shape: cmh_test's strata collapse verbatim, ONE 1-row pooled-R
    aggregate broadcast back, one per-stratum expression block, one
    final fold — exact integer counts, decimal-quantized term sums,
    fixed-order doubles.
    """
    tr = F.col(treat_col).cast("int")
    oc = F.col(outcome_col).cast("int")
    # NOT fanned out: probed fan_out on the strata collapse (the vif
    # idiom) and measured 1.12x WORSE (r12 A/B) — the collapse's long
    # counts are too cheap to pay the extra exchange for.
    base = df.filter(
        F.col(stratum_col).isNotNull()
        & tr.isNotNull()
        & oc.isNotNull()
    ).select(
        F.col(stratum_col).alias("s"),
        tr.alias("tr"),
        oc.alias("oc"),
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    strata = base.groupBy("s").agg(
        cnt((F.col("tr") == 1) & (F.col("oc") == 1)).alias("a"),
        cnt((F.col("tr") == 1) & (F.col("oc") == 0)).alias("b"),
        cnt((F.col("tr") == 0) & (F.col("oc") == 1)).alias("c"),
        cnt((F.col("tr") == 0) & (F.col("oc") == 0)).alias("d"),
    ).filter(
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")) >= 2
    ).localCheckpoint(eager=True)
    ni = (
        F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ).cast("double")
    q = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    pooled = strata.select(
        q(
            F.col("a").cast("double") * F.col("d").cast("double") / ni
        ).alias("ad_n"),
        q(
            F.col("b").cast("double") * F.col("c").cast("double") / ni
        ).alias("bc_n"),
    ).agg(
        F.sum(q(F.col("ad_n"))).cast("double").alias("sad"),
        F.sum(q(F.col("bc_n"))).cast("double").alias("sbc"),
    )
    dv = F.try_divide
    r_rel = pooled.select(
        F.when(
            F.col("sbc") > 0,
            dv(F.col("sad"), F.col("sbc"))
            .cast("decimal(18,9)")
            .cast("double"),
        ).alias("rr")
    )
    j = strata.crossJoin(F.broadcast(r_rel))
    n1 = (F.col("a") + F.col("b")).cast("double")
    n0 = (F.col("c") + F.col("d")).cast("double")
    m1 = (F.col("a") + F.col("c")).cast("double")
    rr = F.col("rr")
    aa = F.lit(1.0) - rr
    bb = (n0 - m1) + rr * (n1 + m1)
    cc = -rr * n1 * m1
    disc = F.sqrt(bb * bb - F.lit(4.0) * aa * cc)
    r1 = dv(-bb + disc, F.lit(2.0) * aa)
    r2 = dv(-bb - disc, F.lit(2.0) * aa)
    lo = F.greatest(F.lit(0.0), m1 - n0)
    hi = F.least(n1, m1)
    in_range = lambda x: (x > lo) & (x < hi)  # noqa: E731
    indep = dv(n1 * m1, n1 + n0)
    a_fit = F.when(F.abs(aa) < F.lit(1e-12), indep).otherwise(
        F.when(in_range(r1), r1).otherwise(
            F.when(in_range(r2), r2)
        )
    )
    b_fit = n1 - a_fit
    c_fit = m1 - a_fit
    d_fit = n0 - m1 + a_fit
    v_fit = dv(
        F.lit(1.0),
        dv(F.lit(1.0), a_fit)
        + dv(F.lit(1.0), b_fit)
        + dv(F.lit(1.0), c_fit)
        + dv(F.lit(1.0), d_fit),
    )
    usable = (
        a_fit.isNotNull()
        & (a_fit > 0)
        & (b_fit > 0)
        & (c_fit > 0)
        & (d_fit > 0)
    )
    ad = F.col("a").cast("double") - a_fit
    per = j.select(
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias(
            "ni"
        ),
        F.col("rr"),
        F.when(usable, q(dv(ad * ad, v_fit))).alias("bd_t"),
        F.when(usable, q(ad)).alias("dev_t"),
        F.when(usable, q(v_fit)).alias("v_t"),
        F.when(usable, 1).otherwise(0).alias("used"),
    )
    fin = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("ni").cast("long").alias("n"),
        F.max("rr").alias("rr"),
        F.sum(F.col("used")).cast("long").alias("k_used"),
        F.sum(q(F.col("bd_t"))).cast("double").alias("s_bd"),
        F.sum(q(F.col("dev_t"))).cast("double").alias("s_dev"),
        F.sum(q(F.col("v_t"))).cast("double").alias("s_v"),
    )
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    tarone = dv(d_("s_dev") * d_("s_dev"), d_("s_v"))
    bd = d_("s_bd") - tarone
    dof = F.col("k_used") - F.lit(1)
    crit = (
        F.when(dof == 1, F.lit(3.841459))
        .when(dof == 2, F.lit(5.991465))
        .when(dof == 3, F.lit(7.814728))
        .when(dof == 4, F.lit(9.487729))
    )
    ok = (F.col("k_used") > 1) & (d_("s_v") > 0)
    return fin.select(
        "n_strata",
        "n",
        F.round(F.col("rr"), 6).alias("or_mh"),
        F.when(ok, F.round(bd, 6)).alias("bd_chi2"),
        F.when(ok, dof.cast("long")).alias("dof"),
        F.when(ok & crit.isNotNull(), bd > crit).alias(
            "reject_5pct"
        ),
    )
