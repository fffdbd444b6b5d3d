"""Statistical analysis the reference documents but never shipped.

documentation/economic_indicators.md:123-126,136 describes a
forecasting layer with VIF multicollinearity checks over the merged
indicator table; the repo contains no such code. Here it is as engine
operators:

- ``histogram``: equal-width binning as one aggregation (width from a
  broadcast min/max pass or caller-fixed bounds).
- ``corr_pairs``: all pairwise Pearson correlations of a wide table in
  ONE aggregate pass (k*(k-1)/2 corr() expressions — Spark computes
  all of them in a single scan with map-side partials).
- ``vif``: variance inflation factors via the precision-matrix
  identity VIF_i = [inv(R)]_ii where R is the correlation matrix. The
  k x k matrix collects to the driver (k = number of indicator
  columns, tens at most) and inverts in numpy — the canonical hybrid:
  distributed pass for the O(n) scan, driver math for the O(k^3)
  linear algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def histogram(
    df: DataFrame,
    col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """(bin, bin_lo, bin_hi, n) equal-width histogram.

    Bounds default to the column's observed min/max, computed INSIDE
    the plan: the 1-row bounds aggregate broadcast-joins onto the scan,
    so the whole histogram is one lazy job with no driver sync (the
    earlier form collected min/max first — a second job — which at
    cluster scale serializes two full scan latencies). The max value
    lands in the last bin (right-closed there, right-open elsewhere) —
    the standard convention.
    """
    data = df.filter(F.col(col).isNotNull())
    if lo is not None and hi is not None:
        lo_c, hi_c = F.lit(float(lo)), F.lit(float(hi))
        binned = data
    else:
        bounds = data.agg(
            (F.lit(float(lo)) if lo is not None else F.min(col).cast("double")).alias("__lo"),
            (F.lit(float(hi)) if hi is not None else F.max(col).cast("double")).alias("__hi"),
        )
        binned = data.join(F.broadcast(bounds))
        lo_c, hi_c = F.col("__lo"), F.col("__hi")
    width = (hi_c - lo_c) / bins
    width = F.when(width == 0, F.lit(1.0)).otherwise(width)
    bin_idx = F.least(
        F.greatest(F.floor((F.col(col) - lo_c) / width), F.lit(0)), F.lit(bins - 1)
    ).cast("long")
    return (
        binned.groupBy(bin_idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first(lo_c).alias("__lo_v"),
            F.first(width).alias("__w_v"),
        )
        .select(
            "bin",
            F.round(F.col("__lo_v") + F.col("bin") * F.col("__w_v"), 6).alias("bin_lo"),
            F.round(F.col("__lo_v") + (F.col("bin") + 1) * F.col("__w_v"), 6).alias("bin_hi"),
            "n",
        )
    )


def corr_pairs(df: DataFrame, cols: list[str]) -> DataFrame:
    """All pairwise Pearson correlations in one aggregate pass."""
    aggs = []
    names = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            aggs.append(F.round(F.corr(a, b), 6).alias(f"{a}__{b}"))
            names.append((a, b))
    wide = df.agg(*aggs).collect()[0]
    rows = [(a, b, wide[f"{a}__{b}"]) for a, b in names]
    return df.sparkSession.createDataFrame(rows, "col_a string, col_b string, corr double")


def vif(df: DataFrame, cols: list[str]) -> dict[str, float]:
    """Variance inflation factor per column (driver-side k x k inverse).

    VIF_i = 1 / (1 - R_i^2) of regressing column i on the others,
    computed as the diagonal of the inverse correlation matrix. Values
    above ~10 are the usual multicollinearity alarm the reference's
    documentation calls for.
    """
    import numpy as np  # noqa: PLC0415

    k = len(cols)
    aggs = [
        F.corr(cols[i], cols[j]).alias(f"c_{i}_{j}")
        for i in range(k)
        for j in range(i + 1, k)
    ]
    row = df.agg(*aggs).collect()[0]
    r = np.eye(k)
    for i in range(k):
        for j in range(i + 1, k):
            r[i, j] = r[j, i] = row[f"c_{i}_{j}"]
    diag = np.diag(np.linalg.inv(r))
    return {c: float(round(d, 6)) for c, d in zip(cols, diag)}


def category_drift(
    df: DataFrame,
    group_col: str,
    cat_col: str,
) -> DataFrame:
    """Per-group categorical distribution drift vs the corpus-wide
    distribution: KL(P_group || P_corpus) and total variation distance.

    The corpus-monitoring shape for training-data pipelines: "does the
    language (or quality-band, or domain) mix of source X diverge from
    the corpus?" — run per ingestion batch and alert on drift. Both
    divergences come from ONE pass over (group, category) counts:

    - counts:   groupBy(group, cat) — the only data-sized shuffle;
    - P_corpus: a second aggregate over those counts (category-sized),
      broadcast back onto the joint table;
    - KL/TVD:   per-group SUM over the category-sized joint table.

    KL is computed over the categories PRESENT in the group (P=0 terms
    contribute 0 by the 0*log(0)=0 convention; categories absent from a
    group simply have no row). Q > 0 always holds because Q is the
    corpus mix — every category present anywhere is present in Q. TVD
    adds the mass of categories MISSING from the group (|0 - q| summed)
    via the group-total join, so it is the exact 0.5*L1 distance.
    """
    joint = df.groupBy(group_col, cat_col).agg(F.count(F.lit(1)).alias("n"))
    totals = joint.groupBy(group_col).agg(F.sum("n").alias("n_group"))
    corpus = joint.groupBy(cat_col).agg(F.sum("n").alias("n_cat"))
    grand = corpus.agg(F.sum("n_cat").alias("n_all"))
    p = F.col("n").cast("double") / F.col("n_group").cast("double")
    q = F.col("n_cat").cast("double") / F.col("n_all").cast("double")
    per_cat = (
        joint.join(totals, group_col)
        .join(F.broadcast(corpus), cat_col)
        .join(F.broadcast(grand))
        .select(
            group_col,
            (p * F.log(p / q)).alias("kl_term"),
            F.abs(p - q).alias("tv_term"),
            q.alias("q_present"),
        )
    )
    return (
        per_cat.groupBy(group_col)
        .agg(
            F.round(F.sum("kl_term"), 6).alias("kl_divergence"),
            # categories absent from the group contribute |0 - q|
            F.round(
                0.5 * (F.sum("tv_term") + (F.lit(1.0) - F.sum("q_present"))), 6
            ).alias("total_variation"),
        )
    )


def hll_rollup(
    df: DataFrame,
    key_col: str,
    group_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable distinct-count rollup via Datasketches HLL ->
    (group, approx_distinct) per group plus an '__all__' row whose
    sketch is the UNION of the group sketches — never a re-scan.

    The 100 TB pattern for distinct users/documents per dimension:
    exact distinct counts don't roll up (distinct-per-source can't be
    summed into distinct-overall), but HLL sketches merge losslessly.
    One scan builds the per-group sketches; every coarser total —
    all-sources here, or any GROUPING SETS level — is sketch algebra
    on the aggregate outputs (bytes-sized relations). Store the binary
    sketch column in the warehouse and tomorrow's increment merges
    into it without touching today's data.

    lg_k=12 -> 4 KiB sketches, ~1.6% relative standard error
    (accuracy pinned by tests/test_stats.py against the exact count).
    Estimates are engine-specific: the driver records a rows-only
    check; the accuracy bound is the pytest contract.
    """
    sketches = df.groupBy(group_col).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("__sk")
    )
    per_group = sketches.select(
        F.col(group_col).cast("string").alias("group"),
        F.hll_sketch_estimate("__sk").alias("approx_distinct"),
    )
    merged = sketches.agg(F.hll_union_agg("__sk").alias("__sk")).select(
        F.lit("__all__").alias("group"),
        F.hll_sketch_estimate("__sk").alias("approx_distinct"),
    )
    return per_group.unionByName(merged)


def distinct_rollup(
    df: DataFrame,
    key_col: str,
    group_col: str,
) -> DataFrame:
    """EXACT structural twin of :func:`hll_rollup` -> (group, n_distinct)
    per group plus an '__all__' row.

    Same OUTPUT contract as hll_rollup (per-group rows + merged total)
    with integer-exact counts in place of HLL registers, so the rollup
    is oracle-checkable (the ann_ivf_exact pattern: hash-certify the
    contract with an exact twin, bound the approximate variant with a
    pytest accuracy contract). Logically both output rows derive from
    one deduplicated (group, key) pair relation; physically Catalyst
    prunes the '__all__' branch to a single-column scan + distinct
    (checked in tests/test_plans.py) — for an EXACT total that pruned
    re-scan is the cheaper plan, and the sketch variant exists for when
    even one more scan (or a web-scale distinct) is unaffordable.

    Cost honesty: the pair relation is |distinct(group, key)|-sized;
    exact distinct rollups pay that by definition. hll_rollup exists
    precisely to cap it at kilobytes per group — use it when key
    cardinality is web-scale, this twin when exactness matters more.
    """
    pairs = df.groupBy(group_col, key_col).agg(F.count(F.lit(1)).alias("__n"))
    per_group = pairs.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_distinct")
    ).select(F.col(group_col).cast("string").alias("group"), "n_distinct")
    merged = (
        pairs.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("__dup"))
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .select(F.lit("__all__").alias("group"), "n_distinct")
    )
    return per_group.unionByName(merged)


def quantile_rollup(
    df: DataFrame,
    value_col: str,
    group_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    bins: int = 64,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Mergeable quantile estimates -> (group, q, n, est) per group plus
    an '__all__' row whose bins are the SUM of the group bins.

    The rollup-safe quantile shape: exact percentiles don't re-aggregate
    (p99-per-source can't combine into p99-overall), but fixed-boundary
    histogram BINS are additive, so every coarser total derives from
    the group aggregate outputs — the same increment-not-rescan
    discipline as hll_rollup/merge_blooms, and (unlike a t-digest)
    fully deterministic: est is the lower edge of the first bin whose
    cumulative count reaches ceil(q*n), which any engine reproduces
    bit-for-bit (hash-certifiable oracle, no accuracy bound needed —
    the approximation error is the declared bin width itself).

    Cost: ONE data-sized shuffle (group, bin) with map-side combine;
    everything after is bins-sized. Values below ``lo`` land in bin -1
    (est = lo - width), at/above ``hi`` in bin ``bins`` (est = hi);
    NULL/NaN rows are excluded from n (they have no order position).
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if hi <= lo:
        raise ValueError(f"hi must be > lo, got lo={lo}, hi={hi}")
    if not quantiles or any(not (0.0 < q <= 1.0) for q in quantiles):
        raise ValueError(f"quantiles must be in (0, 1], got {quantiles}")
    from pyspark.sql import Window

    width = (hi - lo) / bins
    c = F.col(value_col).cast("double")
    b = (
        F.when(c < lo, F.lit(-1))
        .when(c >= hi, F.lit(bins))
        .otherwise(F.floor((c - lo) / F.lit(width)).cast("int"))
    )
    binned = (
        df.filter(c.isNotNull() & ~F.isnan(c))
        .groupBy(F.col(group_col).cast("string").alias("group"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = binned.groupBy(F.lit("__all__").alias("group"), "bin").agg(
        F.sum("cnt").alias("cnt")
    )
    allb = binned.unionByName(merged)
    wcum = (
        Window.partitionBy("group").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("group")
    cum = allb.select(
        "group", "bin", F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("n"),
    )
    qs = F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q")
    est = F.lit(lo) + F.col("bin").cast("double") * F.lit(width)
    return (
        cum.select("group", "bin", "cum", "n", qs)
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("group", "q")
        .agg(F.min("bin").alias("bin"), F.first("n").alias("n"))
        .select(
            "group", "q", "n", F.round(est, 6).alias("est"),
        )
    )


def psi_drift(
    base: DataFrame,
    target: DataFrame,
    col: str,
    bins: int = 10,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Population stability index between two snapshots of a numeric
    column -> (bin, n_base, n_target, psi_term) per bin, underflow and
    overflow inclusive.

    PSI = Σ_bins (p_i - q_i)·ln(p_i/q_i) — the standard "did this
    feature's distribution move between training and serving / last
    month and this month" alarm (PSI > 0.2 is the conventional
    retrain trigger). Fixed caller-supplied bounds make the binning a
    pure scan-stage expression on both snapshots (same contract as
    ``histogram``); each side reduces to ONE bins-sized count
    aggregate, so the comparison costs two scans and no join of
    data-sized relations. Empty bins are ε-smoothed (1e-6) so the log
    is total — the textbook PSI convention.

    Engine parity: fractions are exact IEEE divisions of bigint
    counts, each bin's term floor-rounds at 1e-6 (the ``adamic_adar``
    ln discipline), so the per-bin rows hash identically; the total is
    the caller's one-line SUM over bins+2 rows.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if hi <= lo:
        # a zero/negative width makes floor((c-lo)/width) NULL or wrong
        # silently; fail fast instead
        raise ValueError(f"hi must be > lo, got lo={lo}, hi={hi}")
    from pyspark.sql import Window

    width = (hi - lo) / bins

    def binned(df: DataFrame, out: str) -> DataFrame:
        c = F.col(col).cast("double")
        # NULL and NaN values share the sentinel bin (-2): a NULL join
        # key would produce one unmatched NULL row PER SIDE in the full
        # outer join, double-counting the epsilon terms, and Spark
        # orders NaN GREATER than any number, which would silently land
        # NaN in the overflow bin as if it were a real reading
        b = (
            F.when(c.isNull() | F.isnan(c), F.lit(-2))
            .when(c < lo, F.lit(-1))
            .when(c >= hi, F.lit(bins))
            .otherwise(F.floor((c - lo) / F.lit(width)).cast("int"))
        )
        return df.groupBy(b.alias("bin")).agg(F.count(F.lit(1)).alias(out))

    a = binned(base, "n_base")
    t = binned(target, "n_target")
    j = a.join(t, "bin", "full_outer").select(
        "bin",
        F.coalesce("n_base", F.lit(0)).alias("n_base"),
        F.coalesce("n_target", F.lit(0)).alias("n_target"),
    )
    # totals from the bins-sized relation itself — no second scan of
    # either input; the unkeyed window runs over bins+3 rows, not data
    w_all = Window.partitionBy(F.lit(1))
    tot_a = F.sum("n_base").over(w_all).cast("double")
    tot_t = F.sum("n_target").over(w_all).cast("double")
    eps = F.lit(1e-6)
    p = F.greatest(F.col("n_base").cast("double") / tot_a, eps)
    q = F.greatest(F.col("n_target").cast("double") / tot_t, eps)
    term = F.floor((p - q) * F.log(p / q) * 1e6 + F.lit(0.5)) / 1e6
    return j.select("bin", "n_base", "n_target", term.alias("psi_term"))


def mutual_information(
    df: DataFrame, col_x: str, col_y: str
) -> DataFrame:
    """Mutual information between two categorical columns -> one row
    (mi, n_cells, n). MI = Σ_xy p(x,y) · ln( p(x,y) / (p(x)p(y)) ) over
    observed cells, in nats.

    The dependence screen for feature selection and leakage audits
    (does a "random" fold correlate with the label?): three exact
    hash aggregates (joint, two marginals — each map-side combinable,
    |distinct|-sized outputs that broadcast back), floats only in the
    final per-cell term, each quantized to decimal(28,12) before the
    sum so the total is summation-order-free.
    """
    # ONE fact scan: the pinned joint table is cells-sized and every
    # marginal (nx, ny, n) is an exact integer re-aggregate of it —
    # the previous form re-scanned df four times (the theil_index
    # pinning discipline). Local sf0.1 latency is FLAT (measured: the
    # cells-sized crossJoins dominate, exchanges 14 -> 13) — kept for
    # the 100 TB reason alone: fact scans 4 -> 1.
    joint = (
        df.groupBy(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .agg(F.count(F.lit(1)).alias("nxy"))
        .localCheckpoint(eager=True)
    )
    mx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    n = joint.agg(F.sum("nxy").alias("n"))
    term = (
        F.col("nxy") / F.col("n").cast("double")
    ) * F.log(
        (F.col("nxy").cast("double") * F.col("n").cast("double"))
        / (F.col("nx").cast("double") * F.col("ny").cast("double"))
    )
    return (
        joint.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(n))
        .select(term.cast("decimal(28,12)").alias("t"), "n")
        .agg(
            F.round(F.sum("t").cast("double"), 6).alias("mi"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.first("n").cast("long").alias("n"),
        )
    )


def two_sample_ztest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample z-test for a difference in means -> one row
    (n_a, n_b, mean_a, mean_b, z).

    The A/B-comparison primitive over experiment logs: per-group count,
    sum, and sum-of-squares in ONE conditional aggregate pass (exact
    decimals, so results are partition-order-free), then

        z = (mean_a − mean_b) / sqrt(s²_a/n_a + s²_b/n_b)

    with the unbiased variance s² = (SS − n·mean²)/(n − 1). sqrt is
    IEEE-correctly-rounded, so the statistic is engine-portable; the
    p-value needs erf and is left to the caller's significance table
    (|z| > 1.96 ≈ 5%).
    """
    v = F.col(value_col).cast("decimal(28,6)")
    v2 = (
        F.col(value_col).cast("double") * F.col(value_col).cast("double")
    ).cast("decimal(38,6)")
    in_a = F.col(group_col) == group_a
    in_b = F.col(group_col) == group_b
    agg = df.filter(in_a | in_b).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(in_b, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(in_a, v)).cast("double").alias("s_a"),
        F.sum(F.when(in_b, v)).cast("double").alias("s_b"),
        F.sum(F.when(in_a, v2)).cast("double").alias("ss_a"),
        F.sum(F.when(in_b, v2)).cast("double").alias("ss_b"),
    )
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("ss_a") - F.col("n_a") * mean_a * mean_a) / (F.col("n_a") - 1)
    var_b = (F.col("ss_b") - F.col("n_b") * mean_b * mean_b) / (F.col("n_b") - 1)
    z = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return agg.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(z, 6).alias("z"),
    )


def chi_square_test(
    df: DataFrame, col_x: str, col_y: str, effect_size: bool = False
) -> DataFrame:
    """Pearson chi-square independence statistic -> one row
    (chi2, dof, n[, cramers_v]).

    chi² = Σ_cells (observed − expected)² / expected with
    expected = n_x · n_y / n — the categorical companion to
    ``mutual_information`` (same three exact hash aggregates), used to
    flag dependent dimensions before stratifying or splitting on them.
    Per-cell terms are decimal-quantized before the sum
    (order-free); dof = (|x|−1)(|y|−1). The cell grid is the FULL
    cross of observed levels — a zero-observed cell still contributes
    its expected count (the textbook definition; summing observed
    cells only would understate the statistic).

    ``effect_size=True`` adds Cramér's V = sqrt(chi² / (n · min(|x|−1,
    |y|−1))) — the [0, 1] association strength that chi² alone cannot
    give (chi² grows with n, so at 100 TB EVERYTHING is "significant";
    V is what tells a 0.02 association from a 0.6 one). Computed from
    the same rounded chi2 both engines share.
    """
    # ONE fact scan: the pinned joint table is cells-sized and every
    # marginal (nx, ny, n) is an exact integer re-aggregate of it —
    # the previous form re-scanned df four times (the theil_index
    # pinning discipline). Local sf0.1 latency is FLAT (measured: the
    # cells-sized crossJoins dominate, exchanges 14 -> 13) — kept for
    # the 100 TB reason alone: fact scans 4 -> 1.
    joint = (
        df.groupBy(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .agg(F.count(F.lit(1)).alias("nxy"))
        .localCheckpoint(eager=True)
    )
    mx = joint.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = joint.groupBy("y").agg(F.sum("nxy").alias("ny"))
    n = joint.agg(F.sum("nxy").alias("n"))
    nx_levels = mx.agg(F.count(F.lit(1)).alias("kx"))
    ny_levels = my.agg(F.count(F.lit(1)).alias("ky"))
    cells = (
        mx.crossJoin(F.broadcast(my))
        .join(joint, ["x", "y"], "left")
        .withColumn("nxy", F.coalesce(F.col("nxy"), F.lit(0)))
    )
    expected = (
        F.col("nx").cast("double")
        * F.col("ny").cast("double")
        / F.col("n").cast("double")
    )
    term = (
        (F.col("nxy").cast("double") - expected)
        * (F.col("nxy").cast("double") - expected)
        / expected
    )
    base = (
        cells.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(nx_levels))
        .crossJoin(F.broadcast(ny_levels))
        .select(
            term.cast("decimal(28,12)").alias("t"),
            "n", "kx", "ky",
        )
        .agg(
            F.round(F.sum("t").cast("double"), 6).alias("chi2"),
            ((F.first("kx") - 1) * (F.first("ky") - 1))
            .cast("long")
            .alias("dof"),
            F.first("n").cast("long").alias("n"),
            F.least(F.first("kx") - 1, F.first("ky") - 1)
            .cast("long")
            .alias("__mindim"),
        )
    )
    if not effect_size:
        return base.drop("__mindim")
    return base.select(
        "chi2",
        "dof",
        "n",
        F.round(
            F.when(
                (F.col("__mindim") > 0) & (F.col("n") > 0),
                F.sqrt(
                    F.col("chi2")
                    / (
                        F.col("n").cast("double")
                        * F.col("__mindim").cast("double")
                    )
                ),
            ).otherwise(0.0),
            6,
        ).alias("cramers_v"),
    )


def grouped_ols(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression -> (group, n, slope,
    intercept, r2), closed-form from one aggregate pass.

    The per-dataset trend fit (is this indicator drifting? which
    domain's quality is decaying?) at any scale: OLS needs only the
    five sufficient statistics Σx, Σy, Σxy, Σx², Σy² — all exact
    (integer x, decimal-quantized y products), map-side combinable,
    one shuffle keyed by group. Slope/intercept/R² are then pure
    arithmetic on exact components:

        slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
        r²    = (nΣxy − ΣxΣy)² / ((nΣx² − (Σx)²)(nΣy² − (Σy)²))

    x must be integral (a day/month index); y is quantized to
    decimal(28,6). Groups with zero x-variance emit null slope/r2.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("decimal(28,6)")
    y2 = (
        F.col(y_col).cast("double") * F.col(y_col).cast("double")
    ).cast("decimal(38,6)")
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(y2).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(38,6)")).cast("double").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    sxxd = F.col("sxx").cast("double")
    cov_n = nd * F.col("sxy") - sxd * F.col("sy")
    var_x = nd * sxxd - sxd * sxd
    var_y = nd * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_x
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(F.when(var_x > 0, slope), 6).alias("slope"),
        F.round(
            F.when(var_x > 0, (F.col("sy") - slope * sxd) / nd), 6
        ).alias("intercept"),
        F.round(
            F.when((var_x > 0) & (var_y > 0), cov_n * cov_n / (var_x * var_y)),
            6,
        ).alias("r2"),
    )


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    bins: int = 100,
) -> DataFrame:
    """Map each group's values onto the corpus distribution ->
    input ids + (bin, norm_value).

    The cross-domain score alignment step: a quality score of 0.7 from
    a lenient domain and 0.7 from a strict one mean different things;
    before gating on a single global threshold, replace each value with
    the corpus value at the same within-group quantile. Discretized to
    ``bins`` quantile buckets: a row's bucket is floor(percent_rank
    within its group · bins), its normalized value is the corpus-wide
    decimal-exact mean of that same bucket (computed over corpus-wide
    percent_rank).

    Shape: the per-group rank window is partitioned (distributed); the
    corpus-wide rank uses ``ordered_cumsum``'s size-gated prefix count
    (distributed past the gate), then a
    bins-sized broadcast join. Ranks are exact rationals, products of
    identical doubles, so bucket edges agree across engines (the
    percent_rank caveat in ORACLE_PARITY.md applies to hashing raw
    ratios, not to floor-bucketing them).
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    from pyspark.sql import Window  # noqa: PLC0415

    v = F.col(value_col).cast("double")
    gw = Window.partitionBy(group_col).orderBy(v, F.col(id_col))
    bucket = lambda pr: F.least(  # noqa: E731
        F.floor(pr * bins).cast("long"), F.lit(bins - 1)
    )
    # corpus-wide percent_rank as a size-gated prefix count (row count
    # already known): rows keyed by the (value, id) sort struct get an
    # exclusive prefix count; pr = preceding / (n - 1) is exactly
    # percent_rank's arithmetic since (value, id) is unique per row
    base = df.select(
        v.alias("__v"),
        F.struct(v.alias("v"), F.col(id_col).alias("i")).alias("__ord"),
        F.lit(1).alias("__c"),
    )
    n_tot = df.count()
    pr = (
        F.col("cum___c").cast("double") / F.lit(float(max(n_tot - 1, 1)))
        if n_tot > 1
        else F.lit(0.0)
    )
    corpus = ordered_cumsum(
        base, "__ord", ["__c"], exclusive=True, n_rows=n_tot
    ).select(
        "__v", bucket(pr).alias("bin")
    )
    ref = corpus.groupBy("bin").agg(
        F.round(
            F.sum(F.col("__v").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("norm_value")
    )
    rows = df.select(
        F.col(id_col),
        F.col(group_col),
        bucket(F.percent_rank().over(gw)).alias("bin"),
    )
    return rows.join(F.broadcast(ref), "bin").select(
        id_col, group_col, "bin", "norm_value"
    )


def spearman_corr(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation -> one row (n, rho).

    The robust companion to corr_pairs' Pearson: monotone association
    free of outlier leverage. Each column reduces to its distinct values
    (one hash aggregate), average ranks come from a distributed prefix
    sum over that relation (which for a continuous column is as large
    as the input — never assume it broadcasts) — avg_rank =
    cum_before + (cnt + 1)/2, an exact half-integer — and rho is
    Pearson on the rank columns. Every
    sufficient statistic is a sum of quarter-integers below 2^53, so
    the computation is EXACT in double regardless of partition order
    (no decimal quantization needed); sqrt is IEEE-exact.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    def ranks(col: str, out: str) -> DataFrame:
        counts = df.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        # distributed prefix sum — no single-partition window even when
        # the column is continuous (distinct values ~ row count)
        cum = ordered_cumsum(counts, "v", ["c"], exclusive=True)
        return cum.select(
            "v",
            (
                F.col("cum_c").cast("double") + (F.col("c") + 1) / 2.0
            ).alias(out),
        )
    ra, rb = ranks(col_a, "rx"), ranks(col_b, "ry")
    # NO broadcast hint on the rank relations: for a continuous column
    # distinct values ~ row count, so forcing a broadcast would ship a
    # table the size of the input to every executor at scale. AQE
    # size-decides at runtime (it still picks broadcast when the column
    # is genuinely low-cardinality) — same posture as gini_coefficient.
    joined = (
        df.select(F.col(col_a).alias("va"), F.col(col_b).alias("vb"))
        .join(ra.withColumnRenamed("v", "va"), "va")
        .join(rb.withColumnRenamed("v", "vb"), "vb")
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    cov = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), 6
        ).alias("rho"),
    )


def gini_coefficient(df: DataFrame, value_col: str) -> DataFrame:
    """Concentration of a nonnegative quantity -> one row (n, total,
    gini).

    Gini = (2·Σ i·x_(i)) / (n·Σx) − (n + 1)/n over ascending-sorted
    values — 0 when mass is uniform, → 1 when one key holds
    everything. The rank-weighted sum distributes exactly like
    spearman_corr's machinery: reduce to distinct values (one hash
    aggregate), a window over that small relation yields each tie
    group's rank-sum in closed form (ranks cum+1..cum+c sum to
    c·cum + c(c+1)/2 — exact integers), and value·ranksum products
    quantize to decimal(38,6) for an order-free total.
    """
    v = F.col(value_col).cast("double")
    counts = df.select(v.alias("x")).groupBy("x").agg(
        F.count(F.lit(1)).alias("c")
    )
    cumdf = ordered_cumsum(counts, "x", ["c"], exclusive=True)
    ranksum = (
        F.col("c") * F.col("cum_c") + F.col("c") * (F.col("c") + 1) / 2
    )
    terms = cumdf.select(
        F.col("c"),
        (F.col("x") * ranksum).cast("decimal(38,6)").alias("xr"),
        (F.col("x") * F.col("c")).cast("decimal(38,6)").alias("xs"),
    )
    agg = terms.agg(
        F.sum("c").alias("n"),
        F.sum("xr").cast("double").alias("sxr"),
        F.sum("xs").cast("double").alias("total"),
    )
    nd = F.col("n").cast("double")
    gini = 2.0 * F.col("sxr") / (nd * F.col("total")) - (nd + 1.0) / nd
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("total"), 6).alias("total"),
        F.round(F.when(F.col("total") > 0, gini), 6).alias("gini"),
    )


def ks_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic -> one row (n_a, n_b,
    d_stat).

    D = max over values of |F_a(x) − F_b(x)| — the exact, unbinned
    distribution-shift test (the companion to psi_drift's binned
    monitor: PSI for dashboards, KS when the answer must not depend on
    a bin grid). One hash aggregate to per-(value) counts for both
    groups at once, one cumulative window over the distinct values,
    one max. ECDF steps are exact rationals k/n — identical doubles on
    any engine. Significance: D > c(α)·sqrt((n_a+n_b)/(n_a·n_b)),
    c(0.05) ≈ 1.358.
    """
    v = F.col(value_col).cast("double")
    in_a, in_b = F.col(group_col) == group_a, F.col(group_col) == group_b
    counts = (
        df.filter(in_a | in_b)
        .groupBy(v.alias("x"))
        .agg(
            F.sum(F.when(in_a, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(in_b, 1).otherwise(0)).alias("cb"),
        )
    )
    cum = ordered_cumsum(counts, "x", ["ca", "cb"])
    tots = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    steps = cum.crossJoin(F.broadcast(tots)).select(
        (F.col("cum_ca") / F.col("na").cast("double")).alias("fa"),
        (F.col("cum_cb") / F.col("nb").cast("double")).alias("fb"),
        "na",
        "nb",
    )
    return steps.agg(
        F.first("na").cast("long").alias("n_a"),
        F.first("nb").cast("long").alias("n_b"),
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("d_stat"),
    )


# ordered_cumsum's size gate: at or below this many rows the prefix
# sum is one lazy Window.orderBy select, above it the distributed
# two-pass form. survival.cox_ph_multi's one-SQL Newton round reads it
# too. Tests set it to -1 to force the distributed path.
CUMSUM_GATE_ROWS = 100_000


def ordered_cumsum(
    df: DataFrame,
    order_col: str,
    sum_cols: list[str],
    descending: bool = False,
    exclusive: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact cumulative sums in global order -> input columns +
    ``cum_<col>`` per requested column.

    Window.orderBy() with no partition key funnels the whole relation
    through ONE task — harmless for a few hundred rows, a cluster-wide
    serialization point for millions. So the function is size-gated:

    - at or below ``CUMSUM_GATE_ROWS`` rows: one lazy
      ``select("*", sum(c) over Window.orderBy(...))`` — on a small
      relation the two-pass machinery's fixed cost (shuffle, eager
      checkpoint, offsets pass) is larger than the data work;
    - above it, the classic two-pass form: ``repartitionByRange`` +
      in-partition sort (equal keys land in one partition, partitions
      tile the key order), per-partition running sums via a window
      PARTITIONED BY the physical partition id, then per-partition
      totals (|partitions| rows) turn into exclusive offsets that
      broadcast-join back.

    ``n_rows``: the relation's row count when the caller already knows
    it; otherwise the function checkpoints ``df`` and counts it (two
    driver actions) to decide the path.

    Sum columns must be integer or decimal, exact under addition; then
    both paths are bit-identical, including the result type: each
    ``cum_<col>`` has the type of ``sum(col)`` (long for integers,
    decimal(min(38, p+10), s) for decimal(p, s)). Offsets are sums of
    the partition totals at the type Spark gives them (long, or
    decimal(38, s) for the wide decimals) and are added to the
    in-partition prefix at precision 37, so the distributed path never
    loses scale; its domain is |prefix| < 10^(37-s).
    ``exclusive=True`` yields the sum over STRICTLY-preceding rows.
    Ties: rows with equal keys are cumulated in an unspecified order,
    so pass a RELATION ALREADY REDUCED to distinct keys (as all the
    rank/ECDF/survival callers do) whenever per-row tie order would
    matter.
    """
    from pyspark.sql import Window  # noqa: PLC0415
    from pyspark.sql.types import DecimalType  # noqa: PLC0415

    def running(w, prefix):
        return [
            F.coalesce(F.sum(c).over(w), F.lit(0)).alias(prefix + c)
            for c in sum_cols
        ]

    key = F.col(order_col).desc() if descending else F.col(order_col).asc()
    upper = -1 if exclusive else Window.currentRow
    if n_rows is None:
        df = df.localCheckpoint(eager=True)
        n_rows = df.count()
    if n_rows <= CUMSUM_GATE_ROWS:
        w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, upper)
        return df.select("*", *running(w, "cum_"))
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # localCheckpoint pins the range layout AND the partition ids: the
    # totals pass and the final pass must see the IDENTICAL physical
    # partitioning (AQE may re-coalesce a re-executed range shuffle
    # differently per job, which would misalign the offset table)
    part = (
        df.repartitionByRange(n_parts, key)
        .sortWithinPartitions(key)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # per-partition totals -> exclusive running offsets, summed by
    # Spark at decimal precision (|partitions| rows, so the unkeyed
    # window is tiny)
    totals = part.groupBy("__pid").agg(*[F.sum(c).alias(c) for c in sum_cols])
    types = {c: totals.schema[c].dataType for c in sum_cols}
    before = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select("__pid", *running(before, "__off_"))

    def plus(a, b, t):
        # precision-37 operands keep the sum at precision 38: a wider
        # pair would make Spark drop scale digits to fit
        if isinstance(t, DecimalType):
            op = DecimalType(37, t.scale)
            return (a.cast(op) + b.cast(op)).cast(t)
        return a + b

    w = Window.partitionBy("__pid").orderBy(key).rowsBetween(
        Window.unboundedPreceding, upper
    )
    return (
        part.select("*", *running(w, "cum_"))
        .join(F.broadcast(offsets), "__pid")
        .withColumns(
            {
                f"cum_{c}": plus(
                    F.col(f"cum_{c}"), F.col(f"__off_{c}"), types[c]
                )
                for c in sum_cols
            }
        )
        .drop("__pid", *[f"__off_{c}" for c in sum_cols])
    )


# Poisson(1) inverse-CDF thresholds: P(X <= k) for k = 0..6. Literal
# doubles shared verbatim with the SQL oracle so both engines draw the
# identical integer weight from the same md5-uniform.
_POIS1_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    b: int = 40,
    alpha: float = 0.05,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean -> one row
    (n, mean, ci_lo, ci_hi, b), or one row PER GROUP when ``group_by``
    is given (same single scan — the per-group CIs are just the same
    2b conditional-sum columns under a hash-aggregate key, which is
    also the 100 TB answer to the docstring's overflow headroom note:
    partitioning the CI by group divides n per sum).

    The distributed bootstrap (Chamandy et al., "Estimating
    uncertainty for massive data streams"): resampling-with-replacement
    is unshufflable at scale, but each row's multiplicity in resample
    j is approximately Poisson(1) INDEPENDENTLY of other rows — so
    every resample becomes a per-row integer weight drawn from
    md5(id ':' j), and ALL ``b`` resample means compute in ONE
    aggregate pass as 2b conditional-sum columns (no explode, no
    shuffle, no second scan). The md5 derivation is the sampling-family
    determinism rule: same resamples on any engine or layout.

    Exactness discipline: values quantize to decimal(18,6) before the
    weighted sums (exact, order-free); each resample mean is then an
    exact-decimal / integer double. The interval is the empirical
    [alpha/2, 1-alpha/2] quantile of the b means by the nearest-rank
    rule (index floor(q*(b-1)) of the sorted means — integer
    arithmetic, no interpolation ambiguity).

    At 100 TB: cost is one scan regardless of b (columns, not rows);
    b ~ 40-200 bounds CI noise well below data noise. For grouped CIs
    run the same aggregate under a groupBy. Hash economy: each md5
    digest yields FOUR independent 8-hex-digit uniforms (one digest
    per 4 resamples, computed once per row in a projection — not per
    aggregate column; the naive per-column derivation cost 80 digests
    per row and measured ~25x slower at b=40).
    """
    if b < 2:
        raise ValueError(f"b must be >= 2, got {b}")
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    us = []
    for j in range(b):
        block, chunk = divmod(j, 4)
        us.append(
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":", F.col(id_col), F.lit(str(block))
                            )
                        ),
                        1 + 8 * chunk, 8,
                    ),
                    16, 10,
                ).cast("long")
                % 1000003
            ).cast("double") / 1000003.0
        )

    def _pois(u):
        # u arrives as a BOUND lambda variable: inside transform() the
        # CASE chain references it by name, so the digest computes once
        # per element. Inlining the u expression directly into the
        # 7-branch CASE made Catalyst re-expand it per branch — 7x the
        # digests, measured as the dominant cost of the whole query.
        w = F.lit(len(_POIS1_CDF))
        for k in range(len(_POIS1_CDF) - 1, -1, -1):
            w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
        return w

    weights_arr = F.transform(F.array(*us), _pois)
    # Shape notes (each alternative measured at b=40 on 1.5M rows):
    # a naive 2b-column aggregate re-expands the weight expression per
    # column under projection collapse (80 digests/row, and 7x that
    # again inside the CASE branches before the transform() fix); a
    # posexplode pays for b*n generated rows (~4x the whole query).
    # The winning shape materializes the slim (x, weight-array)
    # projection ONCE (localCheckpoint, ~50 B/row), after which the
    # 2b-column aggregate is plain array indexing over materialized
    # rows with map-side combine.
    from econdatapipeline_spark.sources.tables import fan_out  # noqa: PLC0415

    # Exactness at integer speed: values land on a 10^-6 grid as
    # LONGs (the decimal cast makes the scaling exact, the long cast
    # drops a zero fraction), so the 2b resample sums are 64-bit
    # integer arithmetic — an order of magnitude faster than
    # BigDecimal sums at identical exactness. Overflow headroom:
    # n * max|x| * 7 * 10^6 must stay under 2^63 (~9.2e18) — at 100 TB
    # partition the CI by group or drop to a 10^-2 grid.
    gcols = list(group_by or [])
    proj = (
        fan_out(df)
        .select(
            *[F.col(g) for g in gcols],
            (F.col(value_col).cast("decimal(18,6)") * F.lit(1000000))
            .cast("long")
            .alias("__x"),
            weights_arr.alias("__w"),
        )
        .localCheckpoint(eager=True)
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            (F.sum("__x").cast("double") / F.lit(1000000.0))
            / F.count(F.lit(1)),
            6,
        ).alias("mean"),
    ]
    for j in range(b):
        aggs.append(F.sum(F.col("__x") * F.col("__w")[j]).alias(f"sx{j}"))
        aggs.append(F.sum(F.col("__w")[j]).cast("long").alias(f"sw{j}"))
    one = proj.groupBy(*gcols).agg(*aggs) if gcols else proj.agg(*aggs)
    means = F.array_sort(
        F.array(
            *[
                (
                    F.col(f"sx{j}").cast("double")
                    / F.nullif(F.col(f"sw{j}"), F.lit(0)).cast("double")
                )
                / F.lit(1000000.0)
                for j in range(b)
            ]
        )
    )
    lo_i = int((alpha / 2.0) * (b - 1))
    hi_i = int((1.0 - alpha / 2.0) * (b - 1))
    return one.select(
        *gcols,
        "n",
        "mean",
        F.round(means[lo_i], 6).alias("ci_lo"),
        F.round(means[hi_i], 6).alias("ci_hi"),
        F.lit(b).cast("int").alias("b"),
    )


def cohens_kappa(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Cohen's kappa agreement between two categorical raters -> one
    row (n, po, pe, kappa).

    The inter-annotator agreement check for labeling pipelines (two
    human raters, or a model judge vs a heuristic rule): chance-
    corrected agreement

        kappa = (po - pe) / (1 - pe)
        po    = P(a == b)
        pe    = sum over categories c of pA(c) * pB(c)

    over the observed category marginals (Cohen 1960). Supports any
    number of categories.

    Scale shape: three map-side-combinable hash aggregates (joint
    agreement count + two category marginals) over one scan each; the
    marginal join is category-cardinality-sized — label taxonomies are
    small by nature, and AQE broadcasts it unprompted. po is a ratio of
    exact int64 counts; pe's per-category products pA(c)*pB(c) are
    computed in double (ca*cb as int64 would overflow past n ~ 3e9) and
    quantized to decimal(18,9) before the category sum, so pe is an
    order-free exact decimal on both engines.

    Degenerate guard: pe == 1 (both raters constant and equal) has
    kappa undefined; emitted as 0.0 with po/pe intact so the caller
    sees the degeneracy rather than a crash.
    """
    base = df.select(
        F.col(col_a).cast("string").alias("a"),
        F.col(col_b).cast("string").alias("b"),
    )
    tot = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0)).alias(
            "n_agree"
        ),
    )
    ma = base.groupBy("a").agg(F.count(F.lit(1)).alias("ca"))
    mb = base.groupBy("b").agg(F.count(F.lit(1)).alias("cb"))
    pe = (
        ma.join(mb, ma.a == mb.b)
        .crossJoin(tot.select("n"))
        .select(
            (
                (F.col("ca").cast("double") / F.col("n").cast("double"))
                * (F.col("cb").cast("double") / F.col("n").cast("double"))
            )
            .cast("decimal(18,9)")
            .alias("term")
        )
        .agg(F.sum("term").alias("pe_dec"))
    )
    pe_d = F.col("pe_dec").cast("double")
    po_d = F.col("n_agree").cast("double") / F.col("n").cast("double")
    return tot.crossJoin(pe).select(
        F.col("n").cast("long").alias("n"),
        F.round(po_d, 6).alias("po"),
        F.round(pe_d, 6).alias("pe"),
        F.when(F.col("pe_dec") >= F.lit(1.0), F.lit(0.0))
        .otherwise(F.round((po_d - pe_d) / (F.lit(1.0) - pe_d), 6))
        .alias("kappa"),
    )


def mann_whitney(
    df: DataFrame,
    value_col: str,
    sample_col: str,
    sample_a: str,
    sample_b: str,
    group_col: str | None = None,
) -> DataFrame:
    """Mann-Whitney U rank-sum test (tie-corrected, normal approx)
    per group -> (group?, n_a, n_b, u_stat, auc, z).

    The nonparametric two-sample location test — "did the treatment
    shift the distribution?" without two_sample_ztest's normality
    assumption; ``auc`` = U/(n_a*n_b) is the probability a random A
    exceeds a random B (the effect size; identical machinery to
    roc_auc's Mann-Whitney form).

    Scale shape: one hash aggregate reduces the input to DISTINCT
    (group, value) rows before any cumulation (the roc_auc posture — a
    quantized metric column bounds distinct values regardless of fact
    count). Grouped, the cumulative window is PARTITIONED by group —
    parallel across groups; ungrouped, the cumulation is the
    size-gated ``ordered_cumsum`` (distributed past its gate).
    Determinism: U is accumulated in HALF-UNITS
    (2U = 2*n_a*cum_b + n_a*n_b) so every per-row contribution is an
    exact integer; tie corrections are integer sums; floats appear only
    in the final one-row-per-group z/auc arithmetic.
    """
    from pyspark.sql import Window

    gcols = [group_col] if group_col else []
    tagged = df.filter(F.col(sample_col).isin([sample_a, sample_b]))
    g = tagged.groupBy(
        *gcols, F.col(value_col).cast("double").alias("v")
    ).agg(
        F.sum(F.when(F.col(sample_col) == sample_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col(sample_col) == sample_b, 1).otherwise(0)).alias("nb"),
    )
    if group_col:
        w = (
            Window.partitionBy(*gcols)
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        rows = g.select(
            *gcols,
            "na",
            "nb",
            F.coalesce(F.sum("nb").over(w), F.lit(0)).alias("cum_b"),
        )
    else:
        rows = ordered_cumsum(g, "v", ["nb"], exclusive=True).select(
            "na", "nb", F.col("cum_nb").alias("cum_b")
        )
    t = F.col("na") + F.col("nb")
    per_group = rows.groupBy(*gcols).agg(
        F.sum("na").cast("long").alias("n_a"),
        F.sum("nb").cast("long").alias("n_b"),
        F.sum(
            2 * F.col("na") * F.col("cum_b") + F.col("na") * F.col("nb")
        ).cast("long").alias("u2"),
        F.sum(t * t * t - t).cast("long").alias("tie3"),
    )
    n = F.col("n_a") + F.col("n_b")
    u = F.col("u2") / F.lit(2.0)
    mu = (F.col("n_a") * F.col("n_b")).cast("double") / 2.0
    var = (
        (F.col("n_a") * F.col("n_b")).cast("double")
        / 12.0
        * (
            (n + 1).cast("double")
            - F.col("tie3").cast("double") / (n * (n - 1)).cast("double")
        )
    )
    return per_group.select(
        *gcols,
        "n_a",
        "n_b",
        F.round(u, 6).alias("u_stat"),
        F.round(u / (F.col("n_a") * F.col("n_b")).cast("double"), 6).alias("auc"),
        F.round(
            F.when(var > 0, (u - mu) / F.sqrt(var)).otherwise(0.0), 6
        ).alias("z"),
    )


def jsd_drift(
    df: DataFrame,
    split_col: str,
    side_a: str,
    side_b: str,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between two corpus slices' unigram
    token distributions -> one row (jsd, vocab, n_tokens_a, n_tokens_b).

        JSD = 1/2 KL(P || M) + 1/2 KL(Q || M),  M = (P+Q)/2, in nats

    — the symmetric, always-finite cousin of psi_drift/category_drift
    for corpus mixture monitoring (did this crawl snapshot's vocabulary
    drift from the reference slice?); bounded by ln 2, zero iff the
    distributions agree exactly.

    Scale shape: one explode + one hash aggregate per token (map-side
    combinable; output is vocabulary-sized), totals are a broadcast
    one-row relation. Determinism: the mutual_information pattern —
    floats only in the per-token term, each quantized to
    decimal(28,12) before the final order-free sum.
    """
    from econdatapipeline_spark.functions.text import tokenize

    tok = (
        df.filter(F.col(split_col).isin([side_a, side_b]))
        .select(
            F.col(split_col).alias("side"),
            F.explode(tokenize(F.col(text_col))).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("side") == side_a, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("side") == side_b, 1).otherwise(0)).alias("nb"),
    )
    tot = counts.agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    p = F.col("na") / F.col("ta").cast("double")
    q = F.col("nb") / F.col("tb").cast("double")
    m = (p + q) / 2.0
    term = 0.5 * (
        F.when(F.col("na") > 0, p * F.log(p / m)).otherwise(0.0)
        + F.when(F.col("nb") > 0, q * F.log(q / m)).otherwise(0.0)
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(term.cast("decimal(28,12)").alias("t"), "ta", "tb")
        .agg(
            F.round(F.sum("t").cast("double"), 6).alias("jsd"),
            F.count(F.lit(1)).cast("long").alias("vocab"),
            F.max("ta").cast("long").alias("n_tokens_a"),
            F.max("tb").cast("long").alias("n_tokens_b"),
        )
    )


def kendall_tau(
    df: DataFrame,
    col_x: str,
    col_y: str,
    group_col: str | None = None,
) -> DataFrame:
    """Kendall tau-b rank correlation per group ->
    (group?, n, concordant, discordant, tau).

        tau_b = (C - D) / sqrt((C + D + Tx) * (C + D + Ty))

    where Tx/Ty count pairs tied ONLY on x / only on y (pairs tied on
    both count in neither). The ordinal-association cousin of
    spearman_corr for SERIES-sized relations: spearman ranks a whole
    fact column (distributed prefix-sum machinery), Kendall enumerates
    pairs — O(n^2/2) — so this operator is for calendar-bounded series
    (two aligned indicators, a 50-year monthly series = 179,700 pairs),
    NOT for corpus-sized columns; it raises nothing but documents the
    contract, mirroring acf/theil_sen.

    Determinism: concordant/discordant/tie counts are exact integers;
    the only floats are the final per-group sqrt and one division.
    """
    from pyspark.sql import Window

    gcols = [group_col] if group_col else []
    w = Window.partitionBy(*gcols).orderBy(col_x, col_y)
    base = df.select(
        *gcols,
        F.col(col_x).cast("double").alias("x"),
        F.col(col_y).cast("double").alias("y"),
        F.row_number().over(w).alias("pos"),
    )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("b.pos") > F.col("a.pos")
    for c in gcols:
        cond = (F.col(f"a.{c}") == F.col(f"b.{c}")) & cond
    dx = F.col("b.x") - F.col("a.x")
    dy = F.col("b.y") - F.col("a.y")
    pairs = a.join(b, cond).select(
        *[F.col(f"a.{c}").alias(c) for c in gcols],
        F.when((dx != 0) & (dy != 0) & (dx * dy > 0), 1).otherwise(0).alias("c"),
        F.when((dx != 0) & (dy != 0) & (dx * dy < 0), 1).otherwise(0).alias("d"),
        F.when((dx == 0) & (dy != 0), 1).otherwise(0).alias("tx"),
        F.when((dx != 0) & (dy == 0), 1).otherwise(0).alias("ty"),
    )
    counts = pairs.groupBy(*gcols).agg(
        F.sum("c").cast("long").alias("concordant"),
        F.sum("d").cast("long").alias("discordant"),
        F.sum("tx").cast("long").alias("tx"),
        F.sum("ty").cast("long").alias("ty"),
    )
    n = df.groupBy(*[F.col(c) for c in gcols]).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cd = F.col("concordant") + F.col("discordant")
    denom = ((cd + F.col("tx")) * (cd + F.col("ty"))).cast("double")
    joined = counts.join(n, gcols) if gcols else counts.crossJoin(n)
    return joined.select(
        *gcols,
        "n",
        "concordant",
        "discordant",
        F.round(
            F.when(
                denom > 0,
                (F.col("concordant") - F.col("discordant")).cast("double")
                / F.sqrt(denom),
            ).otherwise(0.0),
            6,
        ).alias("tau"),
    )


def wilcoxon_signed(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Wilcoxon signed-rank test for paired samples -> one row
    (n, w_plus, w_minus, z).

    The paired companion to ``mann_whitney`` (same distinct-value
    collapse, same distributed prefix sum): "did the same population
    shift between two conditions?" without assuming normal differences.
    Differences are quantized to decimal(18,6) (the engine's value
    tolerance scale), zero differences drop per the standard procedure,
    and |d| ties take AVERAGE ranks.

    Exactness: ranks are carried in HALF-UNITS — for a tie group of
    size t starting after cum_before smaller values, each member's
    2·rank_avg = 2·cum_before + t + 1, so 2·W+ = Σ pos·(2·cum + t + 1)
    is an exact integer (decimal(38,0) products — pos·cum can pass
    2^63 at corpus scale). z uses the normal approximation with the
    standard tie correction Σ(t³−t)/48, a deterministic double of
    exact integers. Relational shape: one groupBy(|d|) collapse, then
    ``ordered_cumsum``'s size-gated prefix count.
    """
    # decimal(28,6): a (18,6) difference overflows (-> null -> silently
    # dropped pair) at |d| >= 1e12, well inside money-magnitude sums at
    # corpus scale; 28,6 holds |values| to 1e22 at the same 1e-6 grid
    d_expr = F.col(col_a).cast("decimal(28,6)") - F.col(col_b).cast(
        "decimal(28,6)"
    )
    nz = df.select(d_expr.alias("d")).filter(
        F.col("d").isNotNull() & (F.col("d") != 0)
    )
    per_m = nz.groupBy(F.abs(F.col("d")).alias("m")).agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("pos"),
    )
    cums = ordered_cumsum(per_m, "m", ["t"], exclusive=True)
    two_w_plus = F.sum(
        F.col("pos").cast("decimal(38,0)")
        * (2 * F.col("cum_t") + F.col("t") + 1).cast("decimal(38,0)")
    )
    tie_sum = F.sum(
        (
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).cast("decimal(38,0)")
    )
    agg = cums.agg(
        F.sum("t").cast("long").alias("n"),
        two_w_plus.cast("decimal(38,0)").alias("tw"),
        tie_sum.cast("decimal(38,0)").alias("ties"),
    )
    n_d = F.col("n").cast("double")
    w_plus = F.col("tw").cast("double") / F.lit(2.0)
    mean = n_d * (n_d + 1.0) / 4.0
    var = (
        n_d * (n_d + 1.0) * (2.0 * n_d + 1.0) / 24.0
        - F.col("ties").cast("double") / 48.0
    )
    return agg.select(
        "n",
        F.round(w_plus, 1).alias("w_plus"),
        F.round(n_d * (n_d + 1.0) / 2.0 - w_plus, 1).alias("w_minus"),
        F.round(
            F.when(var > 0, (w_plus - mean) / F.sqrt(var)).otherwise(0.0), 6
        ).alias("z"),
    )


def bh_adjust(
    df: DataFrame,
    p_col: str,
    key_cols: list[str],
    alpha: float = 0.05,
) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control ->
    (keys..., p, p_adj, rejected).

    The multiple-testing gate for grouped screens (one mann_whitney /
    chi-square / drift score per segment, thousands of segments):
    p_adj_i = min over j >= rank(i) of m * p_(j) / j (clamped to 1),
    reject iff p_adj <= alpha — the reverse-running-min formulation,
    which handles tied p-values exactly (tied rows share the same
    downstream minimum, so no rank tie-break can change any output).

    Scale shape: the input is a TESTS-sized relation by contract (one
    row per hypothesis — the fact-sized work happened upstream in
    whatever produced p), so the single ordered window is bounded by
    the number of segments, not by corpus rows; mirrors the rbo /
    series-diagnostics boundary documentation. All outputs derive from
    one sort; candidates m*p/j are deterministic doubles of a long
    rank.
    """
    from pyspark.sql import Window

    tot = df.agg(F.count(F.lit(1)).cast("long").alias("m"))
    w_rank = Window.orderBy(F.col(p_col).asc(), *[F.col(c) for c in key_cols])
    w_rev = (
        Window.orderBy(F.col(p_col).desc(), *[F.col(c).desc() for c in key_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        df.select(
            *key_cols,
            F.col(p_col).cast("double").alias("p"),
        )
        .crossJoin(F.broadcast(tot))
        .withColumn("rk", F.row_number().over(w_rank))
    )
    cand = F.col("m").cast("double") * F.col("p") / F.col("rk").cast("double")
    adj = ranked.withColumn(
        "p_adj",
        F.round(F.least(F.min(cand).over(w_rev), F.lit(1.0)), 6),
    )
    return adj.select(
        *key_cols,
        F.round(F.col("p"), 6).alias("p"),
        "p_adj",
        (F.col("p_adj") <= alpha).alias("rejected"),
    )


def did_estimator(
    df: DataFrame,
    treat_col: str,
    post_col: str,
    y_col: str,
) -> DataFrame:
    """Difference-in-differences estimator -> one row
    (n_t_pre, n_t_post, n_c_pre, n_c_post, mean_t_pre, mean_t_post,
    mean_c_pre, mean_c_post, did).

        DiD = (T_post − T_pre) − (C_post − C_pre)

    The workhorse policy-effect estimator for the engine's economic
    domain: the control group's pre/post drift nets out the common
    trend, leaving the treatment effect under the parallel-trends
    assumption. ``treat_col``/``post_col`` are 0/1 indicators.

    ONE hash aggregate over the scan — the four cells are conditional
    decimal(28,6) sums and counts (map-side combinable, order-free),
    so the estimate is exact-arithmetic until the four final ratios.
    """
    t = F.col(treat_col).cast("int")
    p = F.col(post_col).cast("int")
    yv = F.col(y_col).cast("decimal(28,6)")

    def cell(tv: int, pv: int, name: str):
        cond = (t == tv) & (p == pv)
        n = F.sum(F.when(cond, 1).otherwise(0)).cast("long")
        s = F.sum(F.when(cond, yv))
        # an empty (treat, post) cell means DiD is undefined — the
        # mean (and therefore `did`) goes NULL rather than fabricating
        # a 0.0 cell mean that reads as a real policy-effect number
        mean = F.when(n > 0, s.cast("double") / n.cast("double"))
        return n.alias(f"n_{name}"), F.round(mean, 6).alias(f"mean_{name}"), mean

    n_tp_, m_tp_, e_tp = cell(1, 0, "t_pre")
    n_tq_, m_tq_, e_tq = cell(1, 1, "t_post")
    n_cp_, m_cp_, e_cp = cell(0, 0, "c_pre")
    n_cq_, m_cq_, e_cq = cell(0, 1, "c_post")
    return df.agg(
        n_tp_, n_tq_, n_cp_, n_cq_,
        m_tp_, m_tq_, m_cp_, m_cq_,
        F.round((e_tq - e_tp) - (e_cq - e_cp), 6).alias("did"),
    )


def hhi_concentration(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Herfindahl-Hirschman concentration index -> one row
    (n_groups, total, hhi, hhi_normalized).

    The standard market/source-concentration readout (economics:
    supplier market power; corpus curation: is the training mix
    dominated by one crawl?): HHI = Σ share_i², 1/n (uniform) .. 1
    (monopoly); the normalized form rescales to [0, 1] across group
    counts. One fact-sized hash aggregate to the groups relation, one
    groups-sized aggregate; shares are deterministic doubles of
    decimal-exact sums, squared terms decimal(28,12)-quantized before
    the order-free sum.
    """
    sup = df.groupBy(F.col(group_col).alias("g")).agg(
        F.sum(F.col(value_col).cast("decimal(28,6)")).alias("v")
    )
    tot = sup.agg(
        F.sum("v").alias("tot"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )
    share = F.col("v").cast("double") / F.col("tot").cast("double")
    terms = sup.crossJoin(F.broadcast(tot)).select(
        "n_groups",
        F.col("tot"),
        (share * share).cast("decimal(28,12)").alias("t2"),
    )
    return terms.groupBy().agg(
        F.first("n_groups").alias("n_groups"),
        F.round(F.first("tot").cast("double"), 6).alias("total"),
        F.round(F.sum("t2").cast("double"), 6).alias("hhi"),
        F.round(
            F.when(
                F.first("n_groups") > 1,
                (
                    F.sum("t2").cast("double")
                    - 1.0 / F.first("n_groups").cast("double")
                )
                / (1.0 - 1.0 / F.first("n_groups").cast("double")),
            ).otherwise(0.0),
            6,
        ).alias("hhi_normalized"),
    )


def effect_sizes(
    df: DataFrame,
    value_col: str,
    sample_col: str,
    sample_a: str,
    sample_b: str,
) -> DataFrame:
    """Two-sample effect sizes -> one row
    (n_a, n_b, mean_a, mean_b, cohens_d, cliffs_delta).

    The magnitude companion to the repo's significance tests
    (two_sample_ztest / mann_whitney): at 100 TB everything is
    "significant", so the decision inputs are the parametric
    standardized mean difference (Cohen's d, pooled SD) and the
    nonparametric dominance probability (Cliff's delta = 2·AUC − 1,
    robust to outliers and any monotone transform).

    cliffs_delta derives from mann_whitney's tie-corrected AUC (the
    exact half-unit 2U machinery on the distinct-value collapse — no
    new shuffle shape); moments are one hash aggregate with
    decimal-exact Σx / Σx², variances in fixed-order doubles.
    """
    tagged = df.filter(F.col(sample_col).isin([sample_a, sample_b]))
    xa = F.when(
        F.col(sample_col) == sample_a, F.col(value_col).cast("decimal(18,6)")
    )
    xb = F.when(
        F.col(sample_col) == sample_b, F.col(value_col).cast("decimal(18,6)")
    )
    # counts cover exactly the rows the moment sums cover: a null (or
    # decimal-overflowing) value_col row must not inflate n and bias
    # mean/variance/d — count on the same casted expression the sums use
    moments = tagged.agg(
        F.sum(F.when(xa.isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(xb.isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum(xa).alias("sa"),
        F.sum(xb).alias("sb"),
        F.sum((xa * xa).cast("decimal(38,12)")).alias("saa"),
        F.sum((xb * xb).cast("decimal(38,12)")).alias("sbb"),
    )
    mw = mann_whitney(df, value_col, sample_col, sample_a, sample_b).select(
        F.col("auc").alias("__auc")
    )
    na_d = F.col("na").cast("double")
    nb_d = F.col("nb").cast("double")
    mean_a = F.col("sa").cast("double") / na_d
    mean_b = F.col("sb").cast("double") / nb_d
    var_a = (F.col("saa").cast("double") - na_d * mean_a * mean_a) / (
        na_d - 1.0
    )
    var_b = (F.col("sbb").cast("double") - nb_d * mean_b * mean_b) / (
        nb_d - 1.0
    )
    pooled = F.sqrt(
        ((na_d - 1.0) * var_a + (nb_d - 1.0) * var_b)
        / (na_d + nb_d - 2.0)
    )
    return moments.crossJoin(F.broadcast(mw)).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(
            F.when(
                (F.col("na") > 1) & (F.col("nb") > 1) & (pooled > 0),
                (mean_a - mean_b) / pooled,
            ).otherwise(0.0),
            6,
        ).alias("cohens_d"),
        F.round(2.0 * F.col("__auc") - 1.0, 6).alias("cliffs_delta"),
    )


def theil_index(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Theil T inequality index with exact between/within
    decomposition -> one row per group (group, n, mean, share,
    theil_within) plus '__between__' and '__total__' rows (their
    theil_within column carries T_between and T_total).

        T       = (1/n) Σ (x_i/μ) ln(x_i/μ)
        T       = T_between + Σ_g s_g T_g        (exactly)
        T_betw  = Σ_g s_g ln(μ_g/μ),  s_g = value share of group g

    The decomposable inequality measure (Theil 1967) — unlike Gini,
    the group decomposition is EXACT, which is what makes it the
    concentration audit for grouped economic data ("is revenue
    inequality across customers driven by segment gaps or by spread
    within segments?") and for corpus curation ("is token-count
    inequality a between-source or within-source problem?"). Requires
    strictly positive values; non-positive rows are excluded and
    reflected in the counts.

    Shape: one groups-sized aggregate (means/shares), a broadcast
    join back onto the scan, one aggregate of per-row
    decimal(28,12)-quantized (x/μ)ln(x/μ) terms per group — two
    shuffles total, nothing scales past the scan. The scalar
    between/total rows are groups-sized arithmetic on exact sums.
    """
    x = F.col(value_col).cast("double")
    base = df.filter(x > 0).select(
        F.col(group_col).cast("string").alias("g"),
        x.alias("x"),
        x.cast("decimal(28,6)").alias("xd"),
    )
    gsums = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("xd").alias("s_g"),
    )
    tot = gsums.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("s"),
    )
    mu_g = F.col("s_g").cast("double") / F.col("n_g").cast("double")
    mu = F.col("s").cast("double") / F.col("n").cast("double")
    enriched = base.join(F.broadcast(gsums), "g").crossJoin(
        F.broadcast(tot)
    )
    t_g_term = (
        (F.col("x") / mu_g) * F.log(F.col("x") / mu_g)
    ).cast("decimal(28,12)")
    t_all_term = (
        (F.col("x") / mu) * F.log(F.col("x") / mu)
    ).cast("decimal(28,12)")
    # per_g is GROUPS-sized and feeds THREE output branches (group
    # rows, between, total): pin it, or each union branch re-derives
    # the whole join/aggregate pipeline — the unpinned plan carried 39
    # exchanges (caught by plan_report)
    per_g = enriched.groupBy("g").agg(
        F.first("n_g").alias("n_g"),
        F.first("s_g").alias("s_g"),
        F.first("s").alias("s"),
        F.first("n").alias("n"),
        F.sum(t_g_term).alias("tw"),
        F.sum(t_all_term).alias("ta"),
    ).localCheckpoint(eager=True)
    group_rows = per_g.select(
        F.col("g").alias(group_col),
        F.col("n_g").alias("n"),
        F.round(mu_g, 6).alias("mean"),
        F.round(
            F.col("s_g").cast("double") / F.col("s").cast("double"), 6
        ).alias("share"),
        F.round(
            F.col("tw").cast("double") / F.col("n_g").cast("double"), 6
        ).alias("theil_within"),
    )
    # between = sum_g s_share * ln(mu_g / mu); total = (1/n) sum ta —
    # both from the SAME exact sums (order-free decimal aggregates)
    btw_term = (
        (F.col("s_g").cast("double") / F.col("s").cast("double"))
        * F.log(mu_g / mu)
    ).cast("decimal(28,12)")
    scalars = per_g.select(
        "n_g",
        "n",
        "s",
        btw_term.alias("bt"),
        "ta",
    ).agg(
        F.first("n").alias("n"),
        F.first("s").alias("s"),
        F.sum("bt").alias("btw"),
        F.sum("ta").alias("ta_sum"),
    )
    between_row = scalars.select(
        F.lit("__between__").alias(group_col),
        F.col("n").alias("n"),
        F.round(mu, 6).alias("mean"),
        F.lit(1.0).alias("share"),
        F.round(F.col("btw").cast("double"), 6).alias("theil_within"),
    )
    total_row = scalars.select(
        F.lit("__total__").alias(group_col),
        F.col("n").alias("n"),
        F.round(mu, 6).alias("mean"),
        F.lit(1.0).alias("share"),
        F.round(
            F.col("ta_sum").cast("double") / F.col("n").cast("double"), 6
        ).alias("theil_within"),
    )
    return group_rows.unionByName(between_row).unionByName(total_row)


def wilson_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.959964,
) -> DataFrame:
    """Wilson score confidence interval for a per-group success rate
    -> one row per group (group, n, successes, p, lo, hi).

    The interval to report for win rates / defect rates / preference
    duels at ANY n (the Wald interval collapses to zero width at
    p=0/1 and goes negative at small n; Wilson stays inside [0,1] and
    is the standard recommendation, Brown-Cai-DasGupta 2001). Pairs
    with bradley_terry: strengths rank the items, Wilson widths say
    which comparisons are still underpowered.

    ONE hash aggregate to (n, s) per group (map-side combinable);
    the interval is a fixed-order double formula of the two exact
    integers — sqrt is IEEE correctly-rounded, so both engines agree
    bit-for-bit (no libm channel).
    """
    agg = df.groupBy(F.col(group_col).alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col(success_col).cast("boolean"), 1).otherwise(0)
        ).cast("long").alias("successes"),
    )
    n = F.col("n").cast("double")
    zc = F.lit(float(z))
    p = F.col("successes").cast("double") / n
    denom = 1.0 + zc * zc / n
    center = (p + zc * zc / (2.0 * n)) / denom
    half = (
        zc
        * F.sqrt(p * (1.0 - p) / n + zc * zc / (4.0 * n * n))
        / denom
    )
    return agg.select(
        "group",
        "n",
        "successes",
        F.round(p, 6).alias("p"),
        F.round(F.greatest(center - half, F.lit(0.0)), 6).alias("lo"),
        F.round(F.least(center + half, F.lit(1.0)), 6).alias("hi"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way ANOVA -> one row (k, n, eta_sq, f_stat).

    The k-sample parametric companion to mann_whitney/kruskal_wallis:
    does the group factor explain variance beyond noise? F is the
    test, eta² = SSB/(SSB+SSW) the effect size — the two O(1)
    readouts. Raw sums of squares are deliberately NOT output: at
    price² magnitudes (~1e14) a 6-decimal rounding needs >15
    significant digits, past what any two engines' decimal<->double
    conversions agree on — the ratios are portable, the raw SS are
    theatrically precise noise.

    Shape: one fact-sized hash aggregate of per-group decimal-exact
    moments (n_g, Σx, Σx²), one groups-sized aggregate. Nothing
    scales past the scan.
    """
    x = F.col(value_col).cast("decimal(18,6)")
    per_g = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(x).cast("long").alias("ng"),
        F.sum(x.cast("decimal(38,12)")).alias("sg"),
        F.sum((x * x).cast("decimal(38,12)")).alias("qg"),
    )
    ng = F.col("ng").cast("double")
    sg = F.col("sg").cast("double")
    # Σ sg²/ng is the one non-exact piece: its terms are
    # price²-magnitude (~1e14), where a double->decimal quantization
    # is NOT engine-portable (the decimal digits past ~15 significant
    # are conversion junk the two engines disagree on). Instead the
    # k-sized term list folds in FIXED g-order as plain doubles — the
    # identical left-associative IEEE chain on both engines. Q and S
    # stay exact decimal sums.
    tot = per_g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.array_sort(
            F.collect_list(F.struct(F.col("g"), (sg * sg / ng).alias("t")))
        ).alias("terms"),
    )
    t_fold = F.aggregate(
        F.col("terms"), F.lit(0.0), lambda acc, x_: acc + x_["t"]
    )
    n_d = F.col("n").cast("double")
    k_d = F.col("k").cast("double")
    ssb = t_fold - (
        F.col("s").cast("double") * F.col("s").cast("double") / n_d
    )
    ssw = F.col("q").cast("double") - t_fold
    f_stat = (ssb / (k_d - 1.0)) / (ssw / (n_d - k_d))
    eta = ssb / (ssb + ssw)
    return tot.select(
        "k",
        "n",
        F.round(
            F.when((ssb + ssw) > 0, eta).otherwise(F.lit(0.0)), 6
        ).alias("eta_sq"),
        F.round(
            F.when(
                (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0),
                f_stat,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("f_stat"),
    )


def kruskal_wallis(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Kruskal-Wallis H test (tie-corrected) -> one row
    (k, n, h, h_corrected).

    The k-sample generalization of mann_whitney: one-way ANOVA on
    ranks, assuming nothing about the value distribution. H =
    12/(N(N+1)) Σ_g R_g²/n_g − 3(N+1), tie-corrected by
    1 − Σ(t³−t)/(N³−N).

    Exactness discipline (the mann_whitney machinery): values collapse
    to DISTINCT (value) rows with per-group counts first, average
    ranks are carried in HALF-UNITS (2·r̄ = 2·cum_before + t + 1 is an
    exact integer), so each group's doubled rank sum 2R_g is an exact
    decimal(38,0); floats appear only in the final one-row formula.
    The cumulation over distinct values is the size-gated
    ordered_cumsum (distributed past its gate).
    """
    v = F.col(value_col).cast("double")
    per_vg = df.groupBy(
        v.alias("v"), F.col(group_col).alias("g")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    per_v = per_vg.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    cums = ordered_cumsum(per_v, "v", ["t"], exclusive=True)
    joined = per_vg.join(cums.select("v", "t", "cum_t"), "v")
    # doubled rank sum per group: Σ c·(2·cum_before + t + 1), exact
    per_g = joined.groupBy("g").agg(
        F.sum("c").cast("long").alias("ng"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * (2 * F.col("cum_t") + F.col("t") + 1).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("r2g"),
    )
    r2 = F.col("r2g").cast("double")
    ng = F.col("ng").cast("double")
    ties = per_v.agg(
        F.sum(
            (
                F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t")
                - F.col("t")
            ).cast("decimal(38,0)")
        ).cast("decimal(38,0)").alias("tie3")
    )
    tot = per_g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("ng").cast("long").alias("n"),
        # Σ R_g²/n_g = Σ (2R_g)²/(4·n_g): per-group double of exact
        # ints, quantized before the order-free sum
        F.sum(((r2 * r2) / (4.0 * ng)).cast("decimal(38,6)")).alias("rsq"),
    ).crossJoin(F.broadcast(ties))
    n_d = F.col("n").cast("double")
    h = (
        12.0 / (n_d * (n_d + 1.0)) * F.col("rsq").cast("double")
        - 3.0 * (n_d + 1.0)
    )
    corr = 1.0 - F.col("tie3").cast("double") / (n_d * n_d * n_d - n_d)
    return tot.select(
        "k",
        "n",
        F.round(h, 6).alias("h"),
        F.round(
            F.when((F.col("n") > 1) & (corr > 0), h / corr).otherwise(h),
            6,
        ).alias("h_corrected"),
    )


def lorenz_curve(
    df: DataFrame, value_col: str, points: int = 10
) -> DataFrame:
    """Lorenz curve sampled at ``points`` population quantiles -> one
    row per point (point, pop_share, value_share).

    The curve behind gini_coefficient / theil_index: value_share is
    the fraction of total value held by the poorest pop_share of
    units, with exact within-tie-group linear interpolation (every
    unit inside a tie group holds the same value, so the curve is
    exactly linear across the group — no approximation).

    Scale shape: collapse to DISTINCT values with (count, value·count)
    per group, the size-gated ordered_cumsum, then a
    points-sized broadcast range-join picks each quantile's containing
    tie group. Nothing after the first aggregate exceeds
    distinct-values size; the output is points-sized.
    """
    spark = df.sparkSession
    v = F.col(value_col).cast("decimal(18,6)")
    # per distinct value: count + 1e6-scaled exact-long value, so both
    # cumulations ride ordered_cumsum as exact longs
    per_v = df.groupBy(v.alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    scaled = per_v.select(
        "v",
        "c",
        (F.col("v") * 1000000).cast("long").alias("v6"),
    ).withColumn("s6", F.col("v6") * F.col("c"))
    cums = ordered_cumsum(scaled, "v", ["c", "s6"], exclusive=True)
    totals = scaled.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("s6").cast("long").alias("tot6"),
    )
    pts = spark.createDataFrame(
        [(i,) for i in range(1, points + 1)], "point int"
    )
    # target rank of point i: i·n DIV points — exact INTEGER division
    # (a double `/` then cast would round vs truncate differently
    # across engines at .5 fractions)
    with_t = pts.crossJoin(F.broadcast(totals)).select(
        "point",
        "n",
        "tot6",
        F.expr(f"CAST(point AS BIGINT) * n DIV {int(points)}").alias("r"),
    )
    # containing tie group: cum_before < r <= cum_before + c
    hit = with_t.join(
        F.broadcast(cums),
        (F.col("cum_c") < F.col("r"))
        & (F.col("r") <= F.col("cum_c") + F.col("c")),
        "left",
    )
    # value share at rank r: (cum_before_value + (r − cum_before_c)·v)
    # as exact 1e6-scaled longs
    num6 = F.col("cum_s6") + (
        (F.col("r") - F.col("cum_c")) * F.col("v6")
    )
    # r = 0 happens when n < points (target rank truncates to 0 for
    # early points): no tie group contains rank 0, the left join
    # misses, and value_share would surface as NULL — emit the exact
    # curve origin (0.0, 0.0) instead (ADVICE r7).
    return hit.select(
        "point",
        F.round(
            F.col("r").cast("double") / F.col("n").cast("double"), 6
        ).alias("pop_share"),
        F.round(
            F.when(F.col("r") == 0, F.lit(0.0))
            .when(
                F.col("tot6") != 0,
                num6.cast("double") / F.col("tot6").cast("double"),
            )
            .otherwise(F.lit(0.0)),
            6,
        ).alias("value_share"),
    ).orderBy("point")


def rdd_estimator(
    df: DataFrame,
    x_col: str,
    y_col: str,
    cutoff: float,
    bandwidth: float,
) -> DataFrame:
    """Sharp regression-discontinuity estimator (local linear,
    rectangular kernel) -> one row
    (n_l, n_r, intercept_l, intercept_r, slope_l, slope_r, tau).

    The causal companion to did_estimator for threshold-assigned
    treatments (credit cutoffs, eligibility thresholds, quality-score
    gates in data curation): fit y ~ a + b·(x − cutoff) separately on
    each side within ``bandwidth`` and report the limit gap
    tau = a_right − a_left at the cutoff (Imbens & Lemieux 2008).

    ONE hash aggregate of per-side decimal-exact sums (n, Σu, Σu²,
    Σy, Σuy with u = x − cutoff quantized to decimal(18,6)); the two
    2x2 OLS solves are fixed-order doubles of those exact sums.
    Returns NULL tau when either side has < 2 points or zero variance
    (the did_estimator rule: never fabricate an effect number).
    """
    u = (
        F.col(x_col).cast("decimal(18,6)")
        - F.lit(cutoff).cast("decimal(18,6)")
    ).cast("decimal(18,6)")
    yv = F.col(y_col).cast("decimal(18,6)")
    band = df.filter(
        (F.abs(F.col(x_col).cast("double") - F.lit(float(cutoff))))
        <= F.lit(float(bandwidth))
    )
    right = F.col(x_col).cast("double") >= F.lit(float(cutoff))
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731

    def side(cond, name):
        n = F.sum(F.when(cond, 1).otherwise(0)).cast("long")
        su = F.sum(F.when(cond, dec(u)))
        suu = F.sum(F.when(cond, dec(u * u)))
        sy = F.sum(F.when(cond, dec(yv)))
        suy = F.sum(F.when(cond, dec(u * yv)))
        return {
            f"n_{name}": n,
            f"su_{name}": su,
            f"suu_{name}": suu,
            f"sy_{name}": sy,
            f"suy_{name}": suy,
        }

    cols = {**side(~right, "l"), **side(right, "r")}
    agg = band.agg(*[c.alias(k) for k, c in cols.items()])

    def fit(name):
        n = F.col(f"n_{name}").cast("double")
        su = F.col(f"su_{name}").cast("double")
        suu = F.col(f"suu_{name}").cast("double")
        sy = F.col(f"sy_{name}").cast("double")
        suy = F.col(f"suy_{name}").cast("double")
        det = n * suu - su * su
        a = F.when(
            (F.col(f"n_{name}") >= 2) & (det != 0),
            (sy * suu - su * suy) / det,
        )
        b = F.when(
            (F.col(f"n_{name}") >= 2) & (det != 0),
            (n * suy - su * sy) / det,
        )
        return a, b

    a_l, b_l = fit("l")
    a_r, b_r = fit("r")
    return agg.select(
        F.col("n_l"),
        F.col("n_r"),
        F.round(a_l, 6).alias("intercept_l"),
        F.round(a_r, 6).alias("intercept_r"),
        F.round(b_l, 6).alias("slope_l"),
        F.round(b_r, 6).alias("slope_r"),
        F.round(a_r - a_l, 6).alias("tau"),
    )



def jarque_bera(
    df: DataFrame, value_col: str, group_col: str | None = None
) -> DataFrame:
    """Jarque-Bera normality test -> one row per group
    (group?, n, skewness, kurtosis_excess, jb_stat, reject_5pct).

    The moment-based normality check every parametric readout in the
    engine implicitly assumes (t-intervals, mSPRT, MDE, OLS
    inference): JB = n/6 · (S² + (K−3)²/4) with S, K the sample
    skewness and kurtosis, asymptotically chi-square(2) — the 5%
    critical value 5.991465 drives reject_5pct.

    Relational shape: ONE hash aggregate of the first four power
    sums. Σx and Σx² are exact decimal sums of the decimal(18,6)
    input; Σx³ and Σx⁴ CANNOT stay decimal (the (18,6)³ precision
    blows past 38, where the two engines reduce scale differently) —
    each per-row power is instead a fixed-order IEEE double quantized
    decimal(28,12) BEFORE its order-free sum (the ipw_fragments
    rule). Domain: |x| < ~2e3 so x⁴ fits the quantizer — pre-scale
    big-magnitude series (the ORACLE_PARITY rule). Central moments
    and the statistic are O(1) fixed-order doubles. NULLs when n < 4
    or the variance degenerates.
    """
    gcols = [group_col] if group_col else []
    x = F.col(value_col).cast("decimal(18,6)")
    xd = x.cast("double")
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    q28 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    sums = df.filter(F.col(value_col).isNotNull()).groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(x)).alias("s1"),
        F.sum(dec(x * x)).alias("s2"),
        F.sum(q28((xd * xd) * xd)).alias("s3"),
        F.sum(q28(((xd * xd) * xd) * xd)).alias("s4"),
    )
    n = F.col("n").cast("double")
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    m = d("s1") / n
    m2 = d("s2") / n - m * m
    m3 = d("s3") / n - 3.0 * m * (d("s2") / n) + 2.0 * ((m * m) * m)
    m4 = (
        d("s4") / n
        - 4.0 * m * (d("s3") / n)
        + 6.0 * (m * m) * (d("s2") / n)
        - 3.0 * (((m * m) * m) * m)
    )
    skew = F.try_divide(m3, F.sqrt((m2 * m2) * m2))
    kurt = F.try_divide(m4, m2 * m2) - 3.0
    jb = (n / 6.0) * (skew * skew + (kurt * kurt) / 4.0)
    ok = (F.col("n") > 3) & (m2 > 0)
    zero = F.lit(0.0)
    return sums.select(
        *gcols,
        "n",
        F.when(ok, F.round(skew, 6) + zero).alias("skewness"),
        F.when(ok, F.round(kurt, 6) + zero).alias("kurtosis_excess"),
        F.when(ok, F.round(jb, 6)).alias("jb_stat"),
        F.when(ok, jb > 5.991465).alias("reject_5pct"),
    )


def atkinson_index(
    df: DataFrame,
    value_col: str,
    epsilon: float = 0.5,
    group_col: str | None = None,
) -> DataFrame:
    """Atkinson inequality index A(epsilon) -> one row per group
    (group?, n, mean, atkinson).

    Completes the inequality family (gini_coefficient, theil_index,
    hhi, lorenz_curve) with the NORMATIVE member: epsilon is explicit
    inequality aversion, and A reads as "the share of total income
    society would give up to reach equal shares at current welfare".

        A = 1 − (1/μ) · ( (1/n) Σ x^(1−ε) )^(1/(1−ε)),  ε ≠ 1
        A = 1 − geomean(x)/μ,                            ε = 1

    Strictly positive values only; non-positive rows are excluded
    (reflected in n). Relational shape: ONE hash aggregate — Σx as
    exact decimal, Σ x^(1−ε) (or Σ ln x for ε = 1) as fixed-order
    doubles quantized decimal(28,12) before the order-free sum, with
    x^p written exp(p·ln x) for cross-engine portability (the
    weibull_fit rule); then O(1) closed forms. NULL when n = 0.
    """
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    gcols = [group_col] if group_col else []
    x = F.col(value_col).cast("double")
    base = df.filter(x > 0).select(
        *gcols,
        x.alias("x"),
        x.cast("decimal(28,6)").alias("xd"),
    )
    q28 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    eps = float(epsilon)
    if eps == 1.0:
        pw = F.log(F.col("x"))
    else:
        p = repr(1.0 - eps)
        pw = F.expr(f"exp({p} * ln(x))")
    sums = base.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("xd").cast("decimal(38,12)")).alias("s"),
        F.sum(q28(pw)).alias("sp"),
    )
    n = F.col("n").cast("double")
    mu = F.try_divide(F.col("s").cast("double"), n)
    mp = F.try_divide(F.col("sp").cast("double"), n)
    if eps == 1.0:
        ede = F.exp(mp)
    else:
        inv = repr(1.0 / (1.0 - eps))
        ede = F.expr(f"exp({inv} * ln(__mp))")
    staged = sums.withColumn("__mu", mu).withColumn("__mp", mp)
    atk = 1.0 - F.try_divide(
        ede if eps == 1.0 else F.expr(f"exp({repr(1.0 / (1.0 - eps))} * ln(__mp))"),
        F.col("__mu"),
    )
    ok = (F.col("n") > 0) & (F.col("__mu") > 0) & (F.col("__mp") > 0)
    return staged.select(
        *gcols,
        "n",
        F.when(F.col("n") > 0, F.round(F.col("__mu"), 6)).alias("mean"),
        F.when(ok, F.round(atk, 6) + F.lit(0.0)).alias("atkinson"),
    )


def levene_test(
    df: DataFrame, value_col: str, group_col: str
) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) test of equal
    variances -> one row (k, n, eta_sq, f_stat).

    The assumption gate in front of anova_oneway and every pooled-s²
    readout (mde_report, msprt_monitor, t-intervals): are the group
    variances even comparable? Brown-Forsythe runs one-way ANOVA on
    the absolute deviations from each GROUP MEDIAN — the
    median-centered form is robust to the heavy tails economic data
    actually has (plain Levene's mean-centering is fooled by
    skewness). A large f_stat says pooled-variance machinery is
    lying; route to Welch forms.

    Relational shape: one exact-percentile collapse to the k group
    medians (the certified percentile channel), broadcast back, then
    anova_oneway verbatim on z = |x − median| quantized
    decimal(18,6). Two fact scans by construction (median, then
    deviations); everything else is k-sized.
    """
    x = F.col(value_col).cast("double")
    meds = df.filter(x.isNotNull()).groupBy(
        F.col(group_col).alias("g")
    ).agg(F.percentile(x, 0.5).alias("med"))
    joined = df.filter(x.isNotNull()).select(
        F.col(group_col).alias("g"), x.alias("x")
    ).join(F.broadcast(meds), "g")
    zdf = joined.select(
        "g", F.abs(F.col("x") - F.col("med")).alias("z")
    )
    return anova_oneway(zdf, "g", "z")


def cochran_armitage(
    df: DataFrame, dose_col: str, outcome_col: str
) -> DataFrame:
    """Cochran-Armitage trend test -> one row
    (k, n, chi2_trend, reject_5pct).

    chi_square asks "is outcome associated with group at all?";
    Cochran-Armitage asks the sharper dose-response question — does
    the success rate move MONOTONICALLY with an ordered exposure
    (discount tier, delay bucket, price band)? One lost degree of
    freedom buys real power against ordered alternatives:

        chi2 = [Σ_k t_k (r_k − n_k p̄)]²
               / [p̄(1−p̄)(Σ n_k t_k² − (Σ n_k t_k)²/N)]

    with t_k the dose scores, r_k/n_k per-dose successes/totals,
    p̄ = R/N; ~chi-square(1), 5% critical value 3.841459.

    Relational shape: ONE fact-sized hash aggregate to the dose
    relation (exact integer counts, decimal(18,6) scores), one
    k-sized aggregate of decimal(28,12)-quantized score terms, O(1)
    fixed-order doubles. NULL when p̄ degenerates (all 0 / all 1) or
    the scores are constant.
    """
    t = F.col(dose_col).cast("decimal(18,6)")
    y = F.col(outcome_col).cast("int")
    per = df.filter(t.isNotNull() & y.isNotNull()).groupBy(
        t.alias("t")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum(y).cast("long").alias("rk"),
    )
    td = F.col("t").cast("double")
    q28 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("nk").cast("long").alias("n"),
        F.sum("rk").cast("long").alias("r"),
        F.sum(q28(td * F.col("rk").cast("double"))).alias("str_"),
        F.sum(q28(td * F.col("nk").cast("double"))).alias("stn"),
        F.sum(
            q28((td * td) * F.col("nk").cast("double"))
        ).alias("sttn"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    nn = d("n")
    pbar = dv(d("r"), nn)
    num = d("str_") - pbar * d("stn")
    den = (pbar * (1.0 - pbar)) * (
        d("sttn") - dv(d("stn") * d("stn"), nn)
    )
    chi2 = dv(num * num, den)
    ok = (pbar > 0) & (pbar < 1) & (den > 0)
    return agg.select(
        "k",
        "n",
        F.when(ok, F.round(chi2, 6)).alias("chi2_trend"),
        F.when(ok, chi2 > 3.841459).alias("reject_5pct"),
    )


def fleiss_kappa(
    df: DataFrame,
    subject_col: str,
    category_col: str,
    n_raters: int,
) -> DataFrame:
    """Fleiss' kappa multi-rater agreement -> ONE row
    (n_subjects, n_raters, n_dropped, p_bar, p_e, kappa).

    The k-category, n-rater generalization of cohens_kappa — the
    standard agreement gate on LLM/human labeling fleets before the
    labels feed training: kappa ~ 0 means the raters are noise,
    kappa > 0.6 is conventionally "substantial". Each input row is
    one rating (subject, category); subjects must carry exactly
    ``n_raters`` ratings — others are dropped whole and counted in
    ``n_dropped`` (Fleiss' statistic is undefined on ragged panels;
    the drop is the honest gate, never a silent reweight).

    P_i = (sum_j n_ij^2 - n) / (n(n-1)); p_bar = mean_i P_i;
    p_e = sum_j (sum_i n_ij / (N n))^2; kappa = (p_bar - p_e) /
    (1 - p_e). Everything until the final ratios is EXACT integer
    arithmetic (sums of squared counts), so both engines replay the
    doubles bit-for-bit — no quantization needed. NULL kappa when
    p_e = 1 (all raters always pick one category).

    Shape: two hash aggregates (subject x category counts, then the
    global fold) + one tiny category margin — map-side combinable,
    no windows, no joins wider than the category margin.
    """
    if n_raters < 2:
        raise ValueError(f"n_raters must be >= 2, got {n_raters}")
    cell = (
        df.filter(
            F.col(subject_col).isNotNull()
            & F.col(category_col).isNotNull()
        )
        .groupBy(
            F.col(subject_col).alias("s"),
            F.col(category_col).alias("c"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        # pinned: three consumers (per-subject fold, margins, totals)
        .localCheckpoint(eager=True)
    )
    per_subj = cell.groupBy("s").agg(
        F.sum("nij").cast("long").alias("n_i"),
        F.sum(F.col("nij") * F.col("nij")).cast("long").alias("sq_i"),
    )
    n = int(n_raters)
    qual = per_subj.withColumn(
        "ok", F.col("n_i") == F.lit(n)
    )
    # category margins over qualifying subjects only
    margins = (
        cell.join(
            qual.filter("ok").select("s"), "s"
        )
        .groupBy("c")
        .agg(F.sum("nij").cast("long").alias("m_j"))
        .agg(
            F.sum(F.col("m_j") * F.col("m_j"))
            .cast("long")
            .alias("sq_m"),
            F.count(F.lit(1)).cast("long").alias("k_cats"),
        )
    )
    totals = qual.agg(
        F.sum(F.when(F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_subj"),
        F.sum(F.when(~F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum(F.when(F.col("ok"), F.col("sq_i")).otherwise(0))
        .cast("long")
        .alias("sq_tot"),
    )
    j = totals.crossJoin(F.broadcast(margins))
    nd = F.col("n_subj").cast("double")
    nn = F.lit(float(n))
    # try_divide: ANSI mode raises on double /0; empty panels must
    # flow to NULL outputs, not crash the job
    p_bar = F.try_divide(
        F.col("sq_tot").cast("double") - nd * nn,
        nd * nn * (nn - F.lit(1.0)),
    )
    p_e = F.try_divide(
        F.col("sq_m").cast("double"), (nd * nn) * (nd * nn)
    )
    ok = (F.col("n_subj") > 0) & (F.lit(1.0) - p_e != F.lit(0.0))
    kappa = F.try_divide(p_bar - p_e, F.lit(1.0) - p_e)
    return j.select(
        F.col("n_subj").alias("n_subjects"),
        F.lit(n).cast("long").alias("n_raters"),
        F.col("n_dropped"),
        F.when(F.col("n_subj") > 0, F.round(p_bar, 6)).alias("p_bar"),
        F.when(F.col("n_subj") > 0, F.round(p_e, 6)).alias("p_e"),
        F.when(ok, F.round(kappa, 6)).alias("kappa"),
    )


def cronbach_alpha(
    df: DataFrame,
    subject_col: str,
    item_col: str,
    score_col: str,
    n_items: int,
) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability -> ONE row
    (n_subjects, k_items, n_dropped, sum_item_var, total_var, alpha).

    The standard "do these k items measure one construct" gate on any
    multi-item score (survey scales, rubric-scored LLM evals) before
    the items are averaged into a single metric:

        alpha = k/(k-1) * (1 - sum_i var_i / var_total)

    with var_i the per-item sample variance across subjects and
    var_total the variance of subject total scores. Subjects must
    carry exactly ``n_items`` distinct items; incomplete subjects are
    dropped whole and counted (the fleiss_kappa panel contract).

    Shape: one (subject, item) cell pass, one per-item variance
    aggregate + one per-subject total aggregate (both decimal-exact),
    one global fold. NULL alpha when var_total = 0 or fewer than 2
    qualifying subjects.
    """
    if n_items < 2:
        raise ValueError(f"n_items must be >= 2, got {n_items}")
    cell = (
        df.filter(
            F.col(subject_col).isNotNull()
            & F.col(item_col).isNotNull()
            & F.col(score_col).isNotNull()
        )
        .groupBy(
            F.col(subject_col).alias("s"), F.col(item_col).alias("i")
        )
        .agg(
            F.sum(F.col(score_col).cast("decimal(18,6)")).alias("v")
        )
        # pinned: reused by the subject fold and the item variances
        .localCheckpoint(eager=True)
    )
    per_subj = cell.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("ki"),
        F.sum(F.col("v").cast("decimal(38,12)")).alias("tot"),
    )
    k = int(n_items)
    qual = per_subj.select(
        "s", (F.col("ki") == F.lit(k)).alias("ok"), "tot"
    )
    good = qual.filter("ok").select("s", "tot")
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    # per-item variance over qualifying subjects
    items = (
        cell.join(good.select("s"), "s")
        .groupBy("i")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ni"),
            F.sum(dec(F.col("v"))).cast("double").alias("sv"),
            F.sum(dec(F.col("v") * F.col("v")))
            .cast("double")
            .alias("svv"),
        )
        .select(
            dv(
                F.col("svv")
                - dv(F.col("sv") * F.col("sv"), d("ni")),
                d("ni") - F.lit(1.0),
            ).alias("var_i")
        )
        .agg(
            F.sum(F.col("var_i").cast("decimal(28,12)"))
            .cast("double")
            .alias("sum_var_i")
        )
    )
    # subject-total variance
    totals = good.agg(
        F.count(F.lit(1)).cast("long").alias("n_subj"),
        F.sum(F.col("tot")).cast("double").alias("st"),
        F.sum(
            (F.col("tot") * F.col("tot")).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("stt"),
    )
    dropped = qual.agg(
        F.sum(F.when(~F.col("ok"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped")
    )
    j = totals.crossJoin(F.broadcast(items)).crossJoin(
        F.broadcast(dropped)
    )
    nd = d("n_subj")
    var_t = dv(
        d("stt") - dv(d("st") * d("st"), nd), nd - F.lit(1.0)
    )
    kd = F.lit(float(k))
    alpha = (
        kd
        / (kd - F.lit(1.0))
        * (F.lit(1.0) - dv(d("sum_var_i"), var_t))
    )
    ok = (F.col("n_subj") > 1) & (var_t > 0)
    return j.select(
        F.col("n_subj").alias("n_subjects"),
        F.lit(k).cast("long").alias("k_items"),
        F.col("n_dropped"),
        F.when(ok, F.round(d("sum_var_i"), 6)).alias("sum_item_var"),
        F.when(ok, F.round(var_t, 6)).alias("total_var"),
        F.when(ok, F.round(alpha, 6)).alias("alpha"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    n_treatments: int,
) -> DataFrame:
    """Friedman rank test for k related treatments -> ONE row
    (n_blocks, k, n_dropped, q_stat, reject_5pct).

    The repeated-measures companion to kruskal_wallis: each block
    (subject) ranks the k treatments; under H0 every treatment has
    the same rank distribution. Uses Conover's tie-robust form

        Q = (k-1) * sum_j (R_j - n(k+1)/2)^2 / (A - C)

    with R_j the treatment rank sums, A = sum of squared ranks and
    C = n k (k+1)^2 / 4 — reduces to the classic 12/(nk(k+1)) formula
    when no ties. Average ranks over value ties (the wilcoxon
    half-unit channel: ranks are exact half-integers, so every sum is
    EXACT in double — no quantization needed). Blocks without exactly
    ``n_treatments`` distinct treatments are dropped whole and
    counted. reject_5pct vs the chi2(k-1) literal (k <= 5).

    Shape: one rank window per block (k-sized partitions), one
    treatment aggregate, one global fold.
    """
    if n_treatments < 2 or n_treatments > 5:
        raise ValueError(
            f"n_treatments must be in 2..5, got {n_treatments}"
        )
    from pyspark.sql import Window  # noqa: PLC0415

    from econdatapipeline_spark.operators.timeseries import (  # noqa: PLC0415
        _CHI2_CRIT_5PCT,
    )

    k = int(n_treatments)
    crit = _CHI2_CRIT_5PCT[k - 1]
    cell = (
        df.filter(
            F.col(block_col).isNotNull()
            & F.col(treatment_col).isNotNull()
            & F.col(value_col).isNotNull()
        )
        .groupBy(
            F.col(block_col).alias("blk"),
            F.col(treatment_col).alias("trt"),
        )
        .agg(
            F.sum(F.col(value_col).cast("decimal(18,6)")).alias("v")
        )
        # pinned blocks-x-treatments relation (the theil_index
        # discipline): sizes/qual/ranks would re-derive it
        .localCheckpoint(eager=True)
    )
    sizes = cell.groupBy("blk").agg(
        F.count(F.lit(1)).cast("long").alias("kb")
    )
    qual = cell.join(
        sizes.filter(F.col("kb") == F.lit(k)).select("blk"), "blk"
    )
    n_dropped = sizes.agg(
        F.sum(F.when(F.col("kb") != F.lit(k), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped")
    )
    # average ranks within block: (rank + rank_end) / 2 via the
    # min/max rank trick — exact half-integers
    wlo = Window.partitionBy("blk").orderBy("v")
    whi = Window.partitionBy("blk").orderBy(F.col("v").desc())
    ranked = qual.select(
        "blk",
        "trt",
        (
            (
                F.rank().over(wlo).cast("double")
                + (
                    F.lit(float(k + 1))
                    - F.rank().over(whi).cast("double")
                )
            )
            / F.lit(2.0)
        ).alias("r"),
    )
    per_trt = ranked.groupBy("trt").agg(
        F.sum("r").alias("rj"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    a_tot = ranked.agg(
        F.sum(F.col("r") * F.col("r")).alias("a"),
        (F.count(F.lit(1)) / F.lit(k)).cast("long").alias("n"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    kd = F.lit(float(k))
    fold = per_trt.crossJoin(F.broadcast(a_tot)).select(
        "trt",
        "rj",
        "a",
        "n",
        (
            (
                F.col("rj")
                - d("n") * (kd + F.lit(1.0)) / F.lit(2.0)
            )
            * (
                F.col("rj")
                - d("n") * (kd + F.lit(1.0)) / F.lit(2.0)
            )
        ).alias("dev2"),
    )
    fin = fold.groupBy().agg(
        F.max("n").alias("n"),
        F.max("a").alias("a"),
        F.sum("dev2").alias("sdev"),
    )
    c_term = (
        d("n")
        * kd
        * (kd + F.lit(1.0))
        * (kd + F.lit(1.0))
        / F.lit(4.0)
    )
    q = dv((kd - F.lit(1.0)) * F.col("sdev"), F.col("a") - c_term)
    ok = (F.col("n") > 1) & ((F.col("a") - c_term) > 0)
    out = fin.crossJoin(F.broadcast(n_dropped))
    return out.select(
        F.col("n").alias("n_blocks"),
        F.lit(k).cast("long").alias("k"),
        F.col("n_dropped"),
        F.when(ok, F.round(q, 6)).alias("q_stat"),
        F.when(ok, q > F.lit(crit)).alias("reject_5pct"),
    )


def diversity_index(
    df: DataFrame,
    group_col: str,
    category_col: str,
) -> DataFrame:
    """Category diversity per group -> (group, n, richness, shannon,
    simpson, evenness).

    The ecology trio every corpus-composition dashboard wants next to
    vocab_by_source: Shannon entropy H = -sum p ln p (information per
    draw), Simpson's 1 - sum p^2 (probability two draws differ), and
    Pielou evenness H / ln(richness). Exact counts; the only
    irrational terms are the ln's, quantized decimal(28,12) before
    the sum (the entropy channel). Evenness is NULL for single-
    category groups (ln 1 = 0).

    Shape: one (group, category) count, one per-group fold —
    map-side combinable, no windows.
    """
    cell = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(category_col).isNotNull()
        )
        .groupBy(
            F.col(group_col).alias("g"),
            F.col(category_col).alias("c"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nc"))
    )
    tot = cell.groupBy("g").agg(
        F.sum("nc").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("rich"),
    )
    j = cell.join(tot, "g")
    p = F.col("nc").cast("double") / F.col("n").cast("double")
    q28 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    per_g = j.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max("rich").alias("richness"),
        (-F.sum(q28(p * F.log(p))).cast("double")).alias("shannon"),
        (
            F.lit(1.0) - F.sum(q28(p * p)).cast("double")
        ).alias("simpson"),
    )
    ev = F.try_divide(
        F.col("shannon"),
        F.log(F.col("richness").cast("double")),
    )
    return per_g.select(
        F.col("g").alias(group_col),
        "n",
        "richness",
        F.round("shannon", 6).alias("shannon"),
        F.round("simpson", 6).alias("simpson"),
        F.when(F.col("richness") > 1, F.round(ev, 6)).alias(
            "evenness"
        ),
    )


def mahalanobis_fragments(d: int) -> dict:
    """Shared Spark/DuckDB fragments for Mahalanobis scoring — the
    arch/granger discipline. Over a moments relation with columns n,
    s_i (exact sums), c_i_j (exact cross-product sums, j >= i):
    means, sample covariances, the d unit-rhs Gauss solves that build
    the precision matrix, all as named fixed-order double steps.
    Returns {aggs, steps, mu, inv, ok} where mu[i] / inv[(i, j)] are
    output column names and ``aggs`` expects row columns x0..x{d-1}
    typed decimal(18,6).
    """
    from econdatapipeline_spark.operators.timeseries import (  # noqa: PLC0415
        _gauss_steps,
    )

    aggs = ["CAST(COUNT(*) AS BIGINT) AS n"]
    for i in range(d):
        aggs.append(
            f"CAST(SUM(CAST(x{i} AS DECIMAL(38,12))) AS DOUBLE)"
            f" AS s_{i}"
        )
    for i in range(d):
        for j in range(i, d):
            aggs.append(
                f"CAST(SUM(CAST(x{i} * x{j} AS DECIMAL(38,12)))"
                f" AS DOUBLE) AS c_{i}_{j}"
            )
    steps = [("nd", "CAST(n AS DOUBLE)")]
    mu = []
    for i in range(d):
        steps.append(
            (
                f"mu_{i}",
                f"CASE WHEN nd = 0 THEN NULL ELSE s_{i} / nd END",
            )
        )
        mu.append(f"mu_{i}")
    cov = {}
    for i in range(d):
        for j in range(i, d):
            steps.append(
                (
                    f"v_{i}_{j}",
                    f"CASE WHEN (nd - 1.0) = 0 THEN NULL ELSE"
                    f" (c_{i}_{j} - (CASE WHEN nd = 0 THEN NULL"
                    f" ELSE s_{i} * s_{j} / nd END)) / (nd - 1.0)"
                    f" END",
                )
            )
            cov[(i, j)] = f"v_{i}_{j}"
    inv = {}
    diag_all = []
    for col in range(d):
        b = ["1.0" if r == col else "0.0" for r in range(d)]
        g_steps, betas, diag = _gauss_steps(d, cov, b, f"mi{col}")
        steps += g_steps
        diag_all += diag
        for r in range(d):
            inv[(r, col)] = betas[r]
    pivots = " AND ".join(
        f"{x} > 0" for x in dict.fromkeys(diag_all)
    )
    ok = f"n > {d} AND {pivots}"
    return {"aggs": aggs, "steps": steps, "mu": mu, "inv": inv, "ok": ok}


def mahalanobis_scores(
    df: DataFrame,
    id_col: str,
    cols: list[str],
) -> DataFrame:
    """Mahalanobis distance per row -> (id, md2, is_outlier_5pct).

    The multivariate outlier screen anomaly_zscore cannot be: a point
    can sit within 2 sigma on every axis yet be wildly inconsistent
    with the correlation structure. md2 = (x - mu)' Sigma^{-1}
    (x - mu) ~ chi2(d) under multivariate normality; is_outlier_5pct
    flags md2 over the chi2(d) 5% literal (d <= 4).

    Discipline: ONE decimal-exact moments aggregate, the precision
    matrix from d unit-rhs unrolled SPD Gauss solves
    (mahalanobis_fragments — identical text both engines), the 1-row
    moments relation broadcast back, and the quadratic form expanded
    in fixed (i, j) order with decimal(18,9)-quantized means and
    precision entries. Rows with any NULL column are dropped. NULL
    scores on a singular covariance (the ok-gate).
    """
    from econdatapipeline_spark.operators.timeseries import (  # noqa: PLC0415
        _CHI2_CRIT_5PCT,
    )

    d = len(cols)
    if d < 2 or d > 4:
        raise ValueError(f"need 2..4 columns, got {d}")
    frag = mahalanobis_fragments(d)
    crit = _CHI2_CRIT_5PCT[d]
    keep = F.lit(True)
    for c in cols:
        keep = keep & F.col(c).isNotNull()
    base = df.filter(keep).select(
        F.col(id_col).alias("rid"),
        *[
            F.col(c).cast("decimal(18,6)").alias(f"x{i}")
            for i, c in enumerate(cols)
        ],
    )
    cur = base.groupBy().agg(*[F.expr(a) for a in frag["aggs"]])
    for name, e in frag["steps"]:
        cur = cur.withColumn(name, F.expr(e))
    q9 = lambda c: c.cast("decimal(18,9)").cast("double")  # noqa: E731
    mom = cur.select(
        F.expr(frag["ok"]).alias("ok"),
        *[q9(F.col(m)).alias(m) for m in frag["mu"]],
        *[
            q9(F.col(frag["inv"][(i, j)])).alias(f"w_{i}_{j}")
            for i in range(d)
            for j in range(d)
        ],
    )
    j = base.crossJoin(F.broadcast(mom))
    dev = {
        i: F.col(f"x{i}").cast("double") - F.col(f"mu_{i}")
        for i in range(d)
    }
    md2 = None
    for i in range(d):
        for jj in range(d):
            term = dev[i] * F.col(f"w_{i}_{jj}") * dev[jj]
            md2 = term if md2 is None else md2 + term
    return j.select(
        F.col("rid").alias(id_col),
        F.when(F.col("ok"), F.round(md2, 6)).alias("md2"),
        F.when(F.col("ok"), md2 > F.lit(crit)).alias(
            "is_outlier_5pct"
        ),
    )


def eb_shrink_rates(
    df: DataFrame,
    group_col: str,
    label_col: str,
) -> DataFrame:
    """Empirical-Bayes (beta-binomial) rate shrinkage -> one row per
    group (group, n, k, rate_raw, rate_shrunk, alpha, beta).

    The small-sample leaderboard fix: a 2/2 seller should not outrank
    a 950/1000 one. Method-of-moments beta-binomial: the prior's mean
    is the unweighted mean of group rates, its variance the observed
    between-group variance MINUS the average binomial noise
    E[r(1-r)/n]; then alpha = mu*K, beta = (1-mu)*K with
    K = mu(1-mu)/s2_true - 1 and

        rate_shrunk = (k + alpha) / (n + K)

    — groups with little data collapse toward the prior, big groups
    barely move. When the noise estimate swallows the between-group
    variance (s2_true <= 0, or K <= 0: no evidence of real
    heterogeneity) every group shrinks fully to mu and alpha/beta are
    NULL — documented, not fabricated.

    Shape: one per-group count aggregate, one tiny moments fold over
    the groups relation, broadcast back. Exact integer counts; the
    prior moments are fixed-order doubles.
    """
    per_g = (
        df.filter(
            F.col(group_col).isNotNull()
            & F.col(label_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col(label_col).cast("double") != 0.0, 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("k"),
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    r = dv(d("k"), d("n"))
    q12 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    mom = per_g.select(
        "g", "n", "k", r.alias("r")
    ).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("gcnt"),
        F.sum(q12(F.col("r"))).cast("double").alias("sr"),
        F.sum(q12(F.col("r") * F.col("r"))).cast("double").alias("srr"),
        F.sum(
            q12(
                dv(
                    F.col("r") * (F.lit(1.0) - F.col("r")),
                    F.col("n").cast("double"),
                )
            )
        )
        .cast("double")
        .alias("snoise"),
    )
    gd = d("gcnt")
    mu = dv(d("sr"), gd)
    s2_obs = dv(d("srr") - dv(d("sr") * d("sr"), gd), gd - F.lit(1.0))
    noise = dv(d("snoise"), gd)
    s2_true = s2_obs - noise
    kk = dv(mu * (F.lit(1.0) - mu), s2_true) - F.lit(1.0)
    prior = mom.select(
        mu.alias("mu"),
        F.when((s2_true > 0) & (kk > 0), kk).alias("kk"),
        F.col("gcnt"),
    )
    j = per_g.crossJoin(F.broadcast(prior))
    alpha = F.col("mu") * F.col("kk")
    shrunk = F.when(
        F.col("kk").isNotNull(),
        dv(d("k") + alpha, d("n") + F.col("kk")),
    ).otherwise(F.col("mu"))
    return j.select(
        F.col("g").alias(group_col),
        "n",
        "k",
        F.round(dv(d("k"), d("n")), 6).alias("rate_raw"),
        F.round(shrunk, 6).alias("rate_shrunk"),
        F.round(alpha, 6).alias("alpha"),
        F.round(
            (F.lit(1.0) - F.col("mu")) * F.col("kk"), 6
        ).alias("beta"),
    )


def two_by_two(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """2x2 association measures -> ONE row (a, b, c, d, risk_ratio,
    rr_lo, rr_hi, odds_ratio, or_lo, or_hi).

    The epidemiology/experiment primitive underneath cmh_test's
    strata: a = exposed cases, b = exposed non-cases, c = unexposed
    cases, d = unexposed non-cases; RR = (a/(a+b))/(c/(c+d)),
    OR = ad/bc, with Wald 95% intervals on the log scale (Woolf):
    se(ln RR) = sqrt(1/a - 1/(a+b) + 1/c - 1/(c+d)),
    se(ln OR) = sqrt(1/a + 1/b + 1/c + 1/d). Exact integer counts
    from ONE conditional aggregate; the only doubles are the final
    ratios/logs. NULL estimates when any margin needed is zero
    (never-fabricate — use cmh_test/continuity-corrected tools for
    sparse tables).
    """
    base = df.filter(
        F.col(exposure_col).isNotNull() & F.col(outcome_col).isNotNull()
    ).select(
        (F.col(exposure_col).cast("double") != 0.0).alias("e"),
        (F.col(outcome_col).cast("double") != 0.0).alias("y"),
    )
    agg = base.groupBy().agg(
        F.sum(F.when(F.col("e") & F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("e") & ~F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when(~F.col("e") & F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when(~F.col("e") & ~F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    rr = dv(dv(dd("a"), dd("a") + dd("b")), dv(dd("c"), dd("c") + dd("d")))
    orr = dv(dd("a") * dd("d"), dd("b") * dd("c"))
    se_rr = F.sqrt(
        dv(F.lit(1.0), dd("a"))
        - dv(F.lit(1.0), dd("a") + dd("b"))
        + dv(F.lit(1.0), dd("c"))
        - dv(F.lit(1.0), dd("c") + dd("d"))
    )
    se_or = F.sqrt(
        dv(F.lit(1.0), dd("a"))
        + dv(F.lit(1.0), dd("b"))
        + dv(F.lit(1.0), dd("c"))
        + dv(F.lit(1.0), dd("d"))
    )
    z = F.lit(1.959964)
    ok_rr = (F.col("a") > 0) & (F.col("c") > 0) & (F.col("b") >= 0)
    ok_or = (
        (F.col("a") > 0)
        & (F.col("b") > 0)
        & (F.col("c") > 0)
        & (F.col("d") > 0)
    )
    return agg.select(
        "a",
        "b",
        "c",
        "d",
        F.when(ok_rr, F.round(rr, 6)).alias("risk_ratio"),
        F.when(ok_rr, F.round(F.exp(F.log(rr) - z * se_rr), 6)).alias(
            "rr_lo"
        ),
        F.when(ok_rr, F.round(F.exp(F.log(rr) + z * se_rr), 6)).alias(
            "rr_hi"
        ),
        F.when(ok_or, F.round(orr, 6)).alias("odds_ratio"),
        F.when(ok_or, F.round(F.exp(F.log(orr) - z * se_or), 6)).alias(
            "or_lo"
        ),
        F.when(ok_or, F.round(F.exp(F.log(orr) + z * se_or), 6)).alias(
            "or_hi"
        ),
    )


def capture_recapture(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
) -> DataFrame:
    """Chapman capture-recapture population estimate -> ONE row
    (n_a, n_b, n_both, n_hat, se, ci_lo, ci_hi).

    How many items exist that NEITHER list saw? Two independent
    sightings of the same population (two dedup passes, two crawler
    snapshots, two vendor lists) estimate the total as Chapman's
    bias-corrected N = (n_a+1)(n_b+1)/(m+1) - 1 with m the overlap;
    the dedup-QA companion to chao1_vocab (which needs per-item
    frequencies; this needs only membership). Wald CI from Seber's
    variance. NULL se/CI when m = 0 (the lists certify nothing about
    each other). Exact integer counts: one distinct per side + one
    join for the overlap.
    """
    a = df_a.select(F.col(key_col).alias("k")).filter(
        F.col("k").isNotNull()
    ).distinct()
    b = df_b.select(F.col(key_col).alias("k")).filter(
        F.col("k").isNotNull()
    ).distinct()
    counts = (
        a.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
        .crossJoin(b.agg(F.count(F.lit(1)).cast("long").alias("n_b")))
        .crossJoin(
            a.join(b, "k").agg(
                F.count(F.lit(1)).cast("long").alias("n_both")
            )
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    n_hat = dv(
        (d("n_a") + F.lit(1.0)) * (d("n_b") + F.lit(1.0)),
        d("n_both") + F.lit(1.0),
    ) - F.lit(1.0)
    var = dv(
        (d("n_a") + F.lit(1.0))
        * (d("n_b") + F.lit(1.0))
        * (d("n_a") - d("n_both"))
        * (d("n_b") - d("n_both")),
        (d("n_both") + F.lit(1.0))
        * (d("n_both") + F.lit(1.0))
        * (d("n_both") + F.lit(2.0)),
    )
    z = F.lit(1.959964)
    ok = F.col("n_both") > 0
    return counts.select(
        "n_a",
        "n_b",
        "n_both",
        F.round(n_hat, 6).alias("n_hat"),
        F.when(ok, F.round(F.sqrt(var), 6)).alias("se"),
        F.when(ok, F.round(n_hat - z * F.sqrt(var), 6)).alias("ci_lo"),
        F.when(ok, F.round(n_hat + z * F.sqrt(var), 6)).alias("ci_hi"),
    )


def good_turing(
    df: DataFrame,
    token_col: str,
    max_r: int = 5,
) -> DataFrame:
    """Good-Turing frequency report -> one row per count class
    r = 1..max_r plus the r = 0 unseen row:
    (r, n_r, r_star, p_class).

    The coverage question every corpus/vocab pipeline should answer
    before claiming completeness: the probability the NEXT token is
    unseen is n_1/N (Turing's estimate — r = 0 row, p_class), and
    observed counts deflate to r* = (r+1) n_{r+1}/n_r. Pairs with
    chao1_vocab (richness) — this is the mass view. Exact integer
    count-of-counts from TWO hash aggregates (token counts, then
    count histogram); NULL r_star where n_{r+1} or n_r is 0.
    """
    if max_r < 1 or max_r > 20:
        raise ValueError(f"max_r must be in 1..20, got {max_r}")
    counts = (
        df.filter(F.col(token_col).isNotNull())
        .groupBy(F.col(token_col).alias("tok"))
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    hist = counts.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    tot = counts.agg(
        F.sum("r").cast("long").alias("n_total"),
    )
    spark = df.sparkSession
    grid = spark.range(0, max_r + 1).select(
        F.col("id").cast("long").alias("r")
    )
    nxt = hist.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1")
    )
    j = (
        grid.join(hist, "r", "left")
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "r",
            F.coalesce("n_r", F.lit(0)).cast("long").alias("n_r"),
            F.coalesce("n_r1", F.lit(0)).cast("long").alias("n_r1"),
            "n_total",
        )
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    r_star = dv((d("r") + F.lit(1.0)) * d("n_r1"), d("n_r"))
    # class mass: r = 0 gets the Turing unseen estimate n_1/N; classes
    # r >= 1 carry their smoothed mass r* n_r / N. An EMPTY class
    # (n_r = 0, so r_star is NULL) carries mass 0, not NULL — NULL
    # would silently poison any downstream SUM(p_class) mass account.
    p_class = F.when(
        F.col("r") == 0, dv(d("n_r1"), d("n_total"))
    ).otherwise(
        F.when(
            F.col("n_r") > 0, dv(r_star * d("n_r"), d("n_total"))
        ).otherwise(F.lit(0.0))
    )
    return j.select(
        "r",
        "n_r",
        F.when(
            (F.col("r") > 0) & (F.col("n_r") > 0),
            F.round(r_star, 6),
        ).alias("r_star"),
        F.round(p_class, 6).alias("p_class"),
    ).orderBy("r")


def mcnemar_test(
    df: DataFrame,
    first_col: str,
    second_col: str,
) -> DataFrame:
    """McNemar's paired-binary test -> ONE row (n, n_00, n_01, n_10,
    n_11, chi2, reject_5pct).

    Did the SAME subjects flip between two binary measurements (model
    A vs model B verdicts on one eval set, before/after a change)?
    Only the discordant cells carry information: chi2 = (b - c)^2 /
    (b + c) with b = n_01, c = n_10, ~ chi2(1) under exchangeability
    — the paired complement to chi_square's independent-samples
    reading (and of cohens_kappa, which measures agreement rather
    than marginal shift). Uses the uncorrected statistic (document
    and prefer exact binomial below ~25 discordant pairs). Exact
    integer counts from ONE conditional aggregate. NULL chi2 when
    b + c = 0.
    """
    base = df.filter(
        F.col(first_col).isNotNull() & F.col(second_col).isNotNull()
    ).select(
        (F.col(first_col).cast("double") != 0.0).alias("p"),
        (F.col(second_col).cast("double") != 0.0).alias("q"),
    )
    agg = base.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(~F.col("p") & ~F.col("q"), 1).otherwise(0))
        .cast("long")
        .alias("n_00"),
        F.sum(F.when(~F.col("p") & F.col("q"), 1).otherwise(0))
        .cast("long")
        .alias("n_01"),
        F.sum(F.when(F.col("p") & ~F.col("q"), 1).otherwise(0))
        .cast("long")
        .alias("n_10"),
        F.sum(F.when(F.col("p") & F.col("q"), 1).otherwise(0))
        .cast("long")
        .alias("n_11"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    b = d("n_01")
    c = d("n_10")
    chi2 = F.try_divide((b - c) * (b - c), b + c)
    ok = (F.col("n_01") + F.col("n_10")) > 0
    return agg.select(
        "n",
        "n_00",
        "n_01",
        "n_10",
        "n_11",
        F.when(ok, F.round(chi2, 6)).alias("chi2"),
        F.when(ok, chi2 > F.lit(3.841459)).alias("reject_5pct"),
    )
