"""Generalized linear models over relational aggregates.

The regression layer the reference's documentation promises for its
indicator tables (economic_indicators.md:122-126): Poisson,
quasi-Poisson and NB2 regression for counts, logistic regression for
binary outcomes, plus the VIF / partial-correlation diagnostics.

Every fit is one bounded Newton/IRLS backbone, written once:

- ``_newton_fragments`` prints the SQL text of a p-covariate GLM. It
  is the single source of every expression BOTH the Spark operator and
  the DuckDB oracle (``__spark_entry__._newton_chain_sql``) evaluate,
  so operation order is shared by construction (the ipw_fragments
  discipline, evaluation.py:989). The solve is the generated
  fixed-order no-pivot Gaussian elimination of timeseries._gauss_steps.
- ``_newton_rounds`` runs init -> rounds x (aggregate -> solve ->
  1-row checkpoint); survival.weibull_aft runs its rounds through it.
- ``_glm_fit`` adds the subject build, the final aggregate and the
  standard-error chain.

A family is only the strings that differ:

    family     mu                 residual             weight        b0 seed
    poisson    exp(eta)           y - mu               mu            ln(ybar)
    negbin(a)  exp(eta)           (y - mu)/(1 + a mu)  mu/(1 + a mu) ln(ybar)
    logistic   1/(1 + exp(-eta))  y - mu               mu (1 - mu)   logit(ybar)

plus its deviance terms and the name of exp(coef) (rate_ratio for the
log link, odds_ratio for logit). quasipoisson_glm runs Poisson's fragments
with one extra Pearson term in the final aggregate. mu quantizes to
decimal(18,9) (the one libm exp channel); every per-row term is
quantized to decimal(28,12) before its order-free sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ..sources.tables import fan_out as _fan_out_capped

_YD = "CAST(y AS DOUBLE)"

# ln(ybar): the log-link intercept seed (poisson, negbin)
_LN_YBAR = (
    "CASE WHEN COUNT(*) > 0 AND SUM(y) > 0 THEN"
    " CAST(CAST(ln(CAST(SUM(y) AS DOUBLE)"
    " / CAST(COUNT(*) AS DOUBLE)) AS DECIMAL(18,9))"
    " AS DOUBLE) END"
)


def _s28(term: str, name: str) -> tuple[str, str]:
    """A per-row double quantized to decimal(28,12) before its
    order-free sum — the summation channel of every Newton aggregate."""
    return (name, f"CAST(SUM(CAST({term} AS DECIMAL(28,12))) AS DOUBLE)")


def _xj(j: int) -> str:
    return "1.0" if j == 0 else f"CAST(x{j} AS DOUBLE)"


def _newton_fragments(
    p: int, inv_link: str, family, b0_seed: str, ratio: str
) -> dict:
    """Shared Spark/DuckDB SQL fragments for a p-covariate GLM.

    Expects a subject relation with columns y and x1..xp
    (decimal(18,6)), and a 1-row params relation b0..bp (doubles).
    ``inv_link`` is the inverse link over ``{eta}``; ``family(mu)``
    returns (score residual, Hessian weight, extra final terms);
    ``b0_seed`` is the intercept's init aggregate; ``ratio`` names the
    exp(coef) output.

    Returns m, mu, pnames and init_terms / agg_terms / solve_steps(r) /
    final_terms / se_steps() / param_outputs() — see
    evaluation.ipw_fragments. NULL propagation: no rows or a singular
    X'WX Hessian NULLs every estimate (never-fabricate).
    """
    from .timeseries import _gauss_steps  # noqa: PLC0415

    if p < 1 or p > 7:
        raise ValueError(f"p must be in 1..7, got {p}")
    m = p + 1
    eta = "b0" + "".join(
        f" + b{j} * CAST(x{j} AS DOUBLE)" for j in range(1, m)
    )
    mu = f"CAST(CAST({inv_link.format(eta=eta)} AS DECIMAL(18,9)) AS DOUBLE)"
    resid, weight, final_extra = family(mu)

    agg_terms = [_s28(f"{_xj(j)} * {resid}", f"g{j}") for j in range(m)]
    agg_terms += [
        _s28(f"({_xj(j)} * {_xj(k)}) * {weight}", f"h{j}_{k}")
        for j in range(m)
        for k in range(j, m)
    ]
    agg_terms += [(f"b{j}", f"MIN(b{j})") for j in range(m)]
    init_terms = [("b0", b0_seed)] + [
        (f"b{j}", "CAST(0.0 AS DOUBLE)") for j in range(1, m)
    ]
    final_terms = agg_terms + [
        ("n", "CAST(COUNT(*) AS BIGINT)"),
        ("ysum", "CAST(COALESCE(SUM(y), 0) AS BIGINT)"),
        *final_extra,
    ]

    def _a_names():
        return {
            (j, k): f"h{j}_{k}" for j in range(m) for k in range(j, m)
        }

    def solve_steps(round_idx: int):
        # one shared prefix: every round's projection is textually
        # identical (the weibull_aft codegen-cache discipline)
        del round_idx
        b_names = [f"g{j}" for j in range(m)]
        steps, deltas, diag = _gauss_steps(m, _a_names(), b_names, "p")
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

    def se_steps():
        steps = []
        for j in range(m):
            rhs = ["1.0" if i == j else "0.0" for i in range(m)]
            s, betas, diag = _gauss_steps(m, _a_names(), rhs, f"v{j}")
            ok = " AND ".join(f"{d} > 0" for d in dict.fromkeys(diag))
            steps.extend(s)
            steps.append(
                (
                    f"var{j}",
                    f"CASE WHEN {ok} AND {betas[j]} > 0"
                    f" THEN {betas[j]} END",
                )
            )
        return steps

    def param_outputs():
        return [
            {
                "coef": f"round(b{j}, 6)",
                "se": f"round(sqrt(var{j}), 6)",
                "z": f"round(b{j} / sqrt(var{j}), 6)",
                ratio: f"round(exp(b{j}), 6)",
            }
            for j in range(m)
        ]

    return {
        "m": m,
        "mu": mu,
        "init_terms": init_terms,
        "agg_terms": agg_terms,
        "solve_steps": solve_steps,
        "final_terms": final_terms,
        "se_steps": se_steps,
        "param_outputs": param_outputs,
        "pnames": [f"b{j}" for j in range(m)],
    }


def poisson_fragments(p: int) -> dict:
    """Fragments for the p-covariate Poisson GLM (_newton_fragments):
    y (bigint >= 0) ~ Poisson(mu), ln mu = b0 + sum b_j x_j. The log
    likelihood is globally concave, so undamped Newton converges from
    the ln(mean y) seed. Every iterate must keep eta <= 20
    (mu <= ~4.9e8; beyond it the ANSI decimal cast raises loudly).
    """

    def family(mu: str):
        dev = (
            f"CASE WHEN y > 0 THEN {_YD} * ln({_YD} / {mu})"
            f" - ({_YD} - {mu}) ELSE {mu} END"
        )
        return f"({_YD} - {mu})", mu, [_s28(dev, "devhalf")]

    return _newton_fragments(p, "exp({eta})", family, _LN_YBAR, "rate_ratio")


def logistic_fragments(p: int) -> dict:
    """Fragments for the p-covariate binomial GLM with logit link
    (_newton_fragments): y (int 0/1) ~ Bernoulli(mu),
    logit mu = b0 + sum b_j x_j, seeded at logit(ybar).

    |eta| beyond ~21 saturates mu to exactly 0/1 — those subjects stop
    contributing to the score and Hessian (w = mu(1-mu) = 0) and any
    saturation NULLs the deviance/McFadden outputs via the n_sat
    counter (never-fabricate on a degenerate likelihood; coefficients
    still emit where the Hessian stays positive-definite).
    """

    def family(mu: str):
        dev = (
            f"CASE WHEN y = 1 THEN 0.0 - ln({mu})"
            f" ELSE 0.0 - ln(1.0 - {mu}) END"
        )
        return f"({_YD} - {mu})", f"{mu} * (1.0 - {mu})", [
            (
                "devhalf",
                f"CAST(SUM(CASE WHEN {mu} > 0.0 AND {mu} < 1.0 THEN"
                f" CAST({dev} AS DECIMAL(28,12)) END) AS DOUBLE)",
            ),
            (
                "n_sat",
                f"CAST(COALESCE(SUM(CASE WHEN {mu} <= 0.0 OR {mu} >= 1.0"
                " THEN 1 ELSE 0 END), 0) AS BIGINT)",
            ),
        ]

    logit_ybar = (
        "CASE WHEN SUM(y) > 0 AND SUM(y) < COUNT(*) THEN"
        " CAST(CAST(ln((CAST(SUM(y) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE))"
        " / (1.0 - CAST(SUM(y) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE))) AS DECIMAL(18,9))"
        " AS DOUBLE) END"
    )
    return _newton_fragments(
        p, "1.0 / (1.0 + exp(-({eta})))", family, logit_ybar, "odds_ratio"
    )


def negbin_fragments(p: int, alpha: float) -> dict:
    """Fragments for the p-covariate NB2 negative-binomial GLM with
    KNOWN dispersion ``alpha`` (_newton_fragments): y ~ NB2(mu, alpha)
    with Var = mu + alpha*mu^2, ln mu = b0 + sum b_j x_j. Fisher
    scoring: score x_j (y - mu)/(1 + alpha*mu), information
    x_j x_k mu/(1 + alpha*mu) — alpha = 0 IS Poisson, so the Poisson
    chain falls out as the reduction test. The alpha literal is
    injected verbatim into both engines' text — keep it binary-exact
    (0.5, 0.25, 1.0) for hash-certified contracts.

    NB2 deviance (no lgamma needed): 2*sum of
      y>0: y ln(y/mu) - (y + 1/alpha) ln((1+alpha y)/(1+alpha mu))
      y=0: (1/alpha) ln(1+alpha mu)
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    a = repr(float(alpha))

    def family(mu: str):
        den = f"(1.0 + {a} * {mu})"
        dev = (
            f"CASE WHEN y > 0 THEN {_YD} * ln({_YD} / {mu})"
            f" - ({_YD} + 1.0 / {a})"
            f" * ln((1.0 + {a} * {_YD}) / (1.0 + {a} * {mu}))"
            f" ELSE (1.0 / {a}) * ln(1.0 + {a} * {mu}) END"
        )
        return (
            f"(({_YD} - {mu}) / {den})",
            f"({mu} / {den})",
            [_s28(dev, "devhalf")],
        )

    return _newton_fragments(p, "exp({eta})", family, _LN_YBAR, "rate_ratio")


def _pearson_term(mu: str) -> tuple[str, str]:
    """quasipoisson_glm's Pearson sum of (y - mu)^2 / mu."""
    return (
        "pearson",
        f"CAST(SUM(CASE WHEN {mu} > 0.0 THEN"
        f" CAST((({_YD} - {mu})"
        f" * ({_YD} - {mu})) / {mu}"
        " AS DECIMAL(28,12)) END) AS DOUBLE)",
    )


def _fit_p(covariate_cols: list[str], rounds: int) -> int:
    """The GLM fits' shared argument checks -> the covariate count."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if not covariate_cols:
        raise ValueError("covariate_cols must name at least one column")
    return len(covariate_cols)


def _newton_rounds(subj: DataFrame, frag: dict, rounds: int) -> DataFrame:
    """The bounded Newton loop over a checkpointed subject relation ->
    the final 1-row params relation.

    Init aggregate, then each of the ``rounds`` is ONE hash aggregate
    of ``frag["agg_terms"]`` over ``subj`` cross-joined with the
    broadcast 1-row params, then the solve chain as ONE
    liveness-pruned spark.sql (timeseries._apply_steps_one_sql: a
    single parse + analysis, nested SELECTs carrying only still-live
    columns, the fragment text verbatim). Every round's solve text is
    identical, so codegen compiles it once; no barriers, since the
    chain is consumed once. Each round's params are checkpointed
    eagerly: without it round r's plan nests r broadcast subtrees and
    analysis/codegen cost grows superlinearly in rounds (measured ~9 s
    fixed overhead at 8 rounds vs ~3 s checkpointed); the data never
    touches the driver.
    """
    from .timeseries import _apply_steps_one_sql  # noqa: PLC0415

    pnames = frag["pnames"]
    b_cur = subj.agg(
        *[F.expr(e).alias(nm) for nm, e in frag["init_terms"]]
    )
    for r in range(1, rounds + 1):
        g = subj.crossJoin(F.broadcast(b_cur)).agg(
            *[F.expr(e).alias(nm) for nm, e in frag["agg_terms"]]
        )
        g = _apply_steps_one_sql(
            g,
            frag["solve_steps"](r),
            keep=[f"n{nm}" for nm in pnames],
            barrier_every=None,
        )
        b_cur = g.select(
            *[F.col(f"n{nm}").alias(nm) for nm in pnames]
        ).localCheckpoint(eager=True)
    return b_cur


def _glm_fit(
    df: DataFrame,
    keep,
    y,
    covariate_cols: list[str],
    frag: dict,
    rounds: int,
    extra_final=(),
) -> DataFrame:
    """Subject build + Newton rounds + final aggregate (frag's
    final_terms, then ``extra_final``) + standard-error chain -> the
    1-row fit relation the public GLM functions select from. ``keep``
    filters the response; NULL covariates are dropped here."""
    from .timeseries import _apply_steps_one_sql  # noqa: PLC0415

    for c in covariate_cols:
        keep = keep & F.col(c).isNotNull()
    # fan_out BEFORE the checkpoint: the subject relation is
    # scanned rounds+2 times and inherits the source's partitioning —
    # a single-file bench input would make every IRLS round a
    # single-task aggregate (measured 1.9s/round over 150k rows on
    # one core). Row-CAPPED (fan_out, ~16): an uncapped
    # defaultParallelism width was over-parallelism on the KB..MB
    # working set (driver scaling: 8 cores beat 32 on ipw/pca). The
    # per-round decimal sums are EXACT, so the row order change
    # cannot move a value (hashes re-certified).
    subj = df.filter(keep).select(
        y.alias("y"),
        *[
            F.col(c).cast("decimal(18,6)").alias(f"x{j}")
            for j, c in enumerate(covariate_cols, 1)
        ],
    ).transform(_fan_out_capped).localCheckpoint(eager=True)
    b_cur = _newton_rounds(subj, frag, rounds)
    fin = subj.crossJoin(F.broadcast(b_cur)).agg(
        *[
            F.expr(e).alias(nm)
            for nm, e in [*frag["final_terms"], *extra_final]
        ]
    )
    return _apply_steps_one_sql(
        fin, frag["se_steps"](), keep=None, barrier_every=None
    )


def _param_rows(
    fin: DataFrame, covariate_cols: list[str], params: list, scalars: dict
) -> DataFrame:
    """One output row per parameter ('intercept', then each
    covariate): param, n, each ``params`` column (SQL text per
    parameter), then each fit-wide ``scalars`` column."""
    labels = ["intercept", *covariate_cols]
    rows = F.array(
        *[
            F.struct(
                F.lit(lbl).alias("param"),
                *[F.expr(e).alias(k) for k, e in o.items()],
            )
            for lbl, o in zip(labels, params)
        ]
    )
    return fin.select(
        "n",
        *[c.alias(k) for k, c in scalars.items()],
        F.explode(rows).alias("r"),
    ).select(
        F.col("r.param").alias("param"),
        "n",
        *[F.col(f"r.{k}").alias(k) for k in params[0]],
        *scalars,
    )


def poisson_glm(
    df: DataFrame,
    response_col: str,
    covariate_cols: list[str],
    rounds: int = 6,
) -> DataFrame:
    """Poisson regression (log link, Newton/IRLS MLE) -> one row per
    parameter (param, n, coef, se, z, rate_ratio, deviance); params
    are 'intercept' then each covariate; deviance (the GLM
    goodness-of-fit, 2*[ll_saturated - ll_model]) repeats per row.

    exp(coef_j) is the RATE RATIO per unit x_j — the count-model
    analog of the logistic odds ratio and the Cox hazard ratio.
    Negative responses raise at plan time (ANSI guard in the filter);
    NULL rows are excluded.

    Architecture: the module's Newton backbone (_glm_fit) — each of
    the bounded ``rounds`` is ONE hash aggregate over the
    checkpointed subject table (score X'(y−mu) + Hessian X'WX upper
    triangle) cross-joined with the previous 1-row params relation,
    solved by the generated fixed-order Gaussian elimination the SQL
    oracle chains verbatim (poisson_fragments); SEs from unit-vector
    solves of the final Hessian. Iterates must keep eta <= 20 (the
    decimal(18,9) mu domain — loud ANSI failure, never silent
    corruption).

    Scale: subject table scanned rounds+2 times, each a map-side
    combinable aggregate; no window, no join, no driver loop.
    """
    frag = poisson_fragments(_fit_p(covariate_cols, rounds))
    keep = (
        F.col(response_col).isNotNull()
        & (F.col(response_col).cast("long") >= 0)
    )
    fin = _glm_fit(
        df, keep, F.col(response_col).cast("long"), covariate_cols,
        frag, rounds,
    )
    return _param_rows(
        fin,
        covariate_cols,
        frag["param_outputs"](),
        {"deviance": F.round(F.lit(2.0) * F.col("devhalf"), 6)},
    )


def logistic_glm(
    df: DataFrame,
    response_col: str,
    covariate_cols: list[str],
    rounds: int = 6,
) -> DataFrame:
    """Binomial GLM (logistic regression, Newton/IRLS MLE) -> one row
    per parameter (param, n, coef, se, z, odds_ratio, deviance,
    mcfadden_r2); params are 'intercept' then each covariate;
    deviance and McFadden pseudo-R2 repeat per row.

    Logistic for binary outcomes — the classification workhorse
    behind quality filters and churn/flag models. exp(coef_j) is the
    ODDS RATIO per unit x_j.

    The propensity step inside ipw_ate_multi/aipw_ate is this same
    fit; here it is exposed standalone WITH inference (SEs from
    unit-vector solves of the final Hessian), deviance, and
    McFadden's R2 = 1 - ll/ll0 against the base-rate-only model.

    Architecture: the poisson_glm backbone (_glm_fit) with
    logistic_fragments (the logit likelihood is globally concave).
    Saturated fitted probabilities (|eta| > ~21 under decimal(18,9))
    NULL the deviance/McFadden outputs via n_sat.
    """
    frag = logistic_fragments(_fit_p(covariate_cols, rounds))
    keep = F.col(response_col).isNotNull()
    fin = _glm_fit(
        df, keep, F.col(response_col).cast("int"), covariate_cols,
        frag, rounds,
    )
    # null-model log-likelihood from (n, ysum): fixed-order doubles.
    nd = F.col("n").cast("double")
    pb = F.col("ysum").cast("double") / nd
    ll0 = nd * (
        pb * F.log(pb) + (1.0 - pb) * F.log(1.0 - pb)
    )
    okdev = (
        (F.col("n_sat") == 0)
        & (F.col("ysum") > 0)
        & (F.col("ysum") < F.col("n"))
        & F.col("devhalf").isNotNull()
    )
    return _param_rows(
        fin,
        covariate_cols,
        frag["param_outputs"](),
        {
            "deviance": F.when(
                okdev, F.round(F.lit(2.0) * F.col("devhalf"), 6)
            ),
            "mcfadden_r2": F.when(
                okdev,
                F.round(1.0 - (F.lit(0.0) - F.col("devhalf")) / ll0, 6),
            ),
        },
    )


def vif_fragments(p: int) -> dict:
    """Shared Spark/DuckDB fragments for variance-inflation factors.
    Expects a subject relation with x1..xp (decimal(18,6)). Returns
    agg_terms (decimal-exact sums), corr_steps (named fixed-order
    correlation-matrix entries), solve_steps() (one unit-vector
    _gauss_steps chain per covariate over the correlation matrix —
    VIF_j is the j-th diagonal of R^-1), and per-covariate outputs.
    """
    from .timeseries import _gauss_steps  # noqa: PLC0415

    if p < 2 or p > 8:
        raise ValueError(f"p must be in 2..8, got {p}")

    agg_terms = [("n", "CAST(COUNT(*) AS BIGINT)")]
    for j in range(1, p + 1):
        agg_terms.append(
            (
                f"s{j}",
                f"CAST(SUM(CAST(x{j} AS DECIMAL(38,12))) AS DOUBLE)",
            )
        )
    for j in range(1, p + 1):
        for k in range(j, p + 1):
            agg_terms.append(
                (
                    f"s{j}_{k}",
                    f"CAST(SUM(CAST({_xj(j)} * {_xj(k)}"
                    " AS DECIMAL(28,12))) AS DOUBLE)",
                )
            )

    corr_steps = []
    for j in range(1, p + 1):
        for k in range(j, p + 1):
            corr_steps.append(
                (
                    f"c{j}_{k}",
                    f"s{j}_{k} - s{j} * s{k} / CAST(n AS DOUBLE)",
                )
            )
    for j in range(1, p + 1):
        for k in range(j + 1, p + 1):
            corr_steps.append(
                (
                    f"r{j}_{k}",
                    f"CASE WHEN c{j}_{j} > 0 AND c{k}_{k} > 0 THEN"
                    f" c{j}_{k} / sqrt(c{j}_{j} * c{k}_{k})"
                    " ELSE NULL END",
                )
            )

    def inverse_steps():
        a_names = {}
        for j in range(p):
            for k in range(j, p):
                a_names[(j, k)] = (
                    "1.0" if j == k else f"r{j + 1}_{k + 1}"
                )
        steps = []
        for j in range(p):
            rhs = ["1.0" if i == j else "0.0" for i in range(p)]
            s, betas, diag = _gauss_steps(p, a_names, rhs, f"w{j}")
            ok = " AND ".join(f"{d} > 0" for d in dict.fromkeys(diag))
            steps.extend(s)
            steps.append(
                (
                    f"vif{j + 1}",
                    f"CASE WHEN {ok} AND {betas[j]} >= 1.0"
                    f" THEN {betas[j]} END",
                )
            )
        return steps

    def outputs():
        outs = []
        for j in range(1, p + 1):
            outs.append(
                {
                    "vif": f"round(vif{j}, 6)",
                    "r_squared": f"round(1.0 - 1.0 / vif{j}, 6)",
                }
            )
        return outs

    return {
        "agg_terms": agg_terms,
        "corr_steps": corr_steps,
        "solve_steps": inverse_steps,
        "outputs": outputs,
    }


def vif(df: DataFrame, covariate_cols: list[str]) -> DataFrame:
    """Variance-inflation factors -> one row per covariate
    (param, n, vif, r_squared).

    THE pre-fit multicollinearity diagnostic for every regression in
    the engine (logistic_glm, poisson_glm, ipw_ate_multi, aipw_ate,
    cox_ph_multi, weibull_aft): VIF_j = 1/(1 − R²_j) where R²_j is
    from regressing x_j on the other covariates — equivalently the
    j-th diagonal of the inverse correlation matrix, which is how it
    is computed here (rule of thumb: VIF > 10 = problematic;
    r_squared emits the implied R²_j). A near-singular design that
    would NULL a downstream Newton fit through its pivot gate shows
    up HERE first, with a per-covariate culprit.

    Relational shape: ONE decimal-exact aggregate (Σx_j, Σx_j x_k),
    fixed-order correlation entries, then p unit-vector solves of the
    generated no-pivot Gaussian elimination (correlation matrices are
    SPD short of exact collinearity; non-PD pivots or VIF < 1 from
    degenerate arithmetic NULL that covariate's row). Fragments are
    shared with the SQL oracle verbatim (vif_fragments). Map-side
    combinable at any corpus size; no window, no join.
    """
    from .timeseries import _apply_steps_one_sql  # noqa: PLC0415

    p = len(covariate_cols)
    frag = vif_fragments(p)
    keep = F.lit(True)
    for c in covariate_cols:
        keep = keep & F.col(c).isNotNull()
    from econdatapipeline_spark.sources.tables import fan_out  # noqa: PLC0415

    # fan_out before the one heavy aggregate: a single-split source
    # serializes the p² decimal partial sums onto one core (measured
    # 2.6 s single-task at sf0.1); decimal sums are order-free, so
    # the repartition cannot move a value.
    subj = fan_out(
        df.filter(keep).select(
            *[
                F.col(c).cast("decimal(18,6)").alias(f"x{j}")
                for j, c in enumerate(covariate_cols, 1)
            ]
        )
    )
    g = subj.agg(
        *[F.expr(e).alias(nm) for nm, e in frag["agg_terms"]]
    )
    for nm, e in frag["corr_steps"]:
        g = g.withColumn(nm, F.expr(e))
    g = _apply_steps_one_sql(
        g, frag["solve_steps"](), keep=None, barrier_every=None
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(lbl).alias("param"),
                F.expr(o["vif"]).alias("vif"),
                F.expr(o["r_squared"]).alias("r_squared"),
            )
            for lbl, o in zip(covariate_cols, frag["outputs"]())
        ]
    )
    return g.select("n", F.explode(rows).alias("r")).select(
        F.col("r.param").alias("param"),
        "n",
        F.col("r.vif").alias("vif"),
        F.col("r.r_squared").alias("r_squared"),
    )


def partial_corr(
    df: DataFrame, covariate_cols: list[str]
) -> DataFrame:
    """Partial correlations for every covariate pair -> one row per
    unordered pair (var1, var2, corr, partial_corr).

    corr_matrix answers "do x_j and x_k move together?"; the partial
    correlation answers the sharper question — do they move together
    AFTER controlling for every other covariate? From the inverse
    correlation matrix: pcorr_jk = −inv_jk / sqrt(inv_jj · inv_kk).
    A large marginal corr with a near-zero partial corr is the
    classic "common driver" signature; the reverse is a masked
    direct relationship.

    Relational shape: the vif machinery verbatim (vif_fragments —
    one decimal-exact aggregate, fixed-order correlation entries, p
    unit-vector solves of the generated no-pivot Gauss chain give
    the FULL inverse, column j as w{j}_beta{i}); this operator just
    reads the off-diagonals too. NULL rows when the correlation
    matrix is not positive-definite (exact collinearity) — the vif
    pivot gate.
    """
    from .timeseries import _apply_steps_one_sql  # noqa: PLC0415

    p = len(covariate_cols)
    frag = vif_fragments(p)
    keep = F.lit(True)
    for c in covariate_cols:
        keep = keep & F.col(c).isNotNull()
    from econdatapipeline_spark.sources.tables import fan_out  # noqa: PLC0415

    # fan_out before the one heavy aggregate: a single-split source
    # serializes the p² decimal partial sums onto one core (measured
    # 2.6 s single-task at sf0.1); decimal sums are order-free, so
    # the repartition cannot move a value.
    subj = fan_out(
        df.filter(keep).select(
            *[
                F.col(c).cast("decimal(18,6)").alias(f"x{j}")
                for j, c in enumerate(covariate_cols, 1)
            ]
        )
    )
    g = subj.agg(
        *[F.expr(e).alias(nm) for nm, e in frag["agg_terms"]]
    )
    for nm, e in frag["corr_steps"]:
        g = g.withColumn(nm, F.expr(e))
    g = _apply_steps_one_sql(
        g, frag["solve_steps"](), keep=None, barrier_every=None
    )
    entries = []
    for j in range(1, p + 1):
        for k in range(j + 1, p + 1):
            # inverse entries: column j of R^-1 is w{j-1}_beta{i}
            inv_jk = f"w{j - 1}_beta{k - 1}"
            inv_jj = f"w{j - 1}_beta{j - 1}"
            inv_kk = f"w{k - 1}_beta{k - 1}"
            ok = (
                f"vif{j} IS NOT NULL AND vif{k} IS NOT NULL"
                f" AND {inv_jj} > 0 AND {inv_kk} > 0"
            )
            pc = (
                f"CASE WHEN {ok} THEN round((0.0 - {inv_jk})"
                f" / sqrt({inv_jj} * {inv_kk}), 6) + 0.0"
                " ELSE NULL END"
            )
            entries.append(
                F.struct(
                    F.lit(covariate_cols[j - 1]).alias("var1"),
                    F.lit(covariate_cols[k - 1]).alias("var2"),
                    F.expr(
                        f"round(r{j}_{k}, 6) + 0.0"
                    ).alias("corr"),
                    F.expr(pc).alias("partial_corr"),
                )
            )
    return g.select(
        F.explode(F.array(*entries)).alias("e")
    ).select(
        F.col("e.var1").alias("var1"),
        F.col("e.var2").alias("var2"),
        F.col("e.corr").alias("corr"),
        F.col("e.partial_corr").alias("partial_corr"),
    )


def quasipoisson_glm(
    df: DataFrame,
    response_col: str,
    covariate_cols: list[str],
    rounds: int = 6,
) -> DataFrame:
    """Quasi-Poisson regression -> one row per parameter
    (param, n, coef, se, z, rate_ratio, deviance, dispersion).

    Real count data is almost always OVERDISPERSED (Var y > E y —
    bursty orders, clumped events), and poisson_glm's equidispersion
    SEs are then too small: every z-statistic is inflated and
    "significant" rates abound. The quasi-likelihood fix keeps the
    SAME point estimates (the Poisson score equations) and scales
    inference by the Pearson dispersion

        phi = (1/(n−m)) Σ (y − mu)² / mu,
        se_quasi = se_poisson · sqrt(phi)

    — the standard first remedy before reaching for negative
    binomial. dispersion ~ 1 says poisson_glm was fine; >> 1 says
    its inference was fiction.

    Architecture: poisson_fragments verbatim (identical Newton
    rounds, so coef/rate_ratio/deviance match poisson_glm exactly —
    twin-tested) plus ONE extra decimal(28,12)-quantized Pearson
    term in the final aggregate, over the fragments' own mu; the SE
    scaling is O(1) fixed-order doubles. Same NULL gates, plus NULL
    se/z/dispersion when n <= m (no residual dof).
    """
    frag = poisson_fragments(_fit_p(covariate_cols, rounds))
    m = frag["m"]
    keep = (
        F.col(response_col).isNotNull()
        & (F.col(response_col).cast("long") >= 0)
    )
    fin = _glm_fit(
        df, keep, F.col(response_col).cast("long"), covariate_cols,
        frag, rounds, [_pearson_term(frag["mu"])],
    )
    nd = F.col("n").cast("double")
    phi = F.try_divide(F.col("pearson"), nd - float(m))
    fin = fin.withColumn(
        "phi", F.when((F.col("n") > m) & (phi > 0), phi)
    )
    return _param_rows(
        fin,
        covariate_cols,
        [
            {
                "coef": o["coef"],
                "se": f"round(sqrt(var{j}) * sqrt(phi), 6)",
                "z": f"round(b{j} / (sqrt(var{j}) * sqrt(phi)), 6)",
                "rate_ratio": o["rate_ratio"],
            }
            for j, o in enumerate(frag["param_outputs"]())
        ],
        {
            "deviance": F.round(F.lit(2.0) * F.col("devhalf"), 6),
            "dispersion": F.round(F.col("phi"), 6),
        },
    )


def negbin_glm(
    df: DataFrame,
    response_col: str,
    covariate_cols: list[str],
    alpha: float = 0.5,
    rounds: int = 6,
) -> DataFrame:
    """NB2 negative-binomial regression with known dispersion ->
    one row per parameter (param, n, coef, se, z, rate_ratio,
    deviance).

    Completes the count triad: poisson_glm assumes Var = mu (its SEs
    collapse under real-world clumping), quasipoisson_glm rescales
    them post hoc, negbin_glm puts the overdispersion IN the
    likelihood — Var = mu + alpha*mu^2 — so both the coefficients'
    weighting and the deviance are overdispersion-aware. ``alpha``
    is supplied (estimate it upstream from quasipoisson's Pearson
    phi: alpha ~ (phi - 1)/mean(mu) as a method-of-moments seed);
    alpha -> 0 recovers Poisson exactly (tested).

    Plumbing is poisson_glm's (_glm_fit) with Fisher scoring;
    negbin_fragments shares the step text with the oracle. Keep
    alpha binary-exact for hash-certified use.
    """
    frag = negbin_fragments(_fit_p(covariate_cols, rounds), alpha)
    keep = (
        F.col(response_col).isNotNull()
        & (F.col(response_col).cast("long") >= 0)
    )
    fin = _glm_fit(
        df, keep, F.col(response_col).cast("long"), covariate_cols,
        frag, rounds,
    )
    return _param_rows(
        fin,
        covariate_cols,
        frag["param_outputs"](),
        {"deviance": F.round(F.lit(2.0) * F.col("devhalf"), 6)},
    )
