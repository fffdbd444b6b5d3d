"""Lloyd's k-means over an embedding column, fully relational.

The classic clustering pass a curation pipeline runs over document
embeddings (semantic bucketing before semdedup; corpus mixture
analysis). Assignment runs as a MAP-ONLY fold with the k·d centroid
values as plan literals (the mmr_select/pca_power pattern — zero
shuffle per round for the n·d·k flops); centroid updates and the
final inertia stay relational aggregates over the exploded
(row, pos, val) relation. The oracle replays the RELATIONAL form of
the same iteration as plain unrolled CTEs — value-identical because
every distance is carried as 1e12-scaled exact longs of the same
decimal(28,12)-quantized squared deviations (long sum == decimal sum
in any order), and the tie-break (array_min over (dist, cluster)
structs = lexicographic) is exactly the relational ROW_NUMBER order.

Engine parity: centroid components re-quantize each round via
floor(mu·1e9 + 0.5)/1e9 — a pure double function, the ORACLE_PARITY
floor rule; the final inertia is recomputed as the relational decimal
sum over each member's winning centroid only (n·d rows), so its
decimal -> double conversion is the single-rounding chain the oracle
performs. Deterministic end-to-end: same seeds, same assignment, same
centroids on both engines, bit-for-bit (measured: the fold assignment
cut sf0.1 latency vs the n·d·k join form — see SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from econdatapipeline_spark.sources.tables import fan_out

# kmeans_lloyd's size gate for exact=None: at or below this many
# vectors the certified decimal arithmetic runs, above it doubles.
EXACT_GATE_ROWS = 1_000_000


def _md5_uniform(prefix: str, id_col):
    """The engine's deterministic-randomness idiom (bootstrap_ci /
    dp_group_counts): md5(prefix || id) first 8 hex chars -> integer
    -> exact rational in (0, 1), bit-replayable by the SQL oracle."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), id_col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 1000003
        + 1
    ).cast("double") / F.lit(1000005.0)


def _sq_dist_fold(mu):
    """Exact decimal(28,12) squared distance of the vector column `v`
    to the literal centroid ``mu`` — the certified assignment fold."""
    term = lambda a, b: ((a - b) * (a - b)).cast("decimal(28,12)")  # noqa: E731
    return F.aggregate(
        F.zip_with(F.col("v"), F.lit(mu), term),
        F.lit(0).cast("decimal(28,12)"),
        lambda acc, t: (acc + t).cast("decimal(28,12)"),
    )


def _kmeanspp_md5_seeds(vecs, k: int, salt: str = "kpp") -> list[int]:
    """Deterministic k-means++ (Arthur & Vassilvitskii 2007 D²
    sampling) seed ids, certification-replayable on both engines.

    True k-means++ draws each next seed with probability proportional
    to D²(x) (squared distance to the nearest chosen seed). The draw
    is made deterministic with the md5-uniform Efraimidis-Spirakis
    race (weighted sampling by max u^(1/w), equivalently max
    ln(u)/w): u depends only on (selection round, id), so both
    engines replay the identical choice. The first seed maximizes the
    round-1 uniform itself. Keys quantize to decimal(18,9) with ties
    to the larger id — the ln-class 1-ulp caveat, shared with every
    ln-based query.

    Scale posture: k−1 rounds, each ONE top-1 TakeOrdered over the
    vectors with D² as a plan-literal distance fold (the Lloyd
    assignment shape — zero shuffle) plus a 1-row vector fetch.
    """
    u1 = _md5_uniform(f"{salt}:1:", F.col("id"))
    first = (
        vecs.select("id", "v", u1.alias("u"))
        .orderBy(F.col("u").desc(), F.col("id").desc())
        .first()
    )
    chosen = [(int(first["id"]), list(first["v"]))]
    for c in range(2, k + 1):
        dls = [_sq_dist_fold(mu) for _, mu in chosen]
        w = dls[0] if len(dls) == 1 else F.least(*dls)
        u = _md5_uniform(f"{salt}:{c}:", F.col("id"))
        key9 = (F.log(u) / w.cast("double")).cast("decimal(18,9)")
        pick = (
            vecs.select("id", "v", w.alias("w"), key9.alias("key"))
            .filter(F.col("w") > 0)
            .orderBy(F.col("key").desc(), F.col("id").desc())
            .first()
        )
        if pick is None:  # fewer distinct points than k
            raise ValueError(
                f"kmeans++ found fewer than {k} distinct vectors"
            )
        chosen.append((int(pick["id"]), list(pick["v"])))
    return [i for i, _ in chosen]


def _md5_uniform_py(prefix: str, ident) -> float:
    """Driver-side replica of _md5_uniform — same hash, same rational,
    so deterministic choices over a SMALL candidate set (the k-means‖
    finish) use the identical randomness idiom as the corpus races."""
    import hashlib  # noqa: PLC0415

    h = hashlib.md5(f"{prefix}{ident}".encode()).hexdigest()[:8]
    return (int(h, 16) % 1000003 + 1) / 1000005.0


def _kmeanspar_md5_seeds(
    vecs,
    k: int,
    salt: str = "kpar",
    ell: int | None = None,
    rounds: int = 5,
) -> list[int]:
    """Deterministic k-means‖ (Bahmani et al. 2012) seed ids — the
    LARGE-k seeding path (VERDICT r8 #2). _kmeanspp_md5_seeds runs
    k−1 sequential full-corpus D² races: O(k²·n·d) work and k−1 job
    barriers, a latency cliff at production k (hundreds+, e.g.
    semdedup bucketing). k-means‖ OVERSAMPLES instead: each of the
    bounded ``rounds`` takes the top-ℓ (ℓ = 2k default) points by the
    same md5-uniform Efraimidis-Spirakis key ln(u)/D² in ONE race,
    then the ≤ 1+ℓ·rounds candidates are finished driver-side by
    WEIGHTED k-means++ (weight = corpus points nearest each
    candidate) using the identical md5 randomness. Corpus passes are
    ROUNDS-NOT-K: 2 per round (top-ℓ race + carried-min update) plus
    one weight pass — ~2·rounds+2 total at ANY k (SCALE.md probe).

    The carried min-distance column updates through a vectorized
    Arrow mapInPandas kernel (x@C.T matmul against the ≤ℓ new
    candidate rows) — a documented Arrow site: this path exists for
    large k where the certified decimal fold expression would bloat
    the plan (ℓ·d literal terms per round); it is NOT
    oracle-certified (double arithmetic), which is why the k <= 8
    gate keeps _kmeanspp_md5_seeds as the certified path.
    """
    import numpy as np  # noqa: PLC0415

    if ell is None:
        ell = 2 * k
    u1 = _md5_uniform(f"{salt}:1:", F.col("id"))
    first = (
        vecs.select("id", "v", u1.alias("u"))
        .orderBy(F.col("u").desc(), F.col("id").desc())
        .first()
    )
    cand_ids = [int(first["id"])]
    cand_vecs = [list(first["v"])]

    def min_dist_kernel(cmat, carry_w):
        import pandas as pd  # noqa: PLC0415

        c2 = (cmat * cmat).sum(axis=1)

        def kernel(batches):
            for pdf in batches:
                x = np.array(pdf["v"].tolist(), dtype=np.float64)
                d = (
                    (x * x).sum(axis=1)[:, None]
                    - 2.0 * (x @ cmat.T)
                    + c2[None, :]
                )
                dm = np.maximum(d.min(axis=1), 0.0)
                if carry_w:
                    dm = np.minimum(
                        pdf["w"].to_numpy(dtype=np.float64), dm
                    )
                yield pd.DataFrame(
                    {"id": pdf["id"], "v": pdf["v"], "w": dm}
                )

        return kernel

    cur = vecs.mapInPandas(
        min_dist_kernel(np.array(cand_vecs), False),
        "id long, v array<double>, w double",
    ).localCheckpoint(eager=True)
    for r in range(2, rounds + 2):
        u = _md5_uniform(f"{salt}:{r}:", F.col("id"))
        key = F.log(u) / F.col("w")
        picks = (
            cur.filter(F.col("w") > 0)
            .select("id", "v", key.alias("key"))
            .orderBy(F.col("key").desc(), F.col("id").desc())
            .limit(ell)
            .collect()
        )
        if not picks:
            break
        new_vecs = np.array([list(p["v"]) for p in picks])
        cand_ids.extend(int(p["id"]) for p in picks)
        cand_vecs.extend(list(p["v"]) for p in picks)
        cur = cur.mapInPandas(
            min_dist_kernel(new_vecs, True),
            "id long, v array<double>, w double",
        ).localCheckpoint(eager=True)
    if len(cand_ids) < k:
        raise ValueError(
            f"k-means|| found fewer than {k} distinct candidates"
        )
    # ONE weight pass: corpus points per nearest candidate (ties to
    # the LOWEST candidate index — numpy argmin's first-minimum rule)
    cmat = np.array(cand_vecs)
    c2 = (cmat * cmat).sum(axis=1)

    def weight_kernel(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            x = np.array(pdf["v"].tolist(), dtype=np.float64)
            d = (
                (x * x).sum(axis=1)[:, None]
                - 2.0 * (x @ cmat.T)
                + c2[None, :]
            )
            yield pd.DataFrame({"ci": d.argmin(axis=1)})

    wrows = (
        vecs.mapInPandas(weight_kernel, "ci int")
        .groupBy("ci")
        .count()
        .collect()
    )
    weights = {int(r["ci"]): int(r["count"]) for r in wrows}
    # driver-side weighted k-means++ over the candidate set (<=
    # 1+ell*rounds rows): the E-S race again, weight*D² sampling,
    # ties to the larger candidate id
    order = sorted(
        range(len(cand_ids)),
        key=lambda i: (
            -(
                (np.log(_md5_uniform_py(f"{salt}:w1:", cand_ids[i])))
                / max(weights.get(i, 0), 1e-12)
            ),
            -cand_ids[i],
        ),
    )
    chosen = [order[0]]
    # incremental nearest-chosen distance: one |C|-row update per
    # selection instead of recomputing min-over-chosen per candidate
    # per step — O(k·|C|·d) total, so the driver finish stays flat as
    # k grows (same values: each pairwise distance is the identical
    # numpy d-vector sum, and min is order-free)
    dmin = ((cmat - cmat[order[0]]) ** 2).sum(axis=1)
    for step in range(2, k + 1):
        best = None
        best_key = None
        for i in range(len(cand_ids)):
            if i in chosen:
                continue
            wgt = weights.get(i, 0) * float(dmin[i])
            if wgt <= 0:
                continue
            key = (
                np.log(
                    _md5_uniform_py(
                        f"{salt}:w{step}:", cand_ids[i]
                    )
                )
                / wgt
            )
            if (
                best_key is None
                or key > best_key
                or (key == best_key and cand_ids[i] > cand_ids[best])
            ):
                best, best_key = i, key
        if best is None:
            raise ValueError(
                f"k-means|| found fewer than {k} distinct candidates"
            )
        chosen.append(best)
        dmin = np.minimum(dmin, ((cmat - cmat[best]) ** 2).sum(axis=1))
    return [cand_ids[i] for i in chosen]


def _fit(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    rounds: int,
    seed_ids: list[int] | None,
    exact: bool | None,
    init: str = "fixed",
):
    """Shared Lloyd loop -> (final assignment carrying its vector,
    final centroid relation) — see kmeans_lloyd for the contract."""
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    spark = df.sparkSession
    if init not in ("fixed", "kmeanspp_md5", "kmeanspar_md5"):
        raise ValueError(
            f"init must be fixed|kmeanspp_md5|kmeanspar_md5,"
            f" got {init!r}"
        )
    # fan_out BEFORE the checkpoint: the embeddings table often scans
    # as ONE parquet split, and localCheckpoint pins that layout — so
    # every per-round assignment fold (the n·d·k flops) would run as a
    # single task. The repartition is a one-time KB..MB shuffle; the
    # fold, the posexplode, and the final inertia stage all inherit
    # the parallel layout. Results-neutral: assignment is row-wise and
    # every aggregate downstream is order-free (guide §2.4).
    vecs = fan_out(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
    ).localCheckpoint(eager=True)
    if seed_ids is not None:
        seeds = list(seed_ids)
    elif init == "kmeanspar_md5":
        seeds = _kmeanspar_md5_seeds(vecs, k)
    elif init == "kmeanspp_md5":
        # AUTO-GATE on k (VERDICT r8 #2, the bradley_terry/markov
        # pattern): the certified sequential D² race is O(k²·n·d)
        # with k−1 job barriers — correct at contract k, a latency
        # cliff at production k. Above the gate the k-means‖
        # oversampling path runs rounds-not-k corpus passes.
        if k <= 8:
            seeds = _kmeanspp_md5_seeds(vecs, k)
        else:
            seeds = _kmeanspar_md5_seeds(vecs, k)
    else:
        seeds = list(range(k))
    if len(seeds) != k:
        raise ValueError(f"need exactly {k} seed ids, got {len(seeds)}")
    if exact is None:
        # AUTO-SELECT (the bradley_terry/markov size-gate pattern,
        # VERDICT r7 #3): the certified decimal arithmetic is ~4x the
        # cost of plain doubles (193 s vs 51 s at 2M x 64 on
        # local[32]) and exists for oracle replay — engage it only at
        # certification-sized inputs; above the gate the double path
        # produces the same clustering on any non-adversarial input
        # (an assignment flip needs a distance tie within one double
        # ulp — tests/test_gates.py) but not the same hashes.
        exact = vecs.count() <= EXACT_GATE_ROWS
    pts = (
        vecs.select("id", F.posexplode(F.col("v")))
        .select(
            "id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("val")
        )
        .localCheckpoint(eager=True)
    )
    seed_map = spark.createDataFrame(
        [(c + 1, int(i)) for c, i in enumerate(sorted(seeds))],
        "cluster int, id long",
    )
    q9 = F.floor(F.col("mu") * 1000000000.0 + 0.5) / 1000000000.0
    cents = (
        pts.join(F.broadcast(seed_map), "id")
        .select("cluster", "pos", F.col("val").alias("mu"))
        .select("cluster", "pos", q9.alias("mu"))
        .localCheckpoint(eager=True)
    )

    # Assignment fast path: centroids are k·d values — collect them
    # and fold each distance as a map-only expression over the vector
    # column, carrying per-term 1e12-SCALED LONGS of the identical
    # decimal(28,12)-quantized squared deviations (the kaplan_meier
    # lnq idiom): the long sum IS the decimal sum, so the winner and
    # every tie-break (array_min over (dist, cluster) structs =
    # lexicographic = dist asc, cluster asc) are bit-identical to the
    # relational join the oracle replays — with zero shuffle.
    def collect_cents(c_rel):
        by = {}
        for r in c_rel.collect():
            by.setdefault(r["cluster"], {})[r["pos"]] = r["mu"]
        return {
            c: [m[p] for p in sorted(m)] for c, m in sorted(by.items())
        }

    def assign_fast(c_by):
        # Exact-path accumulator is decimal(28,12), NOT a 1e12-scaled
        # long (ADVICE r7 medium): a long per-term overflows silently
        # once a squared deviation reaches ~9.2e6 (decimal->long cast
        # overflows to NULL under non-ANSI Spark, and a NULL dl sorts
        # first in array_min — corrupted assignments, no error). The
        # decimal sum carries the IDENTICAL values (same scale-12
        # quantization, exact order-free addition; the re-cast in the
        # merge keeps the accumulator type stable and only narrows
        # integer headroom), so winners/ties/hashes are unchanged,
        # while the safe domain widens to sum-of-squared-deviations
        # < 1e16 per (vector, centroid) — i.e. |component| up to ~1e7
        # at d = 64, far past any embedding-normalized input. Inputs
        # beyond THAT overflow to NULL dl: documented domain bound.
        dists = []
        for c, mu in sorted(c_by.items()):
            if exact:
                term = lambda a, b: ((a - b) * (a - b)).cast(
                    "decimal(28,12)"
                )
                init = F.lit(0).cast("decimal(28,12)")
                merge = lambda acc, t: (acc + t).cast("decimal(28,12)")
            else:
                term = lambda a, b: (a - b) * (a - b)
                init = F.lit(0.0)
                merge = lambda acc, t: acc + t
            dl = F.aggregate(
                F.zip_with(F.col("v"), F.lit(mu), term),
                init,
                merge,
            )
            dists.append(F.struct(dl.alias("dl"), F.lit(c).alias("cluster")))
        win = F.array_min(F.array(*dists))
        return vecs.select(
            "id",
            win["cluster"].alias("cluster"),
            win["dl"].alias("dl"),
            "v",
        )

    # centroid updates explode the assignment's OWN carried vector —
    # no fact-sized join; the (cluster, pos) aggregate collapses
    # map-side (k*d groups), so the per-round shuffle is tiny
    for _ in range(rounds):
        a = assign_fast(collect_cents(cents))
        cents = (
            a.select("cluster", F.posexplode("v"))
            .select(
                "cluster",
                (F.col("pos") + 1).alias("pos"),
                F.col("col").alias("val"),
            )
            .groupBy("cluster", "pos")
            .agg(
                (
                    F.sum(F.col("val").cast("decimal(28,12)"))
                    if exact
                    else F.sum("val")
                ).alias("s"),
                F.count(F.lit(1)).cast("long").alias("c"),
            )
            .select(
                "cluster",
                "pos",
                (
                    F.col("s").cast("double") / F.col("c").cast("double")
                ).alias("mu"),
            )
            .select("cluster", "pos", q9.alias("mu"))
            .localCheckpoint(eager=True)
        )
    # Final pass: membership from the fast fold; inertia recomputed as
    # the RELATIONAL decimal sum over each member's winning centroid
    # only (n·d rows, not n·d·k), so the output decimal -> double
    # conversion is the single-rounding chain the oracle performs.
    final = assign_fast(collect_cents(cents)).localCheckpoint(eager=True)
    return final, cents


def kmeans_lloyd(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    rounds: int = 2,
    seed_ids: list[int] | None = None,
    exact: bool | None = None,
    init: str = "fixed",
) -> DataFrame:
    """Lloyd iterations -> one row per non-empty cluster
    (cluster, n_vecs, inertia), inertia = Σ member squared distances.

    Seeds are the vectors at ``seed_ids`` when given; otherwise
    ``init`` selects them: ``'fixed'`` takes ids 0..k-1 (pure function
    of the input, but quality-degenerate when adjacent ids are
    near-duplicates — VERDICT r7 #2), ``'kmeanspp_md5'`` runs the
    deterministic k-means++ D² race (_kmeanspp_md5_seeds — the
    md5-uniform stream BOTH engines replay, so certification is
    preserved; quality certified by the kmeans_silhouette comparison
    pytest) — AUTO-GATED at k > 8 to ``'kmeanspar_md5'``, the
    deterministic k-means‖ oversampling path whose corpus passes are
    rounds-not-k (_kmeanspar_md5_seeds, VERDICT r8 #2; double
    arithmetic, not oracle-certified — pin k <= 8 or seed_ids for a
    certified run). A cluster emptied during iteration stays empty (its
    centroid drops out of the relation), matching the oracle's
    semantics exactly.

    ``exact`` selects the cross-engine-certified arithmetic: per-term
    decimal quantization everywhere, bit-replayable by the SQL oracle
    but ~4x slower than doubles (BigDecimal per term — measured 193 s
    for 2M x 64-dim x 2 rounds on local[32]). ``exact=False`` is the
    PRODUCTION mode: plain double distance folds and double centroid
    means (measured 51 s on the same input) — same clustering on any
    non-adversarial input (assignment flips need a distance tie
    within one double ulp), but not hash-certified. The DEFAULT
    ``exact=None`` AUTO-SELECTS on the size gate ``EXACT_GATE_ROWS``
    (the bradley_terry/markov pattern): certified mode at or below 1M
    vectors (certification inputs), double mode above. The two sides
    of this gate are NOT hash-identical, so an oracle-replayed call
    pins ``exact=True`` explicitly, and a production corpus run gets
    the fast arithmetic without opting in.
    """
    final, cents = _fit(df, vec_col, id_col, k, rounds, seed_ids, exact, init=init)
    dist = (
        final.select("cluster", F.posexplode("v"))
        .select(
            "cluster",
            (F.col("pos") + 1).alias("pos"),
            F.col("col").alias("val"),
        )
        .join(F.broadcast(cents), ["cluster", "pos"])
        .select(
            "cluster",
            (
                (
                    (F.col("val") - F.col("mu"))
                    * (F.col("val") - F.col("mu"))
                ).cast("decimal(28,12)")
                if exact
                else (
                    (F.col("val") - F.col("mu"))
                    * (F.col("val") - F.col("mu"))
                )
            ).alias("sq"),
        )
        .groupBy("cluster")
        .agg(F.round(F.sum("sq").cast("double"), 6).alias("inertia"))
    )
    return (
        final.groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .join(dist, "cluster")
        .select("cluster", "n_vecs", "inertia")
        .orderBy("cluster")
    )


def kmeans_silhouette(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 4,
    rounds: int = 2,
    seed_ids: list[int] | None = None,
    init: str = "fixed",
) -> DataFrame:
    """Simplified silhouette of the kmeans_lloyd fit -> one row per
    cluster (cluster, n_vecs, mean_silhouette), plus the quality
    audit the fit itself cannot provide: s_i = (b−a)/max(a,b) with
    a = euclidean distance to the OWN centroid and b = the nearest
    OTHER centroid (the centroid-based simplification — O(n·k), never
    pairwise O(n²); Rousseeuw's full silhouette is unshufflable at
    corpus scale).

    Runs the IDENTICAL certified Lloyd loop (same seeds, same
    quantization), then one relational distance stage against all k
    final centroids — per-term decimal(28,12) squared deviations
    summed order-free, rank by (dist, cluster) exact-decimal compare,
    sqrt on the single decimal->double conversion, per-point s
    quantized decimal(28,12) before the per-cluster mean. Bit-identical
    to the SQL oracle, which extends the kmeans CTE chain with the
    same stage.
    """
    final, cents = _fit(df, vec_col, id_col, k, rounds, seed_ids, True, init=init)
    d = (
        final.select("id", F.col("cluster").alias("own"), F.posexplode("v"))
        .select(
            "id",
            "own",
            (F.col("pos") + 1).alias("pos"),
            F.col("col").alias("val"),
        )
        .join(F.broadcast(cents), "pos")
        .select(
            "id",
            "own",
            "cluster",
            (
                (F.col("val") - F.col("mu"))
                * (F.col("val") - F.col("mu"))
            ).cast("decimal(28,12)").alias("sq"),
        )
        .groupBy("id", "own", "cluster")
        .agg(F.sum("sq").alias("dist"))
    )
    a = d.filter(F.col("cluster") == F.col("own")).select(
        "id", "own", F.col("dist").alias("da")
    )
    b = (
        d.filter(F.col("cluster") != F.col("own"))
        .withColumn(
            "rk2",
            F.row_number().over(
                Window.partitionBy("id").orderBy(
                    F.col("dist").asc(), F.col("cluster").asc()
                )
            ),
        )
        .filter(F.col("rk2") == 1)
        .select("id", F.col("dist").alias("db"))
    )
    ad = F.sqrt(F.col("da").cast("double"))
    bd = F.sqrt(F.col("db").cast("double"))
    s = F.when(
        F.greatest(ad, bd) > 0, (bd - ad) / F.greatest(ad, bd)
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, "id")
        .select("own", s.cast("decimal(28,12)").alias("s"))
        .groupBy(F.col("own").alias("cluster"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum("s").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("cluster")
    )
