"""Corpus composition operators: mixture sampling and vocabulary build.

Training corpora are assembled from heterogeneous sources with target
mixing weights (web 0.6, code 0.25, reference 0.15, ...) and need a
token vocabulary for tokenizer training / coverage checks. The
reference's world has neither (SURVEY §2.4: no aggregations at all);
both are canonical map-reduce shapes in Spark:

- ``mixture_sample``: per-source Bernoulli keep-decisions driven by an
  md5 bucket of the document id — never ``rand()``. Deterministic
  across engines, runs, retries, and partitionings, which is what makes
  a 100 TB sampling job resumable and auditable; the weight lookup is a
  literal CASE, so the whole filter pushes into the scan stage.
- ``vocab_topk``: explode tokens -> count -> top-k. Map-side partial
  aggregation does the heavy lifting (the shuffle carries one row per
  distinct token per partition, not one per token occurrence); the
  final top-k is a TakeOrdered over the aggregated table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from econdatapipeline_spark.functions.text import tokenize


def _md5_bucket(col, modulus: int):
    """Stable [0, modulus) bucket from any key — portable across engines
    (DuckDB: CAST('0x' || substr(md5(k), 1, 8) AS BIGINT) % modulus)."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long")
        % modulus
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 0.0,
) -> DataFrame:
    """Keep each row with its source's target probability, deterministically.

    ``weights`` maps source value -> keep fraction in [0, 1]. Sources
    absent from the map keep ``default_weight``. The decision is
    ``md5_bucket(id) % 10000 < frac * 10000`` — the same document is
    kept or dropped identically everywhere, so downstream joins against
    a re-run of the sampler line up row-for-row.
    """
    for s, w in weights.items():
        if not 0.0 <= w <= 1.0:
            raise ValueError(f"weight for {s!r} must be in [0, 1], got {w}")
    frac = F.lit(default_weight)
    for s, w in weights.items():
        frac = F.when(F.col(source_col) == s, F.lit(w)).otherwise(frac)
    bucket = _md5_bucket(F.col(id_col), 10000)
    return df.filter(bucket < (frac * 10000).cast("long"))


def temperature_mixture(
    df: DataFrame,
    alpha: float,
    target_fraction: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-rebalanced mixture sampling (multilingual alpha
    sampling): per-source keep rate r_s = target_fraction *
    (n_s/N)^(alpha-1), clamped to [0, 1].

    With ``alpha < 1`` small sources are UPSAMPLED relative to their
    natural share and mega-sources downsampled — the standard
    alpha-temperature recipe for balancing language/domain mixes
    (mBERT/XLM-R style). alpha=1 is natural sampling at the target
    fraction; alpha=0 aims at equal expected counts per source.

    Determinism end to end: the source histogram is a tiny aggregate
    collected to the driver (sources-sized — the mixture's definition
    is per-source, so this relation is small by construction); rates
    become integer bucket thresholds (floor(r*10000 + 0.5) on a rate
    pre-rounded at 1e-6, so libm pow ulp differences can't flip a
    threshold), and the keep decision is the family's md5-bucket
    filter — one scan-stage predicate, no shuffle of the data, the
    same rows kept on every engine/retry/partitioning.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if not 0.0 <= target_fraction <= 1.0:
        raise ValueError(
            f"target_fraction must be in [0, 1], got {target_fraction}"
        )
    import math

    counts = {
        r[0]: r[1]
        for r in df.groupBy(F.col(source_col).cast("string"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    total = sum(counts.values())
    thresholds: dict[str, int] = {}
    for s, n in counts.items():
        r = target_fraction * math.pow(n / total, alpha - 1.0)
        r = min(1.0, r)
        r = math.floor(r * 1e6 + 0.5) / 1e6
        thresholds[s] = int(math.floor(r * 10000 + 0.5))
    thr = F.lit(0)
    for s, t in thresholds.items():
        thr = F.when(F.col(source_col).cast("string") == s, F.lit(t)).otherwise(thr)
    bucket = _md5_bucket(F.col(id_col), 10000)
    return df.filter(bucket < thr)


def vocab_topk(
    df: DataFrame,
    k: int = 1000,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Top-k corpus vocabulary: (token, n_docs, n_occurrences).

    Deterministic order: count desc, token asc. ``n_docs`` uses a
    distinct count per token — the expensive exact form; swap for
    ``approx_count_distinct`` when 2% error is acceptable at scale.
    """
    toks = (
        df.select(F.col("doc_id"), F.explode(tokenize(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
    )
    counts = toks.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_occurrences"),
    )
    return (
        counts.filter(F.col("n_occurrences") >= min_count)
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(k)
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    target_fraction: float,
    ref_weight: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weight-proportional deterministic sampling: row i is kept with
    probability min(1, target_fraction * w_i / ref_weight).

    The importance-sampling shape (oversample long/high-quality
    documents, undersample boilerplate) with the same md5-bucket
    determinism as ``mixture_sample`` — no rand(), so retries and
    engine swaps reproduce the exact row set. Expected kept fraction is
    ``target_fraction`` when ``ref_weight`` is the corpus mean weight
    and no weight saturates the min(1, .) clamp.

    ``ref_weight`` is an explicit caller-supplied scalar (take it from
    ``profile_stats`` on a prior pass) rather than an inline AVG on
    purpose: a float mean computed by the engine depends on summation
    order, and a keep decision derived from it would not be bit-stable
    across partitionings or engines — the property this whole family
    exists to provide. With the scalar a literal, the entire operator is
    one scan-stage filter inside WholeStageCodegen: no shuffle, no
    second pass, reproducible at any scale.
    """
    if not 0.0 <= target_fraction <= 1.0:
        raise ValueError(f"target_fraction must be in [0, 1], got {target_fraction}")
    if ref_weight <= 0:
        raise ValueError(f"ref_weight must be positive, got {ref_weight}")
    p = F.least(
        F.lit(target_fraction) * F.col(weight_col).cast("double") / F.lit(ref_weight),
        F.lit(1.0),
    )
    bucket = _md5_bucket(F.col(id_col), 10000)
    return df.filter(bucket < (p * 10000).cast("long"))


def priority_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY-k weighted sample without replacement -> input rows +
    ``priority``, the k highest-priority rows.

    Efraimidis-Spirakis A-ES: each row draws priority u^(1/w) with u
    uniform, and the global top-k is a weighted sample without
    replacement. Here u derives from the id's md5 (the family's
    no-rand() determinism: retries, engines, partitionings all pick
    the SAME rows) and the ordering key is the monotone-equivalent
    ln(u)/w, floor-rounded at 1e-6 (the adamic_adar ln discipline —
    libm last-ulp differences can't flip the order) with an id
    tie-break. Rows with non-positive weight are excluded (they have
    no sampling mass).

    Scale: priority is a scan-stage expression; top-k plans as
    TakeOrderedAndProject — per-partition heaps of k rows, never a
    global sort (same shape as every top-k in this repo). Contrast
    with ``weighted_sample``, which keeps an EXPECTED fraction by
    independent coin flips; this form pins the exact output size.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = (
        _md5_bucket(F.col(id_col), 1_000_000).cast("double") + F.lit(0.5)
    ) / 1_000_000.0
    w = F.col(weight_col).cast("double")
    pr = F.floor(F.log(u) / w * 1e6 + F.lit(0.5)) / 1e6
    return (
        df.filter(w > 0)
        .withColumn("priority", pr)
        .orderBy(F.desc("priority"), F.asc(id_col))
        .limit(k)
    )


def cluster_split(
    df: DataFrame,
    labels: DataFrame,
    test_fraction: float = 0.2,
    id_col: str = "doc_id",
    node_col: str = "node",
    cluster_col: str = "cluster",
) -> DataFrame:
    """Leakage-safe train/test split: the unit of assignment is the
    NEAR-DUP CLUSTER, not the document.

    A hash split on doc_id puts two near-identical documents on
    opposite sides of the split — the classic train/test contamination
    that inflates eval numbers. Here every member of a connected
    component (``labels`` from ``connected_components`` /
    ``star_components``: (node, cluster) rows) inherits its CLUSTER's
    md5-bucket decision; documents in no cluster are their own
    singleton cluster. Deterministic (no rand()), so the split is
    reproducible across runs, engines, and partitionings.

    One left join against the label table (delta-sized: only docs that
    near-dup anything have a row — broadcastable in practice, and AQE
    picks that at runtime) plus a scan-stage bucket filter.
    """
    if not 0.0 <= test_fraction <= 1.0:
        raise ValueError(f"test_fraction must be in [0, 1], got {test_fraction}")
    # alias-qualified join: resolves by name, so callers may reuse the
    # SAME label table elsewhere in df's lineage (canonical pick + split
    # is the normal pipeline) without tripping ambiguous-self-join
    # resolution on dataset identity
    f = df.alias("__cs_f")
    l = labels.select(
        F.col(node_col).alias("__cs_node"), F.col(cluster_col).alias("__cs_cluster")
    ).alias("__cs_l")
    lab = f.join(
        l, F.col(f"__cs_f.{id_col}") == F.col("__cs_l.__cs_node"), "left"
    ).select(
        *[F.col(f"__cs_f.{c}") for c in df.columns],
        F.coalesce(F.col("__cs_l.__cs_cluster"), F.col(f"__cs_f.{id_col}")).alias(
            "cluster_id"
        ),
    )
    bucket = _md5_bucket(F.col("cluster_id"), 10000)
    return lab.withColumn(
        "split",
        F.when(bucket < F.lit(int(test_fraction * 10000)), F.lit("test")).otherwise(
            F.lit("train")
        ),
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict[str, float],
    strata_col: str = "lang",
    id_col: str = "doc_id",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy`` without rand()).

    Same md5-bucket decision rule as ``mixture_sample`` but keyed on an
    arbitrary stratum column — the rebalancing shape (cap the dominant
    language, keep all of the rare one) that precedes corpus mixing.
    Kept separate from ``mixture_sample`` because strata are usually a
    *property* (lang, quality band) while mixture sources are a
    *provenance* label; pipelines chain both. The whole operator is one
    scan-stage filter: the stratum->fraction lookup is a literal CASE,
    the bucket an md5 of the id, so Catalyst keeps it inside the scan's
    WholeStageCodegen span — no shuffle, no sampling pass, reproducible
    at any scale and under any partitioning.
    """
    for s, w in fractions.items():
        if not 0.0 <= w <= 1.0:
            raise ValueError(f"fraction for {s!r} must be in [0, 1], got {w}")
    frac = F.lit(default_fraction)
    for s, w in fractions.items():
        frac = F.when(F.col(strata_col) == s, F.lit(w)).otherwise(frac)
    bucket = _md5_bucket(F.col(id_col), 10000)
    return df.filter(bucket < (frac * 10000).cast("long"))


def corpus_shuffle(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "seed0",
) -> DataFrame:
    """Deterministic global training-order shuffle + sharding ->
    input columns + (global_pos, shard_id, shard_pos).

    Training runs need the corpus in a fixed pseudorandom order, split
    into equal shards for data-parallel readers — and the order must be
    reproducible bit-for-bit across reruns, engines, and partition
    layouts (restarting a crashed 100 TB shuffle job must not reorder
    the data a half-trained model already consumed). ``rand()`` gives
    none of that; ordering by ``md5(seed || id)`` gives all of it: the
    hash is the permutation, the seed picks which permutation.

    ``global_pos`` is the 1-based position in the shuffled order,
    ``shard_id`` follows NTILE(n_shards) semantics over that order
    (equal-sized contiguous shards, the first ``n mod s`` shards one
    longer), ``shard_pos`` the position within the shard.

    Scale: a global ``Window.orderBy`` would funnel every row through
    ONE task — the classic rank scale-killer. Instead the rank is
    assembled from bounded pieces (the zipWithIndex discipline, but
    deterministic and declarative):

    1. the first two hex chars of the hash split the data into 256
       uniform buckets whose lexicographic order IS hash order;
    2. per-bucket counts (a 256-row aggregate) turn into cumulative
       start offsets with one window over those 256 rows;
    3. ``global_pos`` = bucket offset (broadcast back) + row_number
       within the bucket — the only big-data window is partitioned by
       bucket, so each task sorts 1/256th of the data.

    ``shard_id``/``shard_pos`` are then ARITHMETIC on global_pos and
    the total count (NTILE's fill rule written out), not a second
    global window. Widen the prefix (3 hex chars -> 4096 buckets) as
    the per-bucket slice grows. For 100 TB, write the result with
    ``Warehouse.write_dataset(partition_cols=["shard_id"])`` so each
    training reader scans exactly one shard directory.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    keyed = df.select("*", key.alias("__h"), F.substring(key, 1, 2).alias("__b"))
    counts = keyed.groupBy("__b").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__b",
        (
            F.coalesce(
                F.sum("__n").over(
                    Window.orderBy("__b").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            )
        ).alias("__off"),
        F.sum("__n").over(
            Window.orderBy("__b").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__total"),
    )
    w_bucket = Window.partitionBy("__b").orderBy("__h")
    ranked = keyed.join(F.broadcast(offsets), "__b").select(
        *df.columns,
        (F.row_number().over(w_bucket) + F.col("__off")).alias("global_pos"),
        F.col("__total").alias("__total"),
    )
    # NTILE(s) fill rule over n rows: the first r = n % s shards hold
    # q+1 rows (q = n div s), the rest q. Pure arithmetic on the rank.
    q = (F.col("__total") / n_shards).cast("long")
    r = F.col("__total") % n_shards
    p0 = F.col("global_pos") - 1
    big_span = r * (q + 1)
    shard = F.when(
        (q > 0) & (p0 >= big_span), r + F.floor((p0 - big_span) / q) + 1
    ).otherwise(F.floor(p0 / (q + 1)) + 1)
    shard_start = F.when(
        (q > 0) & (shard > r), big_span + (shard - 1 - r) * q
    ).otherwise((shard - 1) * (q + 1))
    return ranked.select(
        *df.columns,
        "global_pos",
        shard.cast("int").alias("shard_id"),
        (p0 - shard_start + 1).cast("int").alias("shard_pos"),
    )


def stratified_priority_sample(
    df: DataFrame,
    k_per_group: int,
    weight_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACTLY k rows PER GROUP, drawn weighted without replacement ->
    kept rows + (priority, rank).

    The mixture-construction primitive: "k documents from every
    domain, length/quality-weighted, reproducibly". Same A-ES priority
    as :func:`priority_sample` (md5 uniform, ln(u)/w floor-rounded,
    id tie-break), ranked INSIDE each group by one keyed window —
    where ``domain_cap`` keeps the deterministic quality TOP (rank by
    the raw column), this draws a weighted RANDOM subset, so
    high-weight rows are favored but the tail still appears (the
    diversity a pure top-k cap destroys).

    Shape: single shuffle keyed by group; the rank<=k filter is
    WindowGroupLimit-eligible, so each exchange carries at most
    k x partitions rows per group. Groups smaller than k keep all
    their (positive-weight) rows.
    """
    if k_per_group < 1:
        raise ValueError(f"k_per_group must be >= 1, got {k_per_group}")
    from pyspark.sql import Window

    u = (
        _md5_bucket(F.col(id_col), 1_000_000).cast("double") + F.lit(0.5)
    ) / 1_000_000.0
    w = F.col(weight_col).cast("double")
    pr = F.floor(F.log(u) / w * 1e6 + F.lit(0.5)) / 1e6
    win = Window.partitionBy(group_col).orderBy(
        F.desc("priority"), F.asc(id_col)
    )
    return (
        df.filter(w > 0)
        .withColumn("priority", pr)
        .withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k_per_group)
    )


def domain_cap(
    df: DataFrame,
    max_per_domain: int,
    domain_col: str = "source",
    rank_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-domain frequency capping -> the kept rows + their rank.

    Web corpora are dominated by a few mega-domains; capping documents
    per domain is the standard rebalancing step (CCNet, RefinedWeb
    keep at most N pages per registered domain). Keeps the top
    ``max_per_domain`` documents per ``domain_col``, ranked by
    ``rank_col`` DESC (quality proxy) with ``id_col`` as the
    deterministic tie-break.

    Shape: one window keyed by domain — a single shuffle; the
    row_number filter is rank-pushdown-eligible (Spark plans it as a
    partial top-k per partition before the shuffle when the limit is
    selective), so the exchange carries at most
    ``max_per_domain`` x partitions rows per domain, not the domain's
    whole long tail.
    """
    if max_per_domain < 1:
        raise ValueError(f"max_per_domain must be >= 1, got {max_per_domain}")
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(
        F.col(rank_col).desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("domain_rank", F.row_number().over(w))
        .filter(F.col("domain_rank") <= max_per_domain)
    )


def kfold_assign(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    seed: str = "fold0",
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment -> input
    columns + ``fold`` in [0, k).

    The fold is ``md5(seed || id) % k`` — a pure scan-stage expression
    (no shuffle at all): every engine, run, and retry agrees on each
    row's fold, so fold i's train/val sets can be re-derived on demand
    instead of materialized k times. Changing ``seed`` re-deals the
    folds; at 100 TB the k training jobs each push ``fold != i`` (or
    ``== i``) down into the parquet scan.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    key = F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
    return df.select("*", _md5_bucket(key, k).cast("int").alias("fold"))


def negative_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    n_buckets: int = 64,
    seed: str = "neg0",
) -> DataFrame:
    """Deterministic hash-ring negative sampling for contrastive
    training -> (anchor_id, neg_rank, neg_id).

    Each anchor document gets ``k`` pseudo-random negatives drawn from
    the corpus — reproducibly, with no ``rand()`` and no per-anchor
    corpus scan. Construction:

    1. every document hashes onto a ring of ``n_buckets`` buckets;
    2. each bucket elects a deterministic representative (min md5 in
       bucket — itself a hash-random choice);
    3. anchor a's i-th negative is the representative of bucket
       ``(bucket(a) + i * stride) % n_buckets`` with stride coprime to
       the ring so the k probes hit k distinct buckets.

    Shape: one tiny aggregate (n_buckets rows) for the representatives,
    one explode of a k-literal array, one equi-join against the
    broadcast representative table — per-anchor cost O(k), total cost
    one scan + one broadcast join, no shuffle of the corpus. Probes
    that land on the anchor's own document or an empty bucket are
    dropped (ring occupancy at scale makes both vanishingly rare).

    At 100 TB raise ``n_buckets`` so representatives stay a broadcast
    relation while negatives stay diverse; for in-batch-hard-negative
    mining, feed these as the easy tier and let ``ann_*`` supply the
    hard tier.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if k >= n_buckets:
        # k probes on an n_buckets ring can only hit k DISTINCT buckets
        # when k < n_buckets; wrapping would re-emit the same bucket
        # representative under multiple neg_rank values per anchor
        raise ValueError(
            f"k must be < n_buckets for k distinct negatives, "
            f"got k={k}, n_buckets={n_buckets}"
        )
    key = F.concat(F.lit(seed + ":"), F.col(id_col).cast("string"))
    h = F.md5(key)
    bucketed = df.select(
        F.col(id_col).alias("id"),
        _md5_bucket(key, n_buckets).alias("b"),
        h.alias("h"),
    )
    reps = bucketed.groupBy("b").agg(
        F.min_by("id", F.struct(F.col("h"), F.col("id"))).alias("rep_id")
    )
    # stride must be coprime with the ring so k probes hit k distinct
    # buckets on ANY ring size (an odd stride only guarantees that for
    # power-of-two rings; e.g. n_buckets=63, k=1 gives stride 63 == 0
    # mod ring — every probe would land on the anchor's own bucket)
    import math

    stride = 2 * (n_buckets // (k + 1)) + 1
    while math.gcd(stride, n_buckets) != 1:
        stride += 2
    probes = bucketed.select(
        F.col("id").alias("anchor_id"),
        F.explode(
            F.array(*[F.lit(i) for i in range(1, k + 1)])
        ).alias("neg_rank"),
        F.col("b"),
    ).select(
        "anchor_id",
        "neg_rank",
        ((F.col("b") + F.col("neg_rank") * stride) % n_buckets).alias("pb"),
    )
    return (
        probes.join(F.broadcast(reps), probes.pb == reps.b)
        .filter(F.col("rep_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_rank", F.col("rep_id").alias("neg_id"))
    )


def waterfill_budget(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    budget: int,
) -> DataFrame:
    """Max-min fair (waterfilling) token-budget allocation across
    sources -> one row per group: (group, supply, allocated, capped).

    The data-mixing planner's core step: given a global training-token
    budget and each source's available supply, give every source as
    much as possible subject to a COMMON ceiling (the water level) —
    small sources keep everything they have, large sources are capped
    at the level that makes the total exactly the budget. This is the
    allocation that maximizes the minimum source share (the
    fair-mixture counterpart of temperature_mixture's power weights).

    Integer-exact formulation (no float level): sort groups by
    (supply asc, group asc); group i (1-based, n groups, exclusive
    prefix sum cum) is FULLY FUNDED iff

        cum_i + supply_i * (n - i + 1) <= budget

    (funding it to its full supply still leaves enough for every
    later group to get at least as much). The capped groups share the
    remaining budget as base = remaining div k with the first
    (remaining mod k) capped groups in sort order getting one extra
    unit — allocations are exact longs and the total is EXACTLY
    min(budget, total supply), hash-certifiable on any engine.

    Scale shape: one fact-sized hash aggregate collapses to the
    groups-sized relation; the ordered pass is ordered_cumsum's
    size-gated prefix sum (distributed past its gate); the
    funded-side totals are a second groups-sized aggregate broadcast
    back. Products are decimal(38,0) — supply * n overflows a long at
    corpus scale.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    from econdatapipeline_spark.operators.stats import ordered_cumsum

    # pinned: the ordered pass and the totals both read the
    # groups-sized supply relation — one fact scan, not two (the
    # theil_index pinning discipline)
    sup = (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(F.sum(weight_col).cast("long").alias("supply"))
        .localCheckpoint(eager=True)
    )
    base = sup.select(
        "grp",
        "supply",
        F.struct(
            F.col("supply").alias("s"),
            F.col("grp").cast("string").alias("g"),
        ).alias("__ord"),
        F.lit(1).cast("long").alias("__one"),
    )
    tot = sup.agg(
        F.sum("supply").cast("long").alias("tot_supply"),
        F.count(F.lit(1)).cast("long").alias("n_grp"),
    )
    idx_cums = ordered_cumsum(base, "__ord", ["supply", "__one"]).select(
        "grp",
        "supply",
        F.col("cum_supply").alias("cum_inc"),
        F.col("cum___one").alias("idx"),
    )
    staged = idx_cums.crossJoin(F.broadcast(tot))
    funded = (
        (F.col("cum_inc") - F.col("supply")).cast("decimal(38,0)")
        + F.col("supply").cast("decimal(38,0)")
        * (F.col("n_grp") - F.col("idx") + 1).cast("decimal(38,0)")
    ) <= F.lit(budget).cast("decimal(38,0)")
    marked = staged.withColumn("funded", funded.cast("int"))
    funded_tot = marked.agg(
        F.coalesce(
            F.max(F.when(F.col("funded") == 1, F.col("cum_inc"))), F.lit(0)
        )
        .cast("long")
        .alias("full_total"),
        F.sum("funded").cast("long").alias("n_funded"),
    )
    out = marked.crossJoin(F.broadcast(funded_tot)).select(
        "grp",
        "supply",
        "funded",
        (F.lit(budget) - F.col("full_total")).alias("remaining"),
        (F.col("n_grp") - F.col("n_funded")).alias("k"),
        (F.col("idx") - F.col("n_funded")).alias("j"),
    )
    alloc = F.when(F.col("funded") == 1, F.col("supply")).otherwise(
        F.expr("remaining div k")
        + F.when(
            F.col("j") <= F.col("remaining") % F.col("k"), F.lit(1)
        ).otherwise(F.lit(0))
    )
    return out.select(
        F.col("grp").alias(group_col),
        "supply",
        alloc.cast("long").alias("allocated"),
        (F.lit(1) - F.col("funded")).alias("capped"),
    )


def rake_weights(
    df: DataFrame,
    dim1_col: str,
    dim2_col: str,
    targets1: dict,
    targets2: dict,
    rounds: int = 8,
) -> DataFrame:
    """Raking (iterative proportional fitting) -> one row per
    observed cell: (dim1, dim2, n, raked_total, unit_weight).

    The survey-statistics / training-mix balancing workhorse: given
    target MARGINAL shares on two dimensions (region x segment,
    source x language), find multiplicative cell weights whose row
    and column totals match both margins — without needing the
    unknowable joint target. Deming-Stephan IPF: alternately scale
    cells to the dim1 margin then the dim2 margin; converges
    geometrically for strictly positive tables. unit_weight =
    raked_total / n is the per-row weight a downstream weighted
    aggregate applies.

    Determinism: cell totals are exact integer counts; each scaling
    is a fixed-order double ratio requantized decimal(18,9) (the
    betas rule), targets enter as exact-decimal share literals, and
    rounds are bounded — the oracle unrolls the identical schedule.

    Scale: ONE fact-sized hash aggregate to the cells relation
    (|dim1|x|dim2| — plan-sized by the categorical contract); every
    round is two cells-sized aggregate-joins; nothing rescans the
    fact table. Rows outside the target categories are EXCLUDED and
    do not receive weights (document the frame). Unreachable margins
    (an all-zero target row among observed cells) NULL that row's
    weights via the division guard rather than fabricating mass.
    Domain: raked totals must stay under ~1e9 (decimal(18,9)).
    """
    if rounds < 1 or rounds > 30:
        raise ValueError(f"rounds must be in 1..30, got {rounds}")
    if not targets1 or not targets2:
        raise ValueError("both target margins must be non-empty")
    for nm, t in (("targets1", targets1), ("targets2", targets2)):
        s = sum(t.values())
        if abs(s - 1.0) > 1e-9:
            raise ValueError(f"{nm} shares must sum to 1, got {s}")

    def share_expr(col, targets):
        e = None
        for k, v in sorted(targets.items(), key=lambda kv: str(kv[0])):
            cond = F.col(col) == k
            e = (
                F.when(cond, F.lit(float(v)))
                if e is None
                else e.when(cond, F.lit(float(v)))
            )
        return e

    cells = (
        df.filter(
            F.col(dim1_col).isin(list(targets1))
            & F.col(dim2_col).isin(list(targets2))
        )
        .groupBy(
            F.col(dim1_col).alias("d1"), F.col(dim2_col).alias("d2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(F.sum("n").cast("long").alias("ntot"))
    cur = cells.crossJoin(F.broadcast(tot)).withColumn(
        "m", F.col("n").cast("double")
    )
    q9 = lambda c: c.cast("decimal(18,9)").cast("double")  # noqa: E731
    t1 = share_expr("d1", targets1) * F.col("ntot").cast("double")
    t2 = share_expr("d2", targets2) * F.col("ntot").cast("double")
    for _ in range(rounds):
        # each half-round reads cur TWICE (margin aggregate + join);
        # without a pin the lazy plan doubles per round (2^rounds
        # analysis blowup) — eager-checkpoint the cells-sized relation
        # every round instead (the cox_ph/poisson params discipline)
        rsum = cur.groupBy("d1").agg(F.sum("m").alias("rm"))
        cur = (
            cur.join(F.broadcast(rsum), "d1")
            .withColumn("m", q9(F.col("m") * F.try_divide(t1, F.col("rm"))))
            .drop("rm")
            .localCheckpoint(eager=True)
        )
        csum = cur.groupBy("d2").agg(F.sum("m").alias("cm"))
        cur = (
            cur.join(F.broadcast(csum), "d2")
            .withColumn("m", q9(F.col("m") * F.try_divide(t2, F.col("cm"))))
            .drop("cm")
            .localCheckpoint(eager=True)
        )
    return cur.select(
        F.col("d1").alias("dim1"),
        F.col("d2").alias("dim2"),
        "n",
        F.round(F.col("m"), 6).alias("raked_total"),
        F.round(
            F.try_divide(F.col("m"), F.col("n").cast("double")), 6
        ).alias("unit_weight"),
    )


def svy_mean(
    df: DataFrame,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Design-weighted mean with Taylor-linearized SE -> ONE row
    (n, n_eff, mean_w, se, deff_kish).

    The estimator rake_weights' output feeds: the Hajek weighted mean
    sum(w y)/sum(w), its ratio-estimator standard error

        se^2 = n/(n-1) * sum(w_i (y_i - mean_w))^2 / (sum w)^2

    Kish's effective sample size n_eff = (sum w)^2 / sum w^2 and the
    unequal-weighting design effect deff = n / n_eff — how much
    precision the weighting spent. One decimal-exact aggregate for
    the w/wy/wy^2/w^2 sums, a second pass for the squared weighted
    residuals against the decimal(18,9)-quantized mean (the
    breusch_pagan two-pass pattern). Weights must be positive; rows
    with w <= 0 or NULLs are dropped. NULLs when n < 2.
    """
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col) > 0)
    ).select(
        F.col(value_col).cast("decimal(18,6)").alias("y"),
        F.col(weight_col).cast("decimal(18,6)").alias("w"),
    ).localCheckpoint(eager=True)
    dec = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    dv = F.try_divide
    q9 = lambda c: c.cast("decimal(18,9)").cast("double")  # noqa: E731
    s1 = base.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("w"))).cast("double").alias("sw"),
        F.sum(dec(F.col("w") * F.col("y"))).cast("double").alias("swy"),
        F.sum(dec(F.col("w") * F.col("w"))).cast("double").alias("sww"),
    )
    mean_rel = s1.select(
        "n", "sw", "sww", q9(dv(d("swy"), d("sw"))).alias("m")
    )
    j = base.crossJoin(F.broadcast(mean_rel))
    resid = F.col("w").cast("double") * (
        F.col("y").cast("double") - F.col("m")
    )
    q12 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    s2 = j.groupBy().agg(
        F.max("n").alias("n"),
        F.max("sw").alias("sw"),
        F.max("sww").alias("sww"),
        F.max("m").alias("m"),
        F.sum(q12(resid * resid)).cast("double").alias("sr2"),
    )
    nd = d("n")
    var = dv(nd, nd - F.lit(1.0)) * dv(
        d("sr2"), d("sw") * d("sw")
    )
    n_eff = dv(d("sw") * d("sw"), d("sww"))
    ok = F.col("n") > 1
    return s2.select(
        "n",
        F.when(ok, F.round(n_eff, 6)).alias("n_eff"),
        F.when(ok, F.round(F.col("m"), 6)).alias("mean_w"),
        F.when(ok, F.round(F.sqrt(var), 6)).alias("se"),
        F.when(ok, F.round(dv(nd, n_eff), 6)).alias("deff_kish"),
    )
