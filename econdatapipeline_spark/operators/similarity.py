"""Similarity search over an embedding column (array<float>).

Two paths:

- brute-force cosine top-k: the exact baseline. Cross-join queries x
  corpus with the query side broadcast — at 100 TB the corpus stays
  partitioned and each executor scores its shard; cost is linear in
  corpus size per query.
- sign-bucket LSH ANN: coordinate-sign (random-hyperplane family)
  bucketing; queries only score candidates in their bucket. The scale
  path: bucket cardinality ~2^bits bounds each join group.
- embedding near-dup: same LSH topology, pair output filtered by a
  cosine threshold (the embedding flavor of dedup).

All math is zip_with/aggregate column expressions (functions.vectors):
JVM-side, no UDFs, double precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from econdatapipeline_spark.functions.vectors import dot, norm, sign_bucket
from econdatapipeline_spark.sources.tables import fan_out

# brute_force_topk's size gate: above this many query rows the cosine
# runs in the Arrow/BLAS kernel instead of JVM column expressions.
EXPR_QUERIES_GATE = 256


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k for every query vector.

    Output: (query_id, neighbor_id, cos) with rank <= k, neighbors
    exclude the query itself; deterministic tie-break on neighbor id.

    SMALL-QUERY-SIDE CONTRACT: the query relation is broadcast whole
    (and, on the Arrow path, collected to the driver as a dense
    matrix), so it must fit in driver + executor memory — budget
    ~(n_queries x dims x 8) bytes; thousands of queries is fine,
    a fact-table-sized query side is not (bucket with lsh_topk /
    operators/ivf instead). Within the contract, a size gate (the
    bradley_terry pattern) picks the kernel: up to
    ``EXPR_QUERIES_GATE`` query rows, the pure column-expression
    cosine (JVM-side, zero Python); above it, the Arrow/BLAS twin
    (``brute_force_topk_arrow``), whose per-pair cost is vectorized —
    the expression path evaluates the fold interpreted per element
    and loses badly once n_queries x corpus pairs dominate. Both
    share one output contract (ties broken by neighbor id), but the
    twins are not guaranteed hash-identical: the Arrow kernel sums in
    another order, so a cos can round to the other 6-dp neighbour (the
    five contract queries that reach the gate still hash-match with it
    forced, PARITY_gates.json). The gate costs one count() of the
    (small) query side.
    """
    if queries.count() > EXPR_QUERIES_GATE:
        return brute_force_topk_arrow(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col
        )
    # norms are per-ROW quantities: computing them once before the join
    # (instead of inside cosine() per PAIR) drops two of the three
    # 128-element folds from the pair stage, bit-identically — the fold
    # order of dot(a,b)/(norm(a)*norm(b)) is unchanged
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(F.col(vec_col)).alias("qn"),
        )
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k with an Arrow-batched numpy kernel.

    The cluster-scale form of brute force: the query block (small by
    contract) ships to every task as a dense normalized matrix; each
    Arrow batch of the corpus is scored as one BLAS matmul and reduced
    to a per-batch top-k, so the shuffle carries at most
    (partitions x queries x k) candidate rows into the final global
    top-k window. Column-expression cosine (brute_force_topk) keeps
    everything JVM-side but evaluates interpreted per element;
    numpy-over-Arrow trades one Python boundary for vectorized math —
    the right side of the trade once vectors x dims dominate.

    Same output contract as brute_force_topk (ties broken by neighbor
    id); cos values agree to float rounding (sum order differs).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)

    schema = "query_id long, neighbor_id long, cos double"

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            cm = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cm = cm / np.linalg.norm(cm, axis=1, keepdims=True)
            sims = cm @ qm.T  # (corpus_batch, n_queries)
            top = min(k + 1, len(ids))  # +1 absorbs a potential self-match
            part = np.argpartition(-sims, top - 1, axis=0)[:top]
            out = {
                "query_id": np.repeat(q_ids, top),
                "neighbor_id": ids[part].T.ravel(),
                "cos": np.round(np.take_along_axis(sims, part, axis=0).T.ravel(), 6),
            }
            yield pd.DataFrame(out)

    cand = fan_out(corpus).select(id_col, vec_col).mapInPandas(kernel, schema)
    cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (0, 7, 19, 33, 51),
) -> DataFrame:
    """Approximate top-k: score only vectors sharing the sign bucket.

    Same output shape as brute_force_topk; recall < 1 by construction
    (that is the trade). The join is an equi-join on the bucket key, so
    the shuffle is keyed and bounded — no cross join anywhere.
    """
    # per-row norms computed pre-join (see brute_force_topk): one fold
    # per candidate pair instead of three, bit-identical result
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
    )
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col)).alias("cn"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def embedding_near_dups(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: tuple[int, ...] = (0, 7, 19, 33, 51),
) -> DataFrame:
    """Near-duplicate vector pairs: same sign bucket AND cosine >= threshold.

    fan_out matters here: the per-pair cosine over in-bucket candidates
    is interpreted higher-order math — orders of magnitude more work per
    input row than a hash, so it must not run on one core.
    """
    # per-row norms ride the bucketed relation: the pair stage folds
    # each candidate's 128 dims ONCE (dot) instead of three times
    # (dot + both norms) — bit-identical, ~3x less pair-stage math
    b = fan_out(df).select(
        F.col(id_col),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("n"),
        sign_bucket(F.col(vec_col), dims).alias("bucket"),
    )
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.round(
                dot(F.col("x.v"), F.col("y.v")) / (F.col("x.n") * F.col("y.n")),
                6,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def embedding_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label mean embedding in long form -> (label, pos, centroid).

    The class-prototype aggregate (nearest-centroid classification,
    cluster summaries, drift monitoring): posexplode each vector and
    take one exact-decimal mean per (label, dimension). The shuffle
    carries rows proportional to corpus x dim but aggregates map-side
    (partial sums per partition), and the output is |labels| x dim —
    tiny at any corpus size. Long form avoids re-assembling arrays
    whose element order an engine-portable hash check would depend on.

    Float inputs widen exactly to double (IEEE subset), and the mean is
    an exact decimal(28,12) sum divided by the count — identical in any
    engine; rounded to 6 decimals at the edge.
    """
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
    )
    return ex.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count(F.lit(1)),
            6,
        ).alias("centroid")
    )


def random_projection(
    df: DataFrame,
    signs: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection -> (id, proj).

    Projects d-dim embeddings to len(signs)-dim via y_j = Σ_i x_i·s_ji
    with s_ji ∈ {−1,+1} (Achlioptas 2003: a ±1 matrix preserves
    pairwise distances within (1±ε) like a Gaussian one). ``signs`` is
    the caller-supplied literal matrix — derive it deterministically
    from a seed (see ``projection_signs``) so every engine, run, and
    partition projects identically; the matrix folds into the plan as
    array literals, making the whole operator one scan-stage
    ``zip_with``/``aggregate`` expression per output dim. No shuffle,
    no UDF, no fitting pass.

    The 100 TB role: a 1536-dim corpus projected to 16 dims makes the
    exact-re-rank ANN pattern affordable — score ALL candidates in the
    cheap projected space, keep a shortlist, re-rank the shortlist
    with full-dimension cosine (see ``q_ann_project``).
    """
    dims = [
        F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(s)) for s in row]),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0).cast("decimal(28,12)"),
            # re-cast: decimal + decimal widens to (29,12), which would
            # mismatch the accumulator type on the next fold step
            lambda acc, v: (acc + v.cast("decimal(28,12)")).cast("decimal(28,12)"),
        )
        .cast("double")
        .alias(f"p{j}")
        for j, row in enumerate(signs)
    ]
    return df.select(
        F.col(id_col).alias("id"), F.array(*dims).alias(out_col)
    ).select(F.col("id").alias(id_col), out_col)


def projection_signs(out_dim: int, in_dim: int, seed: str = "proj0") -> list[list[int]]:
    """Deterministic ±1 projection matrix from a seed: sign(j,i) from
    the md5 of 'seed:j:i' — reproducible everywhere with no RNG state,
    so the projection is part of the dataset's spec, not a fitted
    artifact."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{seed}:{j}:{i}".encode()).digest()[0] % 2 == 0 else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def mutual_nn(
    set_a: DataFrame,
    set_b: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual nearest-neighbor pairs between two vector sets ->
    (a_id, b_id, cos): pairs where b is a's top-1 neighbor in B AND a
    is b's top-1 neighbor in A.

    The reciprocal-best-match criterion — the standard high-precision
    alignment filter (bilingual lexicon induction, cross-snapshot
    entity alignment, near-dup corpus bridging): one-directional top-1
    matches are polluted by hubs that are "nearest" to everything;
    mutuality kills hubs by construction.

    Built as two brute_force_topk(k=1) passes (each: query-side
    broadcast + per-query TakeOrdered, the documented shortlist
    contract) joined on the (a, b) pair — at cluster scale swap each
    pass for the bucketed lsh_topk/ivf_topk with the identical
    mutuality join. Cosines are rounded to 6 with ascending-id
    tie-breaks inside brute_force_topk, so the pair set is
    deterministic on any engine.
    """
    ab = brute_force_topk(set_b, set_a, k=1, id_col=id_col, vec_col=vec_col)
    ba = brute_force_topk(set_a, set_b, k=1, id_col=id_col, vec_col=vec_col)
    return (
        ab.select(
            F.col("query_id").alias("a_id"),
            F.col("neighbor_id").alias("b_id"),
            "cos",
        )
        .join(
            ba.select(
                F.col("neighbor_id").alias("a_id"),
                F.col("query_id").alias("b_id"),
            ),
            ["a_id", "b_id"],
        )
    )


def bucket_purity(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Label purity of sign-LSH buckets -> one row
    (n, n_buckets, purity, majority_correct).

    The cheap clustering-quality gate for an embedding column: if the
    LSH buckets the dedup/ANN path hashes into are label-coherent
    (purity = Σ_buckets max-label-count / n near 1), bucketed
    retrieval is trustworthy; purity near the majority-class share
    means the embedding (or the hash family) carries no signal.
    ``majority_correct`` is the count the purity ratio is built from,
    so the readout stays integer-auditable.

    One projection (the same sign_bucket expression the ANN path
    uses), one (bucket, label) hash aggregate, one bucket-sized max,
    one row out — all counts exact integers.
    """
    b = df.select(
        sign_bucket(F.col(vec_col)).alias("bucket"),
        F.col(label_col).cast("string").alias("lbl"),
    )
    joint = b.groupBy("bucket", "lbl").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_bucket = joint.groupBy("bucket").agg(
        F.max("c").alias("top"), F.sum("c").alias("n_b")
    )
    return per_bucket.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.round(
            F.sum("top").cast("double") / F.sum("n_b").cast("double"), 6
        ).alias("purity"),
        F.sum("top").cast("long").alias("majority_correct"),
    )
