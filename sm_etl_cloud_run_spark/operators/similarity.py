"""Similarity search over embedding columns (`array<float>`).

Scale layer (not in the reference): brute-force cosine top-k as the
correctness baseline, plus an LSH-bucketed variant as the scale path —
at 100 TB you never do all-pairs; you bucket by hyperplane signs and
search only colliding buckets.

Determinism for oracle parity: dot products are computed in fixed-point
(each elementwise product scaled by 1e9, rounded HALF_UP and summed as
longs), so the result is exact, order-independent, and byte-identical
to the DuckDB oracle — summing IEEE doubles in different orders would
not be. Cosines are then rounded to 6 places as the JVM rounds them.

The arithmetic is written in two places only. The JVM expressions
(`_fixed_point_dot`, `cosine_similarity`, `hyperplane_lsh_bucket`,
`semantic_dedup`) are the reference the tests compare against. The
numpy helpers (`_np_half_up`, `_np_round6`, `_np_stack64`, `_np_fp_dot`)
are the path that runs: every k-NN, IVF probe, PQ-training and SemDeDup
kernel calls them and rounds nothing on its own.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCALE = 1e9


def _fixed_point_dot(a: Column, b: Column) -> Column:
    """Σ round(aᵢ·bᵢ·1e9) as long — exact + order-independent."""
    prods = F.zip_with(
        a, b, lambda x, y: F.round(x.cast("double") * y.cast("double") * F.lit(_SCALE), 0).cast("long")
    )
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _fixed_point_sq_norm(a: Column) -> Column:
    return _fixed_point_dot(a, a)


def cosine_similarity(a: Column, b: Column, *, round_to: int = 6) -> Column:
    """Cosine from fixed-point dot/norms, rounded for stable comparison."""
    dot = _fixed_point_dot(a, b).cast("double")
    na = F.sqrt(_fixed_point_sq_norm(a).cast("double"))
    nb = F.sqrt(_fixed_point_sq_norm(b).cast("double"))
    return F.round(dot / (na * nb), round_to)


# ---------------------------------------------------------------------------
# numpy fixed-point helpers — the path that runs. The expressions above
# are the reference: the zip_with/aggregate higher-order functions run
# INTERPRETED on the JVM (no whole-stage codegen), so each 64-dim dot
# costs ~three orders of magnitude more than the same arithmetic on an
# Arrow batch in numpy. These helpers reproduce the expressions
# bit-for-bit (pinned in tests/test_similarity_arrow_twins.py against
# the expressions and against the JVM's own F.round), and every numpy
# kernel below is built from them.
# ---------------------------------------------------------------------------


def _np_half_up(x: np.ndarray) -> np.ndarray:
    """Spark F.round(x, 0): HALF_UP (away from zero); np.rint would be
    half-to-even. The JVM rounds the decimal string of x
    (Double.toString), but at scale 0 every k+0.5 below 2^52 is an
    exact double, so that string sits on the same side of the tie as
    the binary value and HALF_UP on the binary value is exact. Taking
    the fraction as |x| − floor(|x|) (exact) instead of flooring
    |x| + 0.5 keeps 0.49999999999999994 from rounding up in that
    addition. + 0.0 turns −0.0 into 0.0: BigDecimal has no −0."""
    a = np.abs(x)
    f = np.floor(a)
    return np.sign(x) * (f + (a - f >= 0.5)) + 0.0


def _np_round6(c: np.ndarray) -> np.ndarray:
    """Exact JVM F.round(x, 6) semantics. Spark rounds the DECIMAL
    SHORTEST REPRESENTATION (BigDecimal.valueOf → Double.toString) with
    HALF_UP, while the fast binary path rounds the double itself — the
    two diverge only when x·1e6 sits within ~1e-6 of a .5 boundary
    (the shortest repr can then end exactly in the rounding digit 5
    while the binary value is a hair below it). Fast-path everything,
    re-do boundary rows through decimal.Decimal(repr(x)), which is the
    same shortest-repr HALF_UP the JVM computes. Pre-JDK19
    Double.toString is not always shortest, so a tie-boundary sweep
    through the running JVM's own F.round(x, 6) pins this in
    tests/test_similarity_arrow_twins.py."""
    y = c * 1e6
    fast = _np_half_up(y) / 1e6
    frac = np.abs(y - np.floor(y) - 0.5)
    risky = np.where(frac < 1e-6)[0]
    if len(risky):
        from decimal import ROUND_HALF_UP, Decimal

        exp = Decimal("0.000001")
        for i in risky:
            fast[i] = float(
                Decimal(repr(float(c[i]))).quantize(exp, rounding=ROUND_HALF_UP)
            ) + 0.0
    return fast


def _np_stack64(v: pd.Series) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow list<float> Series — the
    explicit astype mirrors the expression path's per-element
    x.cast('double') widening (float32 → float64 is exact)."""
    return np.stack(v.to_numpy()).astype(np.float64)


def _np_fp_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """`_fixed_point_dot` over the last axis (A and B broadcast):
    Σ HALF_UP(a·b·1e9), in the expression's multiplication order. The
    sum is exact in float64 (≤ 64 terms of ≲1e12 ≪ 2^53)."""
    return _np_half_up(A * B * _SCALE).sum(axis=-1)


def _bucket_sq_pandas(hyperplanes: list[list[float]]):
    """pandas twin of `hyperplane_lsh_bucket` + `_fixed_point_sq_norm`
    in one batch pass: struct(bucket, sq). Bucket bit i is set when the
    fixed-point dot with hyperplane i is ≥ 0 — matching the
    when(dot >= 0, 2^i).otherwise(0) expression."""
    from pyspark.sql.functions import pandas_udf

    H = np.asarray(hyperplanes, dtype=np.float64)  # (h, dim)
    pows = (2 ** np.arange(len(hyperplanes))).astype(np.int64)

    @pandas_udf("bucket long, sq long")
    def f(v: pd.Series) -> pd.DataFrame:
        m = _np_stack64(v)
        dots = _np_fp_dot(m[:, None, :], H[None, :, :])
        bucket = ((dots >= 0) * pows).sum(axis=1)
        sq = _np_fp_dot(m, m)
        return pd.DataFrame({
            "bucket": bucket.astype(np.int64),
            "sq": sq.astype(np.int64),
        })

    # guide §4.4: the bucket join's inferred isnotnull filter is pushed
    # below the projection and DUPLICATES the UDF (two ArrowEvalPython
    # per side in the captured plan — every row paid the batch twice).
    # Non-deterministic blocks the reorder; the value is in fact a pure
    # function of the row, so results are unchanged.
    return f.asNondeterministic()


def _sq_norm_pandas():
    """pandas twin of `_fixed_point_sq_norm` alone."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def f(v: pd.Series) -> pd.Series:
        m = _np_stack64(v)
        return pd.Series(_np_fp_dot(m, m).astype(np.int64))

    return f


def _pair_cosine_pandas():
    """pandas twin of the hoisted-norm pair cosine:
    round(fp_dot(a, b) / (√sqa · √sqb), 6) with exact JVM rounding."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def f(va: pd.Series, vb: pd.Series, sqa: pd.Series, sqb: pd.Series) -> pd.Series:
        c = _np_fp_dot(_np_stack64(va), _np_stack64(vb)) / (
            np.sqrt(sqa.to_numpy().astype(np.float64))
            * np.sqrt(sqb.to_numpy().astype(np.float64))
        )
        return pd.Series(_np_round6(c))

    return f


def _const_cosine_pandas(query_vec: list[float]):
    """pandas twin of `cosine_similarity` against a CONSTANT query
    vector: the corpus row's sq norm, the dot, and the exact-rounded
    cosine in one batch pass. NULL embeddings score NaN, which Arrow
    hands back as NULL — the expression path's result for them."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    nq = np.sqrt(_np_fp_dot(q, q))

    @pandas_udf("double")
    def f(v: pd.Series) -> pd.Series:
        ok = v.notna().to_numpy()
        c = np.full(len(v), np.nan)
        if ok.any():
            m = _np_stack64(v[ok])
            c[ok] = _np_round6(_np_fp_dot(m, q) / (np.sqrt(_np_fp_dot(m, m)) * nq))
        return pd.Series(c)

    return f


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against a constant query vector.

    One scan scored in Arrow batches (`_const_cosine_pandas`) + one
    TakeOrdered (no shuffle of the full table). Ties broken by id for
    determinism; NULL embeddings score NULL and sort last.
    """
    scored = embeddings.select(
        F.col(id_col),
        _const_cosine_pandas(query_vec)(F.col(vec_col)).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def hyperplane_lsh_bucket(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """Sign-of-dot-product LSH bucket id (long) for a vector column."""
    bits = []
    for i, h in enumerate(hyperplanes):
        hcol = F.array(*[F.lit(float(v)) for v in h])
        bits.append(F.when(_fixed_point_dot(vec, hcol) >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long")))
    return sum(bits[1:], bits[0])


def lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    hyperplanes: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's LSH bucket.

    At scale the bucket column is a partition/cluster key, so the scan
    prunes to ~1/2^h of the data; here it is computed on the fly.
    """
    qvec_col = F.array(*[F.lit(float(v)) for v in query_vec])
    bucketed = embeddings.withColumn("__bucket", hyperplane_lsh_bucket(F.col(vec_col), hyperplanes))
    qbucket = hyperplane_lsh_bucket(qvec_col, hyperplanes)
    candidates = bucketed.where(F.col("__bucket") == qbucket)
    return (
        candidates.select(F.col(id_col), cosine_similarity(F.col(vec_col), qvec_col).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    cluster_col: str = "ivf_cluster",
) -> DataFrame:
    """IVF coarse quantization: attach the nearest-centroid index.

    At warehouse scale the cluster id becomes the partition key of the
    stored index, so probes scan ~1/k of the data; here it's computed on
    the fly. Ties break toward the lower centroid index.

    The argmax is `array_max` over (sim, -index) structs — struct
    ordering is field-by-field, which is exactly max-by-(sim, lowest
    index). Expression size is LINEAR in the centroid count; the
    previous nested-`when` chain embedded the running best three times
    per step and blew up exponentially past ~8 centroids.
    """
    pairs = [
        F.struct(
            cosine_similarity(
                F.col(vec_col), F.array(*[F.lit(float(v)) for v in c])
            ).alias("sim"),
            F.lit(-i).alias("neg_idx"),
        )
        for i, c in enumerate(centroids)
    ]
    best = F.array_max(F.array(*pairs))
    return embeddings.withColumn(cluster_col, (-best["neg_idx"]).cast("int"))


def _ivf_probe(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    *,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """Rows of `embeddings` whose nearest centroid (`ivf_assign`) is
    one of the `nprobe` centroids with the highest `cosine_similarity`
    to the query, ties to the lower index. The ranking is computed on
    the driver with the numpy helpers, so it is the order the
    expression (and the SQL oracle) gives; a NaN cosine (zero-norm
    centroid) ranks last, like the expression's NULL."""
    q = np.asarray(query_vec, dtype=np.float64)
    C = np.asarray(centroids, dtype=np.float64)
    sims = _np_round6(_np_fp_dot(q, C) / (np.sqrt(_np_fp_dot(q, q)) * np.sqrt(_np_fp_dot(C, C))))
    probe = np.lexsort((np.arange(len(C)), -sims))[:nprobe].tolist()
    assigned = ivf_assign(embeddings, centroids, vec_col=vec_col)
    return assigned.where(F.col("ivf_cluster").isin(probe)).drop("ivf_cluster")


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF search: score only vectors in the `nprobe` centroids nearest
    to the query (approximate; recall grows with nprobe)."""
    candidates = _ivf_probe(embeddings, query_vec, centroids, vec_col=vec_col, nprobe=nprobe)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        candidates.select(F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    code_vecs: list[list[float]],
    *,
    num_subspaces: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    shortlist: int = 20,
) -> DataFrame:
    """The full FAISS-style IVF-PQ pipeline: coarse-quantize to prune
    the candidate set to `nprobe` clusters (IVF), score survivors by
    PQ/ADC table lookups, exactly re-rank a small shortlist.

    This is the composition production ANN actually runs — IVF bounds
    the SCAN (read ~nprobe/k_coarse of the index partitions), PQ bounds
    the ARITHMETIC (num_subspaces lookups instead of a d-dim dot per
    candidate), and the re-rank restores exact ordering where it
    matters. Pure composition of `ivf_assign` + `pq_adc_topk`; at
    warehouse scale the cluster id is the storage partition key and the
    codes are precomputed columns, so the whole query is a partition-
    pruned scan + codegen lookups + one TakeOrdered.
    """
    candidates = _ivf_probe(embeddings, query_vec, centroids, vec_col=vec_col, nprobe=nprobe)
    return pq_adc_topk(
        candidates, query_vec, code_vecs,
        num_subspaces=num_subspaces, id_col=id_col, vec_col=vec_col,
        k=k, shortlist=shortlist,
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    code_vecs: list[list[float]],
    *,
    num_subspaces: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    shortlist: int = 20,
) -> DataFrame:
    """Product-quantization search with ADC scoring + exact re-rank.

    The IVF-PQ playbook (Jégou et al., "Product Quantization for
    Nearest Neighbor Search") minus the coarse stage: split vectors
    into `num_subspaces` subvectors, quantize each to its nearest
    codeword, score candidates by Asymmetric Distance Computation —
    the query-to-codeword dots are precomputed constants, so scoring a
    vector is `num_subspaces` table lookups instead of a full
    d-dimensional dot — then exactly re-rank a small shortlist.

    `code_vecs` stands in for a trained codebook (production would
    k-means per subspace); each codeword of subspace m is the m-th
    slice of one code vector. Everything is JVM expressions: the
    query-side dot table is built from literal arrays and
    constant-folded by Catalyst, the per-subspace argmax is the
    array_max-over-structs trick (linear in K, see ivf_assign), and
    the only shuffle is the shortlist TakeOrdered. At 100 TB the codes
    are precomputed storage columns (codes + codebook ≪ vectors) and
    the scan never touches the raw vectors until the re-rank."""
    dim = len(query_vec)
    sub = dim // num_subspaces
    n_codes = len(code_vecs)

    def _sub_lit(vec: list[float], m: int) -> Column:
        return F.array(*[F.lit(float(x)) for x in vec[m * sub:(m + 1) * sub]])

    scored = embeddings
    score_terms = []
    for m in range(num_subspaces):
        e_sub = F.slice(F.col(vec_col), m * sub + 1, sub)
        # nearest codeword of subspace m: max over (dot, -k) structs
        pairs = [
            F.struct(
                _fixed_point_dot(e_sub, _sub_lit(cv, m)).alias("dot"),
                F.lit(-j).alias("neg_k"),
            )
            for j, cv in enumerate(code_vecs)
        ]
        code_m = -F.array_max(F.array(*pairs))["neg_k"]
        # ADC lookup table for subspace m: query-to-codeword dots as a
        # literal-array expression (constant-folded, no Python rounding)
        qdots_m = F.array(*[
            _fixed_point_dot(_sub_lit(query_vec, m), _sub_lit(cv, m))
            for cv in code_vecs
        ])
        score_terms.append(F.element_at(qdots_m, code_m.cast("int") + 1))
    pq_score = score_terms[0]
    for term in score_terms[1:]:
        pq_score = pq_score + term
    shortlisted = (
        scored.select(F.col(id_col), F.col(vec_col), pq_score.cast("long").alias("pq_score"))
        .orderBy(F.col("pq_score").desc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    from pyspark.sql.window import Window

    reranked = shortlisted.select(
        id_col, "pq_score",
        cosine_similarity(F.col(vec_col), qlit).alias("cosine"),
    )
    w = Window.orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        reranked.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
    )


def pq_train_codebook(
    embeddings: DataFrame,
    code_vecs: list[list[float]],
    *,
    num_subspaces: int = 4,
    vec_col: str = "embedding",
) -> DataFrame:
    """One Lloyd's iteration of per-subspace k-means — the trainer that
    turns `pq_adc_topk`'s stand-in code vectors into a REAL product-
    quantization codebook (Jégou et al. §III: independent k-means in
    each subspace).

    Each vector splits into `num_subspaces` subvectors; each subvector
    is assigned to its nearest initial codeword (fixed-point dot,
    argmax via the array_max-over-structs trick, ties to the lower
    codeword id); the new codeword is the assigned subvectors' mean,
    computed as 1e9-scaled long sums so the result is exact and
    partition-order-free (same discipline as kmeans_embedding_clusters).
    Returns the trained codebook in long format:
    (m, cw, pos, centroid, n) — `num_subspaces·K·sub_dim` rows.

    Scale shape: assignment is a pure codegen pass (codewords are
    literals, K·d ≪ data); the recompute is posexplode (×sub_dim) into
    one map-side-combined hash aggregate whose output is
    parameter-sized. Chain calls for more Lloyd's rounds — the
    between-rounds sync is a parameter-sized collect, the Lloyd's
    barrier, exactly as in kmeans_embedding_clusters.

    r12 (guide §2.4 / §6): one scan instead of a `num_subspaces`-way
    UNION (the plan scanned and decoded the embedding column once PER
    SUBSPACE). r13 (guide §4.2): the assignment + per-dimension partial
    sums run as ONE Arrow batch pass in numpy — the per-row work was
    K·num_subspaces interpreted HOF dots plus a ×dim posexplode into
    the aggregate; now each batch emits at most num_subspaces·K·sub_dim
    PARTIAL rows (map-side dense aggregation, guide §2.3) and the final
    aggregate is parameter-sized. Bit-identical: the per-element
    HALF_UP products are exact integers in float64 (≪ 2^53) summed in
    int64, np.argmax's first-max tie rule IS the old
    array_max(struct(dot, −j)) "ties to the lower codeword id", and the
    centroid's final round(·, 6) stays a JVM expression on the same
    exact sums.
    """
    dim = len(code_vecs[0])
    sub = dim // num_subspaces
    C = np.asarray(code_vecs, dtype=np.float64)  # (K, dim)
    n_sub = num_subspaces

    def _assign_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            mat = _np_stack64(pdf[vec_col])                 # (n, dim)
            out_m, out_cw, out_pos, out_s, out_n = [], [], [], [], []
            for m in range(n_sub):
                sv = mat[:, m * sub:(m + 1) * sub]            # (n, sub)
                cm = C[:, m * sub:(m + 1) * sub]              # (K, sub)
                dots = _np_fp_dot(sv[:, None, :], cm[None, :, :])
                cw = np.argmax(dots, axis=1)                  # ties → lowest j
                xs = _np_half_up(sv * _SCALE).astype(np.int64)  # (n, sub)
                for j in range(len(C)):
                    mask = cw == j
                    nj = int(mask.sum())
                    if not nj:
                        continue
                    s = xs[mask].sum(axis=0)                  # (sub,) int64
                    out_m.extend([m] * sub)
                    out_cw.extend([j] * sub)
                    out_pos.extend(range(1, sub + 1))
                    out_s.extend(s.tolist())
                    out_n.extend([nj] * sub)
            yield pd.DataFrame({
                "m": pd.array(out_m, dtype="int32"),
                "cw": pd.array(out_cw, dtype="int64"),
                "pos": pd.array(out_pos, dtype="int32"),
                "s": pd.array(out_s, dtype="int64"),
                "n": pd.array(out_n, dtype="int64"),
            })

    parts = embeddings.select(vec_col).mapInPandas(
        _assign_batches, "m int, cw long, pos int, s long, n long"
    )
    dims = parts.groupBy("m", "cw", "pos").agg(
        F.sum("s").cast("long").alias("__s"),
        F.sum("n").cast("long").alias("n"),
    )
    return dims.select(
        "m", "cw", "pos",
        F.round(
            F.col("__s").cast("double") / F.lit(_SCALE) / F.col("n").cast("double"), 6
        ).alias("centroid"),
        "n",
    )


def knn_join_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    k: int = 5,
) -> DataFrame:
    """Exact k-NN JOIN: top-k neighbors for EVERY query row at once —
    the batch shape that builds a k-NN graph (the input to SemDeDup /
    graph-based near-dup clustering), not one query per job.

    Plan: broadcast the query set against the corpus (a deliberate
    nested-loop — the work is |corpus|×|queries| dot products however
    expressed), then one window partitioned by query id keeps each
    query's top-k. At scale the window's exchange hashes on qid; with
    |queries| ≫ cores the keys are uniform, and the rank filter stops
    feeding rows past k at the sort (window top-k pushdown).

    r12: squared norms are hoisted below the join (once per corpus row
    / query row instead of once per pair — same arithmetic,
    bit-identical cosine; the knn_join_lsh change, applied to the exact
    form). r13 (guide §4.2): norms and the per-pair dot run as Arrow
    batches in numpy (`_sq_norm_pandas` / `_pair_cosine_pandas`)
    instead of interpreted zip_with/aggregate expressions —
    byte-identity pinned against the expression path in tests.
    """
    from pyspark.sql.window import Window

    sq = _sq_norm_pandas()
    e_n = embeddings.withColumn("__sq_e", sq(F.col(vec_col)))
    q_n = queries.withColumn("__sq_q", sq(F.col(qvec_col)))
    pairs = e_n.crossJoin(F.broadcast(q_n)).where(
        F.col(id_col) != F.col(qid_col)
    )
    scored = pairs.select(
        qid_col, id_col,
        _pair_cosine_pandas()(
            F.col(vec_col), F.col(qvec_col), F.col("__sq_e"), F.col("__sq_q")
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
    )


def knn_join_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    hyperplanes: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qv",
    k: int = 5,
) -> DataFrame:
    """Approximate k-NN JOIN: candidates come from LSH bucket equality,
    so the join is a HASH join on the bucket key — no nested loop
    anywhere. The scale path of :func:`knn_join_topk`: at 100 TB the
    bucket column is the stored partition key and each query probes
    ~1/2^h of the corpus; recall is traded via the hyperplane count.

    r12 (guide §1.2 step 2): squared norms are hoisted BELOW the join —
    computed once per corpus row / query row instead of once per
    candidate pair. r13 (guide §4.2): the bucket bits + sq norm are ONE
    Arrow batch pass per side (`_bucket_sq_pandas` — was 4 interpreted
    HOF dots per row) and the per-pair dot is `_pair_cosine_pandas` —
    same fixed-point arithmetic on the same values, byte-identity
    pinned against the expression path in tests.
    """
    from pyspark.sql.window import Window

    bsq = _bucket_sq_pandas(hyperplanes)
    b_emb = embeddings.withColumn("__bs", bsq(F.col(vec_col))).select(
        "*", F.col("__bs.bucket").alias("__bucket"), F.col("__bs.sq").alias("__sq_e")
    ).drop("__bs")
    b_q = queries.withColumn("__bs", bsq(F.col(qvec_col))).select(
        "*", F.col("__bs.bucket").alias("__bucket"), F.col("__bs.sq").alias("__sq_q")
    ).drop("__bs")
    cand = b_emb.join(F.broadcast(b_q), "__bucket").where(F.col(id_col) != F.col(qid_col))
    scored = cand.select(
        qid_col, id_col,
        _pair_cosine_pandas()(
            F.col(vec_col), F.col(qvec_col), F.col("__sq_e"), F.col("__sq_q")
        ).alias("cosine"),
    )
    w = Window.partitionBy(qid_col).orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= k)
    )


def embedding_cosine_dup_pairs(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    hyperplanes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold).

    With `hyperplanes`, candidate pairs come from LSH bucket collisions
    (scale path); without, a full self-join (small inputs only).
    """
    a = embeddings.alias("a")
    b = embeddings.alias("b")
    if hyperplanes is not None:
        bucketed = embeddings.withColumn("__bucket", hyperplane_lsh_bucket(F.col(vec_col), hyperplanes))
        a = bucketed.alias("a")
        b = bucketed.alias("b")
        cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (F.col("a.__bucket") == F.col("b.__bucket"))
    else:
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    # Hoist the squared norms: computed once per VECTOR (n rows), not
    # once per PAIR (n²/2) — cuts the fixed-point arithmetic ~3×.
    norms = embeddings.select(
        F.col(id_col).alias("__nid"), _fixed_point_sq_norm(F.col(vec_col)).alias("__sq"),
    )
    na = norms.select(F.col("__nid").alias("id_a"), F.col("__sq").alias("__sq_a"))
    nb = norms.select(F.col("__nid").alias("id_b"), F.col("__sq").alias("__sq_b"))
    dot = _fixed_point_dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).cast("double")
    pairs = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            dot.alias("__dot"),
        )
        .join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__dot") / (F.sqrt(F.col("__sq_a").cast("double")) * F.sqrt(F.col("__sq_b").cast("double"))),
                6,
            ).alias("cosine"),
        )
    )
    return pairs.where(F.col("cosine") >= threshold)


def kmeans_train(
    embeddings: DataFrame,
    init_centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    max_iters: int = 10,
    tol: float = 1e-6,
) -> tuple[list[list[float]], int]:
    """Lloyd's k-means to CONVERGENCE (the open-loop twin of the
    unrolled `kmeans_embedding_clusters` query): assign → scaled-
    integer centroid recompute → repeat until the max centroid shift
    drops below `tol` or `max_iters` is hit. Returns (centroids,
    iterations_run).

    The per-round driver sync is parameter-sized (k·d scaled-long
    sums — Lloyd's barrier, same class as the components query's
    convergence counter); each round is one codegen assignment pass +
    one map-side-combined aggregate over the corpus, so the cost is
    iterations × (scan + agg) with NO growing lineage: centroids
    re-enter as literals, so every round's plan is flat and
    checkpoint-free. Empty clusters keep their previous centroid (the
    standard restart-free choice, deterministic).
    """
    centroids = [list(map(float, c)) for c in init_centroids]
    dim = len(centroids[0])
    iters = 0
    for _ in range(max_iters):
        iters += 1
        assigned = ivf_assign(embeddings, centroids, vec_col=vec_col, cluster_col="__c")
        rows = (
            assigned.select("__c", F.posexplode(vec_col).alias("i", "x"))
            .groupBy("__c", "i")
            .agg(
                F.sum(F.round(F.col("x").cast("double") * F.lit(_SCALE), 0).cast("long")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        sums: dict[int, list[float]] = {}
        for r in rows:
            sums.setdefault(r["__c"], [0.0] * dim)[r["i"]] = r["s"] / _SCALE / r["n"]
        shift = 0.0
        nxt = []
        for ci, old in enumerate(centroids):
            new = sums.get(ci, old)
            shift = max(shift, max(abs(a - b) for a, b in zip(new, old)))
            nxt.append(new)
        centroids = nxt
        if shift < tol:
            break
    return centroids, iters


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    cluster_col: str = "sem_cluster",
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster, then dedup
    within clusters only.

    The published recipe (Abbas et al. 2023, "SemDeDup"): k-means the
    embeddings, and inside each cluster drop every vector that has a
    higher-similarity twin — cross-cluster pairs are never scored, so
    the quadratic pairwise cost is bounded by cluster size instead of
    corpus size. Representative choice is deterministic: the lowest id
    of a duplicate pair survives.

    Plan shape: nearest-centroid assignment is one codegen pass
    (centroids are parameter-sized, inlined as literals); the pairwise
    stage is a self-equi-join ON the cluster id — a hash shuffle both
    sides on `cluster_col`, never a cross join. Squared norms are
    carried on the assigned rows (computed once per vector, not per
    pair). At 100 TB the cluster id is the stored partition key and the
    join is co-located.
    """
    assigned = ivf_assign(
        embeddings, centroids, vec_col=vec_col, cluster_col=cluster_col
    ).withColumn("__sq", _fixed_point_sq_norm(F.col(vec_col)))
    a, b = assigned.alias("a"), assigned.alias("b")
    cond = (F.col(f"a.{cluster_col}") == F.col(f"b.{cluster_col}")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    cos = F.round(
        _fixed_point_dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")).cast("double")
        / (F.sqrt(F.col("a.__sq").cast("double")) * F.sqrt(F.col("b.__sq").cast("double"))),
        6,
    )
    dup_ids = (
        a.join(b, cond)
        .where(cos >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dup_ids.withColumn("__dup", F.lit(1)), id_col, "left")
        .select(
            F.col(id_col),
            F.col(cluster_col).cast("long").alias(cluster_col),
            F.when(F.col("__dup").isNull(), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("keep"),
        )
    )


def semantic_dedup_pandas(
    embeddings: DataFrame,
    centroids: list[list[float]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    cluster_col: str = "sem_cluster",
) -> DataFrame:
    """`semantic_dedup`'s production twin: per-cluster Arrow batches
    scored with vectorized numpy instead of interpreted `zip_with`/
    `aggregate` expressions (the expression path stays as the
    oracle-parity reference and the two are agreement-tested).

    `applyInPandas` groups by the cluster id, so each Python worker
    sees exactly one cluster's vectors — the SemDeDup contract that
    pairwise work never crosses clusters, expressed as the shuffle
    key. Fixed-point rounding matches `cosine_similarity`, so keep
    decisions are identical to the expression path.
    """
    assigned = ivf_assign(embeddings, centroids, vec_col=vec_col, cluster_col=cluster_col)

    def dedup_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        m = _np_stack64(pdf[vec_col])
        n = len(pdf)
        norms = np.sqrt(_np_fp_dot(m, m))
        keep = np.ones(n, dtype=np.int64)
        for i in range(n - 1):
            # one vectorized row-sweep per vector: exact per-element
            # fixed-point rounding (matmul can't express it), O(n²·d)
            # bounded by cluster size — the SemDeDup contract
            sims = _np_round6(_np_fp_dot(m[i], m[i + 1:]) / (norms[i] * norms[i + 1:]))
            keep[i + 1:] &= ~(sims >= threshold)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                cluster_col: pdf[cluster_col].astype("int64"),
                "keep": keep,
            }
        )

    out_schema = f"{id_col} long, {cluster_col} long, keep long"
    return assigned.groupBy(cluster_col).applyInPandas(dedup_group, out_schema)

