"""Similarity-search queries over the `embeddings` table + multimodal plumbing.

Cosine scoring uses the engine's fixed-point dot products (see
operators/similarity.py) so Spark and DuckDB produce bit-identical
doubles — a straight float sum would be partition-order-dependent.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import extract_features
from ..operators.similarity import (
    _SCALE,
    brute_force_topk,
    cosine_similarity,
    embedding_cosine_dup_pairs,
    lsh_topk,
)
from ..tables import load_tables
from .registry import register

_TOPK = 10

_S = str(int(_SCALE))  # the fixed-point scale as an SQL literal

# Seed vectors are chosen by RANK over vec_id, not by literal id —
# a testdata regeneration that renumbers ids can't crash the collect
# or desynchronize Spark and oracle (round-4 robustness pass; the
# events.ts re-encoding in round 3 proved regenerations happen).
# Rank 1 (lowest id) = query vector; ranks 2-4 = LSH hyperplanes;
# ranks 6-9 = IVF centroids; ranks 6-21 = SemDeDup centroids —
# identical to the old literal ids on the current dense 0..n data.
_QID_SQL = "(SELECT MIN(vec_id) FROM embeddings)"


def _rank_ids_sql(limit: int, offset: int) -> str:
    return f"(SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {limit} OFFSET {offset})"


def _seed_rows(emb: DataFrame, n: int = 21) -> list:
    """First `n` embedding rows in vec_id order (parameter-sized
    collect shared by the ANN/semdedup queries)."""
    return emb.select("vec_id", "embedding").orderBy("vec_id").limit(n).collect()


def _dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> CAST(round(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) * {_S}) AS BIGINT)))"
    )


_KNN_ORACLE = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QID_SQL}),
scored AS (
  SELECT e.vec_id,
         {_dot_sql('e.embedding', 'q.qv')} AS dot_s,
         {_dot_sql('e.embedding', 'e.embedding')} AS na_s,
         {_dot_sql('q.qv', 'q.qv')} AS nb_s
  FROM embeddings e, q
  WHERE e.vec_id <> {_QID_SQL}
)
SELECT vec_id,
       round(CAST(dot_s AS DOUBLE) / (sqrt(CAST(na_s AS DOUBLE)) * sqrt(CAST(nb_s AS DOUBLE))), 6) AS cosine
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT {_TOPK}
"""


@register("knn_brute_force", oracle=_KNN_ORACLE, bench=True,
          description="exact cosine top-k against a query vector (ANN baseline)")
def knn_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir)["embeddings"]
    # the seed row already carries the query VECTOR, so the query side
    # is a plain literal — no broadcast join at all
    seed = _seed_rows(emb, 1)[0]
    qvec = [float(x) for x in seed["embedding"]]
    return brute_force_topk(emb.where(F.col("vec_id") != seed["vec_id"]), qvec, k=_TOPK)


_DUP_THRESHOLD = 0.40

_DUP_ORACLE = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_dot_sql('a.embedding', 'b.embedding')} AS dot_s,
         {_dot_sql('a.embedding', 'a.embedding')} AS na_s,
         {_dot_sql('b.embedding', 'b.embedding')} AS nb_s
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b,
       round(CAST(dot_s AS DOUBLE) / (sqrt(CAST(na_s AS DOUBLE)) * sqrt(CAST(nb_s AS DOUBLE))), 6) AS cosine
FROM pairs
WHERE round(CAST(dot_s AS DOUBLE) / (sqrt(CAST(na_s AS DOUBLE)) * sqrt(CAST(nb_s AS DOUBLE))), 6) >= {_DUP_THRESHOLD}
"""


@register("embedding_dup_pairs", oracle=_DUP_ORACLE,
          description="embedding-cosine near-duplicate pairs (threshold 0.40)")
def embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return embedding_cosine_dup_pairs(
        t["embeddings"], id_col="vec_id", vec_col="embedding", threshold=_DUP_THRESHOLD
    )


def _bucket_sql(vec: str) -> str:
    bits = []
    for i, hid in enumerate((1, 2, 3)):
        bits.append(
            f"(CASE WHEN {_dot_sql(vec, f'h{hid}.hv')} >= 0 THEN {2**i} ELSE 0 END)"
        )
    return " + ".join(bits)


_XLING_THRESHOLD = 0.40

_XLING_ORACLE = f"""
WITH h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
eb AS (
  SELECT e.vec_id, e.embedding, d.lang, {_bucket_sql('e.embedding')} AS bucket
  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id, h1, h2, h3
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.lang AS lang_a, b.lang AS lang_b,
         {_dot_sql('a.embedding', 'b.embedding')} AS dot_s,
         {_dot_sql('a.embedding', 'a.embedding')} AS na_s,
         {_dot_sql('b.embedding', 'b.embedding')} AS nb_s
  FROM eb a JOIN eb b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id AND a.lang <> b.lang
)
SELECT id_a, id_b, lang_a, lang_b,
       round(CAST(dot_s AS DOUBLE) / (sqrt(CAST(na_s AS DOUBLE)) * sqrt(CAST(nb_s AS DOUBLE))), 6) AS cosine
FROM pairs
WHERE round(CAST(dot_s AS DOUBLE) / (sqrt(CAST(na_s AS DOUBLE)) * sqrt(CAST(nb_s AS DOUBLE))), 6) >= {_XLING_THRESHOLD}
"""


@register("dedup_cross_lingual", oracle=_XLING_ORACLE,
          description="cross-lingual near-dup candidates: LSH-bucketed "
                      "embedding pairs restricted to DIFFERENT languages")
def dedup_cross_lingual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Translated near-duplicates — the dedup class MinHash can never
    see (zero lexical overlap by definition), caught in embedding
    space where translations land close. Same hyperplane-LSH bucketing
    as the monolingual scale path (planes = ranks 1-3), but the pair
    join demands DIFFERENT document languages, so same-language dups
    (the monolingual pipeline's job) never form pairs at all — the
    language column is attached BEFORE bucketing, making the inequality
    part of the join condition, not a post-filter over formed pairs.

    SQL `<>` semantics both engines share: a NULL lang never pairs —
    language-unidentified docs belong to the monolingual pipeline
    until language-ID assigns them. Cosine is the fixed-point dot
    (bit-identical across engines).

    The bucket self-join runs over DISTINCT (embedding, lang) CLONES,
    not vectors — the simhash/pagerank clone-collapse, which is
    mandatory for any pair-emitting dedup query: a cluster of c
    byte-identical vectors costs c² inside every shared bucket, and
    the 16x probe (16 exact copies of each vector) ran minutes
    vector-level vs seconds clone-level. Clone-level pairs expand back
    to vector pairs through the member mapping — output-sized work,
    the answer itself.

    100 TB shape: lang lookup is a doc-keyed hash join (fact-to-fact,
    shuffle on id — NOT broadcast; both sides are corpus-sized), then
    the bucket-equality join over clones bounds candidates exactly
    like embedding_cosine_dup_pairs; norms are hoisted per-clone. More
    planes → smaller buckets at bigger corpora (same dial as the
    monolingual path; recall decays per the hyperplane-LSH S-curve).
    """
    from ..cache import persist_tracked
    from ..operators.similarity import _fixed_point_dot, hyperplane_lsh_bucket

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 4)
    planes = [[float(x) for x in seeds[i]["embedding"]] for i in (1, 2, 3)]
    langs = t["documents"].select(F.col("doc_id").alias("vec_id"), "lang")
    tagged = emb.join(langs, "vec_id")
    # clone table feeds three branches (pair sides + member expansion)
    reps = persist_tracked(
        tagged.groupBy("embedding", "lang").agg(F.min("vec_id").alias("rid"))
    )
    scored = reps.select(
        "rid", "lang",
        hyperplane_lsh_bucket(F.col("embedding"), planes).alias("__bucket"),
        F.col("embedding"),
        _fixed_point_dot(F.col("embedding"), F.col("embedding")).alias("__sq"),
    )
    a, b = scored.alias("a"), scored.alias("b")
    dot = _fixed_point_dot(F.col("a.embedding"), F.col("b.embedding")).cast("double")
    cosine = F.round(
        dot / (F.sqrt(F.col("a.__sq").cast("double")) * F.sqrt(F.col("b.__sq").cast("double"))), 6
    )
    rep_pairs = (
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.rid") < F.col("b.rid"))
            & (F.col("a.lang") != F.col("b.lang")),
        )
        .select(
            F.col("a.rid").alias("ra"), F.col("b.rid").alias("rb"),
            F.col("a.lang").alias("la"), F.col("b.lang").alias("lb"),
            cosine.alias("cosine"),
        )
        .where(F.col("cosine") >= _XLING_THRESHOLD)
    )
    members = tagged.join(
        reps.select("embedding", "lang", "rid"), ["embedding", "lang"]
    ).select("vec_id", "rid")
    ma = members.select(F.col("rid").alias("ra"), F.col("vec_id").alias("da"))
    mb = members.select(F.col("rid").alias("rb"), F.col("vec_id").alias("db"))
    return (
        rep_pairs.join(ma, "ra").join(mb, "rb")
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            F.when(F.col("da") < F.col("db"), F.col("la")).otherwise(F.col("lb")).alias("lang_a"),
            F.when(F.col("da") < F.col("db"), F.col("lb")).otherwise(F.col("la")).alias("lang_b"),
            "cosine",
        )
    )


_LSH_KNN_ORACLE = f"""
WITH h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QID_SQL}),
qb AS (SELECT {_bucket_sql('q.qv')} AS bucket FROM q, h1, h2, h3),
cand AS (
  SELECT e.vec_id, e.embedding, q.qv
  FROM embeddings e, q, h1, h2, h3, qb
  WHERE e.vec_id <> {_QID_SQL}
    AND {_bucket_sql('e.embedding')} = qb.bucket
),
scored AS (
  SELECT vec_id,
         {_dot_sql('embedding', 'qv')} AS dot_s,
         {_dot_sql('embedding', 'embedding')} AS na_s,
         {_dot_sql('qv', 'qv')} AS nb_s
  FROM cand
)
SELECT vec_id,
       round(CAST(dot_s AS DOUBLE) / (sqrt(CAST(na_s AS DOUBLE)) * sqrt(CAST(nb_s AS DOUBLE))), 6) AS cosine
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT {_TOPK}
"""


@register("knn_lsh_bucketed", oracle=_LSH_KNN_ORACLE,
          description="LSH-bucketed approximate top-k (hyperplane-sign pruning)")
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    # Hyperplanes = data vectors at ranks 2-4 (deterministic,
    # parameter-sized collect, rank-robust to id renumbering).
    seeds = _seed_rows(emb, 4)
    qv = seeds[0]["embedding"]
    planes = [r["embedding"] for r in seeds[1:4]]
    return lsh_topk(
        emb.where(F.col("vec_id") != seeds[0]["vec_id"]),
        [float(x) for x in qv],
        [[float(x) for x in p] for p in planes],
        id_col="vec_id",
        vec_col="embedding",
        k=_TOPK,
    )


_GRAPH_NQ = 16
_GRAPH_K = 5

_GRAPH_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id IN {_rank_ids_sql(_GRAPH_NQ, 0)}
),
scored AS (
  SELECT q.qid, e.vec_id,
         round(CAST({_dot_sql('e.embedding', 'q.qv')} AS DOUBLE)
               / (sqrt(CAST({_dot_sql('e.embedding', 'e.embedding')} AS DOUBLE))
                  * sqrt(CAST({_dot_sql('q.qv', 'q.qv')} AS DOUBLE))), 6) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
)
SELECT qid, vec_id, cosine, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_GRAPH_K}
"""


@register("knn_graph_brute", oracle=_GRAPH_ORACLE,
          description="exact k-NN graph: top-5 neighbors for 16 query vectors in "
                      "one batch join + per-query window")
def knn_graph_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction (the SemDeDup / near-dup-clustering
    input): ONE plan scores every (query, corpus) pair and keeps each
    query's top-5 — versus knn_brute_force's one-query-per-job shape.
    Queries are the 16 lowest-vec_id embeddings (rank-robust)."""
    from ..operators.similarity import knn_join_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    qids = [r["vec_id"] for r in _seed_rows(emb, _GRAPH_NQ)]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return knn_join_topk(emb, queries, k=_GRAPH_K)


_GRAPH_LSH_ORACLE = f"""
WITH h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings
  WHERE vec_id IN {_rank_ids_sql(_GRAPH_NQ, 0)}
),
qb AS (SELECT qid, qv, {_bucket_sql('q.qv')} AS bucket FROM q, h1, h2, h3),
eb AS (
  SELECT vec_id, embedding, {_bucket_sql('e.embedding')} AS bucket
  FROM embeddings e, h1, h2, h3
),
cand AS (
  SELECT qb.qid, eb.vec_id,
         round(CAST({_dot_sql('eb.embedding', 'qb.qv')} AS DOUBLE)
               / (sqrt(CAST({_dot_sql('eb.embedding', 'eb.embedding')} AS DOUBLE))
                  * sqrt(CAST({_dot_sql('qb.qv', 'qb.qv')} AS DOUBLE))), 6) AS cosine
  FROM eb JOIN qb USING (bucket)
  WHERE eb.vec_id <> qb.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM cand
)
SELECT qid, vec_id, cosine, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_GRAPH_K}
"""


@register("knn_graph_lsh", oracle=_GRAPH_LSH_ORACLE, bench=True,
          description="LSH-bucketed k-NN graph: hash join on hyperplane bucket "
                      "(no nested loop) + per-query window")
def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path of knn_graph_brute: the (query, corpus) candidate
    set comes from LSH bucket EQUALITY, so Catalyst plans a hash join
    on the bucket key — the only k-NN-graph shape that survives when
    both sides are large. Hyperplanes are ranks 2-4 (same as
    knn_lsh_bucketed); recall is traded via the hyperplane count."""
    from ..operators.similarity import knn_join_lsh

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, _GRAPH_NQ)
    qids = [r["vec_id"] for r in seeds]
    planes = [[float(x) for x in seeds[i]["embedding"]] for i in (1, 2, 3)]
    queries = emb.where(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    return knn_join_lsh(emb, queries, planes, k=_GRAPH_K)


def _cos_sql(a: str, b: str) -> str:
    return (
        f"round(CAST({_dot_sql(a, b)} AS DOUBLE) / "
        f"(sqrt(CAST({_dot_sql(a, a)} AS DOUBLE)) * sqrt(CAST({_dot_sql(b, b)} AS DOUBLE))), 6)"
    )


_KM_K = 4          # k-means clusters (seeds = IVF centroid ranks 6-9)
_KM_DIM = 64

_KMEANS_ORACLE = f"""
WITH seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_KM_K} OFFSET 5)
),
a0 AS (
  SELECT e.vec_id, s.cid,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cos_sql('e.embedding', 's.cv')} DESC, s.cid ASC) AS rn
  FROM embeddings e, seeds s
),
a0f AS (SELECT vec_id, cid FROM a0 WHERE rn = 1),
d1 AS (
  SELECT a.cid, t.i,
         CAST(SUM(CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1000000000) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM embeddings e JOIN a0f a USING (vec_id),
       LATERAL (SELECT unnest(range(1, {_KM_DIM} + 1)) AS i) t
  GROUP BY a.cid, t.i
),
c1 AS (
  SELECT cid, list(CAST(s AS DOUBLE) / 1000000000.0 / n ORDER BY i) AS cv
  FROM d1 GROUP BY cid
),
a1 AS (
  SELECT e.vec_id, c.cid, {_cos_sql('e.embedding', 'c.cv')} AS cosine,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid ASC) AS rn
  FROM embeddings e, c1 c
)
SELECT vec_id, CAST(cid AS BIGINT) AS cluster, cosine
FROM a1 WHERE rn = 1
"""


@register("kmeans_embedding_clusters", oracle=_KMEANS_ORACLE,
          description="Lloyd's k-means, 2 unrolled iterations: assign → "
                      "scaled-integer centroid recompute → reassign (the real "
                      "codebook/IVF trainer)")
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd's iteration of k-means (k=4, cosine metric) with
    the final reassignment — the trainer that produces REAL IVF
    centroids / PQ codebooks instead of rank-picked stand-ins.

    The numerically hard part is the centroid recompute: a mean of
    floats is partition-order-dependent, so each dimension is summed as
    round(x·1e9) longs (exact, order-free) and divided back in a fixed
    operation order (s / 1e9 / n) that Python, Spark, and the SQL
    oracle all execute identically in IEEE doubles. Assignment ties
    break toward the lower cluster id on both engines.

    Shape: iteration = one codegen assignment pass (centroids are
    literal arrays, k×d ≪ data) + one (cluster, dim)-keyed aggregate
    whose output is parameter-sized (k·d rows) — the driver collect
    between iterations is the standard Lloyd's synchronization point,
    same class as dedup_lsh_components' convergence counter. At 100 TB
    each iteration is one scan + one map-side-combined aggregate; the
    explode amplifies by d but aggregates immediately.
    """
    from ..operators.similarity import ivf_assign

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 9)
    centroids0 = [[float(x) for x in r["embedding"]] for r in seeds[5:9]]

    assigned = ivf_assign(emb, centroids0, cluster_col="cid")
    dims = assigned.select(
        "cid", F.posexplode("embedding").alias("i", "x")
    ).groupBy("cid", "i").agg(
        F.sum(F.round(F.col("x").cast("double") * 1000000000.0, 0).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    # k·d rows — parameter-sized driver sync (Lloyd's step barrier)
    rows = dims.collect()
    by_cid: dict[int, dict[int, float]] = {}
    for r in rows:
        by_cid.setdefault(r["cid"], {})[r["i"]] = r["s"] / 1000000000.0 / r["n"]
    centroids1 = {
        cid: [vals[i] for i in sorted(vals)] for cid, vals in by_cid.items()
    }
    pairs = [
        F.struct(
            cosine_similarity(F.col("embedding"), F.array(*[F.lit(v) for v in cv])).alias("sim"),
            F.lit(-cid).alias("neg_cid"),
        )
        for cid, cv in sorted(centroids1.items())
    ]
    best = F.array_max(F.array(*pairs))
    return emb.select(
        "vec_id",
        (-best["neg_cid"]).cast("long").alias("cluster"),
        best["sim"].alias("cosine"),
    )


_PQ_M = 4          # subspaces (64-dim → 16-dim subvectors)
_PQ_K = 4          # codewords per subspace (code vectors at ranks 10-13)
_PQ_SHORTLIST = 20
_PQ_SUB = "16"     # subvector width in SQL (len(embedding) / _PQ_M)

_PQ_ORACLE = f"""
WITH sk AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cw, embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K} OFFSET 9)
),
ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
cb AS (
  SELECT m, cw, list_slice(embedding, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB}) AS cv
  FROM sk, ms
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QID_SQL}),
qs AS (
  SELECT cb.m, cb.cw,
         {_dot_sql(f"list_slice(q.qv, cb.m * {_PQ_SUB} + 1, cb.m * {_PQ_SUB} + {_PQ_SUB})", 'cb.cv')} AS qdot
  FROM q, cb
),
assign AS (
  SELECT e.vec_id, cb.m, cb.cw,
         ROW_NUMBER() OVER (
           PARTITION BY e.vec_id, cb.m
           ORDER BY {_dot_sql(f"list_slice(e.embedding, cb.m * {_PQ_SUB} + 1, cb.m * {_PQ_SUB} + {_PQ_SUB})", 'cb.cv')} DESC,
                    cb.cw ASC
         ) AS rn
  FROM embeddings e, cb
  WHERE e.vec_id <> {_QID_SQL}
),
scores AS (
  SELECT a.vec_id, CAST(SUM(qs.qdot) AS BIGINT) AS pq_score
  FROM assign a JOIN qs ON qs.m = a.m AND qs.cw = a.cw
  WHERE a.rn = 1
  GROUP BY a.vec_id
),
short AS (
  SELECT vec_id, pq_score FROM scores
  ORDER BY pq_score DESC, vec_id ASC LIMIT {_PQ_SHORTLIST}
),
rer AS (
  SELECT s.vec_id, s.pq_score,
         round(CAST({_dot_sql('e.embedding', 'q.qv')} AS DOUBLE)
               / (sqrt(CAST({_dot_sql('e.embedding', 'e.embedding')} AS DOUBLE))
                  * sqrt(CAST({_dot_sql('q.qv', 'q.qv')} AS DOUBLE))), 6) AS cosine
  FROM short s JOIN embeddings e USING (vec_id), q
)
SELECT vec_id, pq_score, cosine,
       CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rn
FROM rer
QUALIFY rn <= {_TOPK}
"""


@register("knn_pq_adc", oracle=_PQ_ORACLE,
          description="product-quantization search: per-subspace codeword "
                      "assignment, ADC lookup scoring, exact re-rank of the "
                      "shortlist")
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate search (Jégou et al.) with exact re-rank:
    vectors quantize to the nearest of 4 codewords in each of 4
    subspaces; candidate scoring is 4 constant-table lookups instead
    of a 64-dim dot; the top-20 shortlist is re-ranked exactly. Code
    vectors are ranks 10-13 (rank-robust stand-in for a trained
    codebook — production trains per-subspace k-means)."""
    from ..operators.similarity import pq_adc_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 13)
    qid = seeds[0]["vec_id"]
    qv = [float(x) for x in seeds[0]["embedding"]]
    code_vecs = [[float(x) for x in seeds[i]["embedding"]] for i in range(9, 13)]
    return pq_adc_topk(
        emb.where(F.col("vec_id") != qid), qv, code_vecs,
        num_subspaces=_PQ_M, k=_TOPK, shortlist=_PQ_SHORTLIST,
    )


_IVF_CENTROIDS_SQL = _rank_ids_sql(4, 5)   # ranks 6-9



def _ivf_oracle_nprobe(nprobe: int) -> str:
    """The IVF top-k oracle parameterized by nprobe (the `rn <=` probe
    cut); `_IVF_ORACLE` keeps the historical nprobe=2 form and
    `knn_ivf_recall_curve` sweeps 1/2/4."""
    return f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id IN {_IVF_CENTROIDS_SQL}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QID_SQL}),
qrank AS (
  SELECT cid, ROW_NUMBER() OVER (ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, cid ASC) AS rn
  FROM c, q
),
probe AS (SELECT cid FROM qrank WHERE rn <= {nprobe}),
scored_c AS (
  SELECT e.vec_id, e.embedding, c.cid, {_cos_sql('e.embedding', 'c.cv')} AS s
  FROM embeddings e CROSS JOIN c
  WHERE e.vec_id <> {_QID_SQL}
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scored_c
  ) WHERE rn = 1
),
cand AS (
  SELECT a.vec_id, a.embedding, q.qv FROM assigned a, q
  WHERE a.cid IN (SELECT cid FROM probe)
)
SELECT vec_id, {_cos_sql('cand.embedding', 'cand.qv')} AS cosine
FROM cand
ORDER BY cosine DESC, vec_id ASC
LIMIT {_TOPK}
"""


_IVF_ORACLE = _ivf_oracle_nprobe(2)


@register("knn_ivf", oracle=_IVF_ORACLE,
          description="IVF coarse-quantized approximate top-k (nprobe=2)")
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 9)
    qid = seeds[0]["vec_id"]
    qv = [float(x) for x in seeds[0]["embedding"]]
    centroids = [[float(x) for x in r["embedding"]] for r in seeds[5:9]]
    return ivf_topk(
        emb.where(F.col("vec_id") != qid), qv, centroids,
        id_col="vec_id", vec_col="embedding", k=_TOPK, nprobe=2,
    )


_MULTIMODAL_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 822
                 ELSE 44 + 2 * (800 + (doc_id % 50) * 8) END AS BIGINT) AS n_bytes,
       CAST(CASE WHEN doc_id % 2 = 0 THEN doc_id % 256
                 ELSE 100 + (doc_id % 50) END AS BIGINT) AS fa,
       CAST(CASE WHEN doc_id % 2 = 0 THEN (doc_id * 7) % 256
                 ELSE ((doc_id % 100) + 1) * 100 END AS BIGINT) AS fb
FROM documents
"""


@register("multimodal_feature_extract", oracle=_MULTIMODAL_ORACLE,
          description="multimodal roundtrip: synthesize real BMP/WAV payloads from "
                      "doc_id constants, decode with the dependency-free codecs via "
                      "mapInPandas, emit decoded stats (oracle = closed-form arithmetic)")
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Even doc_ids become a 16×16 solid-color BMP (color = doc_id mod
    arithmetic), odd doc_ids a full-scale ±amp square-wave PCM-16 WAV at
    8 kHz. The decoded mean channel values / duration / RMS then equal
    those constants EXACTLY, so the DuckDB oracle checks the whole
    encode→decode codec path (functions/codecs.py) in closed form:
    image fa=mean_r, fb=mean_g; audio fa=duration_ms, fb=rms.

    Scale shape: two mapInPandas passes (synthesize, decode), no
    shuffle; payloads stay executor-side as bounded Arrow batches.
    """
    import numpy as np

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def synth(batches):
        from ..functions.codecs import encode_bmp, encode_wav_pcm16

        for pdf in batches:
            kinds, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if d % 2 == 0:
                    color = (d % 256, (d * 7) % 256, (d * 13) % 256)
                    px = np.empty((16, 16, 3), np.uint8)
                    px[:, :] = color
                    kinds.append("image")
                    payloads.append(encode_bmp(px))
                else:
                    amp = ((d % 100) + 1) * 100
                    n = 800 + (d % 50) * 8  # multiple of 8 → integer ms at 8 kHz
                    samples = np.full(n, amp, np.int16)
                    samples[1::2] = -amp
                    kinds.append("audio")
                    payloads.append(encode_wav_pcm16(samples, 8000))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].values, "kind": kinds, "payload": payloads}
            )

    media = docs.mapInPandas(synth, "media_id long, kind string, payload binary")
    feats = extract_features(media)  # default decode_fn = real BMP/WAV codecs
    # feature[4]/[5] are mean_r/mean_g for images, duration_ms/rms for audio
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.round(F.element_at("feature", 4)).cast("long").alias("fa"),
        F.round(F.element_at("feature", 5)).cast("long").alias("fb"),
    )


_CENTROID_ORACLE = f"""
SELECT label, CAST(i AS INT) AS pos,
       round(CAST(SUM(CAST(round(CAST(embedding[i] AS DOUBLE) * {_S}) AS BIGINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / {_S}, 6) AS centroid
FROM embeddings, range(1, 65) t(i)
GROUP BY 1, 2
"""
# (constant 64-dim range: DuckDB's range() can't lateral-reference the
# embedding column; the Spark side posexplodes so any dim works there)


@register("embedding_label_centroids", oracle=_CENTROID_ORACLE,
          description="per-label centroid vector (posexplode + fixed-point mean, long format)")
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregate: mean embedding per label. posexplode + one hash
    aggregate on (label, pos) — partial means combine map-side, so the
    shuffle carries labels × dim rows regardless of corpus size. Sums in
    1e9 fixed point so the mean is deterministic cross-engine."""
    t = load_tables(spark, sf_dir)
    exploded = t["embeddings"].select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    )
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).cast("int").alias("pos"))
        .agg(
            F.sum(F.round(F.col("v").cast("double") * 1e9).cast("long")).alias("__s"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            "label", "pos",
            F.round(F.col("__s").cast("double") / F.col("__n").cast("double") / 1e9, 6).alias("centroid"),
        )
    )


_SEMDEDUP_THRESHOLD = 0.40
# 16 cluster seeds (vs knn_ivf's 4): pairwise work scales as n²/k, and
# SemDeDup picks k large enough that clusters stay pairwise-affordable.
_SEMDEDUP_CENTROIDS_SQL = _rank_ids_sql(16, 5)   # ranks 6-21

_SEMDEDUP_ORACLE = f"""
WITH c AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
  FROM embeddings
  WHERE vec_id IN {_SEMDEDUP_CENTROIDS_SQL}
),
scored_c AS (
  SELECT e.vec_id, e.embedding, c.cid, {_cos_sql('e.embedding', 'c.cv')} AS s
  FROM embeddings e CROSS JOIN c
),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scored_c
  ) WHERE rn = 1
),
dup AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_cos_sql('a.embedding', 'b.embedding')} >= {_SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, CAST(a.cid AS BIGINT) AS sem_cluster,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
"""


@register("dedup_semantic_clusters", oracle=_SEMDEDUP_ORACLE,
          description="SemDeDup-style semantic dedup: nearest-centroid "
                      "clusters, within-cluster cosine pairs, lowest-id "
                      "representative kept")
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over the embeddings table (SemDeDup recipe:
    Abbas et al. 2023 — cluster first so the pairwise stage is bounded
    by cluster size, not corpus size).

    Cluster seeds follow the knn_ivf convention: fixed sample vectors
    as centroids (a real deployment plugs in trained k-means means —
    the plan is identical, the centroid list is a parameter).

    Registered implementation is the Arrow/numpy per-cluster kernel
    (`semantic_dedup_pandas`) — the interpreted zip_with/aggregate
    expression path scores 3M within-cluster pairs ~30× slower at
    sf0.1. Keep decisions are bit-identical (same fixed-point
    rounding; agreement-tested in test_operators and gated by this
    query's oracle), so the Python kernel is by-contract here, like
    the multimodal decoders.
    """
    from ..operators.similarity import semantic_dedup_pandas

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    centroids = [[float(x) for x in r["embedding"]] for r in _seed_rows(emb, 21)[5:21]]
    return semantic_dedup_pandas(
        emb, centroids, id_col="vec_id", vec_col="embedding",
        threshold=_SEMDEDUP_THRESHOLD, cluster_col="sem_cluster",
    )


_IVFPQ_ORACLE = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS cv FROM embeddings
  WHERE vec_id IN {_IVF_CENTROIDS_SQL}
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_QID_SQL}),
qrank AS (
  SELECT cid, ROW_NUMBER() OVER (ORDER BY {_cos_sql('q.qv', 'c.cv')} DESC, cid ASC) AS rn
  FROM c, q
),
probe AS (SELECT cid FROM qrank WHERE rn <= 2),
assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos_sql('e.embedding', 'c.cv')} DESC, c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c
    WHERE e.vec_id <> {_QID_SQL}
  ) WHERE rn = 1
),
cand AS (
  SELECT vec_id, embedding FROM assigned
  WHERE cid IN (SELECT cid FROM probe)
),
sk AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cw, embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_PQ_K} OFFSET 9)
),
ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
cb AS (
  SELECT m, cw, list_slice(embedding, m * {_PQ_SUB} + 1, m * {_PQ_SUB} + {_PQ_SUB}) AS cv
  FROM sk, ms
),
qs AS (
  SELECT cb.m, cb.cw,
         {_dot_sql(f"list_slice(q.qv, cb.m * {_PQ_SUB} + 1, cb.m * {_PQ_SUB} + {_PQ_SUB})", 'cb.cv')} AS qdot
  FROM q, cb
),
assignpq AS (
  SELECT cand.vec_id, cb.m, cb.cw,
         ROW_NUMBER() OVER (
           PARTITION BY cand.vec_id, cb.m
           ORDER BY {_dot_sql(f"list_slice(cand.embedding, cb.m * {_PQ_SUB} + 1, cb.m * {_PQ_SUB} + {_PQ_SUB})", 'cb.cv')} DESC,
                    cb.cw ASC
         ) AS rn
  FROM cand, cb
),
scores AS (
  SELECT a.vec_id, CAST(SUM(qs.qdot) AS BIGINT) AS pq_score
  FROM assignpq a JOIN qs ON qs.m = a.m AND qs.cw = a.cw
  WHERE a.rn = 1
  GROUP BY a.vec_id
),
short AS (
  SELECT vec_id, pq_score FROM scores
  ORDER BY pq_score DESC, vec_id ASC LIMIT {_PQ_SHORTLIST}
),
rer AS (
  SELECT s.vec_id, s.pq_score, {_cos_sql('e.embedding', 'q.qv')} AS cosine
  FROM short s JOIN embeddings e USING (vec_id), q
)
SELECT vec_id, pq_score, cosine,
       CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id ASC) AS BIGINT) AS rn
FROM rer
QUALIFY rn <= {_TOPK}
"""


@register("knn_ivf_pq", oracle=_IVFPQ_ORACLE,
          description="composed IVF-PQ search: coarse-probe pruning, ADC lookup "
                      "scoring of survivors, exact shortlist re-rank (the "
                      "production ANN pipeline)")
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFPQ shape): IVF bounds the scan
    (probe 2 of 4 coarse clusters), PQ/ADC bounds the per-candidate
    arithmetic (4 lookups instead of a 64-dim dot), the top-20
    shortlist re-ranks exactly. Same rank-based seeds as the component
    queries: centroids = ranks 6-9, codebook = ranks 10-13."""
    from ..operators.similarity import ivf_pq_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 13)
    qid = seeds[0]["vec_id"]
    qv = [float(x) for x in seeds[0]["embedding"]]
    centroids = [[float(x) for x in r["embedding"]] for r in seeds[5:9]]
    code_vecs = [[float(x) for x in seeds[i]["embedding"]] for i in range(9, 13)]
    return ivf_pq_topk(
        emb.where(F.col("vec_id") != qid), qv, centroids, code_vecs,
        num_subspaces=_PQ_M, k=_TOPK, nprobe=2, shortlist=_PQ_SHORTLIST,
    )


# ---------------------------------------------------------------------------
# embedding QA: norm distribution + degenerate-vector counts
# ---------------------------------------------------------------------------

_NORM_ORACLE = f"""
WITH norms AS (
  SELECT vec_id, label,
         CAST({_dot_sql('e.embedding', 'e.embedding')} AS BIGINT) AS sq_norm_s
  FROM embeddings e
),
ranked AS (
  SELECT label, sq_norm_s,
         row_number() OVER (PARTITION BY label ORDER BY sq_norm_s, vec_id) AS rn,
         COUNT(*) OVER (PARTITION BY label) AS n
  FROM norms
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN sq_norm_s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       round(sqrt(CAST(MIN(sq_norm_s) AS DOUBLE) / 1e9), 6) AS min_norm,
       round(sqrt(CAST(MAX(sq_norm_s) AS DOUBLE) / 1e9), 6) AS max_norm,
       round(sqrt(CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN sq_norm_s END) AS DOUBLE) / 1e9), 6)
         AS p50_norm
FROM ranked GROUP BY label
"""


@register("embedding_norm_profile", oracle=_NORM_ORACLE,
          description="embedding QA: norm distribution + zero-vector counts per label")
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-quality screening before any ANN/dedup consumes the
    embeddings: per label, the norm distribution (rank-exact median on
    the 1e9 fixed-point squared norms — ordering integers is ordering
    norms) and the count of degenerate zero vectors (a broken encoder
    emits them in batches; cosine against them is undefined). One pass:
    squared norms are exact integer dots, the only doubles are final
    sqrt renderings.
    """
    from ..operators.similarity import _fixed_point_sq_norm
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    norms = t["embeddings"].select(
        "vec_id", "label",
        _fixed_point_sq_norm(F.col("embedding")).alias("sq_norm_s"),
    )
    w = Window.partitionBy("label").orderBy(F.col("sq_norm_s").asc(), F.col("vec_id").asc())
    wn = Window.partitionBy("label")
    ranked = norms.select(
        "label", "sq_norm_s",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    def _norm(col):
        return F.round(F.sqrt(col.cast("double") / 1e9), 6)
    return ranked.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.sum((F.col("sq_norm_s") == 0).cast("long")).alias("n_zero"),
        _norm(F.min("sq_norm_s")).alias("min_norm"),
        _norm(F.max("sq_norm_s")).alias("max_norm"),
        _norm(F.min(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("sq_norm_s"))))
        .alias("p50_norm"),
    )


# ---------------------------------------------------------------------------
# contrastive hard negatives: per anchor, the most-similar OTHER-label vecs
# ---------------------------------------------------------------------------

_HN_ANCHORS = 5
_HN_K = 3

_HARD_NEG_ORACLE = f"""
WITH a AS (
  SELECT vec_id AS anchor_id, embedding AS av, label AS alabel
  FROM embeddings ORDER BY vec_id LIMIT {_HN_ANCHORS}
),
scored AS (
  SELECT a.anchor_id, e.vec_id AS negative_id,
         round(CAST({_dot_sql('e.embedding', 'a.av')} AS DOUBLE)
               / (sqrt(CAST({_dot_sql('e.embedding', 'e.embedding')} AS DOUBLE))
                  * sqrt(CAST({_dot_sql('a.av', 'a.av')} AS DOUBLE))), 6) AS cosine
  FROM a JOIN embeddings e
    ON e.label <> a.alabel AND e.vec_id <> a.anchor_id
),
ranked AS (
  SELECT anchor_id, negative_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY anchor_id
                            ORDER BY cosine DESC, negative_id ASC) AS rn
  FROM scored
)
SELECT anchor_id, negative_id, cosine, CAST(rn AS BIGINT) AS rn
FROM ranked WHERE rn <= {_HN_K}
"""


@register("embedding_hard_negatives", oracle=_HARD_NEG_ORACLE,
          description="contrastive-training hard negatives: per anchor, the "
                      "top-k most-similar vectors with a DIFFERENT label")
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each anchor, the most cosine-similar vectors whose label DIFFERS —
    the near-boundary pairs that carry the training signal (easy
    negatives are free; hard ones must be mined).

    The anchor set is parameter-sized (collected once, broadcast), so
    the deliberate anchors×corpus scoring is the work itself — the
    knn_graph_brute contract — and the per-anchor top-k is the
    knn_join_topk window (rank filter stops rows past k at the sort).
    NULL-label rows match neither side of `label <> alabel` on either
    engine, so they can never be picked as negatives. At corpus scale
    the LSH-bucketed candidate path (knn_join_lsh) swaps in above a
    few thousand anchors.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    anchors = (
        emb.select("vec_id", "embedding", "label")
        .orderBy("vec_id").limit(_HN_ANCHORS)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("av"),
            F.col("label").alias("alabel"),
        )
    )
    pairs = emb.crossJoin(F.broadcast(anchors)).where(
        (F.col("label") != F.col("alabel")) & (F.col("vec_id") != F.col("anchor_id"))
    )
    scored = pairs.select(
        "anchor_id",
        F.col("vec_id").alias("negative_id"),
        cosine_similarity(F.col("embedding"), F.col("av")).alias("cosine"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= _HN_K)
    )


# ---------------------------------------------------------------------------
# IVF recall measurement: approximate top-k vs exact top-k, recall@k
# ---------------------------------------------------------------------------

_IVF_RECALL_ORACLE = f"""
SELECT CAST({_TOPK} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS hits,
       CAST(COUNT(*) * 10000 // {_TOPK} AS BIGINT) AS recall_bp
FROM ({_KNN_ORACLE}) b
JOIN ({_IVF_ORACLE}) a USING (vec_id)
"""


@register("knn_ivf_recall", oracle=_IVF_RECALL_ORACLE,
          description="measured ANN accuracy: recall@k of the IVF nprobe=2 "
                      "path against the exact brute-force top-k")
def knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF approximate path against exact ground truth
    — the accuracy dial every ANN deployment has to measure before
    trading scan cost for recall (nprobe sweeps move along exactly
    this curve).

    Both sides reuse the production operators (brute_force_topk /
    ivf_topk) on literal query/centroid arrays, so each is one scan +
    one TakeOrdered with no crossJoin; the intersection is an
    equi-join of two k-row frames (broadcast hash join, parameter
    sized). At 100 TB the brute side is the expensive-but-rare
    calibration pass and the IVF side the cheap production pass — the
    measurement job runs on a sampled query set and this exact plan.
    """
    from ..operators.similarity import ivf_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 9)
    qid = seeds[0]["vec_id"]
    qv = [float(x) for x in seeds[0]["embedding"]]
    centroids = [[float(x) for x in r["embedding"]] for r in seeds[5:9]]
    rest = emb.where(F.col("vec_id") != qid)
    bf = brute_force_topk(rest, qv, k=_TOPK).select("vec_id")
    approx = ivf_topk(
        rest, qv, centroids, id_col="vec_id", vec_col="embedding",
        k=_TOPK, nprobe=2,
    ).select("vec_id")
    return (
        bf.join(approx, "vec_id")
        .agg(F.count(F.lit(1)).alias("hits"))
        .select(
            F.lit(_TOPK).cast("long").alias("k"),
            F.col("hits").cast("long").alias("hits"),
            F.expr(f"hits * 10000 div {_TOPK}").cast("long").alias("recall_bp"),
        )
    )


# ---------------------------------------------------------------------------
# k-means cluster purity vs labels (clustering-quality QA)
# ---------------------------------------------------------------------------

_PURITY_ORACLE = f"""
WITH cl AS (
  SELECT a.cluster, e.label, CAST(COUNT(*) AS BIGINT) AS n
  FROM ({_KMEANS_ORACLE}) a JOIN embeddings e USING (vec_id)
  WHERE e.label IS NOT NULL
  GROUP BY a.cluster, e.label
),
tot AS (SELECT cluster, CAST(SUM(n) AS BIGINT) AS size FROM cl GROUP BY cluster),
top AS (
  SELECT cluster, label, n,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, label ASC) AS rn
  FROM cl
)
SELECT t.cluster, tot.size, CAST(t.label AS BIGINT) AS top_label,
       t.n AS top_count, CAST(t.n * 10000 // tot.size AS BIGINT) AS purity_bp
FROM top t JOIN tot USING (cluster) WHERE t.rn = 1
"""


@register("kmeans_cluster_purity", oracle=_PURITY_ORACLE,
          description="clustering-quality QA: per-cluster label purity of the "
                      "trained k-means assignment (top label share in bp)")
def kmeans_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the kmeans_embedding_clusters assignment — the
    standard external clustering-quality check (does the unsupervised
    structure recover the known labels?), used to QA a trained
    codebook before it quantizes a 100 TB corpus.

    Reuses the full 2-iteration trainer, then two k-bounded hash
    aggregates: (cluster, label) counts → per-cluster totals + top
    label (rank window over k·|labels| rows — parameter sized, never
    fact sized). Unlabeled rows are excluded on both engines; purity
    is integer basis points (floored), so the comparison is exact.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    asg = kmeans_embedding_clusters(spark, sf_dir).select("vec_id", "cluster")
    cl = (
        asg.join(emb.select("vec_id", "label"), "vec_id")
        .where(F.col("label").isNotNull())
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cl.groupBy("cluster").agg(F.sum("n").alias("size"))
    w = Window.partitionBy("cluster").orderBy(F.col("n").desc(), F.col("label").asc())
    top = cl.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        top.join(tot, "cluster")
        .select(
            "cluster",
            F.col("size").cast("long").alias("size"),
            F.col("label").cast("long").alias("top_label"),
            F.col("n").cast("long").alias("top_count"),
            F.expr("n * 10000 div size").cast("long").alias("purity_bp"),
        )
    )


# ---------------------------------------------------------------------------
# PCA top component: matrix-free power iteration (2 rounds, integer-exact)
# ---------------------------------------------------------------------------

_PCA_DIM = 64

_PCA_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL),
s1 AS (
  SELECT vec_id, embedding,
         list_sum(list_transform(embedding,
                                 x -> CAST(round(CAST(x AS DOUBLE) * {_S}) AS BIGINT))) AS s
  FROM e
),
u1 AS (
  SELECT t.j, CAST(SUM(CAST(round(CAST(s1.embedding[t.j] AS DOUBLE) * s1.s) AS BIGINT)) AS BIGINT) AS u
  FROM s1, LATERAL (SELECT unnest(range(1, {_PCA_DIM} + 1)) AS j) t
  GROUP BY t.j
),
m1 AS (SELECT CAST(MAX(ABS(u)) AS BIGINT) AS m FROM u1),
v1 AS (SELECT u1.j, CAST(u1.u AS DOUBLE) / CAST(m1.m AS DOUBLE) AS v FROM u1, m1),
s2 AS (
  SELECT s1.vec_id, s1.embedding,
         CAST(SUM(CAST(round(CAST(s1.embedding[v1.j] AS DOUBLE) * v1.v * {_S}) AS BIGINT)) AS BIGINT) AS s
  FROM s1 JOIN v1 ON TRUE
  GROUP BY s1.vec_id, s1.embedding
),
u2 AS (
  SELECT t.j, CAST(SUM(CAST(round(CAST(s2.embedding[t.j] AS DOUBLE) * s2.s) AS BIGINT)) AS BIGINT) AS u
  FROM s2, LATERAL (SELECT unnest(range(1, {_PCA_DIM} + 1)) AS j) t
  GROUP BY t.j
),
m2 AS (SELECT CAST(MAX(ABS(u)) AS BIGINT) AS m FROM u2)
SELECT CAST(u2.j AS BIGINT) AS dim,
       round(CAST(u2.u AS DOUBLE) / CAST(m2.m AS DOUBLE), 6) AS loading
FROM u2, m2
"""


@register("embedding_pca_top_component", oracle=_PCA_ORACLE,
          description="top principal direction of the embedding matrix: "
                      "matrix-free power iteration, 2 unrolled rounds, "
                      "integer-exact accumulation (max-abs normalized)")
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dominant right-singular direction of the embedding matrix
    via power iteration on the Gram matrix — the first step of every
    spectral pipeline (PCA whitening, spectral top-component removal
    for anisotropic embeddings, ABTT 'all-but-the-top').

    Matrix-free: X is never materialized as a matrix. One round is
    (a) s = X·v — per-row fixed-point dot against the current
    direction (v₀ = all-ones; 1e9-scaled BIGINT, order-free), then
    (b) u = Xᵀ·s — posexplode + one (dim)-keyed aggregate of
    round(x·s) products, 64 output rows. The direction is max-abs
    normalized between rounds in a FIXED operation order
    (int/int → IEEE double), and the round-2 direction comes back as
    64 literals through the kmeans_embedding_clusters driver-sync
    contract (parameter-sized collect between iterations — Lloyd's
    barrier). At 100 TB each round is one scan + one map-side-combined
    64-row aggregate; rounds are strictly sequential by the math.
    NULL-embedding rows are excluded by contract on both engines.
    """
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].where(F.col("embedding").isNotNull()).select("embedding")

    ones = F.array(*[F.lit(1.0) for _ in range(_PCA_DIM)])
    from ..operators.similarity import _fixed_point_dot

    s1 = emb.select("embedding", _fixed_point_dot(F.col("embedding"), ones).alias("s"))
    u1 = (
        s1.select(F.posexplode("embedding").alias("j0", "x"), "s")
        .groupBy("j0")
        .agg(
            F.sum(F.round(F.col("x").cast("double") * F.col("s"), 0).cast("long"))
            .cast("long").alias("u")
        )
    )
    rows = {r["j0"]: r["u"] for r in u1.collect()}
    m1 = max(abs(v) for v in rows.values())
    v1 = [rows[j] / m1 for j in sorted(rows)]

    v1a = F.array(*[F.lit(float(v)) for v in v1])
    s2 = emb.select("embedding", _fixed_point_dot(F.col("embedding"), v1a).alias("s"))
    u2 = (
        s2.select(F.posexplode("embedding").alias("j0", "x"), "s")
        .groupBy("j0")
        .agg(
            F.sum(F.round(F.col("x").cast("double") * F.col("s"), 0).cast("long"))
            .cast("long").alias("u")
        )
    )
    m2 = u2.agg(F.max(F.abs(F.col("u"))).alias("m"))
    return (
        u2.crossJoin(F.broadcast(m2))
        .select(
            (F.col("j0") + 1).cast("long").alias("dim"),
            F.round(F.col("u").cast("double") / F.col("m").cast("double"), 6)
            .alias("loading"),
        )
    )


# ---------------------------------------------------------------------------
# int8 affine quantization error profile (vector-store sizing QA)
# ---------------------------------------------------------------------------

_QUANT_ORACLE = """
WITH e AS (
  SELECT vec_id, label,
         CAST(round(CAST(u.x AS DOUBLE) * 1000000000) AS BIGINT) AS x_nano
  FROM embeddings, unnest(embedding) AS u(x)
  WHERE len(embedding) > 0
),
v AS (
  SELECT vec_id, label,
         MIN(x_nano) AS mn,
         MAX(x_nano) - MIN(x_nano) AS span,
         CAST(COUNT(*) AS BIGINT) AS n_dims
  FROM e GROUP BY vec_id, label
),
err AS (
  SELECT e.vec_id, e.label, v.span, v.n_dims,
         CASE WHEN v.span = 0 THEN 0
              ELSE ABS(e.x_nano - (v.mn +
                   ((((e.x_nano - v.mn) * 255) // v.span) * v.span) // 255))
         END AS err_nano
  FROM e JOIN v ON v.vec_id = e.vec_id
),
pv AS (
  SELECT vec_id, label, MAX(span) AS span, MAX(n_dims) AS n_dims,
         MAX(err_nano) AS max_err_nano, SUM(err_nano) AS sum_err_nano
  FROM err GROUP BY vec_id, label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MAX(max_err_nano) AS BIGINT) AS max_err_nano,
       CAST(SUM(sum_err_nano) // SUM(n_dims) AS BIGINT) AS avg_err_nano,
       CAST(SUM(span) // COUNT(*) AS BIGINT) AS mean_span_nano
FROM pv
GROUP BY label
"""

_QUANT_ERRS = (
    "CASE WHEN span = 0 THEN transform(x_nano, x -> CAST(0 AS BIGINT)) "
    "ELSE transform(x_nano, x -> "
    "ABS(x - (mn + ((((x - mn) * 255) DIV span) * span) DIV 255))) END"
)


@register("embedding_int8_quant_error", oracle=_QUANT_ORACLE,
          description="per-label int8 affine-quantization error profile "
                      "(max/avg reconstruction error, nano fixed-point)")
def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-planning QA for vector indexes: quantize every embedding
    to per-vector affine int8 (the 4x-smaller, cache-resident layout
    scalar-quantizing ANN stores use), reconstruct, and report the
    error budget per label: max and average absolute reconstruction
    error plus mean dynamic range, all in nano fixed-point.

    Arithmetic contract: coordinates enter nano space via
    round(x * 1e9) — float widens to double exactly and both engines
    round the identical double (the plans/vector.py centroid
    convention) — then quantization is pure integer math
    (q = (x-mn)*255 DIV span, dequant = mn + q*span DIV 255; every
    dividend is non-negative so trunc == floor on both engines).

    100 TB shape: the per-vector pass is map-side ONLY — array
    transform/min/max/aggregate inside codegen, no explode, no
    shuffle — followed by one |labels|-sized hash aggregate with
    map-side combine. The oracle unnests instead (same integers,
    element rows never materialize on the Spark side).
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].where(F.size("embedding") > 0)
    v = e.select(
        "label",
        F.expr(
            "transform(embedding, x ->"
            " CAST(round(CAST(x AS DOUBLE) * 1000000000, 0) AS BIGINT))"
        ).alias("x_nano"),
    ).select(
        "label", "x_nano",
        F.array_min("x_nano").alias("mn"),
        (F.array_max("x_nano") - F.array_min("x_nano")).alias("span"),
        F.size("x_nano").cast("long").alias("n_dims"),
    )
    pv = v.select(
        "label", "span", "n_dims",
        F.array_max(F.expr(_QUANT_ERRS)).alias("max_err_nano"),
        F.expr(
            f"aggregate({_QUANT_ERRS}, CAST(0 AS BIGINT), (a, b) -> a + b)"
        ).alias("sum_err_nano"),
    )
    return pv.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.max("max_err_nano").cast("long").alias("max_err_nano"),
        F.expr("SUM(sum_err_nano) DIV SUM(n_dims)").cast("long").alias("avg_err_nano"),
        F.expr("SUM(span) DIV COUNT(*)").cast("long").alias("mean_span_nano"),
    )


# ---------------------------------------------------------------------------
# k-NN label propagation (bucketed majority-vote classification QA)
# ---------------------------------------------------------------------------

_KLP_K = 5
_KLP_PROBES = 64

_KLP_ORACLE = f"""
WITH h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
qs AS (
  SELECT vec_id, embedding, label
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_KLP_PROBES}
),
bq AS (
  SELECT q.vec_id AS qid, q.embedding AS qv, q.label AS true_label,
         {_bucket_sql('q.embedding')} AS bucket
  FROM qs q, h1, h2, h3
),
bt AS (
  SELECT e.vec_id, e.embedding, e.label, {_bucket_sql('e.embedding')} AS bucket
  FROM embeddings e LEFT JOIN qs ON qs.vec_id = e.vec_id, h1, h2, h3
  WHERE qs.vec_id IS NULL
),
scored AS (
  SELECT bq.qid, bq.true_label, bt.vec_id, bt.label,
         {_cos_sql('bt.embedding', 'bq.qv')} AS cosine
  FROM bt JOIN bq ON bt.bucket = bq.bucket
),
top AS (
  SELECT qid, true_label, label,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
),
votes AS (
  SELECT qid, true_label, label, CAST(COUNT(*) AS BIGINT) AS v
  FROM top WHERE rn <= {_KLP_K}
  GROUP BY qid, true_label, label
),
pred AS (
  SELECT qid, true_label, label,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY v DESC, label ASC NULLS LAST) AS rv
  FROM votes
)
SELECT true_label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN label IS NOT DISTINCT FROM true_label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST((10000 * SUM(CASE WHEN label IS NOT DISTINCT FROM true_label THEN 1 ELSE 0 END))
            // COUNT(*) AS BIGINT) AS accuracy_bp
FROM pred WHERE rv = 1
GROUP BY true_label
"""


@register("knn_label_propagation", oracle=_KLP_ORACLE,
          description="k-NN majority-vote label propagation over LSH "
                      "buckets, per-label holdout accuracy")
def knn_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weak supervision via neighborhood vote — label a held-out slice
    by the majority label of its k nearest labeled neighbors, then
    grade the vote against the true labels. This is both the cheap
    labeler for semi-supervised corpus tagging AND the standard probe
    of embedding quality (if k-NN can't recover labels, neither will a
    linear head).

    Determinism: the probe set is the 64 lowest vectors by
    (md5(vec_id), vec_id) — a fixed-SIZE deterministic sample, robust
    to id renumbering; neighbor top-k orders by (cosine, vec_id) and
    the vote by (count DESC, label ASC NULLS LAST) — total orders on
    both engines. Probes whose bucket has no labeled vector drop out
    on both sides (inner bucket join).

    100 TB shape: the probe set is FIXED-SIZE (a sampling-based
    accuracy estimate — the first draft used a fixed FRACTION and the
    16x probe measured the resulting N²/buckets blowup at 30x wall:
    6.3 s → 187 s; a fraction-sized query set needs plane count grown
    with log N, a fixed probe set does not). Candidates come from
    hyperplane-bucket EQUALITY (the knn_join_lsh hash-join path, probe
    side broadcast); per-probe work is bucket-sized, total work is
    probes × bucket — LINEAR in the corpus at fixed probe budget.
    Votes and the final report are k-bounded and |labels|-sized.
    """
    from pyspark.sql.window import Window

    from ..operators.similarity import cosine_similarity, hyperplane_lsh_bucket

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 4)
    planes = [[float(x) for x in seeds[i]["embedding"]] for i in (1, 2, 3)]
    qs = (
        emb.select("vec_id", "embedding", "label")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_KLP_PROBES)
    )
    bq = qs.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
        hyperplane_lsh_bucket(F.col("embedding"), planes).alias("__bucket"),
    )
    bt = emb.join(qs.select("vec_id"), "vec_id", "left_anti").select(
        "vec_id", "embedding", "label",
        hyperplane_lsh_bucket(F.col("embedding"), planes).alias("__bucket"),
    )
    scored = bt.join(F.broadcast(bq), "__bucket").select(
        "qid", "true_label", "vec_id", "label",
        cosine_similarity(F.col("embedding"), F.col("qv")).alias("cosine"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    top = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= _KLP_K)
    votes = top.groupBy("qid", "true_label", "label").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    wv = Window.partitionBy("qid").orderBy(
        F.col("v").desc(), F.col("label").asc_nulls_last()
    )
    pred = votes.withColumn("rv", F.row_number().over(wv)).where(F.col("rv") == 1)
    return pred.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("label").eqNullSafe(F.col("true_label")), 1).otherwise(0))
        .cast("long").alias("n_correct"),
        F.expr(
            "CAST((10000 * SUM(CASE WHEN label <=> true_label THEN 1 ELSE 0 END))"
            " DIV COUNT(*) AS BIGINT)"
        ).alias("accuracy_bp"),
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss projection distortion QA (Rademacher sketch)
# ---------------------------------------------------------------------------

_JL_R = 16   # projected dimensionality


def _jl_sign(j: int, i: int) -> int:
    """Deterministic Rademacher sign for (out-dim j, in-dim i), defined
    as md5 text so the DuckDB oracle reproduces it: +1 iff the first
    hex digit of md5('j:i') < '8' (exactly p = 1/2)."""
    import hashlib

    return 1 if hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0] < "8" else -1


_JL_ORACLE = f"""
WITH d0 AS (SELECT MIN(len(embedding)) AS d FROM embeddings
            WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
e AS (SELECT vec_id, label, embedding FROM embeddings, d0 WHERE len(embedding) = d0.d),
x AS (
  SELECT vec_id, label, u.i,
         CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT) AS xm
  FROM e, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) u
),
s AS (
  SELECT jj.j, ii.i,
         CASE WHEN substr(md5(CAST(jj.j AS VARCHAR) || ':' || CAST(ii.i AS VARCHAR)), 1, 1) < '8'
              THEN 1 ELSE -1 END AS sg
  FROM (SELECT unnest(range(0, {_JL_R})) AS j) jj,
       (SELECT unnest(range(1, (SELECT d FROM d0) + 1)) AS i) ii
),
y AS (
  SELECT vec_id, label, s.j, CAST(SUM(s.sg * x.xm) AS BIGINT) AS yj
  FROM x JOIN s ON s.i = x.i GROUP BY vec_id, label, s.j
),
ny AS (SELECT vec_id, label, CAST(SUM(yj * yj) AS BIGINT) AS y2 FROM y GROUP BY vec_id, label),
nx AS (SELECT vec_id, CAST(SUM(xm * xm) AS BIGINT) AS x2 FROM x GROUP BY vec_id),
pv AS (
  SELECT ny.label, CAST((10000 * y2) // ({_JL_R} * x2) AS BIGINT) AS dist_bp
  FROM ny JOIN nx USING (vec_id) WHERE x2 > 0
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(dist_bp) // COUNT(*) AS BIGINT) AS avg_distortion_bp,
       CAST(MIN(dist_bp) AS BIGINT) AS min_distortion_bp,
       CAST(MAX(dist_bp) AS BIGINT) AS max_distortion_bp
FROM pv GROUP BY label
"""


@register("embedding_jl_distortion", oracle=_JL_ORACLE,
          description="Johnson-Lindenstrauss Rademacher projection to 16 dims "
                      "with per-label norm-distortion QA")
def embedding_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensionality-reduction QA: project every embedding through a
    deterministic Rademacher (+-1) matrix to {_JL_R} dims and measure
    how well squared norms survive — the Johnson-Lindenstrauss check
    that decides whether an ANN index can run on the sketch instead of
    the full vector. For +-1 entries E[||y||^2] = r * ||x||^2, so the
    per-vector distortion is (10000 * ||y||^2) DIV (r * ||x||^2),
    reported per label as avg/min/max basis points.

    Integer contract: coordinates enter MILLI space (round(x*1e3)) so
    the worst-case |y_j| <= d * 2000 keeps y_j^2 and its r-term sum far
    under 2^63 for any d <= 1e6; the sign matrix is data-independent
    md5 over (j,i) index pairs, so both engines build the identical
    matrix — the Spark side FOLDS it into literal arrays at plan time
    (one 1-row dimension lookup), the oracle derives it in SQL.

    100 TB shape: map-side ONLY — the projection is zip_with against
    {_JL_R} constant arrays inside one projection (no explode of the
    N x d element stream, no shuffle until the final |labels|-sized
    aggregate). The interpreted higher-order-function cost is
    r * d multiply-adds per row — the same arithmetic a Pandas-UDF
    matmul would do, without leaving the JVM; swap to mapInPandas
    BLAS only if r * d grows past ~10^5 per row.
    """
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    # reference dimensionality = MIN(len) among the MIN(vec_id) rows —
    # deterministic even if the minimum id is duplicated (mirrors the
    # oracle's d0; parameter-sized 1-row lookup, the _seed_rows class)
    row = (
        emb.orderBy(F.col("vec_id").asc(), F.size("embedding").asc())
        .select(F.size("embedding").alias("d")).first()
    )
    d = row["d"] if row else 0
    e = emb.where(F.size("embedding") == d)
    xm = "transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000, 0) AS BIGINT))"
    y2_expr = " + ".join(f"(__y{j} * __y{j})" for j in range(_JL_R))
    proj = e.select("vec_id", "label", F.expr(xm).alias("__xm"))
    for j in range(_JL_R):
        signs = ",".join(str(_jl_sign(j, i)) for i in range(1, d + 1))
        proj = proj.withColumn(
            f"__y{j}",
            F.expr(
                f"aggregate(zip_with(__xm, array({signs}), (a, b) -> a * b),"
                f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ),
        )
    pv = proj.select(
        "label",
        F.expr(y2_expr).cast("long").alias("y2"),
        F.expr(
            "aggregate(__xm, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"
        ).alias("x2"),
    ).where(F.col("x2") > 0).select(
        "label",
        F.expr(f"CAST((10000 * y2) DIV ({_JL_R} * x2) AS BIGINT)").alias("dist_bp"),
    )
    return pv.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr("CAST(SUM(dist_bp) DIV COUNT(*) AS BIGINT)").alias("avg_distortion_bp"),
        F.min("dist_bp").cast("long").alias("min_distortion_bp"),
        F.max("dist_bp").cast("long").alias("max_distortion_bp"),
    )


# ---------------------------------------------------------------------------
# perceptual-hash image dedup: real BMP roundtrip → aHash → pigeonhole bands
# ---------------------------------------------------------------------------

_PH_BANDS = 4        # 60-bit hash → 4 bands of 15 bits (keeps every
_PH_BAND_BITS = 15   # shifted band < 2^60, no int64 sign trouble)
_PH_MAX_HAMMING = 3  # ≤ bands-1 flips ⇒ one band intact (exact recall)
_PH_MASK = 2 ** _PH_BAND_BITS - 1
# Knuth multiplicative constant: the synthetic motif generator both
# engines mirror (public domain arithmetic, exact in int64).
_PH_K = 2654435761


def _phash_target(doc_id: int) -> int:
    """Closed-form 60-bit target hash: docs sharing doc_id DIV 4 form a
    near-dup cluster (identical motif); the cluster's doc_id%4==0
    member gets exactly ONE flipped bit."""
    m = doc_id // 4
    h = 0
    for b in range(_PH_BANDS):
        h |= ((_PH_K * (m * 4 + b + 1)) % (_PH_MASK + 1)) << (_PH_BAND_BITS * b)
    if doc_id % 4 == 0:
        h ^= 1 << (doc_id % 60)
    return h


def _pigeonhole_pairs(ph: DataFrame) -> DataFrame:
    """Shared Manku-style near-dup pair machinery over a persisted
    (doc_id, phash) fingerprint table: band join over DISTINCT
    fingerprints (4×15-bit pigeonhole — Hamming ≤ 3 has exact recall),
    exact bit_count verify, expansion joins back to doc ids, plus
    hamming-0 clone pairs from the doc↔hash self-join. One definition
    serves multimodal_phash_dedup (images) and
    multimodal_audio_fingerprint_dedup (audio) so the two LSH planes
    cannot drift."""
    fpd = ph.select("phash").distinct()
    bands = fpd.select(
        "phash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("phash"), b * _PH_BAND_BITS).bitwiseAND(F.lit(_PH_MASK))
                for b in range(_PH_BANDS)
            ])
        ).alias("band", "bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    fp_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.phash") < F.col("b.phash")),
        )
        .select(F.col("a.phash").alias("pa"), F.col("b.phash").alias("pb"))
        .dropDuplicates(["pa", "pb"])
        .withColumn(
            "hamming", F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))).cast("long")
        )
        .where(F.col("hamming") <= _PH_MAX_HAMMING)
    )
    ma = ph.select(F.col("phash").alias("pa"), F.col("doc_id").alias("da"))
    mb = ph.select(F.col("phash").alias("pb"), F.col("doc_id").alias("db"))
    cross = (
        fp_pairs.join(ma, "pa").join(mb, "pb")
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "hamming",
        )
    )
    pa, pb2 = ph.alias("pa"), ph.alias("pb")
    clones = (
        pa.join(
            pb2,
            (F.col("pa.phash") == F.col("pb.phash"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("id_a"),
            F.col("pb.doc_id").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross.unionByName(clones)


def _fp_pairs_oracle(seed_off: int) -> str:
    """Closed-form fingerprint-pair oracle, parametrized by the motif
    seed offset (1 = image phash, 17 = audio spectral fingerprint) —
    the band-join / hamming / clone arithmetic is shared verbatim so
    the two dedup planes' oracles cannot drift."""
    return f"""
WITH bn AS (SELECT unnest(range(0, {_PH_BANDS})) AS b),
hb AS (
  SELECT doc_id,
         CAST(SUM((({_PH_K} * ((doc_id // 4) * 4 + b + {seed_off})) % {_PH_MASK + 1})
              << ({_PH_BAND_BITS} * b)) AS BIGINT) AS h0
  FROM documents, bn GROUP BY doc_id
),
ph AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN xor(h0, CAST(1 AS BIGINT) << (doc_id % 60))
              ELSE h0 END AS phash
  FROM hb
),
fpd AS (SELECT DISTINCT phash FROM ph),
bands AS (
  SELECT phash, b AS band, (phash >> ({_PH_BAND_BITS} * b)) & {_PH_MASK} AS bv
  FROM fpd, bn
),
fp_pairs AS (
  SELECT DISTINCT a.phash AS pa, b2.phash AS pb
  FROM bands a JOIN bands b2
    ON a.band = b2.band AND a.bv = b2.bv AND a.phash < b2.phash
),
near AS (
  SELECT pa, pb, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming
  FROM fp_pairs WHERE bit_count(xor(pa, pb)) <= {_PH_MAX_HAMMING}
),
cross_pairs AS (
  SELECT LEAST(ma.doc_id, mb.doc_id) AS id_a,
         GREATEST(ma.doc_id, mb.doc_id) AS id_b, n.hamming
  FROM near n JOIN ph ma ON ma.phash = n.pa JOIN ph mb ON mb.phash = n.pb
),
clones AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
  FROM ph a JOIN ph b ON a.phash = b.phash AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM cross_pairs
UNION ALL SELECT id_a, id_b, hamming FROM clones
"""


_PHASH_ORACLE = _fp_pairs_oracle(1)


@register("multimodal_phash_dedup", oracle=_PHASH_ORACLE, bench=True,
          description="perceptual-hash image dedup: real BMP encode→decode→"
                      "average-hash roundtrip, then SimHash-style pigeonhole "
                      "band join + exact Hamming verify (oracle = closed form)")
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup detection bridging the multimodal codecs and the
    SimHash band machinery (VERDICT r7 item 5a): every doc_id is
    rendered as a REAL 8×8 24-bit BMP (pixels 200/50 by the bits of a
    closed-form 60-bit motif hash — docs sharing doc_id DIV 4 are
    near-identical images, the cluster's %4==0 member differs by ONE
    pixel), the payload roundtrips through functions/codecs.py
    (encode_bmp → decode_bmp), and the average-hash (pixel > mean,
    the classic aHash) recovers the motif bits EXACTLY because pixel
    values straddle the mean by construction — so the DuckDB oracle is
    pure closed-form arithmetic while the Spark side exercises the
    whole codec → threshold → LSH pipeline.

    Near-dup pairs come from the Manku-style pigeonhole band join of
    dedup_simhash_pairs (textops.py): Hamming ≤ 3 over 4×15-bit bands
    has exact recall, candidates verified by one codegen'd
    bit_count(xor). The band join runs over DISTINCT hashes
    (clone-collapse — the uniform rule for every pair-emitting query;
    VERDICT r5), with hamming-0 clone pairs from the doc↔hash
    mapping's self-join.

    Shape at 100 TB: one mapInPandas pass (payloads stay executor-side
    as bounded Arrow batches, never touch the driver), one hash agg to
    DISTINCT fingerprints, a banded bucket join whose fan-out is
    bounded by band-value collisions (15-bit buckets), and
    output-sized expansion joins. No all-pairs anywhere.
    """
    import numpy as np

    from ..cache import persist_tracked
    from ..functions.codecs import decode_bmp, encode_bmp

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def kernel(batches):
        for pdf in batches:
            ids, hashes = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                target = _phash_target(d)
                # bits 0..59 from the hash; 60-62 forced low, 63 forced
                # high so BOTH pixel values always occur → the mean is
                # strictly between 50 and 200 and aHash is exact.
                bits = np.zeros(64, np.uint8)
                for k in range(60):
                    bits[k] = (target >> k) & 1
                bits[63] = 1
                gray = np.where(bits == 1, 200, 50).astype(np.uint8).reshape(8, 8)
                px = np.stack([gray, gray, gray], axis=-1)
                dec = decode_bmp(encode_bmp(px))  # REAL codec roundtrip
                vals = dec[:, :, 0].astype(np.float64).reshape(-1)
                mean = vals.mean()
                rec = 0
                for k in range(60):
                    if vals[k] > mean:
                        rec |= 1 << k
                ids.append(d)
                hashes.append(rec)
            yield pd.DataFrame({"doc_id": ids, "phash": hashes})

    ph = persist_tracked(
        docs.mapInPandas(kernel, "doc_id long, phash long")
    )  # feeds 5 plan branches: distinct/bands + 2 expansion sides + 2 clone sides
    return _pigeonhole_pairs(ph)


# ---------------------------------------------------------------------------
# per-dimension embedding profile (anisotropy / dead-dimension QA)
# ---------------------------------------------------------------------------

# offset that makes every mean dividend non-negative so floor == trunc
# on both engines: 1e7 micro-units = 10.0, far above any unit-ish
# coordinate (|x_micro| stays in the low millions).
_DIM_OFF = 10_000_000

_DIM_PROFILE_ORACLE = f"""
WITH u AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
  FROM embeddings WHERE len(embedding) > 0
),
e AS (SELECT dim, CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm FROM u)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_vals,
       CAST(SUM(xm) AS BIGINT) AS sum_micro,
       CAST((SUM(xm) + COUNT(*) * {_DIM_OFF}) // COUNT(*) - {_DIM_OFF} AS BIGINT)
         AS mean_micro,
       CAST(MIN(xm) AS BIGINT) AS min_micro,
       CAST(MAX(xm) AS BIGINT) AS max_micro,
       CAST(MAX(xm) - MIN(xm) AS BIGINT) AS span_micro
FROM e GROUP BY dim
"""


@register("embedding_dim_profile", oracle=_DIM_PROFILE_ORACLE,
          description="per-dimension embedding stats: mean/extrema/span in "
                      "micro fixed-point (anisotropy + dead-dimension QA)")
def embedding_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store ingest QA: the per-dimension profile that catches
    dead dimensions (span 0 — a projection bug or a truncated writer),
    mean offset (anisotropy — the common-direction bias that breaks
    cosine recall and motivates whitening/ABTT, the
    embedding_pca_top_component companion), and out-of-range
    coordinates before an index build.

    Arithmetic contract: coordinates enter micro fixed-point via
    round(x * 1e6) on the identical widened double (the plans/vector.py
    convention, one scale below the nano queries so Σx over 16×-probe
    cardinalities stays far from 2^63); the mean uses the shared
    offset-then-DIV trick — (Σ + n·OFF) DIV n − OFF with OFF above any
    |x_micro| — so the dividend is non-negative and floor == trunc on
    both engines even for negative sums.

    Shape at 100 TB: the N×d posexplode never leaves the map side —
    partial (hash) aggregation crushes each task to ≤ d rows before the
    exchange, so the shuffle moves d rows per task regardless of N, and
    the final aggregate is d-sized. No windows, no joins.
    """
    t = load_tables(spark, sf_dir)
    e = (
        t["embeddings"].where(F.size("embedding") > 0)
        .select(
            F.posexplode(
                F.expr(
                    "transform(embedding, x ->"
                    " CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
                )
            ).alias("j", "xm")
        )
    )
    return (
        e.groupBy("j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vals"),
            F.sum("xm").cast("long").alias("sum_micro"),
            F.min("xm").cast("long").alias("min_micro"),
            F.max("xm").cast("long").alias("max_micro"),
        )
        .select(
            (F.col("j") + 1).cast("long").alias("dim"),
            "n_vals", "sum_micro",
            F.expr(
                f"CAST((sum_micro + n_vals * {_DIM_OFF}) DIV n_vals"
                f" - {_DIM_OFF} AS BIGINT)"
            ).alias("mean_micro"),
            "min_micro", "max_micro",
            (F.col("max_micro") - F.col("min_micro")).cast("long").alias("span_micro"),
        )
    )


# ---------------------------------------------------------------------------
# audio QC: real WAV roundtrip → peak / energy / silence / clipping profile
# ---------------------------------------------------------------------------

_AQC_N = 256          # samples per synthetic clip
_AQC_K = 2654435761   # Knuth multiplicative constant (phash convention)
_AQC_AMP_MOD = 32000  # non-clipped amplitudes land in 1..32000 < 32767


_AUDIO_QC_ORACLE = f"""
WITH a AS (
  SELECT doc_id,
         CAST(CASE WHEN doc_id % 5 = 0 THEN 32767
              ELSE 1 + (doc_id * {_AQC_K}) % {_AQC_AMP_MOD} END AS BIGINT) AS amp,
         CAST(16 * (doc_id % 8) AS BIGINT) AS s
  FROM documents
)
SELECT doc_id,
       amp AS peak,
       s AS n_silence,
       CAST(({_AQC_N} - s) * amp * amp AS BIGINT) AS sum_sq,
       CAST(CASE WHEN amp >= 32767 THEN 1 ELSE 0 END AS BIGINT) AS is_clipped
FROM a
"""


@register("multimodal_audio_qc", oracle=_AUDIO_QC_ORACLE,
          description="audio QC: real PCM16 WAV encode→decode roundtrip, "
                      "per-clip peak/energy/silence/clipping (closed-form oracle)")
def multimodal_audio_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio sibling of multimodal_phash_dedup: every doc_id renders
    a REAL PCM-16 WAV (16·(doc_id%8) samples of leading silence, then a
    ±A square wave; A = 32767 — true clipping — for every 5th clip,
    else 1 + (doc_id·K) % 32000), the payload roundtrips through
    functions/codecs.py (encode_wav_pcm16 → decode_wav), and the QC
    features every audio-ingest pipeline gates on come off the DECODED
    samples: peak amplitude, total energy (Σs² — exact integer; RMS is
    its sqrt, left to the reader to keep every reported value
    integer-exact), leading-silence length, and a clipping flag
    (peak at int16 full-scale). The DuckDB oracle is the closed-form
    arithmetic of the generator — so any codec, byte-layout, or
    threshold bug shows as a parity break, the phash pattern.

    Shape at 100 TB: one mapInPandas pass — payloads are synthesized,
    encoded, and decoded executor-side in bounded Arrow batches and
    never touch the driver; output is one row per clip. No shuffle at
    all (the QC table is written partition-parallel).
    """
    import numpy as np

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def kernel(batches):
        from ..functions.codecs import decode_wav, encode_wav_pcm16

        for pdf in batches:
            rows = {"doc_id": [], "peak": [], "n_silence": [], "sum_sq": [],
                    "is_clipped": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                amp = 32767 if d % 5 == 0 else 1 + (d * _AQC_K) % _AQC_AMP_MOD
                s = 16 * (d % 8)
                wave = np.zeros(_AQC_N, np.int16)
                for i in range(s, _AQC_N):
                    wave[i] = amp if ((i - s) // 8) % 2 == 0 else -amp
                dec, rate, ch = decode_wav(encode_wav_pcm16(wave, 8000))
                v = dec.astype(np.int64)
                a = np.abs(v)
                # leading silence = first nonzero index (all-zero → N)
                nz = np.nonzero(v)[0]
                rows["doc_id"].append(d)
                rows["peak"].append(int(a.max()))
                rows["n_silence"].append(int(nz[0]) if len(nz) else len(v))
                rows["sum_sq"].append(int((v * v).sum()))
                rows["is_clipped"].append(1 if int(a.max()) >= 32767 else 0)
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        "doc_id long, peak long, n_silence long, sum_sq long, is_clipped long",
    )


# ---------------------------------------------------------------------------
# audio fingerprint dedup: real WAV → rFFT band energies → pigeonhole bands
# ---------------------------------------------------------------------------

_AFP_N = 256        # samples per clip: rFFT bins 0..128
_AFP_RATE = 8000
_AFP_AMP = 500      # per-tone amplitude: ≤60 tones → peak ≤ 30000 < 32767
_AFP_SEED_OFF = 17  # motif seed offset (image phash uses 1)


def _audio_fp_target(doc_id: int) -> int:
    """Closed-form 60-bit spectral fingerprint: docs sharing doc_id DIV
    4 carry the same tone set; the cluster's %4==0 member has ONE band
    toggled — the _phash_target structure with the audio seed offset."""
    m = doc_id // 4
    h = 0
    for b in range(_PH_BANDS):
        h |= ((_PH_K * (m * 4 + b + _AFP_SEED_OFF)) % (_PH_MASK + 1)) << (_PH_BAND_BITS * b)
    if doc_id % 4 == 0:
        h ^= 1 << (doc_id % 60)
    return h


@register("multimodal_audio_fingerprint_dedup", oracle=_fp_pairs_oracle(_AFP_SEED_OFF),
          bench=True,
          description="audio fingerprint dedup: real PCM16 WAV → rFFT "
                      "spectral-band energies → 60-bit fingerprint → "
                      "pigeonhole band join (closed-form oracle)")
def multimodal_audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAV twin of multimodal_phash_dedup (VERDICT r8 item 4),
    completing the image/audio dedup symmetry: every doc_id renders a
    REAL PCM-16 WAV whose content is a sum of pure cosines — one tone
    at rFFT bin 2k+2 for every set bit k of a closed-form 60-bit motif
    (docs sharing doc_id DIV 4 are the same recording; the %4==0
    member has one band toggled ≈ a re-encode artifact). The payload
    roundtrips through functions/codecs.py (encode_wav_pcm16 →
    decode_wav), the spectrum comes off the DECODED samples via numpy
    rFFT, and the fingerprint re-binarizes band energy with
    120·E_band > E_total — exact by construction: tones sit at exact
    bin centers (zero leakage over the full 256-sample period), every
    set band holds E_total/B ≥ E_total/60 while unset bands carry only
    int16-quantization noise (~1e-7 of total), so the recovered bits
    equal the closed form and the DuckDB oracle is pure arithmetic.
    Near-dup pairs ride the SAME pigeonhole machinery as the image
    plane (_pigeonhole_pairs: band join over DISTINCT fingerprints,
    Hamming ≤ 3 exact recall, clone self-join).

    Shape at 100 TB: one mapInPandas pass (synthesize → encode →
    decode → rFFT executor-side in bounded Arrow batches; payloads
    never touch the driver), one hash agg to DISTINCT fingerprints, a
    banded bucket join bounded by 15-bit band-value collisions, and
    output-sized expansion joins. No all-pairs anywhere.
    """
    import numpy as np

    from ..cache import persist_tracked
    from ..functions.codecs import decode_wav, encode_wav_pcm16

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def kernel(batches):
        i = np.arange(_AFP_N, dtype=np.float64)
        for pdf in batches:
            ids, fps = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                target = _audio_fp_target(d)
                wave = np.zeros(_AFP_N, np.float64)
                for k in range(60):
                    if (target >> k) & 1:
                        wave += _AFP_AMP * np.cos(2.0 * np.pi * (2 * k + 2) * i / _AFP_N)
                pcm = np.round(wave).astype(np.int16)
                dec, rate, ch = decode_wav(encode_wav_pcm16(pcm, _AFP_RATE))
                spec = np.abs(np.fft.rfft(dec.astype(np.float64)))
                power = spec * spec
                total = float(power.sum())
                rec = 0
                for k in range(60):
                    band = float(power[2 * k + 2] + power[2 * k + 3])
                    if 120.0 * band > total:
                        rec |= 1 << k
                ids.append(d)
                fps.append(rec)
            yield pd.DataFrame({"doc_id": ids, "phash": fps})

    ph = persist_tracked(docs.mapInPandas(kernel, "doc_id long, phash long"))
    return _pigeonhole_pairs(ph)


# ---------------------------------------------------------------------------
# image resize QA: real BMP encode→resize→decode roundtrip, closed-form oracle
# ---------------------------------------------------------------------------

_RSZ_K = 2654435761  # Knuth constant (phash/audio convention)


_RESIZE_QA_ORACLE = f"""
WITH grid AS (
  SELECT r.r AS r, c.c AS c
  FROM (SELECT unnest(range(0, 4)) * 2 AS r) r,
       (SELECT unnest(range(0, 4)) * 2 AS c) c
)
SELECT doc_id,
       CAST(4 AS BIGINT) AS out_w,
       CAST(4 AS BIGINT) AS out_h,
       CAST(SUM((doc_id * {_RSZ_K} + 8 * r + c) % 256) AS BIGINT) AS checksum
FROM documents, grid
GROUP BY doc_id
"""


@register("multimodal_resize_qa", oracle=_RESIZE_QA_ORACLE,
          description="image resize QA: BMP encode→nearest-neighbor resize→"
                      "decode roundtrip, checksum against the closed form")
def multimodal_resize_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The thumbnail/preprocess stage of a multimodal ingest pipeline,
    verified end-to-end: every doc_id renders a deterministic 8×8
    gradient BMP (pixel(r,c) = (doc_id·K + 8r + c) mod 256, gray), the
    payload roundtrips through functions/codecs.resize_bmp — a REAL
    encode → nearest-neighbor index-math resize → re-encode → decode
    chain — and the 4×4 result is checksummed. Nearest-neighbor at
    exactly 2:1 picks source rows/cols {{0,2,4,6}}, so the DuckDB
    oracle is the closed-form sum over that grid: any off-by-one in
    the index math, any channel-order or padding bug in the BMP
    writer, shows as a parity break (the phash/audio-QC pattern,
    closing the codec-helper triangle: roundtrip, aHash, resize).

    Shape at 100 TB: one mapInPandas pass, payloads synthesized and
    resized executor-side in bounded Arrow batches; one row per image,
    no shuffle. The oracle explodes a 16-cell grid instead — the
    element rows never materialize on the Spark side.
    """
    import numpy as np

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def kernel(batches):
        from ..functions.codecs import decode_bmp, encode_bmp, resize_bmp

        for pdf in batches:
            rows = {"doc_id": [], "out_w": [], "out_h": [], "checksum": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                base = np.arange(64, dtype=np.int64).reshape(8, 8)
                gray = ((d * _RSZ_K + base) % 256).astype(np.uint8)
                px = np.stack([gray, gray, gray], axis=-1)
                out = decode_bmp(resize_bmp(encode_bmp(px), 4, 4))
                rows["doc_id"].append(d)
                rows["out_h"].append(int(out.shape[0]))
                rows["out_w"].append(int(out.shape[1]))
                rows["checksum"].append(int(out[:, :, 0].astype(np.int64).sum()))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel, "doc_id long, out_w long, out_h long, checksum long"
    )


# ---------------------------------------------------------------------------
# isotropy probe: mean pairwise cosine over a deterministic sample
# ---------------------------------------------------------------------------

_ISO_PROBES = 64
_ISO_OFF = 2_000_000  # cosine_micro ∈ [−1e6, 1e6]: offset makes DIV floor-safe

_ISO_ORACLE = f"""
WITH p AS (
  SELECT vec_id, embedding
  FROM embeddings
  WHERE len(embedding) > 0
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_ISO_PROBES}
),
pr AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(round(1000000 * CAST({_dot_sql('a.embedding', 'b.embedding')} AS DOUBLE)
              / (sqrt(CAST({_dot_sql('a.embedding', 'a.embedding')} AS DOUBLE))
                 * sqrt(CAST({_dot_sql('b.embedding', 'b.embedding')} AS DOUBLE))))
              AS BIGINT) AS cos_micro
  FROM p a JOIN p b ON a.vec_id < b.vec_id
)
SELECT CAST({_ISO_PROBES} AS BIGINT) AS n_probes,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST((SUM(cos_micro) + COUNT(*) * {_ISO_OFF}) // COUNT(*) - {_ISO_OFF}
            AS BIGINT) AS avg_cos_micro,
       CAST(MIN(cos_micro) AS BIGINT) AS min_cos_micro,
       CAST(MAX(cos_micro) AS BIGINT) AS max_cos_micro
FROM pr
"""


@register("embedding_isotropy_probe", oracle=_ISO_ORACLE,
          description="isotropy QA: mean pairwise cosine over a fixed "
                      "64-vector md5 sample (micro fixed-point)")
def embedding_isotropy_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The isotropy number behind whitening/ABTT decisions (Mu & Viswanath
    2018 — "All-but-the-Top"): embeddings with a large mean pairwise
    cosine share a dominant common direction, which crushes cosine
    contrast and ANN recall; the fix is removing the top principal
    components (embedding_pca_top_component finds the direction,
    embedding_dim_profile the per-axis offset — this query is the
    scalar that says whether to bother). Estimated, as in practice, on
    a FIXED-budget deterministic sample: 64 probes by md5(vec_id) rank
    (the knn_label_propagation pattern — a fixed FRACTION would grow
    quadratically; the fixed budget keeps the pair set at 2016 forever).

    Exactness: pair cosines use the fixed-point dot (exact BIGINT) and
    one identically-ordered double expression rounded to integer micro;
    aggregates are integer, the mean via the offset-then-DIV trick
    (cos ∈ [−1, 1] shifts non-negative).

    Shape at 100 TB: the sample is a TakeOrdered over md5 rank (no
    global sort materializes), the pair join is 64×64 parameter-sized
    (whitelisted NLJ — the work IS the pair set), and the output is one
    row. The fact table is scanned once for the sample, period.
    """
    t = load_tables(spark, sf_dir)
    from ..operators.similarity import _fixed_point_dot

    from ..cache import persist_tracked

    emb = t["embeddings"].where(F.size("embedding") > 0)
    # persist the 64-row sample: the self-join would otherwise plan two
    # independent TakeOrdered subtrees, each scanning the fact table
    p = persist_tracked(
        emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(_ISO_PROBES)
    )
    a, b = p.alias("a"), p.alias("b")
    dot = _fixed_point_dot(F.col("a.embedding"), F.col("b.embedding")).cast("double")
    na = _fixed_point_dot(F.col("a.embedding"), F.col("a.embedding")).cast("double")
    nb = _fixed_point_dot(F.col("b.embedding"), F.col("b.embedding")).cast("double")
    pr = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.round(1000000 * dot / (F.sqrt(na) * F.sqrt(nb)), 0)
            .cast("long").alias("cos_micro")
        )
    )
    return pr.agg(
        F.lit(_ISO_PROBES).cast("long").alias("n_probes"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            f"CAST((SUM(cos_micro) + COUNT(*) * {_ISO_OFF}) DIV COUNT(*)"
            f" - {_ISO_OFF} AS BIGINT)"
        ).alias("avg_cos_micro"),
        F.min("cos_micro").cast("long").alias("min_cos_micro"),
        F.max("cos_micro").cast("long").alias("max_cos_micro"),
    )


# ---------------------------------------------------------------------------
# video-style frame sampling: container parse → every-k-th frame decode
# ---------------------------------------------------------------------------

_FS_FRAMES = 16   # frames per synthetic clip
_FS_STRIDE = 4    # sample every 4th frame → 4 decoded frames
_FS_FOFF = 131    # per-frame pixel offset (coprime with 256)


_FRAME_SAMPLE_ORACLE = f"""
WITH grid AS (
  SELECT f.f AS f, i.i AS i
  FROM (SELECT unnest(range(0, {_FS_FRAMES // _FS_STRIDE})) * {_FS_STRIDE} AS f) f,
       (SELECT unnest(range(0, 64)) AS i) i
)
SELECT doc_id,
       CAST({_FS_FRAMES} AS BIGINT) AS n_frames,
       CAST({_FS_FRAMES // _FS_STRIDE} AS BIGINT) AS n_sampled,
       CAST(SUM((doc_id * {_AQC_K} + f * {_FS_FOFF} + i) % 256) AS BIGINT)
         AS checksum
FROM documents, grid
GROUP BY doc_id
"""


@register("multimodal_frame_sample", oracle=_FRAME_SAMPLE_ORACLE,
          description="video-style frame sampling: length-prefixed frame "
                      "container → every-4th-frame BMP decode (closed-form oracle)")
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frame-sampling verb of a video-ingest pipeline (the one
    multimodal verb the codec layer had not yet exercised end-to-end):
    every doc_id renders a 16-frame clip as a length-prefixed container
    of REAL 8×8 BMP payloads (frame f's pixels are the resize-QA
    gradient shifted by f·131), the kernel parses the container,
    samples every 4th frame (the uniform-stride policy real pipelines
    use before the expensive per-frame model), decodes ONLY the sampled
    frames through functions/codecs.decode_bmp, and checksums their
    pixels. The DuckDB oracle is the generator's closed form over the
    sampled (frame, pixel) grid — a container-layout, stride, or codec
    bug is a parity break. True video codecs stay behind the honest
    UnsupportedMediaError boundary (functions/codecs.py): the part a
    100 TB pipeline needs Spark to get right — container plumbing,
    bounded Arrow batches, sampled decode cost — is what this runs.

    Shape at 100 TB: one mapInPandas pass, payloads synthesized and
    parsed executor-side; decode cost is frames/stride per row
    regardless of clip length; one row per clip, no shuffle.
    """
    import struct

    import numpy as np

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def kernel(batches):
        from ..functions.codecs import decode_bmp, encode_bmp

        base = np.arange(64, dtype=np.int64).reshape(8, 8)

        def frame_bmp(d: int, f: int) -> bytes:
            gray = ((d * _AQC_K + f * _FS_FOFF + base) % 256).astype(np.uint8)
            return encode_bmp(np.stack([gray, gray, gray], axis=-1))

        for pdf in batches:
            rows = {"doc_id": [], "n_frames": [], "n_sampled": [], "checksum": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                # length-prefixed container: [u32 n][u32 len_i, bytes_i]*
                frames = [frame_bmp(d, f) for f in range(_FS_FRAMES)]
                payload = struct.pack("<I", len(frames)) + b"".join(
                    struct.pack("<I", len(fb)) + fb for fb in frames
                )
                # parse back (the real ingest path starts HERE)
                (n,) = struct.unpack_from("<I", payload, 0)
                off, parsed = 4, []
                for _ in range(n):
                    (ln,) = struct.unpack_from("<I", payload, off)
                    parsed.append(payload[off + 4 : off + 4 + ln])
                    off += 4 + ln
                sampled = parsed[:: _FS_STRIDE]
                csum = 0
                for fb in sampled:
                    px = decode_bmp(fb)
                    csum += int(px[:, :, 0].astype(np.int64).sum())
                rows["doc_id"].append(d)
                rows["n_frames"].append(n)
                rows["n_sampled"].append(len(sampled))
                rows["checksum"].append(csum)
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel, "doc_id long, n_frames long, n_sampled long, checksum long"
    )


# ---------------------------------------------------------------------------
# IVF nprobe tuning curve: recall@k per probe budget, one artifact
# ---------------------------------------------------------------------------

_CURVE_NPROBES = (1, 2, 4)

_IVF_CURVE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT CAST({p} AS BIGINT) AS nprobe, CAST({_TOPK} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS hits,
       CAST(COUNT(*) * 10000 // {_TOPK} AS BIGINT) AS recall_bp
FROM ({_KNN_ORACLE}) b
JOIN ({_ivf_oracle_nprobe(p)}) a USING (vec_id)"""
    for p in _CURVE_NPROBES
)


@register("knn_ivf_recall_curve", oracle=_IVF_CURVE_ORACLE,
          description="ANN tuning curve: IVF recall@k at nprobe 1/2/4 against "
                      "one shared brute-force ground truth — the scan-cost vs "
                      "recall trade as a single artifact")
def knn_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe dial `knn_ivf_recall` measures one point of, swept:
    recall@k at probe budgets 1, 2 and 4 (= all centroids, so the top
    row must read 10000 bp — the curve's built-in sanity anchor,
    pinned by test). This is the ANN counterpart of the LSH S-curve
    planner (`plan_lsh_bands`): pick the cheapest nprobe whose recall
    clears the product bar, knowing scan cost ≈ nprobe/k_coarse of the
    index.

    Shape: ONE brute-force ground-truth pass (persisted k-row frame —
    the expensive calibration side is paid once for the whole curve),
    then one filtered IVF scan per budget; each arm's intersection is
    a broadcast equi-join of two k-row frames. At 100 TB the arms
    share the materialized cluster assignment as well (ivf_assign
    writes it once; probing is a partition-pruned read per budget) —
    at probe scale the three assignment passes here cost less than
    the plumbing to share them.
    """
    from functools import reduce

    from ..cache import persist_tracked
    from ..operators.similarity import ivf_topk

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 9)
    qid = seeds[0]["vec_id"]
    qv = [float(x) for x in seeds[0]["embedding"]]
    centroids = [[float(x) for x in r["embedding"]] for r in seeds[5:9]]
    rest = emb.where(F.col("vec_id") != qid)
    bf = persist_tracked(brute_force_topk(rest, qv, k=_TOPK).select("vec_id"))
    arms = []
    for p in _CURVE_NPROBES:
        approx = ivf_topk(
            rest, qv, centroids, id_col="vec_id", vec_col="embedding",
            k=_TOPK, nprobe=p,
        ).select("vec_id")
        arms.append(
            bf.join(approx, "vec_id")
            .agg(F.count(F.lit(1)).alias("hits"))
            .select(
                F.lit(p).cast("long").alias("nprobe"),
                F.lit(_TOPK).cast("long").alias("k"),
                F.col("hits").cast("long").alias("hits"),
                F.expr(f"hits * 10000 div {_TOPK}").cast("long").alias("recall_bp"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), arms)


# ---------------------------------------------------------------------------
# per-dimension robust outliers: MAD-banded deviation census
# ---------------------------------------------------------------------------

_OUT_K = 4  # flag |x - mean| > K * mean-absolute-deviation


_OUTLIER_ORACLE = f"""
WITH u AS (
  SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
  FROM embeddings WHERE len(embedding) > 0
),
e AS (SELECT dim, CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT) AS xm FROM u),
m AS (
  SELECT dim,
         CAST(COUNT(*) AS BIGINT) AS n_vals,
         CAST((SUM(xm) + COUNT(*) * {_DIM_OFF}) // COUNT(*) - {_DIM_OFF}
              AS BIGINT) AS mean_micro
  FROM e GROUP BY dim
),
d AS (
  SELECT e.dim, m.n_vals, m.mean_micro, ABS(e.xm - m.mean_micro) AS dev
  FROM e JOIN m ON m.dim = e.dim
),
s AS (
  SELECT dim, n_vals, mean_micro,
         CAST(SUM(dev) // n_vals AS BIGINT) AS mad_micro
  FROM d GROUP BY dim, n_vals, mean_micro
)
SELECT d.dim AS dim, s.n_vals, s.mean_micro, s.mad_micro,
       CAST(SUM(CASE WHEN d.dev > {_OUT_K} * s.mad_micro THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(10000 * SUM(CASE WHEN d.dev > {_OUT_K} * s.mad_micro
                             THEN 1 ELSE 0 END) // s.n_vals AS BIGINT)
         AS outlier_bp
FROM d JOIN s ON s.dim = d.dim
GROUP BY d.dim, s.n_vals, s.mean_micro, s.mad_micro
"""


@register("embedding_outlier_profile", oracle=_OUTLIER_ORACLE,
          description="per-dimension robust outlier census: mean absolute "
                      "deviation bands in exact micro fixed-point, count and "
                      "share of coordinates beyond K·MAD")
def embedding_outlier_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corruption detector embedding_dim_profile's span column
    hints at but can't quantify: per dimension, how many coordinates
    sit outside {k}×(mean absolute deviation) of the dimension mean —
    the robust-band census that catches fp16 overflow artifacts,
    mis-scaled shards, and stuck-sign encoder bugs BEFORE an index
    build amplifies them (a handful of 1e4-magnitude coordinates
    dominate every IVF centroid they touch). MAD, not stddev, because
    it needs no squared accumulator (no overflow ladder) and is itself
    robust to the outliers being hunted.

    Exactness: coordinates in the micro fixed-point convention; the
    mean via offset-DIV; MAD = floor(Σ|x−mean| / n) is a non-negative
    DIV (floor == trunc on both engines); the band test is pure BIGINT
    compares. A constant dimension has MAD 0, so ANY deviation from
    the mean flags — deterministic, not engine-dependent.

    Shape at 100 TB: three passes over the exploded coordinates (mean,
    MAD, band census) — each a map-side-combined d-sized aggregate,
    with the d-row stats broadcast into the next pass. No fact-sized
    windows; the N×d explode never survives an exchange.
    """
    t = load_tables(spark, sf_dir)
    e = (
        t["embeddings"].where(F.size("embedding") > 0)
        .select(
            F.posexplode(
                F.expr(
                    "transform(embedding, x ->"
                    " CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
                )
            ).alias("j", "xm")
        )
        .select((F.col("j") + 1).cast("long").alias("dim"), "xm")
    )
    from ..cache import persist_tracked

    e = persist_tracked(e)  # feeds the mean pass, the MAD pass, the census
    m = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vals"),
        F.expr(
            f"CAST((SUM(xm) + COUNT(*) * {_DIM_OFF}) DIV COUNT(*)"
            f" - {_DIM_OFF} AS BIGINT)"
        ).alias("mean_micro"),
    )
    d = e.join(F.broadcast(m), "dim").select(
        "dim", "n_vals", "mean_micro",
        F.abs(F.col("xm") - F.col("mean_micro")).cast("long").alias("dev"),
    )
    s = d.groupBy("dim", "n_vals", "mean_micro").agg(
        F.expr("CAST(SUM(dev) DIV n_vals AS BIGINT)").alias("mad_micro")
    )
    out = d.join(F.broadcast(s.select("dim", "mad_micro")), "dim")
    return out.groupBy("dim", "n_vals", "mean_micro", "mad_micro").agg(
        F.sum(
            F.when(F.col("dev") > _OUT_K * F.col("mad_micro"), 1).otherwise(0)
        ).cast("long").alias("n_outliers"),
    ).select(
        "dim", "n_vals", "mean_micro", "mad_micro", "n_outliers",
        F.expr("CAST(10000 * n_outliers DIV n_vals AS BIGINT)")
        .alias("outlier_bp"),
    )


# ---------------------------------------------------------------------------
# scene-cut detection: consecutive-frame difference over the decoded clip
# ---------------------------------------------------------------------------

_SCUT_SCENE_LEN = 6    # frames per synthetic scene (cuts at 5->6, 11->12)
_SCUT_JUMP = 97        # per-scene gray offset (coprime with 256)
_SCUT_DRIFT = 3        # per-frame within-scene drift
_SCUT_THRESH = 3000    # MAD > threshold == cut (within-scene MAD <= ~950)


_SCENE_CUT_ORACLE = f"""
WITH grid AS (
  SELECT f.f AS f, i.i AS i
  FROM (SELECT unnest(range(0, {_FS_FRAMES - 1})) AS f) f,
       (SELECT unnest(range(0, 64)) AS i) i
),
px AS (
  SELECT doc_id, f,
         (doc_id * {_AQC_K} + (f // {_SCUT_SCENE_LEN}) * {_SCUT_JUMP}
          + f * {_SCUT_DRIFT} + i) % 256 AS p1,
         (doc_id * {_AQC_K} + ((f + 1) // {_SCUT_SCENE_LEN}) * {_SCUT_JUMP}
          + (f + 1) * {_SCUT_DRIFT} + i) % 256 AS p2
  FROM documents, grid
),
mad AS (
  SELECT doc_id, f, CAST(SUM(ABS(p2 - p1)) AS BIGINT) AS mad
  FROM px GROUP BY doc_id, f
)
SELECT doc_id,
       CAST({_FS_FRAMES} AS BIGINT) AS n_frames,
       CAST(SUM(CASE WHEN mad > {_SCUT_THRESH} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cuts,
       CAST(MIN(CASE WHEN mad > {_SCUT_THRESH} THEN f + 1 END) AS BIGINT)
         AS first_cut_frame,
       CAST(SUM(mad) AS BIGINT) AS total_mad
FROM mad GROUP BY doc_id
"""


@register("multimodal_frame_scene_cut", oracle=_SCENE_CUT_ORACLE,
          description="scene-cut detection: full container decode, "
                      "consecutive-frame mean-absolute-difference vs "
                      "threshold (closed-form oracle)")
def multimodal_frame_scene_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shot-boundary verb of a video-ingest pipeline — the
    full-decode sibling of multimodal_frame_sample's uniform stride
    (sampling prices the per-frame model; cut detection must see EVERY
    consecutive pair): each doc_id renders a 16-frame clip whose gray
    level jumps by {jump} at two designed scene boundaries (frames
    6 and 12) and drifts by {drift} within a scene, the kernel parses
    the length-prefixed container, decodes ALL frames through
    functions/codecs.decode_bmp, and flags a cut wherever the
    consecutive-frame sum of absolute pixel differences exceeds the
    threshold. Mod-256 wraparound makes each doc's per-pair difference
    distinct, so total_mad hash-pins the decoded pixels, not just the
    cut pattern; the DuckDB oracle is the generator's closed form over
    the (doc, frame-pair, pixel) grid — a container, codec, or
    pairing bug is a parity break, not a wrong-looking number.

    Shape at 100 TB: one mapInPandas pass, payloads synthesized,
    parsed, decoded, and differenced executor-side (frames never leave
    the task); one row per clip, no shuffle. Real MPEG decode stays
    behind the honest UnsupportedMediaError boundary — the Spark-side
    contract (batch shape, per-pair cost, output schema) is what runs.

    Kernel vectorization (VERDICT r10 item 6): frame synthesis, encode,
    decode, and the MAD reduction run batched across ALL the batch's
    docs via numpy and the byte-identity-pinned
    encode_bmp_batch/decode_bmp_batch twins (tests/test_codecs); the
    length-prefixed container is still packed and re-parsed per clip —
    that IS the contract under test. Parity stays bit-identical.
    """
    import struct

    import numpy as np

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def kernel(batches):
        from ..functions.codecs import decode_bmp_batch, encode_bmp_batch

        base = np.arange(64, dtype=np.int64).reshape(8, 8)
        fidx = np.arange(_FS_FRAMES, dtype=np.int64)[:, None, None]
        out_schema = {"doc_id": "int64", "n_frames": "int64",
                      "n_cuts": "int64", "first_cut_frame": "Int64",
                      "total_mad": "int64"}

        for pdf in batches:
            ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            n_docs = len(ids)
            if n_docs == 0:
                yield pd.DataFrame(
                    {c: pd.Series(dtype=t_) for c, t_ in out_schema.items()}
                )
                continue
            gray = (
                (ids[:, None, None, None] * _AQC_K
                 + (fidx // _SCUT_SCENE_LEN) * _SCUT_JUMP
                 + fidx * _SCUT_DRIFT + base) % 256
            ).astype(np.uint8)  # (docs, frames, 8, 8)
            frames = encode_bmp_batch(
                np.stack([gray, gray, gray], axis=-1)
                .reshape(n_docs * _FS_FRAMES, 8, 8, 3)
            )
            payloads = []
            for i in range(n_docs):
                fbs = frames[i * _FS_FRAMES:(i + 1) * _FS_FRAMES]
                payloads.append(
                    struct.pack("<I", len(fbs)) + b"".join(
                        struct.pack("<I", len(fb)) + fb for fb in fbs
                    )
                )
            parsed, counts = [], []
            for payload in payloads:
                (n,) = struct.unpack_from("<I", payload, 0)
                off = 4
                for _ in range(n):
                    (ln,) = struct.unpack_from("<I", payload, off)
                    parsed.append(payload[off + 4 : off + 4 + ln])
                    off += 4 + ln
                counts.append(n)
            assert counts == [_FS_FRAMES] * n_docs  # container roundtrip
            decoded = (
                decode_bmp_batch(parsed)[:, :, :, 0]
                .astype(np.int64)
                .reshape(n_docs, _FS_FRAMES, 8, 8)
            )
            mads = np.abs(decoded[:, 1:] - decoded[:, :-1]).sum(axis=(2, 3))
            is_cut = mads > _SCUT_THRESH
            n_cuts = is_cut.sum(axis=1).astype(np.int64)
            first = np.where(n_cuts > 0, is_cut.argmax(axis=1) + 1, 0)
            yield pd.DataFrame({
                "doc_id": ids,
                "n_frames": np.full(n_docs, _FS_FRAMES, dtype=np.int64),
                "n_cuts": n_cuts,
                "first_cut_frame": pd.array(
                    [int(f) if f else None for f in first], dtype="Int64"
                ),
                "total_mad": mads.sum(axis=1).astype(np.int64),
            })

    return docs.mapInPandas(
        kernel,
        "doc_id long, n_frames long, n_cuts long, first_cut_frame long, "
        "total_mad long",
    )


# ---------------------------------------------------------------------------
# ViT-style patchify: per-patch statistics over the decoded image
# ---------------------------------------------------------------------------

_PATCH = 4  # 8x8 image -> 2x2 grid of 4x4 patches (the ViT patch-embed shape)


_PATCH_STATS_ORACLE = f"""
WITH grid AS (
  SELECT r.r AS r, c.c AS c
  FROM (SELECT unnest(range(0, 8)) AS r) r,
       (SELECT unnest(range(0, 8)) AS c) c
),
px AS (
  SELECT doc_id,
         (r // {_PATCH}) * 2 + (c // {_PATCH}) AS patch_id,
         (doc_id * {_RSZ_K} + 8 * r + c) % 256 AS p
  FROM documents, grid
)
SELECT doc_id, CAST(patch_id AS BIGINT) AS patch_id,
       CAST(COUNT(*) AS BIGINT) AS n_px,
       CAST((1000 * SUM(p)) // COUNT(*) AS BIGINT) AS mean_milli,
       CAST(MIN(p) AS BIGINT) AS min_px,
       CAST(MAX(p) AS BIGINT) AS max_px
FROM px GROUP BY doc_id, patch_id
"""


@register("multimodal_patch_stats", oracle=_PATCH_STATS_ORACLE,
          description="ViT-style patchify: decode the image, split into the "
                      "patch grid, per-patch mean/extrema (closed-form oracle)")
def multimodal_patch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The patch-embedding front half of a vision-transformer ingest
    (Dosovitskiy et al. 2021): decode the image, cut it into the
    non-overlapping patch grid, and emit per-patch statistics — the
    verb a multimodal curation pipeline runs to drop flat/saturated
    patches and to normalize per-patch before the encoder. Each doc_id
    renders the resize-QA gradient BMP (pixel(r,c) = (doc_id·K + 8r +
    c) mod 256), the kernel decodes it through
    functions/codecs.decode_bmp and reduces each 4×4 patch to
    (mean_milli, min, max); the DuckDB oracle is the generator's
    closed form over the (doc, patch, pixel) grid, so a patch-index or
    decode bug is a parity break. Patch means are floored milli
    integers ((1000·Σp) DIV n — non-negative, trunc == floor).

    Shape at 100 TB: one mapInPandas pass, decode and patch reduction
    executor-side, 4 rows per image out (patch grid is a constant),
    no shuffle.
    """
    import numpy as np

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def kernel(batches):
        from ..functions.codecs import decode_bmp, encode_bmp

        rr, cc = np.meshgrid(np.arange(8, dtype=np.int64),
                             np.arange(8, dtype=np.int64), indexing="ij")
        for pdf in batches:
            rows = {"doc_id": [], "patch_id": [], "n_px": [],
                    "mean_milli": [], "min_px": [], "max_px": []}
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                gray = ((d * _RSZ_K + 8 * rr + cc) % 256).astype(np.uint8)
                px = decode_bmp(
                    encode_bmp(np.stack([gray, gray, gray], axis=-1))
                )[:, :, 0].astype(np.int64)
                for pr in range(2):
                    for pc in range(2):
                        patch = px[pr * _PATCH:(pr + 1) * _PATCH,
                                   pc * _PATCH:(pc + 1) * _PATCH]
                        rows["doc_id"].append(d)
                        rows["patch_id"].append(pr * 2 + pc)
                        rows["n_px"].append(int(patch.size))
                        rows["mean_milli"].append(
                            (1000 * int(patch.sum())) // int(patch.size)
                        )
                        rows["min_px"].append(int(patch.min()))
                        rows["max_px"].append(int(patch.max()))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        kernel,
        "doc_id long, patch_id long, n_px long, mean_milli long, "
        "min_px long, max_px long",
    )


# ---------------------------------------------------------------------------
# centroid drift: per-label embedding shift between the two id halves
# ---------------------------------------------------------------------------

_DRIFT_OFF = 10_000_000  # |mean_micro| bound, offset-DIV floor parity


_CENTROID_DRIFT_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding FROM embeddings WHERE len(embedding) > 0
),
mid AS (SELECT (MIN(vec_id) + MAX(vec_id)) // 2 AS m FROM e),
u AS (
  SELECT CASE WHEN vec_id < m THEN 0 ELSE 1 END AS half, label,
         generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS x
  FROM e, mid
),
c AS (
  SELECT half, label, dim,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST((SUM(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
               + COUNT(*) * {_DRIFT_OFF}) // COUNT(*) - {_DRIFT_OFF}
              AS BIGINT) AS mean_micro
  FROM u GROUP BY half, label, dim
)
SELECT a.label,
       CAST(MIN(a.n) AS BIGINT) AS n_first_half,
       CAST(MIN(b.n) AS BIGINT) AS n_second_half,
       CAST(SUM(ABS(a.mean_micro - b.mean_micro)) AS BIGINT)
         AS l1_drift_micro,
       CAST(MAX(ABS(a.mean_micro - b.mean_micro)) AS BIGINT)
         AS max_dim_drift_micro
FROM c a JOIN c b ON b.label = a.label AND b.dim = a.dim
WHERE a.half = 0 AND b.half = 1
GROUP BY a.label
"""


@register("embedding_centroid_drift", oracle=_CENTROID_DRIFT_ORACLE,
          description="dataset-shift QA: per-label centroid displacement "
                      "(L1 + worst dimension, exact micro) between the two "
                      "vec_id halves of the corpus")
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding freshness / dataset-shift detection: if the vectors
    ingested later (the upper vec_id half — ids are assigned in ingest
    order) have drifted from the earlier ones, every centroid-anchored
    structure built on the old half (IVF lists, k-means codebooks,
    semantic-dedup thresholds) is silently stale. Per label: the L1
    displacement between the two halves' centroids and the worst
    single dimension — read against embedding_dim_profile's span to
    decide between re-clustering and per-dimension re-centering.

    Exactness: per-(half, label, dim) means in micro fixed-point via
    offset-DIV; the drift is |difference of two already-floored
    integers| summed over dims — no doubles anywhere. Labels missing
    from either half drop out of the inner join identically on both
    engines.

    Shape at 100 TB: the N×d posexplode is crushed map-side to
    2·|labels|·d cells before the exchange; the drift join and both
    aggregates run on that parameter-sized grid. One 1-row id-midpoint
    broadcast (whitelisted scalar pattern).
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].where(F.size("embedding") > 0).select(
        "vec_id", "label", "embedding"
    )
    mid = e.agg(
        F.expr("CAST((MIN(vec_id) + MAX(vec_id)) DIV 2 AS BIGINT)").alias("m")
    )
    u = (
        e.crossJoin(F.broadcast(mid))
        .select(
            F.when(F.col("vec_id") < F.col("m"), 0).otherwise(1).alias("half"),
            "label",
            F.posexplode(
                F.expr(
                    "transform(embedding, x ->"
                    " CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
                )
            ).alias("j", "xm"),
        )
        .select("half", "label", (F.col("j") + 1).alias("dim"), "xm")
    )
    c = u.groupBy("half", "label", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            f"CAST((SUM(xm) + COUNT(*) * {_DRIFT_OFF}) DIV COUNT(*)"
            f" - {_DRIFT_OFF} AS BIGINT)"
        ).alias("mean_micro"),
    )
    a = c.where(F.col("half") == 0).select(
        "label", "dim", F.col("n").alias("na"), F.col("mean_micro").alias("ma")
    )
    b = c.where(F.col("half") == 1).select(
        "label", "dim", F.col("n").alias("nb"), F.col("mean_micro").alias("mb")
    )
    return a.join(b, ["label", "dim"]).groupBy("label").agg(
        F.min("na").cast("long").alias("n_first_half"),
        F.min("nb").cast("long").alias("n_second_half"),
        F.sum(F.abs(F.col("ma") - F.col("mb"))).cast("long")
        .alias("l1_drift_micro"),
        F.max(F.abs(F.col("ma") - F.col("mb"))).cast("long")
        .alias("max_dim_drift_micro"),
    )
