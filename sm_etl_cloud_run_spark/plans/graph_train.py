"""Codebook training, similarity-graph analytics, and DSIR sampling.

Third tranche of the training-data curation layer (after
plans/corpus_stats.py and plans/mixture.py):

- **PQ codebook training** — per-subspace Lloyd's k-means (Jégou et
  al.), graduating `knn_pq_adc`'s rank-picked stand-in code vectors to
  a trained codebook. The iterative-trainer pattern proven by
  kmeans_embedding_clusters, applied per subspace.
- **PageRank over the near-duplicate graph** — once a similarity graph
  exists (embedding_dup_pairs), centrality picks canonical
  representatives and surfaces hub documents; the iterative-graph
  pattern (Pregel message passing as join + aggregate), integer-exact
  so two engines agree after any number of rounds.
- **DSIR importance sampling** (Xie et al., "Data Selection for
  Language Models via Importance Resampling"): score every document by
  the hashed-unigram log-likelihood ratio between a target domain and
  the raw corpus, keep the top quartile — the model-free way to tilt a
  100 TB crawl toward a target distribution.

Determinism: the registry conventions (scaled integers, md5 hashing,
tiebreakers) plus two module-local rules — PageRank mass lives in
integer micro-units with `DIV` everywhere (operators/graph.py), and
DSIR log-probs are 1e6-scaled floored longs (the text_unigram_logprob
pattern) so per-doc sums are order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import load_tables
from .registry import register
from .vector import _bucket_sql, _dot_sql, _rank_ids_sql, _seed_rows


# ---------------------------------------------------------------------------
# PQ codebook training (per-subspace Lloyd's)
# ---------------------------------------------------------------------------

_PQT_M = 4        # subspaces (64-dim → 16-dim subvectors)
_PQT_K = 4        # codewords per subspace; init = ranks 10-13 sliced
_PQT_SUB = 16

_PQT_ORACLE = f"""
WITH sk AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cw, embedding
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
        LIMIT {_PQT_K} OFFSET 9)
),
ms AS (SELECT unnest(range(0, {_PQT_M})) AS m),
cb AS (
  SELECT ms.m, sk.cw,
         list_slice(sk.embedding, ms.m * {_PQT_SUB} + 1, ms.m * {_PQT_SUB} + {_PQT_SUB}) AS cv
  FROM sk, ms
),
sub AS (
  SELECT e.vec_id, ms.m,
         list_slice(e.embedding, ms.m * {_PQT_SUB} + 1, ms.m * {_PQT_SUB} + {_PQT_SUB}) AS sv
  FROM embeddings e, ms
),
assign AS (
  SELECT sub.vec_id, sub.m, cb.cw, sub.sv,
         ROW_NUMBER() OVER (PARTITION BY sub.vec_id, sub.m
                            ORDER BY {_dot_sql('sub.sv', 'cb.cv')} DESC, cb.cw ASC) AS rn
  FROM sub JOIN cb ON cb.m = sub.m
),
d1 AS (
  SELECT m, cw, t.i AS pos,
         CAST(SUM(CAST(round(CAST(sv[t.i] AS DOUBLE) * 1000000000) AS BIGINT)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM assign, LATERAL (SELECT unnest(range(1, {_PQT_SUB} + 1)) AS i) t
  WHERE rn = 1
  GROUP BY m, cw, t.i
)
SELECT CAST(m AS INT) AS m, CAST(cw AS BIGINT) AS cw, CAST(pos AS INT) AS pos,
       round(CAST(s AS DOUBLE) / 1000000000.0 / n, 6) AS centroid, n
FROM d1
"""


@register("pq_codebook_train", oracle=_PQT_ORACLE, bench=True,
          description="per-subspace Lloyd's k-means: train the REAL PQ codebook "
                      "(assign to nearest init codeword, scaled-integer centroid "
                      "recompute, long format)")
def pq_codebook_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the product-quantization codebook knn_pq_adc consumes:
    one Lloyd's round of independent k-means in each of 4 subspaces,
    initialized from the same rank-10-13 code vectors the search query
    uses, emitting (m, cw, pos, centroid, n).

    The assignment metric is the fixed-point dot (exact longs, ties to
    the lower codeword) and centroid means are 1e9-scaled long sums —
    both engines agree bit-for-bit, which is what lets a trained
    codebook replace the stand-in without re-deriving oracles.

    Scale: one codegen assignment pass over the corpus + one
    map-side-combined aggregate to a parameter-sized (M·K·sub) result;
    more rounds chain the same plan (see operators/similarity.
    pq_train_codebook).
    """
    from ..operators.similarity import pq_train_codebook

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 13)
    code_vecs = [[float(x) for x in seeds[i]["embedding"]] for i in range(9, 13)]
    return pq_train_codebook(emb, code_vecs, num_subspaces=_PQT_M)


# ---------------------------------------------------------------------------
# PageRank over the embedding near-duplicate graph
# ---------------------------------------------------------------------------

_PR_THRESHOLD = 0.40   # same edge set as embedding_dup_pairs
_PR_SCALE = 1_000_000_000_000

_PAGERANK_ORACLE = f"""
WITH h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
demb AS (
  SELECT embedding, MIN(vec_id) AS vec_id FROM embeddings GROUP BY embedding
),
eb AS (
  SELECT vec_id, embedding, {_bucket_sql('e.embedding')} AS bucket
  FROM demb e, h1, h2, h3
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(CAST({_dot_sql('a.embedding', 'b.embedding')} AS DOUBLE)
              / (sqrt(CAST({_dot_sql('a.embedding', 'a.embedding')} AS DOUBLE))
                 * sqrt(CAST({_dot_sql('b.embedding', 'b.embedding')} AS DOUBLE))), 6)
        >= {_PR_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
base AS (
  SELECT {_PR_SCALE} // n AS pr0, (15 * ({_PR_SCALE} // n)) // 100 AS teleport
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)
),
c1 AS (SELECT d.id, base.pr0 // d.deg AS c FROM deg d, base),
s1 AS (
  SELECT e.dst AS id, CAST(SUM(c1.c) AS BIGINT) AS s
  FROM edges e JOIN c1 ON c1.id = e.src GROUP BY e.dst
),
p1 AS (
  SELECT d.id, d.deg, base.teleport + (85 * COALESCE(s1.s, 0)) // 100 AS pr
  FROM deg d LEFT JOIN s1 USING (id), base
),
c2 AS (SELECT id, pr // deg AS c FROM p1),
s2 AS (
  SELECT e.dst AS id, CAST(SUM(c2.c) AS BIGINT) AS s
  FROM edges e JOIN c2 ON c2.id = e.src GROUP BY e.dst
),
p2 AS (
  SELECT d.id, d.deg, base.teleport + (85 * COALESCE(s2.s, 0)) // 100 AS pr
  FROM deg d LEFT JOIN s2 USING (id), base
)
SELECT id AS vec_id, deg, CAST(pr AS BIGINT) AS pr_micro FROM p2
"""


@register("knn_graph_pagerank", oracle=_PAGERANK_ORACLE,
          description="integer-exact PageRank (2 rounds) over the LSH-candidate "
                      "cosine near-duplicate graph — hub/canonical scoring")
def knn_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the embedding near-duplicate graph: nodes are the
    participants of cosine-≥-0.40 pairs, two damped rounds from the
    uniform start, in 1e12 integer micro-units (operators/graph.py).

    Edge discovery IS the scale path, in two layers. First, exact-
    duplicate vectors collapse to their lowest-id representative (one
    hash aggregate on the vector value) — a clone cluster of size c
    would otherwise contribute c² cosine-1.0 edges, which is quadratic
    no matter how the candidates are found; collapsing makes it one
    node (the 16× scale probe went 167 s → flat after this). Second,
    candidate pairs among the distinct vectors come from LSH bucket
    equality (hyperplanes = ranks 2-4, the knn_lsh convention), so
    Catalyst plans a hash join on the bucket key, not a nested loop.
    The PageRank rounds themselves are two node-keyed shuffles each,
    no driver sync, over an edge list checkpointed once after
    discovery.
    """
    from ..operators.graph import pagerank_undirected
    from ..operators.similarity import embedding_cosine_dup_pairs

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 4)
    planes = [[float(x) for x in seeds[i]["embedding"]] for i in (1, 2, 3)]
    distinct = emb.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    pairs = embedding_cosine_dup_pairs(
        distinct, threshold=_PR_THRESHOLD, hyperplanes=planes,
    )
    pr = pagerank_undirected(pairs, iterations=2)
    return pr.select(F.col("id").alias("vec_id"), "deg", "pr_micro")


# ---------------------------------------------------------------------------
# DSIR importance sampling (hashed-unigram log-likelihood ratio)
# ---------------------------------------------------------------------------

_DSIR_B = 64            # hashed feature buckets
_DSIR_TARGET = "en"     # target domain: English documents
_DSIR_KEEP_QUARTER = 4  # keep rank·4 ≤ total → top 25%

_DSIR_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {_DSIR_B} AS b,
         CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2, 3
),
cs AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS c_src FROM tf GROUP BY b),
ct AS (SELECT b, CAST(SUM(tf) AS BIGINT) AS c_tgt FROM tf
       WHERE lang = '{_DSIR_TARGET}' GROUP BY b),
tots AS (
  SELECT (SELECT CAST(SUM(c_src) AS BIGINT) FROM cs) AS t_src,
         (SELECT CAST(COALESCE(SUM(c_tgt), 0) AS BIGINT) FROM ct) AS t_tgt
),
lr AS (
  SELECT cs.b,
         CAST(FLOOR(1000000.0 * ln(CAST(COALESCE(ct.c_tgt, 0) + 1 AS DOUBLE)
                                   / CAST(tots.t_tgt + {_DSIR_B} AS DOUBLE)))
            - FLOOR(1000000.0 * ln(CAST(cs.c_src + 1 AS DOUBLE)
                                   / CAST(tots.t_src + {_DSIR_B} AS DOUBLE)))
              AS BIGINT) AS lr_micro
  FROM cs LEFT JOIN ct USING (b), tots
),
doc AS (
  SELECT tf.doc_id,
         CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
         CAST(SUM(tf.tf * lr.lr_micro) AS BIGINT) AS score_micro
  FROM tf JOIN lr USING (b) GROUP BY tf.doc_id
),
ranked AS (
  SELECT doc_id, n_tokens, score_micro,
         ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rn,
         COUNT(*) OVER () AS total
  FROM doc
)
SELECT doc_id, n_tokens, score_micro,
       CAST(CASE WHEN rn * {_DSIR_KEEP_QUARTER} <= total THEN 1 ELSE 0 END
            AS BIGINT) AS keep
FROM ranked
"""


@register("training_dsir_sample", oracle=_DSIR_ORACLE, bench=True,
          description="DSIR importance sampling: hashed-unigram log-likelihood "
                      "ratio vs the 'en' target domain, top-quartile keep")
def training_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document by the DSIR importance weight — the
    log-likelihood ratio of its hashed unigrams under the target-domain
    ('en') model vs the raw-corpus model (add-1 smoothing over 64 md5
    buckets) — and keep the top quartile.

    Log-probs are 1e6-scaled floored longs (the text_unigram_logprob
    discipline) so the per-doc tf·lr sum is exact integer arithmetic;
    the keep gate is rank·4 ≤ total, integer-exact on both engines.

    Scale shape: the bucket table is 64 rows — a broadcast join, not
    the |vocab|-sized shuffle of the unhashed variant (that IS the
    point of DSIR's hashing); the rest is two map-side-combined
    aggregates and one doc-keyed aggregate. The quartile gate is
    :func:`distributed_rank` (VERDICT r4 item 1): range-partitioned
    on (score desc, doc_id), per-partition row_number + broadcast
    cumulative offsets — every partition sorts in parallel, nothing
    funnels through one task — compared against a 1-row broadcast
    total. (An approx-quantile threshold would also scale but is not
    oracle-exact at the boundary; the distributed rank is both.)
    """
    from ..cache import persist_tracked

    t = load_tables(spark, sf_dir)
    # r12: tf feeds cs, ct AND the per-doc scoring join; without a
    # persist the scan→explode→md5-bucket→aggregate pipeline ran once
    # per consumer (5 scans / 5 Generates in the captured plan).
    # ≤ |docs| × B rows (B = 64 buckets) — doc-table-sized, not
    # token-stream-sized.
    tf = persist_tracked(
        t["documents"]
        .select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term"))
        .select(
            "doc_id", "lang",
            (F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
             % _DSIR_B).alias("b"),
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    cs = tf.groupBy("b").agg(F.sum("tf").cast("long").alias("c_src"))
    ct = (
        tf.where(F.col("lang") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.sum("tf").cast("long").alias("c_tgt"))
    )
    tots = cs.agg(F.sum("c_src").cast("long").alias("t_src")).crossJoin(
        ct.agg(F.coalesce(F.sum("c_tgt"), F.lit(0)).cast("long").alias("t_tgt"))
    )
    # 64-row bucket table: broadcast side of every downstream join
    lr = (
        cs.join(ct, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.floor(
                    1000000.0
                    * F.log(
                        (F.coalesce(F.col("c_tgt"), F.lit(0)) + 1).cast("double")
                        / (F.col("t_tgt") + _DSIR_B).cast("double")
                    )
                )
                - F.floor(
                    1000000.0
                    * F.log(
                        (F.col("c_src") + 1).cast("double")
                        / (F.col("t_src") + _DSIR_B).cast("double")
                    )
                )
            ).cast("long").alias("lr_micro"),
        )
    )
    doc = (
        tf.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lr_micro")).cast("long").alias("score_micro"),
        )
    )
    from sm_etl_cloud_run_spark.operators.windows import distributed_rank

    ranked = distributed_rank(
        doc, [F.col("score_micro").desc(), F.col("doc_id").asc()],
        rank_name="rn", total_name="total",
    )
    return ranked.select(
        "doc_id", "n_tokens", "score_micro",
        F.when(F.col("rn") * _DSIR_KEEP_QUARTER <= F.col("total"), 1)
        .otherwise(0).cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# BFS hop distances from the canonical seed over the same near-dup graph
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 10

_BFS_ORACLE = f"""
WITH RECURSIVE
h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
demb AS (
  SELECT embedding, MIN(vec_id) AS vec_id FROM embeddings GROUP BY embedding
),
eb AS (
  SELECT vec_id, embedding, {_bucket_sql('e.embedding')} AS bucket
  FROM demb e, h1, h2, h3
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(CAST({_dot_sql('a.embedding', 'b.embedding')} AS DOUBLE)
              / (sqrt(CAST({_dot_sql('a.embedding', 'a.embedding')} AS DOUBLE))
                 * sqrt(CAST({_dot_sql('b.embedding', 'b.embedding')} AS DOUBLE))), 6)
        >= {_PR_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
seed AS (SELECT MIN(src) AS s FROM edges),
walk(id, d) AS (
  SELECT s, 0 FROM seed
  UNION
  SELECT e.dst, w.d + 1
  FROM walk w JOIN edges e ON e.src = w.id
  WHERE w.d < {_BFS_MAX_HOPS}
)
SELECT CAST(id AS BIGINT) AS vec_id, CAST(MIN(d) AS INT) AS dist
FROM walk GROUP BY id
"""


@register("knn_graph_bfs_levels", oracle=_BFS_ORACLE,
          description="BFS hop distances from the canonical seed over the "
                      "LSH-candidate near-duplicate graph")
def knn_graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How far is every vector from the canonical (lowest-id) node of
    the near-duplicate graph — the neighborhood-radius diagnostic that
    tells a dedup pipeline whether a similarity cluster is a tight
    clique (all dist ≤ 1-2) or a drifting chain (long geodesics =
    transitive merges of genuinely different content).

    Same two-layer edge discovery as knn_graph_pagerank (exact-clone
    collapse, then LSH-bucket hash-join candidates), then the engine's
    `bfs_levels` min-distance propagation — O(eccentricity) rounds of
    two keyed shuffles; the oracle is a depth-capped recursive CTE
    (the dedup_lsh_components precedent, with a distance metric).
    """
    from ..operators.graph import bfs_levels
    from ..operators.similarity import embedding_cosine_dup_pairs

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 4)
    planes = [[float(x) for x in seeds[i]["embedding"]] for i in (1, 2, 3)]
    distinct = emb.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    pairs = embedding_cosine_dup_pairs(
        distinct, threshold=_PR_THRESHOLD, hyperplanes=planes,
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    seed = pairs.agg(F.min("src")).collect()[0][0]
    levels = bfs_levels(pairs, int(seed), max_iter=_BFS_MAX_HOPS)
    return levels.select(
        F.col("node").cast("long").alias("vec_id"), F.col("dist").cast("int")
    )


# ---------------------------------------------------------------------------
# triangle counts / local clustering coefficient over the near-dup graph
# ---------------------------------------------------------------------------

_TRI_ORACLE = f"""
WITH h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
demb AS (
  SELECT embedding, MIN(vec_id) AS vec_id FROM embeddings GROUP BY embedding
),
eb AS (
  SELECT vec_id, embedding, {_bucket_sql('e.embedding')} AS bucket
  FROM demb e, h1, h2, h3
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(CAST({_dot_sql('a.embedding', 'b.embedding')} AS DOUBLE)
              / (sqrt(CAST({_dot_sql('a.embedding', 'a.embedding')} AS DOUBLE))
                 * sqrt(CAST({_dot_sql('b.embedding', 'b.embedding')} AS DOUBLE))), 6)
        >= {_PR_THRESHOLD}
),
tris AS (
  SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
),
tri_nodes AS (
  SELECT a AS id FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris
),
tcount AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM tri_nodes GROUP BY id),
deg AS (
  SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs
  ) GROUP BY id
)
SELECT d.id AS vec_id, d.deg,
       CAST(COALESCE(t.n_tri, 0) AS BIGINT) AS n_triangles,
       CAST(CASE WHEN d.deg >= 2
                 THEN (10000 * 2 * COALESCE(t.n_tri, 0)) // (d.deg * (d.deg - 1))
                 ELSE 0 END AS BIGINT) AS clustering_bp
FROM deg d LEFT JOIN tcount t ON t.id = d.id
"""


@register("knn_graph_triangles", oracle=_TRI_ORACLE,
          description="triangle counts + local clustering coefficient over the near-dup graph")
def knn_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How clique-like is each similarity neighborhood — the classic
    dedup-cluster diagnostic (clustering_bp ≈ 10000 → tight clone
    cliques; low values with high degree → hub nodes chaining
    unrelated content, the transitive-merge false-positive smell the
    BFS-levels query measures by geodesics).

    The canonical DataFrame triangle enumeration on ORIENTED edges
    (a<b): wedge join (e1.b = e2.a) then closure check via a third
    equi-join — every join is a hash join on edge keys; orientation
    counts each triangle exactly once, and per-node counts come from
    exploding the 3 corners. Coefficients are floored basis points
    (exact integers both engines).
    """
    from ..operators.similarity import embedding_cosine_dup_pairs

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 4)
    planes = [[float(x) for x in seeds[i]["embedding"]] for i in (1, 2, 3)]
    distinct = emb.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    pairs = embedding_cosine_dup_pairs(
        distinct, threshold=_PR_THRESHOLD, hyperplanes=planes,
    ).select("id_a", "id_b").localCheckpoint(eager=True)  # scanned 3× + degree

    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    tris = (
        e1.join(e2, F.col("e1.id_b") == F.col("e2.id_a"))
        .join(
            e3,
            (F.col("e3.id_a") == F.col("e1.id_a"))
            & (F.col("e3.id_b") == F.col("e2.id_b")),
        )
        .select(
            F.col("e1.id_a").alias("a"),
            F.col("e1.id_b").alias("b"),
            F.col("e2.id_b").alias("c"),
        )
    )
    tri_nodes = (
        tris.select(F.col("a").alias("id"))
        .unionAll(tris.select(F.col("b").alias("id")))
        .unionAll(tris.select(F.col("c").alias("id")))
    )
    tcount = tri_nodes.groupBy("id").agg(F.count("*").cast("long").alias("n_tri"))
    deg = (
        pairs.select(F.col("id_a").alias("id"))
        .unionAll(pairs.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    return (
        deg.join(tcount, "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            "deg",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.expr("(10000 * 2 * coalesce(n_tri, 0)) div (deg * (deg - 1))"),
            ).otherwise(0).cast("long").alias("clustering_bp"),
        )
    )


# ---------------------------------------------------------------------------
# curriculum ordering: global difficulty rank → training shard
# ---------------------------------------------------------------------------

_CURRICULUM_SHARDS = 8

_CURRICULUM_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
r AS (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens ASC, doc_id ASC) AS rnk,
         COUNT(*) OVER () AS total
  FROM d
)
SELECT doc_id, n_tokens, CAST(rnk AS BIGINT) AS rnk,
       CAST(((rnk - 1) * {_CURRICULUM_SHARDS}) // total AS BIGINT) AS shard
FROM r
"""


@register("training_curriculum_order", oracle=_CURRICULUM_ORACLE,
          description="curriculum learning: exact global difficulty rank "
                      "(distributed_rank) -> equal-size ordered training shards")
def training_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning prep: rank every document by a difficulty
    proxy (token count — swap in any score column) and cut the ranked
    order into equal-size shards consumed easy→hard across epochs
    (Bengio et al.'s curriculum schedule, data-side).

    The rank is :func:`distributed_rank` on (n_tokens, doc_id) with the
    total riding on the broadcast offsets — the third oracle-checked
    consumer of the operator, and the one whose ORACLE exposes the raw
    rank values, so the driver gate verifies the offset arithmetic
    itself, not just downstream buckets. Shard = ((rank-1)·S) div total
    — exact integer math, no ntile needed.
    """
    from sm_etl_cloud_run_spark.operators.windows import distributed_rank

    t = load_tables(spark, sf_dir)
    d = t["documents"].select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    ranked = distributed_rank(
        d, [F.col("n_tokens").asc(), F.col("doc_id").asc()],
        rank_name="rnk", total_name="total",
    )
    return ranked.select(
        "doc_id", "n_tokens", F.col("rnk").cast("long").alias("rnk"),
        F.expr(f"CAST(((rnk - 1) * {_CURRICULUM_SHARDS}) div total AS BIGINT)")
        .alias("shard"),
    )


# ---------------------------------------------------------------------------
# link prediction over the near-duplicate graph (common neighbors + Jaccard)
# ---------------------------------------------------------------------------

_LP_TOPN = 20

_LINK_PRED_ORACLE = f"""
WITH h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
demb AS (
  SELECT embedding, MIN(vec_id) AS vec_id FROM embeddings GROUP BY embedding
),
eb AS (
  SELECT vec_id, embedding, {_bucket_sql('e.embedding')} AS bucket
  FROM demb e, h1, h2, h3
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(CAST({_dot_sql('a.embedding', 'b.embedding')} AS DOUBLE)
              / (sqrt(CAST({_dot_sql('a.embedding', 'a.embedding')} AS DOUBLE))
                 * sqrt(CAST({_dot_sql('b.embedding', 'b.embedding')} AS DOUBLE))), 6)
        >= {_PR_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
twohop AS (
  SELECT e1.src AS id_a, e2.dst AS id_b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM edges e1 JOIN edges e2 ON e1.dst = e2.src AND e1.src < e2.dst
  GROUP BY 1, 2
),
cand AS (
  SELECT t.id_a, t.id_b, t.cn
  FROM twohop t LEFT JOIN pairs p ON p.id_a = t.id_a AND p.id_b = t.id_b
  WHERE p.id_a IS NULL
)
SELECT c.id_a, c.id_b, c.cn,
       CAST(c.cn * 10000 // (da.deg + db.deg - c.cn) AS BIGINT) AS jaccard_bp
FROM cand c
JOIN deg da ON da.id = c.id_a
JOIN deg db ON db.id = c.id_b
ORDER BY c.cn DESC, jaccard_bp DESC, c.id_a ASC, c.id_b ASC
LIMIT {_LP_TOPN}
"""


@register("knn_graph_link_prediction", oracle=_LINK_PRED_ORACLE,
          description="link prediction on the near-duplicate graph: top "
                      "non-adjacent pairs by common-neighbor count + "
                      "neighborhood Jaccard (missed-duplicate candidates)")
def knn_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the cosine near-duplicate
    graph: pairs that are NOT edges but share many neighbors — exactly
    the duplicates an LSH threshold narrowly missed (or documents one
    revision apart), surfaced for a second-pass exact comparison.

    Same edge discovery as knn_graph_pagerank (clone-collapse + LSH
    bucket equality — both scale-proven there). The two-hop
    enumeration is one self-equi-join of the edge list on the shared
    middle node, aggregated immediately to (a, b) → count: on a knn-
    style graph node degree is bounded by construction, so the join
    fan-out per middle node is ≤ deg², and the zipfian-hub worry the
    generic 2-path join has does not apply; AQE skew-join covers
    residual imbalance. Candidate minus existing edges is a left-anti
    hash join; neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| is
    floored basis points off BIGINT degree counts, so both engines
    rank identically (full tiebreak: cn, jaccard, ids).
    """
    from ..cache import persist_tracked

    from ..operators.similarity import embedding_cosine_dup_pairs

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 4)
    planes = [[float(x) for x in seeds[i]["embedding"]] for i in (1, 2, 3)]
    distinct = emb.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    # edge discovery (LSH bucket join + fixed-point cosine) feeds FOUR
    # plan branches (two 2-hop sides, degrees, the anti-join) — persist
    # the edge list once, the distributed_rank/simhash precedent; it is
    # |edges|-sized, far below the fact table
    pairs = persist_tracked(embedding_cosine_dup_pairs(
        distinct, threshold=_PR_THRESHOLD, hyperplanes=planes,
    ).select("id_a", "id_b"))

    edges = pairs.union(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    e1 = edges.select(F.col("src").alias("id_a"), F.col("dst").alias("mid"))
    e2 = edges.select(F.col("src").alias("mid"), F.col("dst").alias("id_b"))
    twohop = (
        e1.join(e2, "mid")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = twohop.join(pairs, ["id_a", "id_b"], "left_anti")
    da = deg.select(F.col("src").alias("id_a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("src").alias("id_b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(da, "id_a").join(db, "id_b")
        .select(
            "id_a", "id_b",
            F.col("cn").cast("long").alias("cn"),
            F.expr("cn * 10000 div (deg_a + deg_b - cn)").cast("long").alias("jaccard_bp"),
        )
        .orderBy(F.col("cn").desc(), F.col("jaccard_bp").desc(), "id_a", "id_b")
        .limit(_LP_TOPN)
    )


# ---------------------------------------------------------------------------
# k-core decomposition (bounded peeling) over the near-duplicate graph
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3   # unrolled peeling rounds (the BPE-trainer pattern:
#                     fixed-R "k-core after R rounds" semantics, identical
#                     CTE chain on both engines; R=3 reaches the fixpoint
#                     on every fixture we probe — survivors' core degrees
#                     are emitted so a non-converged graph is VISIBLE)


def _kcore_oracle() -> str:
    rounds = []
    prev_v = None
    for r in range(1, _KCORE_ROUNDS + 1):
        src_deg = "d0" if r == 1 else f"d{r - 1}"
        rounds.append(f"""
v{r} AS (SELECT id FROM {src_deg} WHERE deg >= {_KCORE_K}),
d{r} AS (
  SELECT e.src AS id, CAST(COUNT(*) AS BIGINT) AS deg
  FROM edges e
  JOIN v{r} a ON a.id = e.src
  JOIN v{r} b ON b.id = e.dst
  GROUP BY e.src
),""")
        prev_v = f"v{r}"
    return f"""
WITH h1 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 1)}),
h2 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 2)}),
h3 AS (SELECT embedding AS hv FROM embeddings WHERE vec_id IN {_rank_ids_sql(1, 3)}),
demb AS (
  SELECT embedding, MIN(vec_id) AS vec_id FROM embeddings GROUP BY embedding
),
eb AS (
  SELECT vec_id, embedding, {_bucket_sql('e.embedding')} AS bucket
  FROM demb e, h1, h2, h3
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE round(CAST({_dot_sql('a.embedding', 'b.embedding')} AS DOUBLE)
              / (sqrt(CAST({_dot_sql('a.embedding', 'a.embedding')} AS DOUBLE))
                 * sqrt(CAST({_dot_sql('b.embedding', 'b.embedding')} AS DOUBLE))), 6)
        >= {_PR_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
d0 AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),{"".join(rounds)}
final_v AS (SELECT id FROM {prev_v})
SELECT d0.id AS vec_id, d0.deg AS deg_full,
       CAST(CASE WHEN fv.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_kcore,
       CAST(df.deg AS BIGINT) AS deg_core
FROM d0
LEFT JOIN final_v fv ON fv.id = d0.id
LEFT JOIN d{_KCORE_ROUNDS} df ON df.id = d0.id
"""


@register("knn_graph_kcore", oracle=_kcore_oracle(),
          description=f"k-core decomposition (k={_KCORE_K}, {_KCORE_ROUNDS} "
                      "unrolled peeling rounds) over the near-duplicate graph "
                      "— the density layer completing the graph family")
def knn_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degeneracy peeling over the cosine near-duplicate graph: drop
    every vertex with degree < k, recompute degrees among survivors,
    repeat. The 2-core separates DENSE duplication communities (template
    farms, mirror clusters — worth cluster-level dedup decisions) from
    incidental pairwise matches (peeled leaves); PageRank ranks hubs,
    k-core finds the cohesive subgraph they sit in.

    Fixed-R semantics, the corpus_bpe_train_rounds pattern: exactly
    {_KCORE_ROUNDS} peeling rounds unrolled identically in both engines
    (no data-dependent termination to disagree on); survivors carry
    their final core degree, so a graph that needs a 4th round is
    visible in the output (a survivor with deg_core < k), not silently
    wrong. Edge discovery reuses the pagerank path: exact-dup collapse
    (one hash aggregate) then LSH-bucketed candidate pairs — the
    clone-collapse discipline. Each peeling round is two semi-joins of
    the edge list against the parameter-shrinking survivor set plus one
    map-side-combined degree aggregate; the edge list is persisted
    once. At 100 TB: rounds cost |E| hash-join work each, R is a
    constant, and no step sorts or windows the graph globally.
    """
    from ..cache import persist_tracked
    from ..operators.similarity import embedding_cosine_dup_pairs

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    seeds = _seed_rows(emb, 4)
    planes = [[float(x) for x in seeds[i]["embedding"]] for i in (1, 2, 3)]
    distinct = emb.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
    pairs = embedding_cosine_dup_pairs(
        distinct, threshold=_PR_THRESHOLD, hyperplanes=planes,
    )
    edges = persist_tracked(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
    )
    d0 = (
        edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .withColumnRenamed("src", "id")
    )
    deg = d0
    for _ in range(_KCORE_ROUNDS):
        alive = deg.where(F.col("deg") >= _KCORE_K).select("id")
        deg = (
            edges
            .join(alive.withColumnRenamed("id", "src"), "src")
            .join(alive.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            .withColumnRenamed("src", "id")
        )
    final_v = alive
    d_final = deg
    return (
        d0.withColumnRenamed("deg", "deg_full")
        .join(final_v.withColumn("__in", F.lit(1)), "id", "left")
        .join(d_final.withColumnRenamed("deg", "deg_core"), "id", "left")
        .select(
            F.col("id").alias("vec_id"),
            F.col("deg_full").cast("long").alias("deg_full"),
            F.coalesce(F.col("__in"), F.lit(0)).cast("long").alias("in_kcore"),
            F.col("deg_core").cast("long").alias("deg_core"),
        )
    )
