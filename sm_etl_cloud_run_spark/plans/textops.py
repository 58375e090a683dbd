"""Text-analysis + dedup queries over the `documents` table.

The scale-layer operators (BASELINE.json north star): token counting,
quality scoring, language-ID heuristic, fingerprinting, and the dedup
family (exact, MinHash signature, LSH candidate pairs, exact n-gram
Jaccard, SimHash). All hashing is md5 so DuckDB reproduces every byte;
MinHash minimums are lexicographic mins over hex digests (a valid
uniform min-hash needing no hex→int conversion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, token_count, tokens
from ..operators.dedup import (
    exact_dedup_by_fingerprint,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from ..cache import persist_tracked
from ..tables import load_tables
from .registry import register

NUM_HASHES = 8
SHINGLE_K = 3
LSH_BANDS = 4

# ---------------------------------------------------------------------------
# token stats / quality / language heuristics
# ---------------------------------------------------------------------------

_TOKEN_ORACLE = """
SELECT doc_id,
       CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS n_spaces,
       CAST(length(replace(text, ' ', '')) AS DOUBLE)
         / CAST(len(string_split(trim(text), ' ')) AS DOUBLE) AS avg_token_len
FROM documents
"""


@register("text_token_stats", oracle=_TOKEN_ORACLE, bench=True,
          description="token counting over documents (whitespace tokenizer)")
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    text = F.col("text")
    n_tokens = token_count(text)
    n_chars = F.length(text).cast("long")
    n_spaces = (F.length(text) - F.length(F.regexp_replace(text, " ", ""))).cast("long")
    return t["documents"].select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        n_spaces.alias("n_spaces"),
        ((n_chars - n_spaces).cast("double") / n_tokens.cast("double")).alias("avg_token_len"),
    )


_QUALITY_ORACLE = """
WITH f AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT doc_id, n_tokens, n_distinct, n_stop, n_chars,
       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
       CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       round(0.5 * (CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             + 0.2 * (CASE WHEN n_tokens >= 20 THEN 1.0 ELSE CAST(n_tokens AS DOUBLE) / 20.0 END),
             6) AS quality_score
FROM f
"""

_STOPWORDS = ("the", "a", "of", "and")


@register("text_quality_score", oracle=_QUALITY_ORACLE,
          description="quality scoring: type-token ratio, stopword ratio, length")
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    f = t["documents"].select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("long").alias("n_stop"),
        F.length("text").cast("long").alias("n_chars"),
    )
    ttr = F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens").cast("double")
    len_term = F.when(F.col("n_tokens") >= 20, F.lit(1.0)).otherwise(
        F.col("n_tokens").cast("double") / 20.0
    )
    return f.select(
        "doc_id", "n_tokens", "n_distinct", "n_stop", "n_chars",
        ttr.alias("ttr"),
        stop_ratio.alias("stop_ratio"),
        F.round(0.5 * ttr + 0.3 * (1.0 - stop_ratio) + 0.2 * len_term, 6).alias("quality_score"),
    )


# Fixed per-language marker profiles (n-gram/stopword heuristic). On real
# corpora these discriminate scripts/languages; scores are deterministic.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "a"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
    "de": ("der", "die", "und", "das"),
    "pt": ("o", "a", "de", "e"),
}


def _lang_score_sql(lang: str, markers: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return (
        f"SELECT doc_id, '{lang}' AS lang_cand, "
        f"CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ({in_list}))) AS BIGINT) AS score "
        f"FROM documents"
    )


_LANG_ORACLE = (
    "WITH scores AS (\n"
    + "\nUNION ALL\n".join(_lang_score_sql(lang, m) for lang, m in _LANG_MARKERS.items())
    + "\n), ranked AS (\n"
    "  SELECT doc_id, lang_cand, score,\n"
    "         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_cand ASC) AS rn\n"
    "  FROM scores\n"
    ")\n"
    "SELECT doc_id, lang_cand AS pred_lang, score FROM ranked WHERE rn = 1"
)


@register("text_lang_id", oracle=_LANG_ORACLE,
          description="language-ID heuristic: stopword-profile argmax per doc")
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    scores = None
    for lang, markers in _LANG_MARKERS.items():
        sw = F.array(*[F.lit(w) for w in markers])
        s = t["documents"].select(
            "doc_id",
            F.lit(lang).alias("lang_cand"),
            F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("long").alias("score"),
        )
        scores = s if scores is None else scores.unionByName(s)
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang_cand").asc())
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("lang_cand").alias("pred_lang"), "score")
    )


_FP_ORACLE = """
SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
FROM documents
"""


@register("doc_fingerprints", oracle=_FP_ORACLE,
          description="content fingerprint: md5 of normalized text")
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["documents"].select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

_EXACT_ORACLE = """
SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
       CAST(MIN(doc_id) AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM documents
GROUP BY 1
"""


@register("dedup_exact", oracle=_EXACT_ORACLE,
          description="exact dedup: hash-groupBy on content fingerprint")
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return exact_dedup_by_fingerprint(t["documents"], "text", "doc_id").select(
        "fingerprint", "doc_id", "n_dups"
    )


def _shingle_cte() -> str:
    return f"""
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - {SHINGLE_K - 1}, 0) + 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
  FROM toks
)"""


def _sig_select() -> str:
    # mirror the engine's chunked-digest scheme: digest d = md5('d:'||s),
    # sig_i = min over shingles of digest[i//4] hex chunk [8*(i%4)+1, 8]
    cols = ",\n       ".join(
        f"list_aggregate(list_transform(shingles, s -> substr(md5('{i // 4}:' || s), {8 * (i % 4) + 1}, 8)), 'min') AS sig_{i}"
        for i in range(NUM_HASHES)
    )
    # docs with no shingles (< k tokens) drop out, matching the engine
    return f"SELECT doc_id,\n       {cols}\nFROM sh WHERE len(shingles) > 0"


_MINHASH_ORACLE = f"""
WITH {_shingle_cte()},
sig AS ({_sig_select()})
SELECT * FROM sig
"""


@register("dedup_minhash_signatures", oracle=_MINHASH_ORACLE, bench=True,
          description="MinHash signatures (8 seeds × 3-word shingles), array-native")
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return minhash_signatures(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )


def _bands_cte() -> str:
    rows_per_band = NUM_HASHES // LSH_BANDS
    selects = []
    for b in range(LSH_BANDS):
        parts = " || '|' || ".join(f"sig_{b * rows_per_band + r}" for r in range(rows_per_band))
        selects.append(f"SELECT doc_id, {b} AS band, md5({parts}) AS bucket FROM sig")
    return "\nUNION ALL\n".join(selects)


_LSH_ORACLE = f"""
WITH {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST({" + ".join(f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES))} AS DOUBLE)
         / {NUM_HASHES}.0 AS est_jaccard
FROM cand
JOIN sig sa ON sa.doc_id = cand.id_a
JOIN sig sb ON sb.doc_id = cand.id_b
"""


@register("dedup_lsh_pairs", oracle=_LSH_ORACLE, bench=True,
          description="MinHash-LSH banded candidate pairs (the scale near-dup path)")
def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    sigs = minhash_signatures(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    return lsh_candidate_pairs(sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS)


_GROUPS_ORACLE = f"""
WITH {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
reps AS (
  SELECT band, bucket, CAST(MIN(doc_id) AS BIGINT) AS bucket_rep
  FROM bands GROUP BY band, bucket
)
SELECT b.doc_id, CAST(MIN(r.bucket_rep) AS BIGINT) AS group_rep
FROM bands b JOIN reps r ON b.band = r.band AND b.bucket = r.bucket
GROUP BY b.doc_id
"""


@register("dedup_lsh_groups", oracle=_GROUPS_ORACLE, bench=True,
          description="LSH dedup via cluster assignment (linear in cluster size)")
def dedup_lsh_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import lsh_dedup_groups

    t = load_tables(spark, sf_dir)
    sigs = minhash_signatures(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    return lsh_dedup_groups(sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS)


_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
adj AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
),
reach AS (
  SELECT src AS doc_id, dst AS label FROM adj
  UNION
  SELECT p.src, r.label FROM adj p JOIN reach r ON r.doc_id = p.dst
)
SELECT doc_id, CAST(MIN(label) AS BIGINT) AS group_rep
FROM reach GROUP BY doc_id
"""


@register("dedup_lsh_components", oracle=_COMPONENTS_ORACLE,
          description="Transitive near-dup components (iterative min-label propagation)")
def dedup_lsh_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixpoint connected components over LSH buckets; the DuckDB oracle
    computes the same components with a recursive CTE (min reachable
    doc-id through the shared-bucket adjacency)."""
    from ..operators.dedup import lsh_dedup_components

    t = load_tables(spark, sf_dir)
    sigs = minhash_signatures(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    return lsh_dedup_components(sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS)


_CANONICAL_ORACLE = f"""
WITH {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
reps AS (
  SELECT band, bucket, CAST(MIN(doc_id) AS BIGINT) AS bucket_rep
  FROM bands GROUP BY band, bucket
),
grp AS (
  SELECT b.doc_id, CAST(MIN(r.bucket_rep) AS BIGINT) AS group_rep
  FROM bands b JOIN reps r ON b.band = r.band AND b.bucket = r.bucket
  GROUP BY b.doc_id
),
m AS (
  SELECT g.group_rep, d.doc_id, d.n_chars
  FROM grp g JOIN documents d ON d.doc_id = g.doc_id
),
agg AS (
  SELECT group_rep,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(MAX(n_chars) AS BIGINT) AS canonical_n_chars,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM m GROUP BY group_rep
),
canon AS (
  SELECT m.group_rep, CAST(MIN(m.doc_id) AS BIGINT) AS canonical_doc_id
  FROM m JOIN agg ON agg.group_rep = m.group_rep
                 AND m.n_chars = agg.canonical_n_chars
  GROUP BY m.group_rep
)
SELECT agg.group_rep, canon.canonical_doc_id, agg.canonical_n_chars,
       agg.n_members,
       agg.n_members - 1 AS n_dupes_removed,
       agg.total_chars - agg.canonical_n_chars AS chars_removed
FROM agg LEFT JOIN canon ON canon.group_rep = agg.group_rep
"""


@register("dedup_cluster_canonical", oracle=_CANONICAL_ORACLE, bench=True,
          description="keep-one-per-near-dup-cluster: longest member wins "
                      "(min doc_id tiebreak), removal accounting per cluster")
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup ACTION on top of the LSH machinery: for
    every near-dup cluster (the dedup_lsh_groups assignment), elect one
    canonical survivor — the longest member (keep-longest is the
    standard representative policy; Lee et al. 2022 keep one member per
    duplicate cluster), min doc_id as the deterministic tiebreak — and
    account for what deletion buys (docs and chars removed per
    cluster). Singletons appear with n_dupes_removed = 0, so the output
    doubles as the full post-dedup manifest.

    100 TB shape: rides the banded LSH bucket join (probed to 1.28M
    docs), then two group_rep-keyed hash aggregates and one
    (group_rep, n_chars) equi-join — every shuffle is on the cluster
    key, no windows, no all-pairs. Election is max-then-min (aggregate
    + join-back), never a per-cluster sort.
    """
    from ..operators.dedup import lsh_dedup_groups

    t = load_tables(spark, sf_dir)
    sigs = minhash_signatures(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    grp = lsh_dedup_groups(sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS)
    m = grp.join(t["documents"].select("doc_id", "n_chars"), "doc_id")
    # r12 (guide §2.4): the election used to be aggregate → join-back →
    # second aggregate → left join (two extra group_rep shuffles and a
    # join just to find "min doc_id among the max-n_chars members").
    # A single min(struct(-n_chars, doc_id)) aggregate computes the
    # same winner — struct comparison orders by -n_chars first (so max
    # n_chars wins), then doc_id (so the min-id tiebreak) — and NULL
    # n_chars members are excluded exactly like the former equi-join on
    # n_chars = canonical_n_chars (a NULL never equi-matched; an
    # all-NULL group yields NULL canonical_doc_id on both forms).
    # Plan: 4 Exchanges + 2 joins → 2 Exchanges + 0 joins after `m`.
    elect = F.min(
        F.when(
            F.col("n_chars").isNotNull(),
            F.struct(
                (-F.col("n_chars")).alias("neg_chars"),
                F.col("doc_id").alias("doc_id"),
            ),
        )
    )
    return m.groupBy("group_rep").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("n_chars").cast("long").alias("canonical_n_chars"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        elect.getField("doc_id").cast("long").alias("canonical_doc_id"),
    ).select(
        "group_rep", "canonical_doc_id", "canonical_n_chars", "n_members",
        (F.col("n_members") - 1).cast("long").alias("n_dupes_removed"),
        (F.col("total_chars") - F.col("canonical_n_chars")).cast("long")
        .alias("chars_removed"),
    )


_JACCARD_THRESHOLD = 0.18

_JACCARD_ORACLE = f"""
WITH {_shingle_cte()},
ex AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE,
          description="exact n-gram Jaccard near-dup pairs via inverted-index join")
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return ngram_jaccard_pairs(
        t["documents"], text_col="text", id_col="doc_id",
        shingle_k=SHINGLE_K, threshold=_JACCARD_THRESHOLD,
    )


def _simhash_bits_sql(num_bits: int = 32) -> str:
    terms = []
    for b in range(num_bits):
        terms.append(
            f"(CASE WHEN SUM(CASE WHEN (hv >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
            f"THEN CAST({2**b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
    return " + ".join(terms)


_SIMHASH_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hv FROM tok)
SELECT doc_id, {_simhash_bits_sql()} AS simhash
FROM h GROUP BY doc_id
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE,
          description="SimHash 32-bit fingerprint (per-bit majority of token hashes)")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return simhash(t["documents"], text_col="text", id_col="doc_id", num_bits=32)


# BPE-style pre-tokenization (the regex split step of GPT-2-family
# tokenizers: contraction suffixes, letter runs, digit runs, punctuation
# runs, whitespace) + a subword estimate of ceil(len/4) per pre-token.
# The same RE2/Java-compatible pattern runs on both engines.
_BPE_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"

_BPE_ORACLE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}')) AS BIGINT)
         AS n_pretokens,
       CAST(COALESCE(list_sum(list_transform(
              regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}'),
              t -> CAST(ceil(length(t) / 4.0) AS BIGINT))), 0) AS BIGINT)
         AS n_subwords_est
FROM documents
"""


@register("text_bpe_token_estimate", oracle=_BPE_ORACLE,
          description="token counting: BPE-ish regex pre-tokens + subword estimate")
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    toks = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0))
    n_sub = F.aggregate(
        F.transform(toks, lambda tk: F.ceil(F.length(tk).cast("double") / 4.0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return t["documents"].select(
        "doc_id",
        F.size(toks).cast("long").alias("n_pretokens"),
        n_sub.alias("n_subwords_est"),
    )


_DFCAP = 16

_JACCARD_DFCAP_ORACLE = f"""
WITH {_shingle_cte()},
ex0 AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
kept AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= {_DFCAP}),
ex AS (SELECT doc_id, ex0.s FROM ex0 JOIN kept ON ex0.s = kept.s),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) >= {_JACCARD_THRESHOLD}
"""


@register("dedup_ngram_jaccard_dfcap", oracle=_JACCARD_DFCAP_ORACLE,
          description="Jaccard with document-frequency cap: boilerplate shingles dropped before the self-join")
def dedup_ngram_jaccard_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale guard for the inverted-index join: a shingle in df docs
    costs df² join rows, so ubiquitous boilerplate dominates while
    carrying no signal. df-capped (16 here); score is exact Jaccard
    over the informative-shingle universe."""
    from ..operators.dedup import ngram_jaccard_pairs

    t = load_tables(spark, sf_dir)
    return ngram_jaccard_pairs(
        t["documents"], text_col="text", id_col="doc_id",
        shingle_k=SHINGLE_K, threshold=_JACCARD_THRESHOLD, max_df=_DFCAP,
    )


_CONTAINMENT_THRESHOLD = 0.6

_CONTAINMENT_ORACLE = f"""
WITH cl AS (
  SELECT md5(text) AS ck, MIN(doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1
),
rd AS (
  SELECT c.rep AS doc_id, c.cnt, d.text
  FROM cl c JOIN documents d ON d.doc_id = c.rep
),
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM rd),
sh AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(t) - {SHINGLE_K - 1}, 0) + 1),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS shingles
  FROM toks
),
ex0 AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
kept AS (SELECT s FROM ex0 GROUP BY s HAVING COUNT(*) <= {_DFCAP}),
ex AS (SELECT doc_id, ex0.s FROM ex0 JOIN kept ON ex0.s = kept.s),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, ca.cnt AS cnt_a, cb.cnt AS cnt_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS cont_a,
       CAST(n_common AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS cont_b,
       CAST(n_common AS DOUBLE) / CAST(sa.sz + sb.sz - n_common AS DOUBLE) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
JOIN rd ca ON ca.doc_id = id_a
JOIN rd cb ON cb.doc_id = id_b
WHERE greatest(CAST(n_common AS DOUBLE) / CAST(sa.sz AS DOUBLE),
               CAST(n_common AS DOUBLE) / CAST(sb.sz AS DOUBLE))
      >= {_CONTAINMENT_THRESHOLD}
"""


@register("dedup_containment_pairs", oracle=_CONTAINMENT_ORACLE,
          description="asymmetric shingle-containment near-dup pairs: "
                      "catches short-doc-inside-long-doc duplication that "
                      "Jaccard-based dedup structurally misses")
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-duplication detector: C(A in B) = |A∩B|/|A| over the
    df-capped shingle universe (df-cap 16, the same df² join
    guard as `dedup_ngram_jaccard_dfcap`). A document quoted inside a
    longer one has near-1 containment at near-0 Jaccard, so this is
    the family member MinHash-LSH (a Jaccard estimator) cannot
    replace — the standard gap in symmetric near-dedup of training
    corpora (quotes, rescrapes with added chrome, doc+comments).
    Emits both directions plus Jaccard so "identical" (both high)
    separates from "contained" (one-sided).

    Clone discipline (the dedup_clone_collapse_gate rule, applied
    unconditionally here): exact clones are collapsed to their
    min-doc_id representative BEFORE shingling — same-text pairs are
    exact duplicates (containment trivially 1), which belong to
    `dedup_exact`, and enumerating them is the measured quadratic
    pathology (the 16× clone probe blew the uncollapsed form from
    1.9 s to 30.7 s; collapsed, the surviving singleton shingles df
    back down to the informative universe). Representative pairs
    carry their clone multiplicities (cnt_a, cnt_b), so downstream
    accounting can re-expand without re-enumerating."""
    from ..operators.dedup import ngram_containment_pairs

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    clones = docs.groupBy(F.md5("text").alias("ck")).agg(
        F.min("doc_id").alias("rep"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    rep_cnt = clones.select(F.col("rep").alias("doc_id"), "cnt")
    reps = docs.join(rep_cnt.select("doc_id"), "doc_id")
    pairs = ngram_containment_pairs(
        reps, text_col="text", id_col="doc_id",
        shingle_k=SHINGLE_K, threshold=_CONTAINMENT_THRESHOLD, max_df=_DFCAP,
    )
    return (
        pairs.join(rep_cnt.select(F.col("doc_id").alias("id_a"),
                                  F.col("cnt").alias("cnt_a")), "id_a")
        .join(rep_cnt.select(F.col("doc_id").alias("id_b"),
                             F.col("cnt").alias("cnt_b")), "id_b")
        .select("id_a", "id_b", "cnt_a", "cnt_b",
                "n_common", "cont_a", "cont_b", "jaccard")
    )


_WINNOW_W = 4

_WINNOW_ORACLE = f"""
WITH {_shingle_cte()},
hashed AS (
  SELECT doc_id, i AS pos, substr(md5(shingles[i]), 1, 8) AS h
  FROM sh, lateral (SELECT unnest(range(1, len(shingles) + 1)) AS i) t
  WHERE len(shingles) > 0
),
win AS (
  SELECT doc_id, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS wmin,
         COUNT(*) OVER (PARTITION BY doc_id) AS n
  FROM hashed
)
SELECT DISTINCT doc_id, wmin AS fingerprint
FROM win WHERE pos <= n - {_WINNOW_W} + 1
"""


@register("text_winnowing_fingerprints", oracle=_WINNOW_ORACLE, bench=True,
          description="winnowing (rolling k-gram hash minima): partial-copy fingerprints")
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting: any shared passage of
    window+k-1 tokens guarantees a shared fingerprint, at ~2/(window+1)
    storage — the partial-overlap detector complementing whole-doc
    md5 (`doc_fingerprints`) and set-similarity (`dedup_ngram_jaccard`)."""
    from ..operators.dedup import winnowing_fingerprints

    t = load_tables(spark, sf_dir)
    return winnowing_fingerprints(
        t["documents"], text_col="text", id_col="doc_id",
        shingle_k=SHINGLE_K, window=_WINNOW_W,
    )


_OVERLAP_MIN_SHARED = 2
_OVERLAP_DF_CAP = 20

_WINNOW_OVERLAP_ORACLE = f"""
WITH fps AS (
  SELECT * FROM ({_WINNOW_ORACLE}) t
),
capped AS (
  SELECT fingerprint FROM fps GROUP BY fingerprint
  HAVING COUNT(*) <= {_OVERLAP_DF_CAP}
),
cf AS (
  SELECT f.doc_id, f.fingerprint FROM fps f JOIN capped c USING (fingerprint)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM cf a JOIN cf b ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= {_OVERLAP_MIN_SHARED}
"""


@register("text_winnowing_overlap_pairs", oracle=_WINNOW_OVERLAP_ORACLE,
          description="partial-copy candidate pairs: docs sharing >= m winnowed "
                      "fingerprints (df-capped inverted-index join)")
def text_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style partial-copy detection: candidate document pairs
    that share at least `_OVERLAP_MIN_SHARED` winnowed fingerprints.

    The winnowed index is ~2/(window+1) the size of the full shingle
    index, and the df-cap drops boilerplate fingerprints before the
    self-join — a fingerprint in df docs contributes df² pair rows, so
    capping df bounds the join blowup exactly like
    `dedup_ngram_jaccard_dfcap`. Shape: one doc-keyed window pass
    (the fingerprints), one fingerprint-keyed aggregate (the cap), one
    inverted-index self-join on uniform 8-hex-digit keys, one pair
    aggregate — all map-side-combined hash operations.
    """
    from ..operators.dedup import winnowing_fingerprints

    t = load_tables(spark, sf_dir)
    fps = winnowing_fingerprints(
        t["documents"], text_col="text", id_col="doc_id",
        shingle_k=SHINGLE_K, window=_WINNOW_W,
    )
    capped = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= _OVERLAP_DF_CAP)
        .select("fingerprint")
    )
    cf = fps.join(capped, "fingerprint")
    a = cf.alias("a")
    b = cf.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= _OVERLAP_MIN_SHARED)
    )


# Patterns restricted to the Java-regex ∩ RE2 common dialect (no
# lookarounds, no backrefs) so Spark and DuckDB agree byte-for-byte.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_CPF = "[0-9]{3}\\.[0-9]{3}\\.[0-9]{3}-[0-9]{2}"

_REDACT_ORACLE = f"""
WITH pass1 AS (
  SELECT doc_id, text,
         regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g') AS after_email
  FROM documents
)
SELECT doc_id,
       regexp_replace(after_email, '{_PII_CPF}', '[CPF]', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(after_email, '{_PII_CPF}')) AS BIGINT) AS n_cpfs
FROM pass1
"""


@register("text_redact_pii", oracle=_REDACT_ORACLE,
          description="PII scrubbing: email/CPF regex redaction + per-doc match counts")
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data hygiene pass: redact emails then Brazilian CPF
    ids, counting what EACH PASS actually removed (a CPF swallowed by
    an email match is not double-counted — the audit trail matches the
    redaction). Pure codegen'd regexp - one projection, no shuffle."""
    t = load_tables(spark, sf_dir)
    text = F.col("text")
    after_email = F.regexp_replace(text, _PII_EMAIL, "[EMAIL]")
    return t["documents"].select(
        "doc_id",
        F.regexp_replace(after_email, _PII_CPF, "[CPF]").alias("redacted"),
        F.regexp_count(text, F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(after_email, F.lit(_PII_CPF)).cast("long").alias("n_cpfs"),
    )


_FUZZY_PREFIX = 60
_FUZZY_MAX_DIST = 20

_FUZZY_ORACLE = f"""
WITH {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(levenshtein(substr(ta.text, 1, {_FUZZY_PREFIX}),
                        substr(tb.text, 1, {_FUZZY_PREFIX})) AS BIGINT) AS edit_dist
FROM cand
JOIN documents ta ON ta.doc_id = cand.id_a
JOIN documents tb ON tb.doc_id = cand.id_b
WHERE levenshtein(substr(ta.text, 1, {_FUZZY_PREFIX}),
                  substr(tb.text, 1, {_FUZZY_PREFIX})) <= {_FUZZY_MAX_DIST}
"""


@register("dedup_fuzzy_candidates", oracle=_FUZZY_ORACLE,
          description="edit-distance refinement of LSH candidates (fuzzy match on text prefixes)")
def dedup_fuzzy_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-stage verification of near-dup candidates: exact
    levenshtein on a fixed text prefix, applied ONLY to the LSH
    candidate pairs — O(candidates), never O(n²). Edit distance is
    quadratic in string length, so the prefix cap bounds per-pair cost;
    at corpus scale this is the cheap precise filter between banding
    and any full-text diff."""
    from ..operators.dedup import lsh_candidate_pairs

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    sigs = minhash_signatures(
        docs, text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    cand = lsh_candidate_pairs(sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS).select(
        "id_a", "id_b"
    )
    ta = docs.select(F.col("doc_id").alias("id_a"), F.substring("text", 1, _FUZZY_PREFIX).alias("__ta"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.substring("text", 1, _FUZZY_PREFIX).alias("__tb"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("edit_dist", F.levenshtein("__ta", "__tb").cast("long"))
        .where(F.col("edit_dist") <= _FUZZY_MAX_DIST)
        .select("id_a", "id_b", "edit_dist")
    )


_CONTAM_MIN_OVERLAP = 2

_CONTAM_ORACLE = f"""
WITH {_shingle_cte()},
ex AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
bench_set AS (SELECT DISTINCT s FROM ex WHERE doc_id < 10),
overlap AS (
  SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ex e JOIN bench_set b ON e.s = b.s
  WHERE e.doc_id >= 10
  GROUP BY 1
)
SELECT doc_id, n_shared FROM overlap WHERE n_shared >= {_CONTAM_MIN_OVERLAP}
"""


@register("text_contamination_check", oracle=_CONTAM_ORACLE,
          description="benchmark decontamination: docs sharing n-grams with a held-out set")
def text_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data decontamination: flag corpus docs sharing >= K
    distinct shingles with a benchmark set (here: doc_id < 10 stands in
    for the eval corpus). The benchmark shingle set is tiny relative to
    the corpus -> broadcast semi-side; the corpus never self-joins."""
    from ..functions.text import exploded_shingles

    t = load_tables(spark, sf_dir)
    ex = exploded_shingles(t["documents"], SHINGLE_K, distinct=True)
    bench_set = ex.where(F.col("doc_id") < 10).select("s").distinct()
    return (
        ex.where(F.col("doc_id") >= 10)
        .join(F.broadcast(bench_set), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _CONTAM_MIN_OVERLAP)
    )


_DECON_DF_CAP = 1000

_DECON_REPORT_ORACLE = f"""
WITH {_shingle_cte()},
ex AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
rare AS (
  SELECT s FROM ex WHERE doc_id >= 25
  GROUP BY 1 HAVING COUNT(*) <= {_DECON_DF_CAP}
),
ev AS (
  SELECT d.doc_id, d.source AS suite, e.s
  FROM documents d JOIN ex e ON e.doc_id = d.doc_id
  JOIN rare r ON r.s = e.s
  WHERE d.doc_id < 25
),
overlap AS (
  SELECT ev.doc_id AS eval_doc, ev.suite, ex.doc_id AS train_doc,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM ev JOIN ex ON ex.s = ev.s AND ex.doc_id >= 25
  GROUP BY 1, 2, 3
),
hits AS (
  SELECT eval_doc, suite,
         CAST(COUNT(*) AS BIGINT) AS n_leaking,
         CAST(MAX(n_shared) AS BIGINT) AS top_overlap
  FROM overlap WHERE n_shared >= {_CONTAM_MIN_OVERLAP}
  GROUP BY 1, 2
),
suites AS (
  SELECT source AS suite, CAST(COUNT(*) AS BIGINT) AS n_eval
  FROM documents WHERE doc_id < 25 GROUP BY 1
)
SELECT s.suite, s.n_eval,
       CAST(COALESCE(COUNT(h.eval_doc), 0) AS BIGINT) AS n_contaminated,
       CAST((10000 * COALESCE(COUNT(h.eval_doc), 0)) // s.n_eval AS BIGINT) AS contaminated_bp,
       CAST(COALESCE(MAX(h.top_overlap), 0) AS BIGINT) AS top_overlap,
       CAST(COALESCE(SUM(h.n_leaking), 0) AS BIGINT) AS n_leaking_train_docs
FROM suites s LEFT JOIN hits h ON h.suite = s.suite
GROUP BY 1, 2
"""


@register("training_decontaminate_report", oracle=_DECON_REPORT_ORACLE,
          description="eval-suite contamination canary: per suite, how many "
                      "held-out docs leak into the training corpus")
def training_decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-suite canary on top of text_contamination_check: that
    query flags contaminated TRAINING docs for removal; this one reports
    the leak from the EVAL side — per suite (source stands in for the
    benchmark name; doc_id < 25 for its held-out docs), how many eval
    docs share >= K distinct shingles with any training doc, the
    contamination rate in bp, the worst single-doc overlap, and the
    total count of leaking training docs. This is the go/no-go sheet a
    training run reads before trusting its benchmark deltas — a suite
    at 5000 bp is not measuring generalization.

    Ubiquitous shingles are EXCLUDED (training document frequency >
    df_cap): an n-gram that appears in thousands of training docs is
    language, not leakage — exactly why production decontamination
    matches on long, rare n-grams. The cap is also what makes the
    join finite: without it, one stop-phrase shingle shared by 25
    eval docs and 1% of a 10^9-doc corpus alone emits 2.5x10^8 join
    rows (the 16x probe ran minutes before the cap, seconds after —
    same mechanism as text_dup_ngram_fraction's df-capped inverted
    index).

    100 TB shape: the eval side is small BY CONSTRUCTION (benchmark
    suites are thousands of docs), so its rare-shingle relation
    broadcasts; the corpus pays one shingle scan for the df counts
    plus one hash join against the broadcast, with join fan-out
    bounded by df_cap x |eval shingles|, grouped to
    (eval_doc, train_doc) — the same affordable-verify discipline as
    dedup_minhash_accuracy. All aggregates beyond the join are suite-
    or eval-doc-sized.
    """
    from ..functions.text import exploded_shingles

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    ex = exploded_shingles(docs, SHINGLE_K, distinct=True)
    rare = (
        ex.where(F.col("doc_id") >= 25)
        .groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= _DECON_DF_CAP)
        .select("s")
    )
    ev = (
        ex.where(F.col("doc_id") < 25)
        .join(rare, "s")
        .join(docs.select("doc_id", F.col("source").alias("suite")), "doc_id")
        .select(F.col("doc_id").alias("eval_doc"), "suite", "s")
    )
    overlap = (
        ex.where(F.col("doc_id") >= 25)
        .withColumnRenamed("doc_id", "train_doc")
        .join(F.broadcast(ev), "s")
        .groupBy("eval_doc", "suite", "train_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    hits = (
        overlap.where(F.col("n_shared") >= _CONTAM_MIN_OVERLAP)
        .groupBy("eval_doc", "suite")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_leaking"),
            F.max("n_shared").cast("long").alias("top_overlap"),
        )
    )
    suites = (
        docs.where(F.col("doc_id") < 25)
        .groupBy(F.col("source").alias("suite"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_eval"))
    )
    return (
        suites.join(hits, "suite", "left")
        .groupBy("suite", "n_eval")
        .agg(
            F.count("eval_doc").cast("long").alias("n_contaminated"),
            F.expr("(10000 * COUNT(eval_doc)) DIV FIRST(n_eval)")
            .cast("long").alias("contaminated_bp"),
            F.coalesce(F.max("top_overlap"), F.lit(0)).cast("long").alias("top_overlap"),
            F.coalesce(F.sum("n_leaking"), F.lit(0)).cast("long").alias("n_leaking_train_docs"),
        )
    )


_SPLIT_ORACLE = """
SELECT doc_id,
       CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split
FROM (
  SELECT doc_id,
         CAST(('0x' || substr(md5('split-seed-1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
  FROM documents
)
"""


@register("dataset_split_assignment", oracle=_SPLIT_ORACLE,
          description="deterministic train/val/test split: stable hash-bucket assignment per doc")
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reproducible dataset split: bucket = md5(seed:id) mod 100 ->
    90/5/5. Hash-based (not random) so membership is stable under
    corpus growth, re-runs, and engine changes - the property a
    training pipeline needs so examples never migrate between splits.
    Pure projection, no shuffle."""
    t = load_tables(spark, sf_dir)
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("split-seed-1:"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long") % 100
    )
    return t["documents"].select(
        "doc_id",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test").alias("split"),
    )


_ZSCORE_ORACLE = """
WITH f AS (
  SELECT doc_id, lang,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(trim(text), ' '),
                              w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop
  FROM documents
), q AS (
  SELECT doc_id, lang,
         (500000 * n_distinct) // n_tokens
         + 300000 - (300000 * n_stop) // n_tokens
         + CASE WHEN n_tokens >= 20 THEN 200000 ELSE 10000 * n_tokens END AS q_micro
  FROM f
), m AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(q_micro) AS BIGINT) AS s,
         CAST(SUM(q_micro * q_micro) AS BIGINT) AS ss
  FROM q GROUP BY lang
)
SELECT q.doc_id, q.lang, CAST(q.q_micro AS BIGINT) AS q_micro,
       CASE WHEN m.n * m.ss - m.s * m.s > 0
            THEN round((CAST(q.q_micro AS DOUBLE) - CAST(m.s AS DOUBLE) / m.n) * m.n
                       / sqrt(CAST(m.n * m.ss - m.s * m.s AS DOUBLE)), 6)
            ELSE 0.0 END AS z,
       CAST(CASE WHEN m.n * m.ss - m.s * m.s > 0
                  AND round((CAST(q.q_micro AS DOUBLE) - CAST(m.s AS DOUBLE) / m.n) * m.n
                            / sqrt(CAST(m.n * m.ss - m.s * m.s AS DOUBLE)), 6) < -1.0
            THEN 0 ELSE 1 END AS BIGINT) AS keep
FROM q JOIN m ON q.lang IS NOT DISTINCT FROM m.lang
"""


@register("text_quality_zscore_by_lang", oracle=_ZSCORE_ORACLE,
          description="per-language quality z-scores (integer-exact moments): "
                      "normalize before thresholding so no language is "
                      "filtered for being itself")
def text_quality_zscore_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multilingual-fairness correction for quality filtering: a
    raw quality threshold calibrated on English guts other languages
    (different stopword densities, different TTR baselines), so scores
    are z-normalized WITHIN language before the keep gate (drop only
    z < −1, i.e. each language's own bottom tail).

    The quality basis is pure-integer (DIV arithmetic), per-lang
    mean/std come from exact integer moment sums (the
    corr_qty_discount discipline), and the degenerate one-doc /
    zero-variance group z-scores to 0 on both engines instead of
    dividing by zero. Shape: one doc pass, one lang-keyed aggregate
    (≈|languages| rows — broadcast side), one broadcast join back.
    """
    t = load_tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    f = t["documents"].select(
        "doc_id", "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("long").alias("n_stop"),
    )
    q = f.select(
        "doc_id", "lang",
        (
            F.expr("(500000 * n_distinct) DIV n_tokens")
            + 300000
            - F.expr("(300000 * n_stop) DIV n_tokens")
            + F.when(F.col("n_tokens") >= 20, 200000).otherwise(10000 * F.col("n_tokens"))
        ).cast("long").alias("q_micro"),
    )
    m = q.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q_micro").alias("s"),
        F.sum(F.col("q_micro") * F.col("q_micro")).alias("ss"),
    )
    joined = q.join(
        F.broadcast(m.withColumnRenamed("lang", "__mlang")),
        q["lang"].eqNullSafe(F.col("__mlang")),
    )
    d = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    z = F.round(
        (F.col("q_micro").cast("double") - F.col("s").cast("double") / F.col("n"))
        * F.col("n") / F.sqrt(d.cast("double")),
        6,
    )
    z_safe = F.when(d > 0, z).otherwise(F.lit(0.0))
    return joined.select(
        "doc_id", "lang", "q_micro",
        z_safe.alias("z"),
        F.when((d > 0) & (z < -1.0), 0).otherwise(1).cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# quality-score calibration (reliability diagram)
# ---------------------------------------------------------------------------

_CAL_BINS = 10

_CALIBRATION_ORACLE = f"""
WITH f AS (
  SELECT doc_id,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(trim(text), ' '),
                              w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop
  FROM documents
), q AS (
  SELECT doc_id, n_tokens, n_distinct,
         (500000 * n_distinct) // n_tokens
         + 300000 - (300000 * n_stop) // n_tokens
         + CASE WHEN n_tokens >= 20 THEN 200000 ELSE 10000 * n_tokens END AS q_micro
  FROM f
), r AS (SELECT MIN(q_micro) AS mn, MAX(q_micro) AS mx FROM q),
scored AS (
  SELECT ((q.q_micro - r.mn) * 10000) // (r.mx - r.mn + 1) AS p_bp,
         CASE WHEN 4 * q.n_distinct >= 3 * q.n_tokens THEN 1 ELSE 0 END AS y
  FROM q, r
)
SELECT CAST(p_bp // {10000 // _CAL_BINS} AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(p_bp) // COUNT(*) AS BIGINT) AS mean_pred_bp,
       CAST((10000 * SUM(y)) // COUNT(*) AS BIGINT) AS pos_bp,
       CAST(ABS(SUM(p_bp) // COUNT(*) - (10000 * SUM(y)) // COUNT(*)) AS BIGINT) AS gap_bp
FROM scored
GROUP BY 1
"""


@register("quality_score_calibration", oracle=_CALIBRATION_ORACLE,
          description="classifier-QA reliability diagram: per score-decile "
                      "predicted-vs-empirical positive rate (ECE inputs)")
def quality_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram buckets for a quality classifier — the QA
    report that decides whether a filtering threshold on the score is
    trustworthy or needs recalibration (Platt/isotonic) before it
    gates terabytes. The 'classifier' is the integer q_micro heuristic
    (same basis as text_quality_zscore_by_lang) squashed to basis
    points against the observed score range; the outcome it is graded
    on is high lexical diversity (type-token ratio >= 3/4 — a signal
    the score only partially encodes, so the diagram has real gaps).
    Per score-decile: doc count, mean predicted bp, empirical positive
    bp, |gap| — the per-bin inputs of expected calibration error;
    ECE = sum(n_docs * gap_bp) / sum(n_docs) downstream.

    Everything is floored-integer (DIV), so both engines agree
    bit-for-bit. 100 TB shape: one scan for the 1-row score range
    (broadcast scalar), one scan for binning, a {_CAL_BINS}-group
    aggregate — map-side combinable, output is bin-sized.
    """
    t = load_tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    sw = F.array(*[F.lit(w) for w in _STOPWORDS])
    f = t["documents"].select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("long").alias("n_stop"),
    )
    q = f.select(
        "n_tokens", "n_distinct",
        (
            F.expr("(500000 * n_distinct) DIV n_tokens")
            + 300000
            - F.expr("(300000 * n_stop) DIV n_tokens")
            + F.when(F.col("n_tokens") >= 20, 200000).otherwise(10000 * F.col("n_tokens"))
        ).cast("long").alias("q_micro"),
    )
    rng = q.agg(F.min("q_micro").alias("mn"), F.max("q_micro").alias("mx"))
    scored = q.crossJoin(F.broadcast(rng)).select(
        F.expr("((q_micro - mn) * 10000) DIV (mx - mn + 1)").alias("p_bp"),
        F.when(4 * F.col("n_distinct") >= 3 * F.col("n_tokens"), 1)
        .otherwise(0).cast("long").alias("y"),
    )
    n = F.count(F.lit(1))
    return (
        scored.groupBy(F.expr(f"p_bp DIV {10000 // _CAL_BINS}").cast("long").alias("bin"))
        .agg(
            n.cast("long").alias("n_docs"),
            F.expr("SUM(p_bp) DIV COUNT(*)").cast("long").alias("mean_pred_bp"),
            F.expr("(10000 * SUM(y)) DIV COUNT(*)").cast("long").alias("pos_bp"),
            F.expr("ABS(SUM(p_bp) DIV COUNT(*) - (10000 * SUM(y)) DIV COUNT(*))")
            .cast("long").alias("gap_bp"),
        )
    )


# ---------------------------------------------------------------------------
# cross-source duplication matrix (which sources copy from each other)
# ---------------------------------------------------------------------------

_XSOURCE_ORACLE = """
WITH fp AS (
  SELECT DISTINCT source,
         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
  FROM documents
),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_fps
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
  GROUP BY source_a, source_b
),
sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_fps FROM fp GROUP BY source
),
-- the COMPLETE upper-triangle matrix: zero-overlap pairs included, so
-- "no duplication" is a reported fact, not a missing row
grid AS (
  SELECT sa.source AS source_a, sb.source AS source_b,
         sa.n_fps AS n_a, sb.n_fps AS n_b
  FROM sizes sa JOIN sizes sb ON sa.source < sb.source
)
SELECT g.source_a, g.source_b,
       CAST(COALESCE(s.shared_fps, 0) AS BIGINT) AS shared_fps,
       CAST((10000 * COALESCE(s.shared_fps, 0)) // least(g.n_a, g.n_b) AS BIGINT) AS overlap_bp
FROM grid g
LEFT JOIN shared s ON s.source_a = g.source_a AND s.source_b = g.source_b
"""


@register("dedup_cross_source_matrix", oracle=_XSOURCE_ORACLE,
          description="cross-source duplication matrix: shared fingerprints per source pair")
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources duplicate each other — the curation diagnostic
    that decides dedup ORDER (dedupe the mirror against the original,
    not vice versa) and catches license-laundering mirrors. Documents
    collapse to distinct (source, content-fingerprint) pairs first, so
    the join is on the md5 key (uniform, skew-free) between
    fingerprint sets, not raw docs; overlap is normalized by the
    smaller side (floored bp — overlap coefficient). |sources|² output.
    """
    t = load_tables(spark, sf_dir)
    fp = (
        t["documents"]
        .select("source", doc_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    sizes = fp.groupBy("source").agg(F.count("*").cast("long").alias("n_fps"))
    a = fp.alias("a")
    b = fp.alias("b")
    shared = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("shared_fps"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_fps").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_fps").alias("n_b"))
    # complete |sources|² upper triangle — zero-overlap pairs reported
    grid = sa.join(sb, F.col("source_a") < F.col("source_b"))
    return (
        grid.join(F.broadcast(shared), ["source_a", "source_b"], "left")
        .select(
            "source_a", "source_b",
            F.coalesce("shared_fps", F.lit(0)).cast("long").alias("shared_fps"),
            F.expr(
                "CAST((10000 * coalesce(shared_fps, 0)) div least(n_a, n_b) AS BIGINT)"
            ).alias("overlap_bp"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram novelty over corpus order (how much each doc adds)
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = """
WITH grams AS (
  SELECT DISTINCT doc_id, bg
  FROM (
    SELECT doc_id,
           unnest(list_transform(
             range(1, greatest(len(string_split(trim(text), ' ')) - 1, 0)),
             i -> string_split(trim(text), ' ')[i] || ' ' ||
                  string_split(trim(text), ' ')[i + 1] || ' ' ||
                  string_split(trim(text), ' ')[i + 2])) AS bg
    FROM documents
  )
),
firsts AS (
  SELECT bg, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM grams GROUP BY bg
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_3grams,
       CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((10000 * SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
         AS novelty_bp
FROM grams g JOIN firsts f USING (bg)
GROUP BY g.doc_id
"""


@register("text_ngram_novelty", oracle=_NOVELTY_ORACLE,
          description="per-doc 3-gram novelty vs all earlier docs (corpus-growth diagnostic)")
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much NEW text each document contributes in corpus order: the
    fraction of its distinct 3-grams whose first corpus occurrence (by
    min doc_id) is this document. Streams of scraped data show falling
    novelty as sources exhaust — the quantitative 'stop crawling this
    domain' signal. Inverted-index algebra: distinct (doc, gram) pairs,
    gram→first-doc aggregate (vocabulary-sized), join back, integer-bp
    fraction. Same scale shape as TF-IDF.
    """
    from ..functions.text import exploded_shingles

    t = load_tables(spark, sf_dir)
    grams = exploded_shingles(t["documents"], 3, alias="bg").distinct()
    firsts = grams.groupBy("bg").agg(F.min("doc_id").cast("long").alias("first_doc"))
    return (
        grams.join(firsts, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_distinct_3grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias("n_novel"),
            F.expr(
                "CAST((10000 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END))"
                " div count(*) AS BIGINT)"
            ).alias("novelty_bp"),
        )
    )


# ---------------------------------------------------------------------------
# readability scoring (Flesch reading ease, integer milli-points)
# ---------------------------------------------------------------------------

_READABILITY_ORACLE = """
WITH counts AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(coalesce(text, ''), '[A-Za-z]+')) AS BIGINT) AS n_words,
         CAST(GREATEST(len(regexp_extract_all(coalesce(text, ''), '[.!?]+')), 1) AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[aeiouy]+')) AS BIGINT) AS n_syllables
  FROM documents
),
scored AS (
  SELECT doc_id, lang, n_words, n_sentences, n_syllables,
         CAST(206835
              - (1015 * n_words) // n_sentences
              - (84600 * n_syllables) // GREATEST(n_words, 1) AS BIGINT) AS flesch_milli
  FROM counts
)
SELECT doc_id, lang, n_words, n_sentences, n_syllables, flesch_milli,
       CASE WHEN flesch_milli >= 70000 THEN 'easy'
            WHEN flesch_milli >= 50000 THEN 'standard'
            ELSE 'difficult' END AS band
FROM scored
"""


@register("text_readability", oracle=_READABILITY_ORACLE,
          description="Flesch reading-ease readability per document "
                      "(vowel-group syllable heuristic, integer milli-points, "
                      "easy/standard/difficult banding)")
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per document — the classic curation signal
    for difficulty-aware mixing (pair with training_curriculum_order)
    and for flagging degenerate text (both extremes of the score are
    suspicious in a web crawl).

    Syllables use the standard scalable proxy (maximal vowel runs);
    words are letter runs, sentences are terminator runs, all three
    from codegen'd regexp_count-style expressions in ONE projection —
    no tokenize-explode, no shuffle, so at 100 TB this is a pure
    map-side scan at I/O speed. The score is kept in floored integer
    milli-points (206.835 → 206835) with guarded denominators, so
    banding and ordering are bit-identical on both engines.
    """
    t = load_tables(spark, sf_dir)
    text = F.coalesce(F.col("text"), F.lit(""))
    counts = t["documents"].select(
        "doc_id", "lang",
        F.size(F.regexp_extract_all(text, F.lit("[A-Za-z]+"), F.lit(0))).cast("long").alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all(text, F.lit("[.!?]+"), F.lit(0))), F.lit(1)
        ).cast("long").alias("n_sentences"),
        F.size(F.regexp_extract_all(F.lower(text), F.lit("[aeiouy]+"), F.lit(0))).cast("long").alias("n_syllables"),
    )
    scored = counts.withColumn(
        "flesch_milli",
        F.expr(
            "206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_syllables) div greatest(n_words, 1)"
        ).cast("long"),
    )
    return scored.withColumn(
        "band",
        F.when(F.col("flesch_milli") >= 70000, F.lit("easy"))
        .when(F.col("flesch_milli") >= 50000, F.lit("standard"))
        .otherwise(F.lit("difficult")),
    )


# ---------------------------------------------------------------------------
# MinHash estimator accuracy: estimated vs exact Jaccard on LSH candidates
# ---------------------------------------------------------------------------

_MH_ACC_ORACLE = f"""
WITH {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
mtch AS (
  SELECT id_a, id_b,
         CAST({" + ".join(f"(CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES))} AS BIGINT) AS n_match
  FROM cand
  JOIN sig sa ON sa.doc_id = cand.id_a
  JOIN sig sb ON sb.doc_id = cand.id_b
),
ex AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM ex GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT m.id_a, m.id_b, m.n_match,
         CAST(m.n_match * 10000 // {NUM_HASHES} AS BIGINT) AS est_bp,
         CAST(COALESCE(c.n_common, 0) * 10000
              // (sa.sz + sb.sz - COALESCE(c.n_common, 0)) AS BIGINT) AS exact_bp
  FROM mtch m
  JOIN sizes sa ON sa.doc_id = m.id_a
  JOIN sizes sb ON sb.doc_id = m.id_b
  LEFT JOIN common c ON c.id_a = m.id_a AND c.id_b = m.id_b
)
SELECT id_a, id_b, n_match, est_bp, exact_bp,
       CAST(ABS(est_bp - exact_bp) AS BIGINT) AS err_bp
FROM scored
"""


@register("dedup_minhash_accuracy", oracle=_MH_ACC_ORACLE,
          description="MinHash estimator accuracy: per LSH candidate pair, "
                      "signature-estimated vs exact shingle Jaccard (error in bp)")
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured accuracy of the MinHash estimator on the pairs the LSH
    pipeline actually surfaces — the number that decides whether 8
    hashes suffice or the banding plan needs more rows.

    Candidates and signatures reuse the production operators. The
    exact side is the verify pass of a two-stage dedup at scale:
    the shingle inverted index is first SEMI-JOINED down to documents
    that appear in some candidate pair (at 100 TB this is the step
    that makes exact verification affordable — only colliding docs
    pay the self-join), then intersections restrict to the candidate
    pairs themselves. Bucket-collision pairs with zero shared
    shingles keep an explicit exact_bp = 0 row (LEFT join + coalesce)
    — those are precisely the estimator's false positives, the rows
    this QA exists to count. Both scores are floored basis points off
    BIGINT set sizes, so the error column is integer-exact.

    100 TB routing: cost is linear in LSH candidate pairs (16.0x at
    the 16x probe) — that IS the answer size for exhaustive QA, but a
    production accuracy readout doesn't need every pair. This oracle
    mode is ``minhash_accuracy(sample_rate=1.0)``; at scale call it
    with sample_rate ~ 0.01-0.1 — a deterministic md5 filter over the
    PAIR key keeps a uniform, reproducible subset of candidates, and
    only sampled pairs' documents enter the exact-side semi-join, so
    the expensive verify (shingle self-join) shrinks proportionally.
    Interleaved min-of-3 at the 16x probe: exhaustive 11.8 s vs rate
    0.1 6.9 s — the residual is candidate GENERATION, which sampling
    cannot skip (every pair must exist before its hash gates it); in
    production the candidates are already materialized by the dedup
    pipeline itself, so the QA pass prices at the sampled-verify cost
    alone. Error-distribution statistics over the sample estimate the
    population's with standard Bernoulli concentration.
    """
    return minhash_accuracy(spark, sf_dir, sample_rate=1.0)


def minhash_accuracy(
    spark: SparkSession, sf_dir: str, *, sample_rate: float = 1.0,
    _cache_candidates: bool | None = None,
) -> DataFrame:
    """Parameterized form of :func:`dedup_minhash_accuracy`.

    ``sample_rate`` < 1 keeps a deterministic md5-hash subset of the
    candidate PAIRS (uniform over pairs; both ends of the pair key the
    hash, so membership is stable across runs/engines/partitionings)
    before the exact-Jaccard verify — the production guard when
    candidate pairs outnumber the QA budget. 1.0 is exhaustive (the
    registered oracle mode).

    Caching policy (``_cache_candidates=None`` → auto): the candidate
    relation feeds three branches. Exhaustive mode leaves it uncached —
    all three consumers share the identical shuffle and ReusedExchange
    makes a persist strictly worse (interleaved 16x probe: 11.8 s
    reuse vs 34.9 s cached). The sampled filter sits above that
    exchange and the now-small side goes broadcast, which cannot reuse
    the shuffle — there the persist wins (6.9 s vs 8.3 s).
    """
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    sigs = minhash_signatures(
        docs, text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    cand = lsh_candidate_pairs(
        sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS
    ).select("id_a", "id_b")
    if sample_rate < 1.0:
        h32 = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("id_a"), F.col("id_b"))), 1, 8
            ),
            16, 10,
        ).cast("long")
        cand = cand.where(h32 < F.lit(int(sample_rate * 4294967296)))
    # cand feeds THREE branches (the signature re-join plus both ends of
    # cand_docs); whether to cache it or lean on exchange reuse is
    # measured, not guessed (interleaved 16x probe, see docstring).
    if _cache_candidates is None:
        _cache_candidates = sample_rate < 1.0
    if _cache_candidates:
        cand = persist_tracked(cand)

    sa = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"a_sig_{i}") for i in range(NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"b_sig_{i}") for i in range(NUM_HASHES)],
    )
    n_match = sum(
        (F.col(f"a_sig_{i}") == F.col(f"b_sig_{i}")).cast("int")
        for i in range(NUM_HASHES)
    )
    mtch = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", n_match.cast("long").alias("n_match"))
    )

    from ..functions.text import exploded_shingles

    cand_docs = (
        cand.select(F.col("id_a").alias("doc_id"))
        .union(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    shingled = exploded_shingles(docs, SHINGLE_K, distinct=True, alias="sh").join(
        cand_docs, "doc_id", "left_semi"
    )
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        mtch.join(common, ["id_a", "id_b"], "left")
        .join(za, "id_a").join(zb, "id_b")
        .withColumn("n_common", F.coalesce(F.col("n_common"), F.lit(0)).cast("long"))
        .select(
            "id_a", "id_b", "n_match",
            F.expr(f"n_match * 10000 div {NUM_HASHES}").cast("long").alias("est_bp"),
            F.expr("n_common * 10000 div (sz_a + sz_b - n_common)")
            .cast("long").alias("exact_bp"),
        )
        .withColumn("err_bp", F.abs(F.col("est_bp") - F.col("exact_bp")).cast("long"))
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs: pigeonhole band join + exact Hamming verify
# ---------------------------------------------------------------------------

_SH_BANDS = 4          # 32-bit fingerprint → 4 bands of 8 bits
_SH_BAND_BITS = 8
_SH_MAX_HAMMING = 3    # ≤ bands-1 flips ⇒ some band intact (exact recall)

_SIMHASH_PAIRS_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS hv FROM tok),
sims AS (SELECT doc_id, {_simhash_bits_sql()} AS simhash FROM h GROUP BY doc_id),
bn AS (SELECT unnest(range(0, {_SH_BANDS})) AS band),
bands AS (
  SELECT doc_id, simhash, band,
         (simhash >> (band * {_SH_BAND_BITS})) & {2 ** _SH_BAND_BITS - 1} AS bv
  FROM sims, bn
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {_SH_MAX_HAMMING}
"""


@register("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE,
          description="SimHash near-dup pairs: pigeonhole band equi-join "
                      "(EXACT recall for Hamming ≤ bands-1) + bit_count verify")
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Manku/Jain/Sarma (WWW'07) web-dedup shape: fingerprints with
    Hamming distance ≤ d share at least one of d+1 bit-bands intact
    (pigeonhole), so candidates come from a hash EQUI-join on
    (band, band_value) — deterministic 100% recall for d ≤ bands-1,
    unlike MinHash banding's probabilistic recall — and the verify is
    one codegen'd bit_count(xor) per candidate.

    Reuses the registered 32-bit fingerprints (dedup_simhash). The
    8-bit band value caps bucket-key cardinality at 2^8 per band, fine
    here; at corpus scale the same plan widens the fingerprint to 64
    bits and the bands to 16 (2^16 buckets per band — the paper's
    configuration) so bucket fan-out stays sub-quadratic.

    The band join runs over DISTINCT fingerprints, not documents —
    the knn_graph_pagerank clone-collapse, forced by measurement: a
    clone cluster of c identical fingerprints costs c² inside every
    shared band bucket, and the 16× probe went 4.2 s → 164 s
    doc-level before the collapse (→ flat after; see ROUND_NOTES r8).
    Fingerprint-level pairs then expand back to doc pairs through the
    doc↔fingerprint mapping — output-sized work, the answer itself —
    and hamming-0 clone pairs come from the mapping's self-join
    directly, never touching the band table.
    """
    from ..cache import persist_tracked

    from ..operators.dedup import simhash as simhash_op

    t = load_tables(spark, sf_dir)
    # the fingerprint table feeds FIVE plan branches (distinct, two
    # expansion sides, two clone-join sides) and the 32-bit majority
    # vote is the expensive expression — persist it once, the
    # distributed_rank precedent (operators/windows.py:77)
    sims = persist_tracked(simhash_op(
        t["documents"], text_col="text", id_col="doc_id", num_bits=32
    ))
    fpd = sims.select("simhash").distinct()
    mask = 2 ** _SH_BAND_BITS - 1
    bands = fpd.select(
        "simhash",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("simhash"), b * _SH_BAND_BITS).bitwiseAND(F.lit(mask))
                for b in range(_SH_BANDS)
            ])
        ).alias("band", "bv"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    fp_pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
        .dropDuplicates(["sh_a", "sh_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
        )
        .where(F.col("hamming") <= _SH_MAX_HAMMING)
    )
    ma = sims.select(F.col("simhash").alias("sh_a"), F.col("doc_id").alias("da"))
    mb = sims.select(F.col("simhash").alias("sh_b"), F.col("doc_id").alias("db"))
    cross = (
        fp_pairs.join(ma, "sh_a").join(mb, "sh_b")
        .select(
            F.least("da", "db").alias("id_a"),
            F.greatest("da", "db").alias("id_b"),
            "hamming",
        )
    )
    sa = sims.alias("sa")
    sb = sims.alias("sb")
    clones = (
        sa.join(
            sb,
            (F.col("sa.simhash") == F.col("sb.simhash"))
            & (F.col("sa.doc_id") < F.col("sb.doc_id")),
        )
        .select(
            F.col("sa.doc_id").alias("id_a"),
            F.col("sb.doc_id").alias("id_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross.unionByName(clones)


# ---------------------------------------------------------------------------
# dedup survivorship: composition shift after canonical deletion
# ---------------------------------------------------------------------------

_SURVIVORSHIP_ORACLE = f"""
WITH {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
reps AS (
  SELECT band, bucket, CAST(MIN(doc_id) AS BIGINT) AS bucket_rep
  FROM bands GROUP BY band, bucket
),
grp AS (
  SELECT b.doc_id, CAST(MIN(r.bucket_rep) AS BIGINT) AS group_rep
  FROM bands b JOIN reps r ON b.band = r.band AND b.bucket = r.bucket
  GROUP BY b.doc_id
),
m AS (
  SELECT g.group_rep, d.doc_id, d.n_chars
  FROM grp g JOIN documents d ON d.doc_id = g.doc_id
),
agg AS (
  SELECT group_rep, MAX(n_chars) AS mx FROM m GROUP BY group_rep
),
canon AS (
  SELECT m.group_rep, CAST(MIN(m.doc_id) AS BIGINT) AS doc_id
  FROM m JOIN agg ON agg.group_rep = m.group_rep AND m.n_chars = agg.mx
  GROUP BY m.group_rep
),
surv AS (
  SELECT doc_id FROM canon
  UNION ALL
  SELECT d.doc_id FROM documents d LEFT JOIN grp g ON g.doc_id = d.doc_id
  WHERE g.doc_id IS NULL
),
before AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_before,
         CAST(SUM(n_chars) AS BIGINT) AS chars_before
  FROM documents GROUP BY source
),
after AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS docs_after,
         CAST(SUM(d.n_chars) AS BIGINT) AS chars_after
  FROM surv s JOIN documents d ON d.doc_id = s.doc_id
  GROUP BY d.source
)
SELECT b.source, b.docs_before,
       CAST(coalesce(a.docs_after, 0) AS BIGINT) AS docs_after,
       CAST(b.chars_before - coalesce(a.chars_after, 0) AS BIGINT) AS chars_removed,
       CAST((10000 * b.docs_before) // SUM(b.docs_before) OVER () AS BIGINT) AS share_before_bp,
       CAST((10000 * coalesce(a.docs_after, 0)) // SUM(coalesce(a.docs_after, 0)) OVER () AS BIGINT) AS share_after_bp,
       CAST((10000 * coalesce(a.docs_after, 0)) // SUM(coalesce(a.docs_after, 0)) OVER ()
            - (10000 * b.docs_before) // SUM(b.docs_before) OVER () AS BIGINT) AS shift_bp
FROM before b LEFT JOIN after a ON a.source IS NOT DISTINCT FROM b.source
"""


@register("dedup_survivorship", oracle=_SURVIVORSHIP_ORACLE,
          description="per-source composition shift after canonical dedup "
                      "(the governance report deletion decisions need)")
def dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What deletion does to corpus COMPOSITION: after the
    keep-longest canonical election (dedup_cluster_canonical's policy),
    each source's share of the corpus moves — boilerplate-heavy mirrors
    shrink, and a source whose docs lose elections to longer copies
    hosted elsewhere shrinks even if its content survives under another
    source's id. Per source: docs before/after, chars removed, share
    in bp before/after, and the signed shift — the report a curation
    review signs off before terabytes are dropped. Docs outside every
    LSH bucket (too short to shingle) survive by construction.

    100 TB shape: rides the same banded machinery as the canonical
    query; survivors come from group-keyed aggregates plus an anti-join
    for unbucketed docs; the final report is two |sources|-sized
    aggregates with OVER () share windows on parameter-sized rows.
    """
    from pyspark.sql.window import Window

    from ..operators.dedup import lsh_dedup_groups

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "source", "n_chars")
    sigs = minhash_signatures(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    grp = lsh_dedup_groups(sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS)
    m = grp.join(docs.select("doc_id", "n_chars"), "doc_id")
    agg = m.groupBy("group_rep").agg(F.max("n_chars").alias("mx"))
    canon = (
        m.join(agg, "group_rep")
        .where(F.col("n_chars") == F.col("mx"))
        .groupBy("group_rep")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    unbucketed = docs.select("doc_id").join(grp.select("doc_id"), "doc_id", "left_anti")
    surv = canon.unionByName(unbucketed)
    before = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_before"),
        F.sum("n_chars").cast("long").alias("chars_before"),
    )
    after = (
        surv.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_after"),
            F.sum("n_chars").cast("long").alias("chars_after"),
        )
        .withColumnRenamed("source", "__src2")
    )
    j = before.join(
        after, F.col("source").eqNullSafe(F.col("__src2")), "left"
    ).select(
        "source", "docs_before", "chars_before",
        F.coalesce(F.col("docs_after"), F.lit(0)).cast("long").alias("docs_after"),
        F.coalesce(F.col("chars_after"), F.lit(0)).cast("long").alias("chars_after"),
    )
    # share windows run OVER () on the |sources|-sized report — parameter-sized
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tb = F.sum("docs_before").over(w_all)
    ta = F.sum("docs_after").over(w_all)
    return j.select(
        "source", "docs_before", "docs_after",
        (F.col("chars_before") - F.col("chars_after")).cast("long").alias("chars_removed"),
        F.expr("CAST((10000 * docs_before) AS BIGINT)").alias("__nb"),
        F.expr("CAST((10000 * docs_after) AS BIGINT)").alias("__na"),
        tb.cast("long").alias("__tb"),
        ta.cast("long").alias("__ta"),
    ).select(
        "source", "docs_before", "docs_after", "chars_removed",
        F.expr("CAST(__nb DIV __tb AS BIGINT)").alias("share_before_bp"),
        F.expr("CAST(__na DIV __ta AS BIGINT)").alias("share_after_bp"),
        F.expr("CAST(__na DIV __ta - __nb DIV __tb AS BIGINT)").alias("shift_bp"),
    )


# ---------------------------------------------------------------------------
# hashed linear quality classifier (fasttext-architecture scoring plumbing)
# ---------------------------------------------------------------------------

# The classifier's hash-bucket weight — ONE definition per engine, shared
# by quality_linear_classifier, quality_pr_curve (here) and
# quality_length_bias (plans/quality.py): changing the bucket count or
# hash slice in one place keeps every audit in sync with the classifier
# it audits (the _LANG_MARKERS sharing rule).
QLC_WT_SPARK = (
    "CAST(conv(substring(md5(term), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000"
)
QLC_WT_SQL = "CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % 2001 - 1000"

_QLC_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS term FROM documents
),
w AS (
  SELECT doc_id, lang,
         {QLC_WT_SQL} AS wt
  FROM tok
),
sc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(wt) AS BIGINT) AS w_sum
  FROM w GROUP BY doc_id, lang
)
SELECT doc_id, lang, n_tokens, w_sum,
       CAST(FLOOR(1000.0 * w_sum / n_tokens) AS BIGINT) AS score_milli,
       CAST(CASE WHEN w_sum >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM sc
"""


@register("quality_linear_classifier", oracle=_QLC_ORACLE, bench=True,
          description="hashed linear quality classifier: bucket-weight scoring "
                      "of every document, JVM-side (fasttext architecture)")
def quality_linear_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering plumbing (the FineWeb-Edu /
    fasttext-classifier stage of a pretraining pipeline): every token
    maps to a hash-bucket weight, a document's score is its mean token
    weight, and the keep verdict thresholds the score at zero. The
    weight table here is the deterministic md5 stand-in
    ((h mod 2001) - 1000, zero-mean), so both engines agree exactly;
    swapping in TRAINED weights changes one expression to a broadcast
    join against a |buckets| weight table — the distributed shape is
    identical and is the point being tested.

    Shape at 100 TB: explode -> inline weight arithmetic (no join, no
    Python; with trained weights, a broadcast hash join against the
    parameter-sized bucket table) -> one doc-keyed map-side-combined
    aggregate. The mean uses FLOOR over the double quotient (the
    registry's shared convention — exact for |w_sum| < 2^49 since both
    engines floor the identical double), and the verdict uses the
    integer sum, so the keep bit can never disagree with the score.
    """
    t = load_tables(spark, sf_dir)
    wt = F.expr(QLC_WT_SPARK)
    sc = (
        t["documents"]
        .select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term"))
        .select("doc_id", "lang", wt.alias("wt"))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("wt").cast("long").alias("w_sum"),
        )
    )
    return sc.select(
        "doc_id", "lang", "n_tokens", "w_sum",
        F.floor(1000.0 * F.col("w_sum") / F.col("n_tokens")).cast("long")
        .alias("score_milli"),
        F.when(F.col("w_sum") >= 0, 1).otherwise(0).cast("long").alias("keep"),
    )


_AUC_ORACLE = f"""
WITH base AS ({_QLC_ORACLE}),
lab AS (
  SELECT score_milli,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM base
),
by_s AS (
  SELECT score_milli,
         CAST(SUM(y) AS BIGINT) AS pos_at,
         CAST(SUM(1 - y) AS BIGINT) AS neg_at
  FROM lab GROUP BY score_milli
),
cum AS (
  SELECT pos_at, neg_at,
         CAST(coalesce(SUM(neg_at) OVER (ORDER BY score_milli
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS neg_below
  FROM by_s
)
SELECT CAST(SUM(pos_at) AS BIGINT) AS n_pos,
       CAST(SUM(neg_at) AS BIGINT) AS n_neg,
       CAST(SUM(pos_at * (2 * neg_below + neg_at)) AS BIGINT) AS u2,
       CASE WHEN SUM(pos_at) = 0 OR SUM(neg_at) = 0 THEN NULL
            ELSE CAST(SUM(pos_at * (2 * neg_below + neg_at)) AS DOUBLE)
                 / (2.0 * SUM(pos_at) * SUM(neg_at)) END AS auc
FROM cum
"""


@register("quality_classifier_auc", oracle=_AUC_ORACLE,
          description="exact rank-based AUC (Mann-Whitney U with tie "
                      "correction) of the quality classifier against the "
                      "language label — integer-exact until the final ratio")
def quality_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threshold-free metric completing the classifier audit family
    (score: `quality_linear_classifier`; sweep: `quality_pr_curve`;
    bias: `quality_length_bias`; agreement: `quality_gate_agreement`;
    training: `quality_classifier_train`). AUC = P(score of a random
    positive > score of a random negative), computed EXACTLY by the
    Mann-Whitney identity with the ½-tie correction:
    U·2 = Σ_scores pos_at·(2·neg_below + neg_at), all in BIGINT — the
    only division is the final u2 / (2·n_pos·n_neg), identical on both
    engines. Label is the weak `lang='en'` signal shared with
    quality_pr_curve and the trainer.

    Scale shape: one doc-level score aggregate (the classifier pass),
    one score-keyed hash aggregate — the relation after it is bounded
    by the score codomain (score_milli ∈ [-1e6, 1e6]: ≤ 2,000,001 rows
    REGARDLESS of corpus size) — then the exclusive negative prefix via
    :func:`~..operators.windows.distributed_cumsum` (no single-task
    sort even over the bounded relation) and a 1-row final aggregate.
    """
    from ..operators.windows import distributed_cumsum

    sc = quality_linear_classifier(spark, sf_dir)
    by_s = (
        sc.select(
            "score_milli",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
        )
        .groupBy("score_milli")
        .agg(
            F.sum("y").cast("long").alias("pos_at"),
            F.sum(1 - F.col("y")).cast("long").alias("neg_at"),
        )
    )
    cum = distributed_cumsum(
        by_s, [F.col("score_milli")], "neg_at", cumsum_name="__neg_incl"
    ).select(
        "pos_at", "neg_at",
        (F.col("__neg_incl") - F.col("neg_at")).cast("long").alias("neg_below"),
    )
    return cum.agg(
        F.sum("pos_at").cast("long").alias("n_pos"),
        F.sum("neg_at").cast("long").alias("n_neg"),
        F.sum(F.col("pos_at") * (2 * F.col("neg_below") + F.col("neg_at")))
        .cast("long").alias("u2"),
    ).select(
        "n_pos", "n_neg", "u2",
        F.when(
            (F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None).cast("double")
        )
        .otherwise(
            F.col("u2").cast("double")
            / (2.0 * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
        )
        .alias("auc"),
    )


# ---------------------------------------------------------------------------
# domain-level dedup rollup: within/cross-domain duplicate share per source
# ---------------------------------------------------------------------------

_DOMAIN_FP_CHARS = 32

_DOMAIN_ROLLUP_ORACLE = f"""
WITH fp AS (
  SELECT doc_id, coalesce(source, '<none>') AS src,
         md5(substr(text, 1, {_DOMAIN_FP_CHARS})) AS f
  FROM documents
),
g AS (
  SELECT f, COUNT(*) AS c, COUNT(DISTINCT src) AS s FROM fp GROUP BY f
),
j AS (SELECT fp.src, fp.f, g.c, g.s FROM fp JOIN g ON g.f = fp.f)
SELECT coalesce(src, '<all>') AS source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT f) AS BIGINT) AS n_fingerprints,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(SUM(CASE WHEN s > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source_docs,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
         AS dup_bp
FROM j GROUP BY ROLLUP (src)
"""


@register("dedup_domain_rollup", oracle=_DOMAIN_ROLLUP_ORACLE, bench=True,
          description="domain/URL-level dedup rollup: per-source and total "
                      "within- and cross-domain duplicate share, exact bp")
def dedup_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inter-document twin of boilerplate removal (VERDICT r7 item
    5c): treat `source` as the domain/URL prefix a crawler would group
    by and report, per domain AND as a grand total (ROLLUP), how much
    of the domain is duplicated content — within the domain and across
    domains (syndication/mirror detection, the CCNet/C4 per-domain QA
    table). The content key is a 32-char-prefix md5 fingerprint (the
    cheap head-fingerprint real crawl dedup uses before full-shingle
    passes; on this corpus it yields a real collision structure —
    23 dup groups, 22 cross-source at sf0.01 — where full-text md5
    has none).

    Exactness: counts and a 10000-bp integer share; a real NULL source
    is coalesced to '<none>' BEFORE the rollup on both engines so it
    can never collide with the rollup's own total row ('<all>').

    Shape at 100 TB: md5 is codegen'd at the scan; one fact shuffle
    groups fingerprints (map-side combined), the join back on the
    fingerprint key reuses that partitioning, and the rollup aggregate
    lands on |sources| rows. Zipfian domains are the skew risk and
    ride AQE skew-join like the other term-keyed joins.
    """
    from ..cache import persist_tracked

    t = load_tables(spark, sf_dir)
    # r12: fp feeds the group-size aggregate AND the join back; persist
    # the (doc_id, src, f) metadata relation (~50 B/doc) so the
    # scan+md5 pass runs once instead of twice.
    fp = persist_tracked(t["documents"].select(
        "doc_id",
        F.coalesce(F.col("source"), F.lit("<none>")).alias("src"),
        F.md5(F.substring(F.col("text"), 1, _DOMAIN_FP_CHARS)).alias("f"),
    ))
    g = fp.groupBy("f").agg(
        F.count(F.lit(1)).alias("c"), F.countDistinct("src").alias("s")
    )
    j = fp.join(g, "f")
    return (
        j.rollup("src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("f").cast("long").alias("n_fingerprints"),
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).cast("long").alias("n_dup_docs"),
            F.sum(F.when(F.col("s") > 1, 1).otherwise(0)).cast("long")
            .alias("n_cross_source_docs"),
        )
        .select(
            F.coalesce(F.col("src"), F.lit("<all>")).alias("source"),
            "n_docs", "n_fingerprints", "n_dup_docs", "n_cross_source_docs",
            F.expr("CAST(n_dup_docs * 10000 DIV n_docs AS BIGINT)").alias("dup_bp"),
        )
    )


# ---------------------------------------------------------------------------
# classifier threshold sweep: precision/recall curve over score deciles
# ---------------------------------------------------------------------------

_PRC_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS term FROM documents
),
w AS (
  SELECT doc_id, lang,
         {QLC_WT_SQL} AS wt
  FROM tok
),
sc AS (
  SELECT doc_id, lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(wt) AS BIGINT) AS w_sum
  FROM w GROUP BY doc_id, lang
),
s2 AS (
  SELECT doc_id,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS pos,
         CAST(FLOOR(1000.0 * w_sum / n_tokens) AS BIGINT) AS score_milli
  FROM sc
),
d AS (
  SELECT NTILE(10) OVER (ORDER BY score_milli DESC, doc_id ASC) AS decile, pos
  FROM s2
),
g AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM d GROUP BY decile
),
c AS (
  SELECT decile, n_docs, n_pos,
         SUM(n_docs) OVER (ORDER BY decile) AS cum_docs,
         SUM(n_pos) OVER (ORDER BY decile) AS cum_pos,
         SUM(n_pos) OVER () AS total_pos
  FROM g
)
SELECT CAST(decile AS BIGINT) AS decile, n_docs, n_pos,
       CAST(cum_docs AS BIGINT) AS cum_docs,
       CAST(cum_pos AS BIGINT) AS cum_pos,
       CAST(10000 * cum_pos // cum_docs AS BIGINT) AS precision_bp,
       CAST(CASE WHEN total_pos = 0 THEN 0
                 ELSE 10000 * cum_pos // total_pos END AS BIGINT) AS recall_bp,
       CAST(20000 * cum_pos // (cum_docs + total_pos) AS BIGINT) AS f1_bp
FROM c
"""


@register("quality_pr_curve", oracle=_PRC_ORACLE, bench=True,
          description="classifier threshold sweep: cumulative precision/"
                      "recall/F1 at score deciles (exact bp)")
def quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operating-point picker for model-based filtering: sweep the
    hashed-linear classifier's score (quality_linear_classifier — same
    weight arithmetic, drift-guarded by construction) through its ten
    score deciles and report cumulative precision / recall / F1 against
    a deterministic weak label (lang = 'en' — the fasttext
    language-filter framing). "Keep the top k deciles" is the decision
    this table prices; the reliability-diagram sibling is
    quality_score_calibration.

    Exactness: all metrics are integer bp via DIV on counts; the decile
    assignment is ntile over (score DESC, doc_id ASC) — fully tied down,
    and score_milli is the classifier's FLOOR-milli convention.

    Shape at 100 TB: explode → inline weight arithmetic → doc-keyed
    map-side-combined aggregate (the classifier pass), then
    distributed_ntile (TeraSort range partition — no single-task global
    sort; pinned in test_fact_rank_plans_are_range_partitioned), a
    10-row aggregate, and 10-row cumulative windows. Nothing fact-sized
    ever meets an unpartitioned window.
    """
    from pyspark.sql.window import Window

    from ..operators.windows import distributed_ntile

    t = load_tables(spark, sf_dir)
    wt = F.expr(QLC_WT_SPARK)
    sc = (
        t["documents"]
        .select("doc_id", "lang", F.explode(tokens(F.col("text"))).alias("term"))
        .select("doc_id", "lang", wt.alias("wt"))
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("wt").cast("long").alias("w_sum"),
        )
        .select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).cast("long").alias("pos"),
            F.floor(1000.0 * F.col("w_sum") / F.col("n_tokens")).cast("long")
            .alias("score_milli"),
        )
    )
    d = distributed_ntile(
        sc, [F.col("score_milli").desc(), F.col("doc_id").asc()], 10,
        tile_name="decile",
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    # 10-row relation: the cumulative windows are parameter-sized
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        g.select(
            F.col("decile").cast("long").alias("decile"), "n_docs", "n_pos",
            F.sum("n_docs").over(w_cum).cast("long").alias("cum_docs"),
            F.sum("n_pos").over(w_cum).cast("long").alias("cum_pos"),
            F.sum("n_pos").over(w_all).cast("long").alias("__total_pos"),
        )
        .select(
            "decile", "n_docs", "n_pos", "cum_docs", "cum_pos",
            F.expr("CAST(10000 * cum_pos DIV cum_docs AS BIGINT)")
            .alias("precision_bp"),
            F.expr(
                "CAST(CASE WHEN __total_pos = 0 THEN 0"
                " ELSE 10000 * cum_pos DIV __total_pos END AS BIGINT)"
            ).alias("recall_bp"),
            F.expr("CAST(20000 * cum_pos DIV (cum_docs + __total_pos) AS BIGINT)")
            .alias("f1_bp"),
        )
    )


# ---------------------------------------------------------------------------
# language-ID confusion matrix: heuristic prediction vs declared metadata
# ---------------------------------------------------------------------------

def _lang_conf_score_sql(lang: str, markers: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return (
        f"SELECT doc_id, lang, '{lang}' AS lang_cand, "
        f"CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ({in_list}))) AS BIGINT) AS score "
        f"FROM documents"
    )


_LANG_CONF_ORACLE = (
    "WITH scores AS (\n"
    + "\nUNION ALL\n".join(
        _lang_conf_score_sql(lang, m) for lang, m in _LANG_MARKERS.items()
    )
    + "\n), ranked AS (\n"
    "  SELECT doc_id, lang, lang_cand, score,\n"
    "         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_cand ASC) AS rn\n"
    "  FROM scores\n"
    "), pred AS (\n"
    "  SELECT coalesce(lang, '<none>') AS lang, lang_cand AS pred_lang\n"
    "  FROM ranked WHERE rn = 1\n"
    "), cm AS (\n"
    "  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM pred\n"
    "  GROUP BY lang, pred_lang\n"
    ")\n"
    "SELECT lang, pred_lang, n_docs,\n"
    "       CAST(10000 * n_docs // SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS row_share_bp,\n"
    "       CAST(CASE WHEN lang = pred_lang THEN 1 ELSE 0 END AS BIGINT) AS is_match\n"
    "FROM cm"
)


@register("text_lang_confusion", oracle=_LANG_CONF_ORACLE,
          description="language-ID QA: confusion matrix of the stopword-"
                      "profile prediction vs the declared metadata lang")
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acceptance report for heuristic language ID (the text_lang_id
    operator): cross-tabulate predicted vs declared language and report
    each cell's share of its metadata-language row (bp). Real curation
    uses exactly this table to decide whether the cheap n-gram/stopword
    gate can replace a model-based identifier per language — the
    diagonal is per-lang recall of the declared label.

    Semantics: prediction is the same argmax (score DESC, lang_cand
    ASC) as text_lang_id — drift-guarded by sharing _LANG_MARKERS; a
    NULL declared lang becomes an explicit '<none>' row (it is a real
    cohort, and NULL grouping keys sort differently across engines).

    Shape at 100 TB: one map-side scoring projection per candidate
    language unioned (|langs| scans of the same cached relation —
    Catalyst collapses to one exchange on doc_id), the per-doc argmax
    window over |langs|-sized doc groups (pigeonhole-bounded, the
    sessionize contract), then a |langs|²-sized aggregate and
    parameter-sized share windows.
    """
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    toks = tokens(F.col("text"))
    scores = None
    for lang, markers in _LANG_MARKERS.items():
        sw = F.array(*[F.lit(w) for w in markers])
        s = t["documents"].select(
            "doc_id", "lang",
            F.lit(lang).alias("lang_cand"),
            F.size(F.filter(toks, lambda w: F.array_contains(sw, w))).cast("long")
            .alias("score"),
        )
        scores = s if scores is None else scores.unionByName(s)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang_cand").asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.coalesce(F.col("lang"), F.lit("<none>")).alias("lang"),
            F.col("lang_cand").alias("pred_lang"),
        )
    )
    cm = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    w_row = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return cm.select(
        "lang", "pred_lang", "n_docs",
        F.expr("CAST(10000 AS BIGINT)").alias("__sc"),
        F.sum("n_docs").over(w_row).alias("__row_total"),
    ).select(
        "lang", "pred_lang", "n_docs",
        F.expr("CAST(__sc * n_docs DIV __row_total AS BIGINT)").alias("row_share_bp"),
        F.when(F.col("lang") == F.col("pred_lang"), 1).otherwise(0).cast("long")
        .alias("is_match"),
    )


# ---------------------------------------------------------------------------
# component-size histogram: the dedup-graph pathology check
# ---------------------------------------------------------------------------

_CSH_LADDER = (
    "CASE WHEN size = 1 THEN 0 WHEN size = 2 THEN 1 WHEN size <= 4 THEN 2"
    " WHEN size <= 8 THEN 3 WHEN size <= 16 THEN 4 WHEN size <= 32 THEN 5"
    " WHEN size <= 64 THEN 6 WHEN size <= 128 THEN 7 ELSE 8 END"
)

_CSH_ORACLE = f"""
WITH RECURSIVE {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
adj AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
),
reach AS (
  SELECT src AS doc_id, dst AS label FROM adj
  UNION
  SELECT p.src, r.label FROM adj p JOIN reach r ON r.doc_id = p.dst
),
comp AS (
  SELECT doc_id, CAST(MIN(label) AS BIGINT) AS group_rep
  FROM reach GROUP BY doc_id
),
sizes AS (
  SELECT group_rep, CAST(COUNT(*) AS BIGINT) AS size FROM comp GROUP BY group_rep
),
hist AS (
  SELECT CAST({_CSH_LADDER} AS BIGINT) AS size_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_components,
         CAST(SUM(size) AS BIGINT) AS n_docs
  FROM sizes GROUP BY 1
)
SELECT size_bucket, n_components, n_docs,
       CAST(10000 * n_docs // SUM(n_docs) OVER () AS BIGINT) AS docs_share_bp
FROM hist
"""


@register("dedup_component_size_histogram", oracle=_CSH_ORACLE,
          description="near-dup component-size histogram (log2 ladder): the "
                      "dedup-graph pathology check before any pair-emitting pass")
def dedup_component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precheck that decides whether a dedup graph needs
    clone-collapse before pair emission (the round-8 simhash lesson —
    a clone cluster of c docs costs c² per shared band bucket): the
    size distribution of transitive near-dup components, bucketed on
    an exact power-of-two ladder (integer comparisons, not
    floor(log2) — IEEE log at exact powers is a cross-engine hazard),
    with each bucket's share of all documents in exact bp. A heavy
    tail bucket is the signal to collapse clones / salt the bucket
    join; all-singletons means the near-dup pass is pure overhead.

    Rides the full fixpoint component machinery
    (dedup_lsh_components / min-label propagation; recursive-CTE
    oracle), then component-count-sized aggregates and a
    parameter-sized share window.
    """
    from ..operators.dedup import lsh_dedup_components
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir)
    sigs = minhash_signatures(
        t["documents"], text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    comp = lsh_dedup_components(
        sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS
    )
    sizes = comp.groupBy("group_rep").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    hist = (
        sizes.select(F.expr(_CSH_LADDER).cast("long").alias("size_bucket"), "size")
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum("size").cast("long").alias("n_docs"),
        )
    )
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "size_bucket", "n_components", "n_docs",
        F.expr("CAST(10000 AS BIGINT)").alias("__sc"),
        F.sum("n_docs").over(w_all).alias("__t"),
    ).select(
        "size_bucket", "n_components", "n_docs",
        F.expr("CAST(__sc * n_docs DIV __t AS BIGINT)").alias("docs_share_bp"),
    )


# ---------------------------------------------------------------------------
# clone-collapse gate: the measured collapse-or-not decision as a query
# ---------------------------------------------------------------------------

_CCG_THRESHOLD = 6  # clone-cluster size that flips the gate (histogram bucket)

_CCG_ORACLE = f"""
WITH {_shingle_cte()},
sig AS ({_sig_select()}),
bands AS (
{_bands_cte()}
),
clones AS (
  SELECT md5(text) AS ck, MIN(doc_id) AS rep, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM documents GROUP BY 1
),
stats AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_clone_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_clone_size,
         CAST(SUM(CASE WHEN cnt >= {_CCG_THRESHOLD} THEN cnt ELSE 0 END) AS BIGINT)
           AS clone_docs_ge6
  FROM clones
),
bucket_stats AS (
  SELECT b.band, b.bucket,
         CAST(COUNT(*) AS BIGINT) AS m, CAST(SUM(c.cnt) AS BIGINT) AS n
  FROM bands b JOIN clones c ON c.rep = b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS pairs_raw,
         CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS pairs_collapsed
  FROM bucket_stats
)
SELECT s.n_docs, s.n_clone_keys, s.max_clone_size,
       CAST(10000 * s.clone_docs_ge6 // s.n_docs AS BIGINT) AS clone_docs_ge6_bp,
       p.pairs_raw, p.pairs_collapsed,
       CAST(CASE WHEN p.pairs_raw > 0
                 THEN 10000 * (p.pairs_raw - p.pairs_collapsed) // p.pairs_raw
                 ELSE 0 END AS BIGINT) AS pairs_saved_bp,
       CAST(s.max_clone_size >= {_CCG_THRESHOLD}
            OR p.pairs_raw >= 2 * p.pairs_collapsed AS BIGINT) AS gate_collapse
FROM stats s CROSS JOIN pairs p
"""


@register("dedup_clone_collapse_gate", oracle=_CCG_ORACLE,
          description="the clone-collapse decision table: candidate-pair "
                      "enumeration cost raw vs collapsed, with the gate bit "
                      "the docstrings promise")
def dedup_clone_collapse_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documented auto-gate for the LSH pair path (VERDICT r8 item
    5), as an oracle-checked query: exact clones (identical text, so
    identical MinHash signature and identical band buckets) are
    grouped once — md5(text) → (representative, multiplicity) — and
    the band bucket-join cost is computed BOTH ways from the SAME
    collapsed bucket relation: pairs_raw = Σ n·(n−1)/2 over per-bucket
    raw doc counts (what lsh_candidate_pairs would enumerate, clone
    multiplicities re-expanded), pairs_collapsed = Σ m·(m−1)/2 over
    distinct-clone-key counts (what it enumerates after collapse).
    The gate bit is the decision rule the dedup docstrings promise:
    collapse when any clone cluster reaches the histogram's ≥6 bucket
    (dedup_component_size_histogram's heavy-tail signal) or when raw
    enumeration at least doubles the collapsed cost. Measured on the
    clone-pathology fixture (64 clones × 5k docs), this is the 332 s →
    8.7 s routing decision (ARCHITECTURE.md, "LSH dedup probe"; the
    probe script is deleted).

    Shape at 100 TB: signatures/bands are computed over clone
    REPRESENTATIVES only (one groupBy on the content hash, then the
    normal MinHash pass on the surviving docs) — the collapse this
    gate decides is already how the gate itself is computed, so its
    cost is the collapsed cost plus one content-hash aggregate. All
    outputs are 1-row integer aggregates; pair counts stay in BIGINT
    (n per bucket ≤ |docs|; at petabyte scale the per-bucket n·n would
    be the overflow to watch — DuckDB sums in HUGEINT, Spark ANSI
    raises rather than wraps, so overflow is loud, not silent).
    """
    from ..operators.dedup import _band_buckets

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    clones = docs.groupBy(F.md5("text").alias("ck")).agg(
        F.min("doc_id").alias("rep"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    clones = persist_tracked(clones)  # feeds stats, rep filter, and bucket join
    stats = clones.agg(
        F.sum("cnt").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_clone_keys"),
        F.max("cnt").cast("long").alias("max_clone_size"),
        F.sum(
            F.when(F.col("cnt") >= _CCG_THRESHOLD, F.col("cnt")).otherwise(0)
        ).cast("long").alias("clone_docs_ge6"),
    )
    rep_cnt = clones.select(F.col("rep").alias("doc_id"), "cnt")
    rep_docs = docs.join(rep_cnt.select("doc_id"), "doc_id")
    sigs = minhash_signatures(
        rep_docs, text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    bucket_stats = (
        _band_buckets(sigs, "doc_id", NUM_HASHES, LSH_BANDS)
        .join(rep_cnt, "doc_id")
        .groupBy("band", "bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("m"),
            F.sum("cnt").cast("long").alias("n"),
        )
    )
    pairs = bucket_stats.agg(
        F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("pairs_raw"),
        F.sum(F.expr("m * (m - 1) div 2")).cast("long").alias("pairs_collapsed"),
    )
    return stats.crossJoin(pairs).select(
        "n_docs", "n_clone_keys", "max_clone_size",
        F.expr("CAST(10000 * clone_docs_ge6 div n_docs AS BIGINT)")
        .alias("clone_docs_ge6_bp"),
        "pairs_raw", "pairs_collapsed",
        F.expr(
            "CAST(CASE WHEN pairs_raw > 0"
            " THEN 10000 * (pairs_raw - pairs_collapsed) div pairs_raw"
            " ELSE 0 END AS BIGINT)"
        ).alias("pairs_saved_bp"),
        F.expr(
            f"CAST(max_clone_size >= {_CCG_THRESHOLD}"
            " OR pairs_raw >= 2 * pairs_collapsed AS BIGINT)"
        ).alias("gate_collapse"),
    )


# ---------------------------------------------------------------------------
# shingle document-frequency profile: the df-cap decision table
# ---------------------------------------------------------------------------

_SDF_LADDER = (
    ("df=1", 1), ("df=2", 2), ("df<=4", 4), ("df<=8", 8), ("df<=16", 16),
)
# the overflow label is DERIVED from the top rung so editing the ladder
# can't silently mislabel the bucket on one engine (ADVICE r9); the
# rung conditions below are likewise generated from the same tuple
_SDF_OVERFLOW = f"df>{_SDF_LADDER[-1][1]}"

_SDF_ORACLE = f"""
WITH {_shingle_cte()},
ex AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
dfs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY s),
b AS (
  SELECT CASE {" ".join(f"WHEN df <= {hi} THEN '{name}'" for name, hi in _SDF_LADDER)}
              ELSE '{_SDF_OVERFLOW}' END AS df_bucket,
         df
  FROM dfs
),
g AS (
  SELECT df_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_shingles,
         CAST(SUM(df) AS BIGINT) AS n_postings,
         CAST(SUM(df * (df - 1) // 2) AS BIGINT) AS n_join_rows
  FROM b GROUP BY df_bucket
)
SELECT df_bucket, n_shingles, n_postings, n_join_rows,
       CAST((10000 * n_join_rows) // (SELECT SUM(n_join_rows) FROM g) AS BIGINT)
         AS join_rows_share_bp
FROM g
"""


@register("text_shingle_df_profile", oracle=_SDF_ORACLE,
          description="df-cap decision table: shingle document-frequency "
                      "ladder with exact inverted-index join-row cost per "
                      "bucket (where the df² mass sits)")
def text_shingle_df_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measurement behind the `_DFCAP = 16` constant the whole
    inverted-index family relies on (`dedup_ngram_jaccard_dfcap`,
    `dedup_containment_pairs`, `text_winnowing_overlap_pairs`): a
    shingle in df documents contributes df·(df−1)/2 rows to the
    self-join, so the join's cost distribution over df buckets IS the
    cap decision — the overflow row (`_SDF_OVERFLOW`, derived from the
    ladder's top rung) is exactly the cost the cap
    deletes, and its join_rows_share_bp is the % of the quadratic
    blow-up avoided (on boilerplate-heavy crawls that row dominates;
    the cap's recall loss is the same row's n_shingles as a share of
    informative shingles). Companion to dedup_component_size_histogram
    (which makes the same decision for LSH clone mass).

    Shape at 100 TB: explode → one shingle-keyed map-side-combined
    aggregate (the df table — the same relation the capped joins
    build anyway) → a ladder-bucketed aggregate to ≤6 rows; the share
    window runs over that ladder. No joins, no windows over fact-sized
    input, all BIGINT.
    """
    from pyspark.sql.window import Window

    from ..functions.text import exploded_shingles

    t = load_tables(spark, sf_dir)
    ex = exploded_shingles(t["documents"], SHINGLE_K, distinct=True)
    dfs = ex.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    bucket = F.when(F.col("df") <= _SDF_LADDER[0][1], _SDF_LADDER[0][0])
    for name, hi in _SDF_LADDER[1:]:
        bucket = bucket.when(F.col("df") <= hi, name)
    bucket = bucket.otherwise(_SDF_OVERFLOW)
    g = (
        dfs.select(bucket.alias("df_bucket"), "df")
        .groupBy("df_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum("df").cast("long").alias("n_postings"),
            F.sum(F.expr("df * (df - 1) div 2")).cast("long").alias("n_join_rows"),
        )
    )
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return g.select(
        "df_bucket", "n_shingles", "n_postings", "n_join_rows",
        F.expr("CAST(10000 * n_join_rows AS BIGINT)").alias("__n"),
        F.sum("n_join_rows").over(w_all).cast("long").alias("__t"),
    ).select(
        "df_bucket", "n_shingles", "n_postings", "n_join_rows",
        F.expr("CAST(__n DIV __t AS BIGINT)").alias("join_rows_share_bp"),
    )


# ---------------------------------------------------------------------------
# LSH detector recall probe: the measured S-curve, INCLUDING the misses
# ---------------------------------------------------------------------------

_LRP_PROBES = 64  # fixed md5-rank sample: 2016 pairs forever

_LRP_BUCKETS = (
    ("j<20", 2000), ("j20-49", 5000), ("j50-79", 8000), ("j80-100", 10001),
)


def _lrp_oracle() -> str:
    bucket = "CASE " + " ".join(
        f"WHEN exact_bp < {hi} THEN '{name}'" for name, hi in _LRP_BUCKETS
    ) + " END"
    return f"""
WITH {_shingle_cte()},
eligible AS (
  SELECT doc_id, list_distinct(shingles) AS sset, shingles
  FROM sh WHERE len(shingles) > 0
),
samp AS (
  SELECT doc_id, sset, shingles
  FROM eligible
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
  LIMIT {_LRP_PROBES}
),
ex AS (SELECT doc_id, unnest(sset) AS s FROM samp),
sz AS (SELECT doc_id, CAST(len(sset) AS BIGINT) AS n FROM samp),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM ex a JOIN ex b ON b.s = a.s AND b.doc_id > a.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
         CAST(10000 * COALESCE(i.i, 0)
              // (sa.n + sb.n - COALESCE(i.i, 0)) AS BIGINT) AS exact_bp
  FROM sz sa JOIN sz sb ON sb.doc_id > sa.doc_id
  LEFT JOIN inter i ON i.id_a = sa.doc_id AND i.id_b = sb.doc_id
),
sig AS (
  SELECT doc_id,
         {", ".join(f"list_aggregate(list_transform(shingles, s -> substr(md5('{i // 4}:' || s), {8 * (i % 4) + 1}, 8)), 'min') AS sig_{i}" for i in range(NUM_HASHES))}
  FROM samp
),
bands AS (
{_bands_cte()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT {bucket} AS jacc_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_candidates,
       CAST(10000 * SUM(CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS candidate_bp
FROM pairs p
LEFT JOIN cand c ON c.id_a = p.id_a AND c.id_b = p.id_b
GROUP BY 1
"""


@register("dedup_lsh_recall_probe", oracle=_lrp_oracle(),
          description="measured LSH S-curve INCLUDING misses: candidate rate "
                      "per exact-Jaccard band over a fixed 64-doc sample "
                      "(every pair exact-scored, candidate or not)")
def dedup_lsh_recall_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_accuracy audits the pairs the LSH FOUND; this
    audits the ones it missed — the number the banding planner's
    theoretical S-curve (dedup_lsh_planner family) predicts but nothing
    measured until now. A fixed 64-document md5-rank sample (the
    isotropy/label-propagation fixed-budget rule: 2016 pairs forever)
    gets EVERY pair exact-Jaccard-scored via a shingle equi-join, then
    left-joined against the banded candidate set built by the same
    minhash/banding machinery the production path uses; the output is
    candidate rate (bp) per exact-Jaccard band — empirical recall in
    the high bands, empirical false-candidate rate in the low ones.

    Shape at 100 TB: the sample is a TakeOrdered over md5 rank (one
    corpus scan, no global sort materializes); everything after is
    64-doc-sized — the 2016-pair join is the whitelisted fixed-budget
    NLJ, exact Jaccard runs on exploded DISTINCT shingles of 64 docs,
    and the banding is the production operator applied to 64
    signatures. Output ≤ 4 ladder rows, all-integer bp.
    """
    from ..cache import persist_tracked
    from ..functions.text import word_shingles
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures

    t = load_tables(spark, sf_dir)
    eligible = t["documents"].select(
        "doc_id", "text",
        F.array_distinct(word_shingles(F.col("text"), SHINGLE_K)).alias("sset"),
    ).where(F.size("sset") > 0)
    samp = persist_tracked(
        eligible.orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        ).limit(_LRP_PROBES)
    )  # feeds the exact-Jaccard arm AND the signature/banding arm
    ex = samp.select("doc_id", F.explode("sset").alias("s"))
    sz = samp.select("doc_id", F.size("sset").cast("long").alias("n"))
    inter = (
        ex.alias("a")
        .join(ex.alias("b"),
              (F.col("b.s") == F.col("a.s"))
              & (F.col("b.doc_id") > F.col("a.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    pairs = (
        sz.alias("sa")
        .join(sz.alias("sb"), F.col("sb.doc_id") > F.col("sa.doc_id"))
        .select(
            F.col("sa.doc_id").alias("id_a"), F.col("sb.doc_id").alias("id_b"),
            F.col("sa.n").alias("na"), F.col("sb.n").alias("nb"),
        )
        .join(inter, ["id_a", "id_b"], "left")
        .select(
            "id_a", "id_b",
            F.expr(
                "CAST(10000 * COALESCE(i, 0)"
                " DIV (na + nb - COALESCE(i, 0)) AS BIGINT)"
            ).alias("exact_bp"),
        )
    )
    sigs = minhash_signatures(
        samp, text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    )
    cand = lsh_candidate_pairs(
        sigs, id_col="doc_id", num_hashes=NUM_HASHES, bands=LSH_BANDS
    ).select("id_a", "id_b", F.lit(1).alias("hit"))
    bucket = F.when(F.col("exact_bp") < _LRP_BUCKETS[0][1], _LRP_BUCKETS[0][0])
    for name, hi in _LRP_BUCKETS[1:]:
        bucket = bucket.when(F.col("exact_bp") < hi, name)
    return (
        pairs.join(cand, ["id_a", "id_b"], "left")
        .groupBy(bucket.alias("jacc_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
            .alias("n_candidates"),
        )
        .select(
            "jacc_bucket", "n_pairs", "n_candidates",
            F.expr("CAST(10000 * n_candidates DIV n_pairs AS BIGINT)")
            .alias("candidate_bp"),
        )
    )



# ---------------------------------------------------------------------------
# LSH banding auto-tuner: pick (bands, rows) from the MEASURED S-curve
# ---------------------------------------------------------------------------

# candidate bandings over the production signature pool (b x r = 8):
# from "all hashes must agree" (1x8 — near-exact, cheapest) to "any
# hash agrees" (8x1 — max recall, max false candidates)
_TUNE_BANDINGS = ((1, 8), (2, 4), (4, 2), (8, 1))
_TUNE_TRUE_BP = 8000          # a pair is a TRUE near-dup at J >= 0.80
_TUNE_RECALL_FLOOR_BP = 9000  # require >= 90% measured recall on those
# seed pairs: stratified by signature agreement (n_match) so the sample
# covers the S-curve knee, not just the n_match=8 saturation zone — 4
# pairs per stratum for n_match in 8..5 (est J ~1.0 down to ~0.6)
_LBT_SEED_PER_STRATUM = 4
_LBT_SEED_MIN_MATCH = 5


def _tune_flag_sql(b: int, r: int) -> str:
    terms = []
    for i in range(b):
        conj = " AND ".join(
            f"sa.sig_{i * r + j} = sb.sig_{i * r + j}" for j in range(r)
        )
        terms.append(f"({conj})")
    return " OR ".join(terms)


def _lbt_ctes() -> str:
    """The shared WITH-body (sample seeding -> exact labels -> per-
    banding scores -> decision) used by BOTH the tuner oracle and the
    tuned-pairs oracle, ending in a `decision` CTE with the tuner's
    full output columns."""
    flags = ",\n         ".join(
        f"CAST({_tune_flag_sql(b, r)} AS BIGINT) AS hit_b{b}"
        for b, r in _TUNE_BANDINGS
    )
    rsig_cols = ", ".join(
        f"list_aggregate(list_transform(shingles, s -> substr(md5('{i // 4}:' || s), {8 * (i % 4) + 1}, 8)), 'min') AS sig_{i}"
        for i in range(NUM_HASHES)
    )
    bands8 = "\nUNION ALL\n".join(
        f"SELECT doc_id, {i} AS band, md5(sig_{i}) AS bucket FROM rsig"
        for i in range(NUM_HASHES)
    )
    arms = []
    for b, r in _TUNE_BANDINGS:
        arms.append(f"""
  SELECT 'b{b}r{r}' AS banding, CAST({b} AS BIGINT) AS bands,
         CAST({r} AS BIGINT) AS rows_per_band,
         CAST(SUM(CASE WHEN exact_bp >= {_TUNE_TRUE_BP} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true_pairs,
         CAST(SUM(CASE WHEN exact_bp >= {_TUNE_TRUE_BP} THEN hit_b{b} ELSE 0 END)
              AS BIGINT) AS n_true_hits,
         CAST(SUM(CASE WHEN exact_bp < {_TUNE_TRUE_BP} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_other_pairs,
         CAST(SUM(CASE WHEN exact_bp < {_TUNE_TRUE_BP} THEN hit_b{b} ELSE 0 END)
              AS BIGINT) AS n_false_candidates
  FROM j""")
    return f"""
{_shingle_cte()},
eligible AS MATERIALIZED (
  SELECT s.doc_id, list_distinct(s.shingles) AS sset, s.shingles, d.text
  FROM sh s JOIN documents d ON d.doc_id = s.doc_id
  WHERE len(s.shingles) > 0
),
reps AS MATERIALIZED (
  SELECT doc_id, sset, shingles FROM eligible
  WHERE doc_id IN (SELECT MIN(doc_id) FROM eligible GROUP BY md5(text))
),
rsig AS MATERIALIZED (SELECT doc_id, {rsig_cols} FROM reps),
bands8 AS (
{bands8}
),
cand8 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands8 a JOIN bands8 b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
seedc AS (
  SELECT c.id_a, c.id_b,
         ({" + ".join(f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END" for i in range(NUM_HASHES))})
           AS n_match
  FROM cand8 c
  JOIN rsig sa ON sa.doc_id = c.id_a
  JOIN rsig sb ON sb.doc_id = c.id_b
),
seedp AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           ROW_NUMBER() OVER (
             PARTITION BY n_match
             ORDER BY md5(CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR)),
                      id_a, id_b) AS rn
    FROM seedc WHERE n_match >= {_LBT_SEED_MIN_MATCH}
  ) WHERE rn <= {_LBT_SEED_PER_STRATUM}
),
seedd AS (
  SELECT DISTINCT doc_id FROM (
    SELECT id_a AS doc_id FROM seedp
    UNION ALL SELECT id_b AS doc_id FROM seedp)
),
fillr AS (
  SELECT r.doc_id,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(r.doc_id AS VARCHAR)),
                            r.doc_id) AS rn
  FROM reps r LEFT JOIN seedd s ON s.doc_id = r.doc_id
  WHERE s.doc_id IS NULL
),
sampids AS (
  SELECT doc_id FROM seedd
  UNION ALL
  SELECT doc_id
  FROM fillr CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM seedd)
  WHERE rn <= {_LRP_PROBES} - ns
),
samp AS MATERIALIZED (
  SELECT r.doc_id, r.sset, r.shingles
  FROM reps r JOIN sampids i ON i.doc_id = r.doc_id
),
ex AS (SELECT doc_id, unnest(sset) AS s FROM samp),
sz AS (SELECT doc_id, CAST(len(sset) AS BIGINT) AS n FROM samp),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
  FROM ex a JOIN ex b ON b.s = a.s AND b.doc_id > a.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
         CAST(10000 * COALESCE(i.i, 0)
              // (sa.n + sb.n - COALESCE(i.i, 0)) AS BIGINT) AS exact_bp
  FROM sz sa JOIN sz sb ON sb.doc_id > sa.doc_id
  LEFT JOIN inter i ON i.id_a = sa.doc_id AND i.id_b = sb.doc_id
),
spair AS (
  SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
         {flags}
  FROM rsig sa JOIN sampids ia ON ia.doc_id = sa.doc_id
  JOIN rsig sb ON sb.doc_id > sa.doc_id
  JOIN sampids ib ON ib.doc_id = sb.doc_id
),
j AS (
  SELECT p.exact_bp, s.*
  FROM pairs p JOIN spair s ON s.id_a = p.id_a AND s.id_b = p.id_b
),
arms AS ({" UNION ALL ".join(arms)}),
rates AS (
  SELECT banding, bands, rows_per_band, n_true_pairs, n_true_hits,
         n_other_pairs, n_false_candidates,
         CASE WHEN n_true_pairs = 0 THEN CAST(10000 AS BIGINT)
              ELSE CAST(10000 * n_true_hits // n_true_pairs AS BIGINT)
         END AS recall_bp,
         CASE WHEN n_other_pairs = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(10000 * n_false_candidates // n_other_pairs AS BIGINT)
         END AS false_candidate_bp
  FROM arms
),
dec AS (
  SELECT r.*, CAST(r.bands * nd.n AS BIGINT) AS est_bucket_rows,
         CAST(r.recall_bp >= {_TUNE_RECALL_FLOOR_BP} AS BIGINT) AS meets_floor
  FROM rates r
  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents) nd
),
decision AS (
  SELECT banding, bands, rows_per_band, n_true_pairs, n_true_hits,
         n_other_pairs, n_false_candidates, recall_bp, false_candidate_bp,
         est_bucket_rows, meets_floor,
         CAST(COALESCE(
           meets_floor = 1 AND false_candidate_bp * 100 + bands =
             MIN(CASE WHEN meets_floor = 1
                      THEN false_candidate_bp * 100 + bands END) OVER (),
           FALSE) AS BIGINT) AS chosen
  FROM dec
)"""


def _lbt_oracle() -> str:
    return f"""
WITH {_lbt_ctes()}
SELECT * FROM decision
"""


def _bands_sql_for(b: int, r: int, src: str = "rsig") -> str:
    selects = []
    for i in range(b):
        parts = " || '|' || ".join(f"sig_{i * r + j}" for j in range(r))
        selects.append(f"SELECT doc_id, {i} AS band, md5({parts}) AS bucket FROM {src}")
    return "\nUNION ALL\n".join(selects)


def _ltp_oracle() -> str:
    band_ctes, pair_arms = [], []
    for b, r in _TUNE_BANDINGS:
        band_ctes.append(f"bands_t{b} AS (\n{_bands_sql_for(b, r)}\n)")
        pair_arms.append(f"""
  SELECT 'b{b}r{r}' AS banding, a.doc_id AS id_a, bb.doc_id AS id_b
  FROM bands_t{b} a JOIN bands_t{b} bb
    ON a.band = bb.band AND a.bucket = bb.bucket AND a.doc_id < bb.doc_id""")
    return f"""
WITH {_lbt_ctes()},
{", ".join(band_ctes)},
allpairs AS (
  SELECT DISTINCT banding, id_a, id_b FROM ({" UNION ALL ".join(pair_arms)})
),
chosenrow AS (SELECT banding FROM decision WHERE chosen = 1)
SELECT p.banding, p.id_a, p.id_b
FROM allpairs p JOIN chosenrow c ON c.banding = p.banding
"""


def _banding_tuner_core(t) -> tuple[DataFrame, DataFrame]:
    """(rsig, decision): signatures over clone-collapsed reps and the
    4-row banding decision table — shared by `dedup_lsh_banding_tuner`
    (which returns the table) and `dedup_lsh_pairs_tuned` (which acts
    on its `chosen` row).

    Sample construction: a blind md5-rank sample contains ~zero true
    near-dup pairs (2016 of n²/2 pairs), so the sample is SEEDED from
    the candidate set at the WIDEST banding (8x1 — a J>=0.8 pair
    escapes a single-hash collision with prob (1-J)^8 < 3e-6, so the
    widest band-join sees essentially every true pair). Seeds are
    STRATIFIED by signature agreement — `_LBT_SEED_PER_STRATUM` pairs
    per n_match level down to `_LBT_SEED_MIN_MATCH` (est J ~1.0 down
    to ~0.6) — so the sample covers the S-curve's knee instead of only
    its n_match=8 saturation zone (a saturated sample scores every
    banding at 100% recall and the floor stops discriminating); then
    md5-rank fill to `_LRP_PROBES` docs.
    """
    from pyspark.sql.window import Window

    from ..cache import persist_tracked
    from ..functions.text import word_shingles
    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures
    from ..session import suggest_shuffle_partitions

    # Cached plans keep their pre-AQE output partitioning (AQE's
    # final-stage coalescing is off for InMemoryRelations by default),
    # so without this the persisted corpus relations pin
    # initialPartitionNum=256 reduce tasks and EVERY downstream stage
    # pays 256-task scheduling for a 500-row SF. Size them from the
    # scan bytes instead — data-derived, so the same code gets
    # thousands of partitions at 100 TB (VERDICT r11 item 2).
    nparts = suggest_shuffle_partitions(t["documents"])
    eligible = t["documents"].select(
        "doc_id", "text",
        F.array_distinct(word_shingles(F.col("text"), SHINGLE_K)).alias("sset"),
    ).where(F.size("sset") > 0)
    rep_ids = eligible.groupBy(F.md5("text").alias("__fp")).agg(
        F.min("doc_id").alias("doc_id")
    ).select("doc_id")
    reps = persist_tracked(eligible.join(rep_ids, "doc_id").coalesce(nparts))
    rsig = persist_tracked(minhash_signatures(
        reps, text_col="text", id_col="doc_id",
        num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
    ).coalesce(nparts))  # feeds the widest-banding seed join AND the flag arm
    cand8 = lsh_candidate_pairs(
        rsig, id_col="doc_id", num_hashes=NUM_HASHES, bands=NUM_HASHES
    )
    n_match = None
    for i in range(NUM_HASHES):
        term = F.when(
            F.col(f"sa.sig_{i}") == F.col(f"sb.sig_{i}"), 1
        ).otherwise(0)
        n_match = term if n_match is None else (n_match + term)
    seedc = (
        cand8.join(rsig.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(rsig.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .select("id_a", "id_b", n_match.alias("n_match"))
    )
    w_stratum = Window.partitionBy("n_match").orderBy(
        F.md5(F.concat(F.col("id_a").cast("string"), F.lit(":"),
                       F.col("id_b").cast("string"))),
        F.col("id_a"), F.col("id_b"),
    )
    seedp = (
        seedc.where(F.col("n_match") >= _LBT_SEED_MIN_MATCH)
        .withColumn("rn", F.row_number().over(w_stratum))
        .where(F.col("rn") <= _LBT_SEED_PER_STRATUM)
    )
    seedd = persist_tracked(
        seedp.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
        .distinct()
    )
    n_seed = seedd.count()  # parameter-sized scalar
    fill = (
        reps.join(seedd, "doc_id", "left_anti")
        .select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        .limit(max(0, _LRP_PROBES - n_seed))
    )  # TakeOrdered — no global sort; max(0,..) degrades like the
    # oracle's `rn <= 64 - ns` empty fill if seeds ever exceed the
    # probe budget (ADVICE r11 item 1)
    sampids = seedd.unionByName(fill)
    # ONE fused pair pass over the sample (VERDICT r11 item 2): the
    # exact-Jaccard labels and all four banding hit flags used to ride
    # three separate sample joins (shingle-explode equi-join + two
    # NLJs) re-joined pairwise — and the NLJs were CartesianProducts
    # of two 256-partition cached sides, i.e. a 65,536-task stage for
    # 2016 pairs. `samp` is <= _LRP_PROBES = 64 rows FOREVER (fixed
    # diagnostic budget), so repartition(1) is the scale-correct
    # shape: the self-join is 1 task, exact_bp comes from
    # array_intersect over the distinct shingle sets (same count the
    # oracle's unnest-join aggregates), and the flags are the same
    # boolean expressions over the 8 signature slots.
    samp = persist_tracked(
        reps.join(sampids, "doc_id")
        .join(rsig, "doc_id")
        .select("doc_id", "sset", *[f"sig_{i}" for i in range(NUM_HASHES)])
        .repartition(1)
    )
    flag_cols = []
    for b, r in _TUNE_BANDINGS:
        hit = None
        for i in range(b):
            conj = None
            for jj in range(r):
                c = F.col(f"sa.sig_{i * r + jj}") == F.col(f"sb.sig_{i * r + jj}")
                conj = c if conj is None else (conj & c)
            hit = conj if hit is None else (hit | conj)
        flag_cols.append(
            F.when(hit, 1).otherwise(0).cast("long").alias(f"hit_b{b}")
        )
    jj_ = (
        samp.alias("sa")
        .join(samp.alias("sb"), F.col("sb.doc_id") > F.col("sa.doc_id"))
        .select(
            F.col("sa.doc_id").alias("id_a"), F.col("sb.doc_id").alias("id_b"),
            F.size(F.array_intersect("sa.sset", "sb.sset"))
            .cast("long").alias("i"),
            F.size("sa.sset").cast("long").alias("na"),
            F.size("sb.sset").cast("long").alias("nb"),
            *flag_cols,
        )
        .select(
            "id_a", "id_b",
            F.expr("CAST(10000 * i DIV (na + nb - i) AS BIGINT)")
            .alias("exact_bp"),
            *[F.col(f"hit_b{b}") for b, _ in _TUNE_BANDINGS],
        )
    )
    aggs = [
        F.sum(F.when(F.col("exact_bp") >= _TUNE_TRUE_BP, 1).otherwise(0))
        .cast("long").alias("n_true_pairs"),
        F.sum(F.when(F.col("exact_bp") < _TUNE_TRUE_BP, 1).otherwise(0))
        .cast("long").alias("n_other_pairs"),
    ]
    for b, _ in _TUNE_BANDINGS:
        aggs += [
            F.sum(F.when(F.col("exact_bp") >= _TUNE_TRUE_BP,
                         F.col(f"hit_b{b}")).otherwise(0))
            .cast("long").alias(f"__th_{b}"),
            F.sum(F.when(F.col("exact_bp") < _TUNE_TRUE_BP,
                         F.col(f"hit_b{b}")).otherwise(0))
            .cast("long").alias(f"__fc_{b}"),
        ]
    one = jj_.agg(*aggs).crossJoin(
        t["documents"].agg(F.count(F.lit(1)).cast("long").alias("__nd"))
    )
    ladder = F.array(*[
        F.struct(
            F.lit(f"b{b}r{r}").alias("banding"),
            F.lit(b).cast("long").alias("bands"),
            F.lit(r).cast("long").alias("rows_per_band"),
            F.col(f"__th_{b}").alias("n_true_hits"),
            F.col(f"__fc_{b}").alias("n_false_candidates"),
        )
        for b, r in _TUNE_BANDINGS
    ])
    rates = one.select(
        "n_true_pairs", "n_other_pairs", "__nd", F.explode(ladder).alias("x")
    ).select(
        F.col("x.banding").alias("banding"),
        F.col("x.bands").alias("bands"),
        F.col("x.rows_per_band").alias("rows_per_band"),
        "n_true_pairs",
        F.col("x.n_true_hits").alias("n_true_hits"),
        "n_other_pairs",
        F.col("x.n_false_candidates").alias("n_false_candidates"),
        F.expr(
            "CASE WHEN n_true_pairs = 0 THEN CAST(10000 AS BIGINT)"
            " ELSE CAST(10000 * x.n_true_hits DIV n_true_pairs AS BIGINT) END"
        ).alias("recall_bp"),
        F.expr(
            "CASE WHEN n_other_pairs = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST(10000 * x.n_false_candidates DIV n_other_pairs"
            " AS BIGINT) END"
        ).alias("false_candidate_bp"),
        (F.col("x.bands") * F.col("__nd")).cast("long")
        .alias("est_bucket_rows"),
    ).withColumn(
        "meets_floor",
        (F.col("recall_bp") >= _TUNE_RECALL_FLOOR_BP).cast("long"),
    )
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ck = F.col("false_candidate_bp") * 100 + F.col("bands")
    min_ck = F.min(F.when(F.col("meets_floor") == 1, ck)).over(w_all)
    decision = rates.select(
        "banding", "bands", "rows_per_band", "n_true_pairs", "n_true_hits",
        "n_other_pairs", "n_false_candidates", "recall_bp",
        "false_candidate_bp", "est_bucket_rows", "meets_floor",
        F.coalesce(
            ((F.col("meets_floor") == 1) & (ck == min_ck)).cast("long"),
            F.lit(0),
        ).alias("chosen"),
    )
    return rsig, decision


@register("dedup_lsh_banding_tuner", oracle=_lbt_oracle(),
          description="evidence-based banding pick: measured recall and "
                      "false-candidate rate per candidate (bands, rows) on "
                      "a stratified near-dup-seeded probe sample; cheapest "
                      "banding meeting the recall floor is flagged chosen")
def dedup_lsh_banding_tuner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Makes the banding choice EVIDENCE-BASED (VERDICT r10 item 4):
    `dedup_lsh_recall_probe` measures the S-curve at the production
    banding only; this scores EVERY candidate banding of the signature
    pool (b x r = NUM_HASHES: 1x8 / 2x4 / 4x2 / 8x1) on a fixed
    stratified probe sample (:func:`_banding_tuner_core`), with every
    pair exact-Jaccard-labelled. Per banding: measured recall on true
    near-dups (J >= 0.80), measured false-candidate rate on the rest,
    and the planner's bucket-row cost (bands x corpus docs — the rows
    the banded shuffle materializes). The `chosen` row is the cheapest
    banding — fewest false candidates, ties to fewer bands (less
    shuffle) — whose MEASURED recall clears the 90% floor; an empty
    true-pair sample passes the floor vacuously on both engines. On
    the synthetic corpus the verdicts differ by SF (sf0.001 → 2x4 at
    100% measured recall; sf0.01 → 4x2, because 2x4 measures 89%) —
    exactly the data-dependence a theoretical S-curve cannot see.

    A banding (b, r) makes a pair a candidate iff some band's r
    signature slots all agree — evaluated as a pure boolean expression
    over the pair join of the 64 sampled signatures, so all four
    bandings are scored in ONE pass with zero extra shuffles.

    Shape at 100 TB: clone-collapse then one signature pass over reps
    (both shared with the production dedup path); the seed enumeration
    is the bounded-diagnostic pair join at (8,1) over DISTINCT-text
    reps (the dedup_lsh_pairs discipline) with a stratum window over
    the NUM_HASHES - _LBT_SEED_MIN_MATCH + 1 = 4 n_match levels
    (ADVICE r11 item 4); the fill is a TakeOrdered; everything after
    is 64-doc-sized — ONE fused 1-task pair pass scores exact Jaccard
    (array_intersect over the distinct shingle sets) and all four
    banding flags together, replacing three separate sample joins
    whose NLJs were 256x256 CartesianProducts (a 65,536-task stage
    for 2016 pairs). The decision windows run over the 4-row ladder.
    """
    t = load_tables(spark, sf_dir)
    _, decision = _banding_tuner_core(t)
    return decision


@register("dedup_lsh_pairs_tuned", oracle=_ltp_oracle(),
          description="near-dup candidate pairs at the banding the tuner "
                      "chose: the decision table acted on, not just printed")
def dedup_lsh_pairs_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acts on the tuner's verdict: run :func:`_banding_tuner_core`,
    read the `chosen` row (ladder-sized, collected driver-side like
    every planner in this repo), and enumerate LSH candidate pairs
    over the clone-collapsed reps at THAT banding via the production
    `lsh_candidate_pairs` path. Every
    row carries the winning banding label so downstream exact-verify
    stages know which operating point produced their candidates.

    Refusal semantics: when NO banding clears the measured-recall
    floor the result is EMPTY (the planner refuses to pick a least-bad
    rung), and the oracle's
    chosen-row join yields the same empty relation.

    Shape at 100 TB: the tuner's fixed-budget sample plus ONE banded
    bucket join at the chosen operating point — the same cost as
    running dedup_lsh_pairs once, but at a banding justified by
    measured recall instead of folklore.
    """
    from ..operators.dedup import lsh_candidate_pairs

    t = load_tables(spark, sf_dir)
    rsig, decision = _banding_tuner_core(t)
    chosen = [r for r in decision.collect() if r["chosen"] == 1]
    if not chosen:
        return spark.createDataFrame(
            [], "banding string, id_a long, id_b long"
        )
    b = int(chosen[0]["bands"])
    r = int(chosen[0]["rows_per_band"])
    return lsh_candidate_pairs(
        rsig, id_col="doc_id", num_hashes=NUM_HASHES, bands=b
    ).select(
        F.lit(f"b{b}r{r}").alias("banding"),
        F.col("id_a"), F.col("id_b"),
    )


def _ltg_oracle() -> str:
    band_ctes, group_arms = [], []
    for b, r in _TUNE_BANDINGS:
        # each bands_t CTE is read twice per arm (bucket reps + member
        # join) — MATERIALIZED, or DuckDB inlines the whole signature
        # pipeline once per reference
        band_ctes.append(
            f"bands_g{b} AS MATERIALIZED (\n{_bands_sql_for(b, r)}\n)"
        )
        group_arms.append(f"""
  SELECT 'b{b}r{r}' AS banding, m.doc_id,
         CAST(MIN(rp.bucket_rep) AS BIGINT) AS group_rep
  FROM bands_g{b} m
  JOIN (SELECT band, bucket, CAST(MIN(doc_id) AS BIGINT) AS bucket_rep
        FROM bands_g{b} GROUP BY band, bucket) rp
    ON m.band = rp.band AND m.bucket = rp.bucket
  GROUP BY 1, 2""")
    return f"""
WITH {_lbt_ctes()},
{", ".join(band_ctes)},
allgroups AS ({" UNION ALL ".join(group_arms)}),
chosenrow AS (SELECT banding FROM decision WHERE chosen = 1)
SELECT g.banding, g.doc_id, g.group_rep
FROM allgroups g JOIN chosenrow c ON c.banding = g.banding
"""


@register("dedup_lsh_groups_tuned", oracle=_ltg_oracle(),
          description="LSH dedup cluster assignment at the banding the "
                      "tuner chose: the evidence-based operating point on "
                      "the LINEAR production dedup path")
def dedup_lsh_groups_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extends the tuner's verdict to the path 100 TB dedup actually
    routes through (VERDICT r11 item 3): `dedup_lsh_pairs_tuned` acts
    on `chosen` for PAIR ENUMERATION — the bounded diagnostic — but
    production dedup uses the group-assignment form
    (:func:`~..operators.dedup.lsh_dedup_groups`), linear in docs x
    bands and immune to O(c²) clone-cluster blowup (the clone-collapse
    gate's own recommendation). This runs that linear form over the
    clone-collapsed reps at the banding the measured-recall tuner
    chose, labelling every row with the winning banding.

    Refusal semantics: identical to `dedup_lsh_pairs_tuned` — when NO
    banding clears the measured-recall floor the result is EMPTY,
    mirrored by the oracle's
    chosen-row join.

    Shape at 100 TB: the tuner's fixed-budget sample (64 docs forever)
    plus ONE banded bucket min-propagation at the chosen operating
    point — two keyed shuffles (bucket reps, doc regroup), never a
    pair explosion.
    """
    from ..operators.dedup import lsh_dedup_groups

    t = load_tables(spark, sf_dir)
    rsig, decision = _banding_tuner_core(t)
    chosen = [r for r in decision.collect() if r["chosen"] == 1]
    if not chosen:
        return spark.createDataFrame(
            [], "banding string, doc_id long, group_rep long"
        )
    b = int(chosen[0]["bands"])
    r = int(chosen[0]["rows_per_band"])
    return lsh_dedup_groups(
        rsig, id_col="doc_id", num_hashes=NUM_HASHES, bands=b
    ).select(
        F.lit(f"b{b}r{r}").alias("banding"),
        F.col("doc_id"), F.col("group_rep"),
    )


# ---------------------------------------------------------------------------
# end-to-end curation pipeline at tuned settings
# ---------------------------------------------------------------------------

# gate thresholds: chosen so every SQL-decidable stage is non-trivial
# on the synthetic corpus (token floor cuts the short tail, the lang
# gate drops the 'de'-marker docs, the quality gate cuts low-TTR /
# stopword-heavy docs) — all integer-exact on both engines
_CUR_MIN_TOKENS = 20
_CUR_TARGET_LANG = "en"
_CUR_MIN_TTR_BP = 3500     # type-token ratio floor, basis points
_CUR_MAX_STOP_BP = 1500    # stopword-ratio ceiling, basis points
_CUR_STAGES = (
    "ingest", "length_gate", "lang_gate", "quality_gate",
    "exact_dedup", "near_dedup_tuned", "decontaminate",
)


def _cur_flags_ctes() -> str:
    """The shared WITH-body computing the per-doc survival flags
    f1..f6 (ends in a `flags6` CTE) — used by BOTH the funnel oracle
    (`curation_pipeline_tuned`) and the row-level verdict oracle
    (`curation_doc_verdicts`), so the two reports can never drift."""
    langs = sorted(_LANG_MARKERS)
    score_cols = ",\n         ".join(
        "CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ("
        + ", ".join(f"'{m}'" for m in _LANG_MARKERS[lang])
        + f"))) AS BIGINT) AS s_{lang}"
        for lang in langs
    )
    m = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = (
        "CASE "
        + " ".join(f"WHEN s_{l} = {m} THEN '{l}'" for l in langs[:-1])
        + f" ELSE '{langs[-1]}' END"
    )
    ssig_cols = ", ".join(
        f"list_aggregate(list_transform(shingles, s -> substr(md5('{i // 4}:' || s), {8 * (i % 4) + 1}, 8)), 'min') AS sig_{i}"
        for i in range(NUM_HASHES)
    )
    band_ctes, group_arms = [], []
    for b, r in _TUNE_BANDINGS:
        band_ctes.append(
            f"bands_c{b} AS MATERIALIZED (\n{_bands_sql_for(b, r, src='ssig')}\n)"
        )
        group_arms.append(f"""
  SELECT 'b{b}r{r}' AS banding, m.doc_id,
         CAST(MIN(rp.bucket_rep) AS BIGINT) AS group_rep
  FROM bands_c{b} m
  JOIN (SELECT band, bucket, CAST(MIN(doc_id) AS BIGINT) AS bucket_rep
        FROM bands_c{b} GROUP BY band, bucket) rp
    ON m.band = rp.band AND m.bucket = rp.bucket
  GROUP BY 1, 2""")
    return f"""{_lbt_ctes()},
base AS MATERIALIZED (
  SELECT doc_id, text,
         CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(trim(text), ' '))) AS BIGINT) AS n_distinct,
         CAST(len(list_filter(string_split(trim(text), ' '), w -> w IN ({", ".join(f"'{w}'" for w in _STOPWORDS)}))) AS BIGINT) AS n_stop,
         {score_cols},
         md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
  FROM documents
),
flags3 AS MATERIALIZED (
  SELECT doc_id, n_tokens, fp,
         CAST(n_tokens >= {_CUR_MIN_TOKENS} AS BIGINT) AS f1,
         CAST(n_tokens >= {_CUR_MIN_TOKENS}
              AND {pred} = '{_CUR_TARGET_LANG}' AS BIGINT) AS f2,
         CAST(n_tokens >= {_CUR_MIN_TOKENS}
              AND {pred} = '{_CUR_TARGET_LANG}'
              AND 10000 * n_distinct // n_tokens >= {_CUR_MIN_TTR_BP}
              AND 10000 * n_stop // n_tokens <= {_CUR_MAX_STOP_BP}
              AS BIGINT) AS f3
  FROM base
),
keep4 AS (
  SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id
  FROM flags3 WHERE f3 = 1 GROUP BY fp
),
flags4 AS MATERIALIZED (
  SELECT f.*, CAST(k.doc_id IS NOT NULL AS BIGINT) AS f4
  FROM flags3 f LEFT JOIN keep4 k ON k.doc_id = f.doc_id
),
ssh AS (
  SELECT s.doc_id, s.shingles
  FROM sh s JOIN flags4 v ON v.doc_id = s.doc_id AND v.f4 = 1
  WHERE len(s.shingles) > 0
),
ssig AS MATERIALIZED (SELECT doc_id, {ssig_cols} FROM ssh),
{", ".join(band_ctes)},
chosenrow AS (SELECT banding FROM decision WHERE chosen = 1),
allgroups AS ({" UNION ALL ".join(group_arms)}),
dupm AS (
  SELECT DISTINCT g.doc_id
  FROM allgroups g JOIN chosenrow c ON c.banding = g.banding
  WHERE g.doc_id <> g.group_rep
),
flags5 AS (
  SELECT f.*, CAST(f.f4 = 1 AND dm.doc_id IS NULL AS BIGINT) AS f5
  FROM flags4 f LEFT JOIN dupm dm ON dm.doc_id = f.doc_id
),
exd AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
bench_set AS (SELECT DISTINCT s FROM exd WHERE doc_id < 10),
contam AS (
  SELECT e.doc_id FROM exd e JOIN bench_set b ON e.s = b.s
  WHERE e.doc_id >= 10
  GROUP BY 1 HAVING COUNT(*) >= {_CONTAM_MIN_OVERLAP}
),
flags6 AS (
  SELECT f.*, CAST(f.f5 = 1 AND f.doc_id >= 10 AND c.doc_id IS NULL
                   AS BIGINT) AS f6
  FROM flags5 f LEFT JOIN contam c ON c.doc_id = f.doc_id
)"""


def _cur_oracle() -> str:
    stage_rows = ",\n    ".join(
        f"(CAST({i} AS BIGINT), '{s}')" for i, s in enumerate(_CUR_STAGES)
    )
    return f"""
WITH {_cur_flags_ctes()},
funnel AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0, CAST(SUM(n_tokens) AS BIGINT) AS tok0,
         {", ".join(f"CAST(SUM(f{i}) AS BIGINT) AS n{i}, CAST(SUM(f{i} * n_tokens) AS BIGINT) AS tok{i}" for i in range(1, 7))}
  FROM flags6
),
stages(stage_idx, stage) AS (VALUES
    {stage_rows}
)
SELECT s.stage_idx, s.stage,
       CASE s.stage_idx {" ".join(f"WHEN {i} THEN n{max(i - 1, 0)}" for i in range(7))} END AS docs_in,
       CASE s.stage_idx {" ".join(f"WHEN {i} THEN n{i}" for i in range(7))} END AS docs_out,
       CASE s.stage_idx {" ".join(f"WHEN {i} THEN n{max(i - 1, 0)} - n{i}" for i in range(7))} END AS removed,
       CASE s.stage_idx {" ".join(f"WHEN {i} THEN tok{i}" for i in range(7))} END AS tokens_out
FROM stages s CROSS JOIN funnel
"""


def _cur_verdicts_oracle() -> str:
    return f"""
WITH {_cur_flags_ctes()}
SELECT doc_id, n_tokens,
       CASE WHEN f6 = 1 THEN 'kept'
            WHEN f5 = 1 THEN 'decontaminate'
            WHEN f4 = 1 THEN 'near_dedup_tuned'
            WHEN f3 = 1 THEN 'exact_dedup'
            WHEN f2 = 1 THEN 'quality_gate'
            WHEN f1 = 1 THEN 'lang_gate'
            ELSE 'length_gate' END AS verdict
FROM flags6
"""


def _curation_flags_df(spark: SparkSession, t) -> DataFrame:
    """Per-doc survival flags f1..f6 (+ n_tokens) — the Spark twin of
    `_cur_flags_ctes()`, shared by the funnel report and the row-level
    verdict list so the two can never drift. ONE corpus scan computes
    every gate signal; the stage sets come back as keyed equi-joins on
    doc_id (exact-dedup reps, tuned-LSH dup members, contamination
    hits — each aggregate-sized or smaller)."""
    from ..functions.text import word_shingles
    from ..operators.dedup import lsh_dedup_groups

    docs = t["documents"]
    toks = tokens(F.col("text"))
    sw_stop = F.array(*[F.lit(w) for w in _STOPWORDS])

    def _marker_hits(markers: tuple[str, ...]):
        # closure factory: a default-arg lambda would read as a
        # TWO-parameter (element, index) higher-order-function lambda
        sw = F.array(*[F.lit(w) for w in markers])
        return F.size(
            F.filter(toks, lambda w: F.array_contains(sw, w))
        ).cast("long")

    scores = {
        lang: _marker_hits(markers)
        for lang, markers in _LANG_MARKERS.items()
    }
    langs = sorted(_LANG_MARKERS)
    m = F.greatest(*[scores[l] for l in langs])
    pred = F
    for lang in langs[:-1]:
        pred = pred.when(scores[lang] == m, F.lit(lang))
    pred = pred.otherwise(F.lit(langs[-1]))

    base = docs.select(
        "doc_id", "text",
        token_count(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.size(F.filter(toks, lambda w: F.array_contains(sw_stop, w)))
        .cast("long").alias("n_stop"),
        pred.alias("pred_lang"),
        doc_fingerprint(F.col("text")).alias("fp"),
    )
    ttr_bp = F.expr("CAST(10000 * n_distinct DIV n_tokens AS BIGINT)")
    stop_bp = F.expr("CAST(10000 * n_stop DIV n_tokens AS BIGINT)")
    f1 = F.col("n_tokens") >= _CUR_MIN_TOKENS
    f2 = f1 & (F.col("pred_lang") == _CUR_TARGET_LANG)
    f3 = f2 & (ttr_bp >= _CUR_MIN_TTR_BP) & (stop_bp <= _CUR_MAX_STOP_BP)
    flagged3 = persist_tracked(base.select(
        "doc_id", "text", "n_tokens", "fp",
        f1.cast("long").alias("f1"),
        f2.cast("long").alias("f2"),
        f3.cast("long").alias("f3"),
    ))
    flagged = flagged3

    keep4 = (
        flagged.where(F.col("f3") == 1)
        .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(1).alias("__k4"))
    )
    # no second persist: caching this join would duplicate the corpus
    # text in executor memory; its two consumers (survivor signatures,
    # the final flag relation) each re-derive it from the ONE cached
    # flag relation plus a doc_id-keyed join
    flagged = (
        flagged.join(keep4, "doc_id", "left")
        .withColumn("f4", F.col("__k4").isNotNull().cast("long"))
        .drop("__k4")
    )

    _, decision = _banding_tuner_core(t)
    chosen = [r for r in decision.collect() if r["chosen"] == 1]
    if chosen:
        b = int(chosen[0]["bands"])
        surv4 = flagged.where(F.col("f4") == 1).select("doc_id", "text")
        ssig = minhash_signatures(
            surv4, text_col="text", id_col="doc_id",
            num_hashes=NUM_HASHES, shingle_k=SHINGLE_K,
        )
        dup_ids = (
            lsh_dedup_groups(
                ssig, id_col="doc_id", num_hashes=NUM_HASHES, bands=b
            )
            .where(F.col("group_rep") != F.col("doc_id"))
            .select("doc_id", F.lit(1).alias("__d5"))
        )
    else:  # refusal: the stage is a no-op, mirrored by the oracle's
        # empty chosen-row join
        dup_ids = spark.createDataFrame([], "doc_id long, __d5 int")
    flagged = flagged.join(dup_ids, "doc_id", "left").withColumn(
        "f5", ((F.col("f4") == 1) & F.col("__d5").isNull()).cast("long")
    ).drop("__d5")

    # shingle off the CACHED flag relation (it carries text) instead of
    # re-scanning the corpus parquet a third time; flagged3, not the
    # joined chain, so the explode doesn't drag the stage joins along
    exd = flagged3.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(F.col("text"), SHINGLE_K))
        ).alias("s"),
    )
    bench = exd.where(F.col("doc_id") < 10).select("s").distinct()
    contam = (
        exd.where(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("__ns"))
        .where(F.col("__ns") >= _CONTAM_MIN_OVERLAP)
        .select("doc_id", F.lit(1).alias("__c6"))
    )
    return flagged.join(contam, "doc_id", "left").withColumn(
        "f6",
        ((F.col("f5") == 1) & (F.col("doc_id") >= 10)
         & F.col("__c6").isNull()).cast("long"),
    ).drop("__c6")


@register("curation_pipeline_tuned", oracle=_cur_oracle(),
          description="end-to-end training-data curation funnel at tuned "
                      "settings: length -> lang -> quality -> exact dedup -> "
                      "tuner-chosen LSH near-dedup -> decontamination")
def curation_pipeline_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composition the registry's curation operators exist FOR,
    run end-to-end at evidence-based settings: a document either
    survives all six gates into the training set or the funnel says
    exactly which stage removed it. Complements (does not duplicate)
    `corpus_filter_funnel` (repetition-rule ablation) and
    `corpus_curation_pipeline` (repetition -> exact dedup -> sequence
    packing): this is the NEAR-dedup composition, with the LSH stage
    running at the banding `dedup_lsh_banding_tuner` chose from
    measured recall. Stages (each applied to the previous stage's
    survivors):

    1. length_gate   — >= _CUR_MIN_TOKENS whitespace tokens;
    2. lang_gate     — stopword-profile argmax == target language
                       (`text_lang_id` semantics, tie -> lexicographic);
    3. quality_gate  — integer-exact TTR floor + stopword-ratio
                       ceiling in basis points (the `text_quality_score`
                       signals, composed as a gate without its
                       float rounding);
    4. exact_dedup   — keep MIN doc_id per normalized-content
                       fingerprint (`dedup_exact` semantics);
    5. near_dedup_tuned — LSH group assignment over the SURVIVORS at
                       the banding `dedup_lsh_banding_tuner` chose from
                       measured recall; keep group reps; docs too short
                       to shingle carry no near-dup evidence and pass.
                       On tuner refusal the stage is a no-op on BOTH
                       engines (refuse, don't guess);
    6. decontaminate — drop the eval holdout (doc_id < 10) and any
                       survivor sharing >= _CONTAM_MIN_OVERLAP distinct
                       shingles with it (`text_contamination_check`).

    Output: one row per stage with docs_in/docs_out/removed and
    tokens_out — the ladder-sized curation report (7 rows), every cell
    a BIGINT so the hash gate is exact.

    Shape at 100 TB: ONE corpus scan computes every per-doc gate
    signal (tokens, lang scores, quality ints, fingerprint); the
    stage sets come back as keyed equi-joins on doc_id (exact-dedup
    reps, tuned-LSH dup members, contamination hits — each
    aggregate-sized or smaller); the tuner rides its fixed 64-doc
    sample; near-dedup is the linear group-assignment form over
    survivors (two keyed shuffles, never a pair explosion); the bench
    side of decontamination is a broadcast semi-join. The funnel
    itself is ONE aggregate over the flag columns exploded into 7
    rows — no per-stage rescans.
    """
    t = load_tables(spark, sf_dir)
    flagged = _curation_flags_df(spark, t)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("n_tokens").cast("long").alias("tok0"),
    ]
    for i in range(1, 7):
        aggs += [
            F.sum(f"f{i}").cast("long").alias(f"n{i}"),
            F.sum(F.col(f"f{i}") * F.col("n_tokens")).cast("long")
            .alias(f"tok{i}"),
        ]
    one = flagged.agg(*aggs)
    ladder = F.array(*[
        F.struct(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(s).alias("stage"),
            F.col(f"n{max(i - 1, 0)}").alias("docs_in"),
            F.col(f"n{i}").alias("docs_out"),
            F.col(f"tok{i}").alias("tokens_out"),
        )
        for i, s in enumerate(_CUR_STAGES)
    ])
    return one.select(F.explode(ladder).alias("x")).select(
        F.col("x.stage_idx").alias("stage_idx"),
        F.col("x.stage").alias("stage"),
        F.col("x.docs_in").alias("docs_in"),
        F.col("x.docs_out").alias("docs_out"),
        (F.col("x.docs_in") - F.col("x.docs_out")).alias("removed"),
        F.col("x.tokens_out").alias("tokens_out"),
    )


@register("curation_doc_verdicts", oracle=_cur_verdicts_oracle(),
          description="row-level curation verdicts: per document, 'kept' or "
                      "the exact stage that removed it — the keep-list plus "
                      "removal provenance the funnel report summarizes")
def curation_doc_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operational artifact of `curation_pipeline_tuned`: where the
    funnel aggregates counts, this returns the per-document decision —
    `kept` for training-set members, otherwise the FIRST stage that
    removed the doc (length_gate / lang_gate / quality_gate /
    exact_dedup / near_dedup_tuned / decontaminate). Downstream
    consumers join the keep-list to the corpus for training reads and
    audit the removals by reason; both reports derive from ONE shared
    flag computation (`_curation_flags_df` / `_cur_flags_ctes`) so
    they cannot disagree.

    Shape at 100 TB: identical to the funnel's (the flags ARE the
    work); the verdict is a flag-ordered CASE over the per-doc flag
    row — no extra shuffle, output linear in docs like any per-doc
    scoring query.
    """
    t = load_tables(spark, sf_dir)
    flagged = _curation_flags_df(spark, t)
    verdict = (
        F.when(F.col("f6") == 1, F.lit("kept"))
        .when(F.col("f5") == 1, F.lit("decontaminate"))
        .when(F.col("f4") == 1, F.lit("near_dedup_tuned"))
        .when(F.col("f3") == 1, F.lit("exact_dedup"))
        .when(F.col("f2") == 1, F.lit("quality_gate"))
        .when(F.col("f1") == 1, F.lit("lang_gate"))
        .otherwise(F.lit("length_gate"))
    )
    return flagged.select("doc_id", "n_tokens", verdict.alias("verdict"))
