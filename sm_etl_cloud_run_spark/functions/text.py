"""Text-analysis column functions for the large-scale pipeline layer.

These back the documents-table operators (token counting, quality
scoring, language ID, fingerprinting, shingling for MinHash/Jaccard
dedup). All JVM-side expressions — at 100 TB the text columns never
cross into Python.

Determinism note: shingle/fingerprint hashing uses ``md5`` (not
``xxhash64``) so the DuckDB oracle can compute byte-identical values.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(col: Column) -> Column:
    """Single-space tokenization → array<string>, with EXACT SQL
    `string_split(trim(col), ' ')` semantics — including the edge that
    empty/whitespace-only text yields `['']` (one empty token), never
    `[]`.

    This parity is a correctness contract, not an accident: every
    documents-family oracle tokenizes with `string_split`, and a
    special empty→[] case on the Spark side made seven queries diverge
    (row counts, 0-token divisions going NULL/NaN) the moment a
    hostile empty-text row appeared (tests/test_encoding_chaos.py
    locks this in). A side benefit: `n_tokens` is always ≥ 1, so
    per-token ratios can never divide by zero on either engine.
    """
    return F.split(F.trim(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col)).cast("long")


def normalized_text(col: Column) -> Column:
    """Lowercase, strip non-alphanumerics — canonical form for fingerprints."""
    return F.regexp_replace(F.lower(col), r"[^a-z0-9]", "")


def doc_fingerprint(col: Column) -> Column:
    """Content fingerprint: md5 of the normalized text."""
    return F.md5(normalized_text(col))


def word_shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles as array<string> (space-joined windows).

    Built by zipping k shifted slices of the token array —
    `zip(toks[1:n-k+1], toks[2:...], ...)` — then joining each struct.
    ~10× faster than indexing with `element_at` inside a `transform`
    (dynamic array indexing is the interpreted slow path). Docs shorter
    than k words yield an empty array (slice length clamps to 0).

    NOTE the inlined token expression is referenced 2k+1 times (k
    slices × 2 plus the size), and a Generate/explode consumer gets no
    common-subexpression elimination — so hot paths should materialize
    the token array in a projection first and call
    :func:`word_shingles_from_tokens` on the column (r12: the MinHash
    explode re-ran `split(trim(text))` 7× per row before that).
    """
    return word_shingles_from_tokens(tokens(col), k)


def word_shingles_from_tokens(toks: Column, k: int = 3) -> Column:
    """`word_shingles` over an ALREADY-tokenized array column — use when
    the token array is materialized once in a projection so the split
    is not re-evaluated per slice reference (same output, same oracle:
    shingle text is identical either way)."""
    n_shingles = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    slices = [F.slice(toks, j + 1, n_shingles).alias(f"t{j}") for j in range(k)]
    zipped = F.arrays_zip(*slices)
    return F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"t{j}"] for j in range(k)]))


def exploded_shingles(
    docs: DataFrame,
    k: int,
    *,
    distinct: bool = False,
    alias: str = "s",
) -> DataFrame:
    """(doc_id, shingle) rows of a (doc_id, text) relation: tokenize in
    a projection BELOW the explode, then explode the k-word shingles
    (optionally distinct per doc).

    The single shared spelling of the hot shingle-explode shape so every
    call site gets the materialized-token fix (see
    :func:`word_shingles`'s note) instead of re-splitting per slice
    reference inside the Generate."""
    arr = word_shingles_from_tokens(F.col("__toks"), k)
    if distinct:
        arr = F.array_distinct(arr)
    return docs.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__toks")
    ).select(F.col("doc_id"), F.explode(arr).alias(alias))
