"""Operator-level tests: filters, joins, dedup, similarity, windows, text."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.functions.text import token_count, word_shingles
from sm_etl_cloud_run_spark.operators import filters, joins
from sm_etl_cloud_run_spark.operators.aggregates import null_counts
from sm_etl_cloud_run_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from sm_etl_cloud_run_spark.operators.reshape import harmonize_columns, union_harmonized
from sm_etl_cloud_run_spark.operators.similarity import brute_force_topk, lsh_topk
from sm_etl_cloud_run_spark.operators.windows import sessionize


def test_panel_semi_join_no_duplication(spark):
    fact = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    panel = spark.createDataFrame([(1,), (1,), (3,)], "pk int")  # repeated key
    out = filters.panel_semi_join(fact, panel, "k", "pk").collect()
    assert sorted(r["k"] for r in out) == [1, 3]


def test_composite_condition_or_semantics(spark):
    df = spark.createDataFrame(
        [("70", "X", "Z"), ("00", "F20", "Z"), ("00", "X", "2515"), ("00", "X", "Z")],
        "tp string, cid string, cbo string",
    )
    cond = filters.composite_condition(
        equals=[(F.col("tp"), "70")],
        prefixes=[(F.col("cid"), ["F"])],
        isin=[(F.col("cbo"), ["2515"])],
    )
    assert df.where(cond).count() == 3


def test_null_when(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "a int, b string")
    out = filters.null_when(df, F.col("a") == 1, "b").orderBy("a").collect()
    assert [r["b"] for r in out] == [None, "y"]


def test_retention_window(spark):
    rows = [
        ("A", dt.date(2024, 8, 1)),
        ("A", dt.date(2022, 1, 1)),  # older than 13 months from group max
        ("B", dt.date(2020, 1, 1)),  # its own group max → kept
    ]
    df = spark.createDataFrame(rows, "g string, d date")
    out = filters.retention_window(df, ["g"], "d", months=13).collect()
    assert sorted((r["g"], r["d"]) for r in out) == [
        ("A", dt.date(2024, 8, 1)),
        ("B", dt.date(2020, 1, 1)),
    ]


def _dates(fact):
    """`range_join`'s distinct-date relation for a fact dated by `d`."""
    return fact.select(F.col("d").alias("__d")).distinct()


def test_range_join_attaches_period(spark):
    fact = spark.createDataFrame([(dt.date(2024, 8, 15),), (dt.date(2024, 9, 2),)], "d date")
    periods = spark.createDataFrame(
        [
            (dt.date(2024, 8, 1), dt.date(2024, 8, 31), "2024.M8"),
            (dt.date(2024, 9, 1), dt.date(2024, 9, 30), "2024.M9"),
        ],
        "data_inicio date, data_fim date, codigo string",
    )
    out = joins.range_join(
        fact, periods, F.col("d"), attach={"codigo": "periodo"}, dates=_dates(fact)
    ).orderBy("d").collect()
    assert [r["periodo"] for r in out] == ["2024.M8", "2024.M9"]


def test_range_join_rejects_reserved_d_column(spark):
    # a ValueError, not an assert, so `python -O` cannot strip the check
    # and let withColumn("__d") overwrite the caller's column
    fact = spark.createDataFrame([(dt.date(2024, 8, 15), "x")], "d date, __d string")
    periods = spark.createDataFrame(
        [(dt.date(2024, 8, 1), dt.date(2024, 8, 31), "2024.M8")],
        "data_inicio date, data_fim date, codigo string",
    )
    with pytest.raises(ValueError, match="__d"):
        joins.range_join(fact, periods, F.col("d"), attach={"codigo": "periodo"}, dates=_dates(fact))


def test_broadcast_lookup(spark):
    fact = spark.createDataFrame([(355030,), (999999,)], "id_sus int")
    dim = spark.createDataFrame([(355030, "m-sp")], "id_sus_dim int, id string")
    out = joins.broadcast_lookup(
        fact, dim, F.col("id_sus") == F.col("id_sus_dim"), select={"id": "geo_id"}
    ).orderBy("id_sus").collect()
    assert [r["geo_id"] for r in out] == ["m-sp", None]


def test_null_counts_and_validator(spark):
    df = spark.createDataFrame([(1, None), (None, "x")], "a int, b string")
    row = null_counts(df, df.columns).collect()[0]
    assert row["n_rows"] == 2 and row["nulls_a"] == 1 and row["nulls_b"] == 1


def test_harmonize_and_union(spark):
    a = spark.createDataFrame([(1, "x")], "k int, v string")
    b = spark.createDataFrame([(2,)], "k int")
    b2 = harmonize_columns(b, ["k", "v"])
    out = union_harmonized(a, b2).orderBy("k").collect()
    assert [r["v"] for r in out] == ["x", None]


def test_minhash_identical_docs_share_signature(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame([(1, text), (2, text), (3, "completely different words here baby")],
                               "doc_id int, text string")
    sigs = minhash_signatures(df, num_hashes=4).collect()
    by_id = {r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(4)) for r in sigs}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_lsh_finds_identical_pair(spark):
    text = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "nothing in common with the others at all whatsoever")],
        "doc_id int, text string",
    )
    sigs = minhash_signatures(df, num_hashes=8)
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, bands=4).collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 2 and r["est_jaccard"] == 1.0 for r in pairs)


def test_lsh_dedup_groups_clusters_clones(spark):
    from sm_etl_cloud_run_spark.operators.dedup import lsh_dedup_groups

    text = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [(5, text), (2, text), (9, text), (7, "nothing shared with any of the others here")],
        "doc_id int, text string",
    )
    sigs = minhash_signatures(df, num_hashes=8)
    groups = {r["doc_id"]: r["group_rep"] for r in lsh_dedup_groups(sigs).collect()}
    assert groups[5] == 2 and groups[2] == 2 and groups[9] == 2  # clones → min id
    assert groups[7] == 7  # singleton keeps itself


def test_lsh_components_transitive_chain(spark):
    """A~B via band0, B~C via band1, A!~C directly: one-round grouping
    leaves C with B's id; the fixpoint components collapse the chain."""
    from sm_etl_cloud_run_spark.operators.dedup import (
        lsh_dedup_components,
        lsh_dedup_groups,
    )

    def sig_row(doc_id, *bands8):
        return (doc_id, *bands8)

    # 8 sigs = 4 bands x 2 rows; equal adjacent pairs define a band bucket
    rows = [
        sig_row(1, "a", "a", "b", "b", "c", "c", "d", "d"),
        sig_row(2, "a", "a", "e", "e", "f", "f", "g", "g"),  # shares band0 with 1
        sig_row(3, "h", "h", "e", "e", "i", "i", "j", "j"),  # shares band1 with 2
        sig_row(4, "k", "k", "l", "l", "m", "m", "n", "n"),  # isolated
    ]
    sigs = spark.createDataFrame(
        rows, "doc_id int, " + ", ".join(f"sig_{i} string" for i in range(8))
    )
    one_round = {r["doc_id"]: r["group_rep"] for r in lsh_dedup_groups(sigs).collect()}
    assert one_round[3] == 2                      # chain NOT collapsed in one round
    comp = {r["doc_id"]: r["group_rep"] for r in lsh_dedup_components(sigs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4}       # transitive closure reached


def test_lsh_components_long_chain_converges(spark):
    """A 6-doc chain (each doc shares one band with the next) has
    diameter 5 — several propagation rounds; all must land on doc 1."""
    from sm_etl_cloud_run_spark.operators.dedup import lsh_dedup_components

    rows = []
    for i in range(1, 7):
        # buckets only match within the SAME band, so alternate:
        # band0 pairs (1,2)(3,4)(5,6) via A-keys, band1 pairs (2,3)(4,5)
        # via B-keys → one path 1-2-3-4-5-6, diameter 5
        a, b = f"A{(i + 1) // 2}", f"B{i // 2}"
        rows.append((i, a, a, b, b, f"x{i}a", f"x{i}a", f"x{i}b", f"x{i}b"))
    sigs = spark.createDataFrame(
        rows, "doc_id int, " + ", ".join(f"sig_{i} string" for i in range(8))
    )
    comp = {r["doc_id"]: r["group_rep"] for r in lsh_dedup_components(sigs).collect()}
    assert comp == {i: 1 for i in range(1, 7)}


def test_brute_force_topk_matches_expression_path(spark):
    """The Arrow-batched numpy scorer behind brute_force_topk returns
    byte-identical cosines and the same order as an orderBy/limit over
    the cosine_similarity expression — a NULL embedding included, which
    scores NULL and sorts last on both paths."""
    import random

    from sm_etl_cloud_run_spark.operators.similarity import cosine_similarity

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    rows.append((50, None))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qv = [rng.uniform(-1, 1) for _ in range(16)]
    q = F.array(*[F.lit(v) for v in qv])
    for k in (10, len(rows)):
        expr = [
            (r["vec_id"], r["cosine"])
            for r in df.select("vec_id", cosine_similarity(F.col("embedding"), q).alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
            .limit(k)
            .collect()
        ]
        fast = [(r["vec_id"], r["cosine"]) for r in brute_force_topk(df, qv, k=k).collect()]
        assert fast == expr
    assert expr[-1] == (50, None)


def test_semantic_dedup_pandas_matches_expression_path(spark):
    """The per-cluster Arrow/numpy SemDeDup kernel makes identical
    keep/cluster decisions to the fixed-point expression path."""
    import random

    from sm_etl_cloud_run_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pandas,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    # a few near-duplicates: tiny perturbations of earlier vectors
    for i in range(40, 48):
        base = rows[i - 40][1]
        rows.append((i, [v + rng.uniform(-0.01, 0.01) for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [rows[j][1] for j in (0, 13, 27)]
    expr = {
        (r["vec_id"], r["sem_cluster"], r["keep"])
        for r in semantic_dedup(df, cents, threshold=0.9).collect()
    }
    fast = {
        (r["vec_id"], r["sem_cluster"], r["keep"])
        for r in semantic_dedup_pandas(df, cents, threshold=0.9).collect()
    }
    assert expr == fast
    assert any(k == 0 for _, _, k in expr), "no duplicates dropped — trivial test"


def test_winnowing_shared_passage_shares_fingerprint(spark):
    """Two docs sharing a passage of >= window+k-1 tokens must share at
    least one winnowed fingerprint; disjoint docs share none."""
    from sm_etl_cloud_run_spark.operators.dedup import winnowing_fingerprints

    passage = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [
            (1, f"intro words here {passage} closing remarks one"),
            (2, f"{passage} totally different ending text follows now"),
            (3, "unrelated content entirely about other topics and things here"),
        ],
        "doc_id int, text string",
    )
    fps = winnowing_fingerprints(df, shingle_k=3, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2]            # shared passage -> shared fingerprint
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_ngram_jaccard_exact_value(spark):
    # doc1: shingles {a b c, b c d}; doc2: {a b c}: jaccard = 1/2
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c")], "doc_id int, text string")
    out = ngram_jaccard_pairs(df, shingle_k=3, threshold=0.0).collect()
    assert len(out) == 1 and abs(out[0]["jaccard"] - 0.5) < 1e-12


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [(1, "spark query engine fast"), (2, "spark query engine fast"), (3, "zz yy xx ww vv uu")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["simhash"] for r in simhash(df, num_bits=16).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_word_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([("one two",), ("",)], "text string")
    out = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()
    assert out[0]["s"] == [] and out[1]["s"] == []


def test_token_count_empty(spark):
    # SQL string_split parity: empty/whitespace-only text tokenizes to
    # [''] — ONE empty token — exactly like the oracles' string_split
    # (see functions/text.tokens). n_tokens is therefore never 0.
    df = spark.createDataFrame([("",), ("  ",), ("a b",)], "text string")
    out = [r["n"] for r in df.select(token_count(F.col("text")).alias("n")).collect()]
    assert out == [1, 1, 2]


def test_brute_force_topk_orders_by_cosine(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        "vec_id int, embedding array<float>",
    )
    out = brute_force_topk(df, [1.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in out] == [1, 2]


def test_lsh_topk_same_bucket_returns_query_neighbors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [-1.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    out = lsh_topk(df, [1.0, 0.05], [[1.0, 0.0]], k=5).collect()
    ids = [r["vec_id"] for r in out]
    assert 3 not in ids and 1 in ids


def test_bucketed_range_join_matches_general(spark):
    fact = spark.createDataFrame(
        [(dt.date(2024, 8, 15),), (dt.date(2024, 9, 2),), (dt.date(2024, 10, 1),)], "d date"
    )
    periods = spark.createDataFrame(
        [
            # multi-month interval (exercises the bucket explode)
            (dt.date(2024, 8, 1), dt.date(2024, 9, 30), "Q3a"),
            (dt.date(2024, 10, 1), dt.date(2024, 10, 31), "M10"),
        ],
        "data_inicio date, data_fim date, codigo string",
    )
    general = joins.range_join(fact, periods, F.col("d"), attach={"codigo": "periodo"}, dates=_dates(fact))
    bucketed = joins.bucketed_range_join(fact, periods, F.col("d"), attach={"codigo": "periodo"})
    assert sorted((r["d"], r["periodo"]) for r in general.collect()) == sorted(
        (r["d"], r["periodo"]) for r in bucketed.collect()
    )


def test_salted_join_matches_plain(spark):
    left = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string")
    right = spark.createDataFrame([(1, "X"), (2, "Y")], "k int, w string")
    plain = sorted((r["k"], r["v"], r["w"]) for r in left.join(right, "k").collect())
    salted = sorted((r["k"], r["v"], r["w"]) for r in joins.salted_join(left, right, "k", salt=4).collect())
    assert plain == salted


def test_ivf_topk_probe_recall(spark):
    from sm_etl_cloud_run_spark.operators.similarity import ivf_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.95, 0.05]), (3, [0.0, 1.0]), (4, [-1.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    # centroids: x-axis and y-axis; query near x-axis, probe only 1 cluster
    out = ivf_topk(df, [1.0, 0.01], [[1.0, 0.0], [0.0, 1.0]], k=3, nprobe=1)
    ids = [r["vec_id"] for r in out.collect()]
    assert ids[:2] == [1, 2]
    assert 3 not in ids  # y-cluster not probed


def test_ivf_topk_probe_order_matches_expression(spark):
    """ivf_topk probes centroids in the order the cosine_similarity
    expression ranks them. The dyadic values put fixed-point products
    on exact .5 ties (0.03125²·1e9 = 976562.5) where half-to-even and
    HALF_UP differ by one unit, which moves these small-norm cosines
    across a 6th-decimal boundary (0.707106 vs 0.707107)."""
    from sm_etl_cloud_run_spark.operators.similarity import cosine_similarity, ivf_topk

    q = [0.046875, 0.015625]
    cents = [[0.015625, 0.03125], [0.0625, -0.03125], [-0.01953125, 0.03125]]
    # the corpus is the centroids themselves, each its own nearest
    # centroid, so nprobe=p returns exactly the first p probed clusters
    df = spark.createDataFrame(list(enumerate(cents)), "vec_id long, embedding array<float>")
    qcol = F.array(*[F.lit(v) for v in q])
    expected = [
        r["vec_id"]
        for r in df.select("vec_id", cosine_similarity(qcol, F.col("embedding")).alias("c"))
        .orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .collect()
    ]
    probed: list[int] = []
    for p in range(1, len(cents) + 1):
        got = {r["vec_id"] for r in ivf_topk(df, q, cents, k=len(cents), nprobe=p).collect()}
        (new,) = got - set(probed)
        probed.append(new)
    assert probed == expected == [1, 0, 2]


def test_sessionize_gap(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(minutes=10)),
        (1, base + dt.timedelta(minutes=90)),  # new session
        (2, base),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = sessionize(df, gap_minutes=30).collect()
    sess = {(r["user_id"], r["ts"]): r["session_id"] for r in out}
    assert sess[(1, base)] == 1
    assert sess[(1, base + dt.timedelta(minutes=10))] == 1
    assert sess[(1, base + dt.timedelta(minutes=90))] == 2
    assert sess[(2, base)] == 1


def test_pii_redaction_patterns(spark):
    from sm_etl_cloud_run_spark.plans.textops import _PII_CPF, _PII_EMAIL

    df = spark.createDataFrame(
        [(1, "contact ana.souza+x@saude.gov.br or 123.456.789-09 today"),
         (2, "no pii here at all")],
        "doc_id int, text string",
    )
    out = df.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "[EMAIL]"), _PII_CPF, "[CPF]"
        ).alias("redacted"),
        F.regexp_count(F.col("text"), F.lit(_PII_EMAIL)).alias("n_emails"),
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["redacted"] == "contact [EMAIL] or [CPF] today"
    assert rows[1]["n_emails"] == 1
    assert rows[2]["redacted"] == "no pii here at all" and rows[2]["n_emails"] == 0


def test_bucketed_range_join_keeps_unmatched_bucket_collisions(spark):
    """ADVICE r1: a fact row whose month bucket collides with an interval
    it falls OUTSIDE (interval Jan 15–Feb 10, fact Jan 5) must keep one
    row with NULL attach — identical left semantics to range_join."""
    fact = spark.createDataFrame(
        [
            (dt.date(2024, 1, 5),),    # collides with Jan bucket, outside range → NULL
            (dt.date(2024, 1, 20),),   # inside partial-month interval
            (dt.date(2024, 2, 15),),   # collides with Feb bucket, after end → NULL
            (dt.date(2024, 6, 1),),    # no bucket collision at all → NULL
            (None,),                   # NULL date → NULL attach
        ],
        "d date",
    )
    periods = spark.createDataFrame(
        [(dt.date(2024, 1, 15), dt.date(2024, 2, 10), "P1")],
        "data_inicio date, data_fim date, codigo string",
    )
    # attach deliberately overlaps start_col (ADVICE r2: duplicate struct
    # field crashed with AMBIGUOUS_REFERENCE_TO_FIELDS)
    attach = {"codigo": "periodo", "data_inicio": "p_start"}
    nullsafe = lambda t: tuple((v is None, v) for v in t)
    general = joins.range_join(fact, periods, F.col("d"), attach=attach, dates=_dates(fact))
    bucketed = joins.bucketed_range_join(fact, periods, F.col("d"), attach=attach)
    expected = sorted(((r["d"], r["periodo"], r["p_start"]) for r in general.collect()), key=nullsafe)
    got = sorted(((r["d"], r["periodo"], r["p_start"]) for r in bucketed.collect()), key=nullsafe)
    assert got == expected
    assert (dt.date(2024, 1, 5), None, None) in got and len(got) == 5


def test_band_buckets_rejects_indivisible_bands(spark):
    import pytest

    from sm_etl_cloud_run_spark.operators.dedup import minhash_signatures, lsh_candidate_pairs

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id int, text string")
    sigs = minhash_signatures(df, num_hashes=6)
    with pytest.raises(ValueError, match="divisible"):
        lsh_candidate_pairs(sigs, num_hashes=6, bands=4)


def test_expectations_single_pass_report(spark):
    """The declarative DQ suite: kinds behave as documented (NULL
    sentinels in composite keys, direction-aware thresholds) and the
    whole suite compiles to one aggregate pass (no per-check scan)."""
    import contextlib
    import io

    from sm_etl_cloud_run_spark.operators.expectations import (
        Expectation, run_expectations,
    )

    df = spark.createDataFrame(
        [
            (1, 1, 10.0, "A"),
            (1, 2, 60.0, "N"),      # quantity out of range
            (1, 2, 20.0, "X"),      # duplicate key + bad domain
            (None, 3, None, None),  # null pk; nulls don't count for range/domain
        ],
        "k long, ln long, qty double, flag string",
    )
    suite = [
        Expectation("k_not_null", "not_null", column="k"),
        Expectation("pk_unique", "unique", columns=("k", "ln")),
        Expectation("qty_range", "in_range", column="qty", lo=1, hi=50),
        Expectation("flag_domain", "accepted_values", column="flag",
                    values=("A", "N", "R")),
        Expectation("qty_complete", "completeness_bp", column="qty", threshold=7000),
    ]
    report = run_expectations(df, suite)
    got = {r["check_id"]: (r["observed"], r["passed"]) for r in report.collect()}
    assert got == {
        "k_not_null": (1, 0),
        "pk_unique": (1, 0),       # (1,2) appears twice; (None,3) is its own key
        "qty_range": (1, 0),
        "flag_domain": (1, 0),
        "qty_complete": (7500, 1),  # 3 of 4 non-null = 7500 bp ≥ 7000
    }
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        report.explain("simple")
    plan = buf.getvalue().split("Initial Plan")[0]   # AQE prints the plan twice
    assert plan.count("Scan ExistingRDD") <= 1 and "BatchEvalPython" not in plan


def test_apply_cdc_delete_and_incremental_equivalence(spark):
    from sm_etl_cloud_run_spark.operators.cdc import apply_cdc

    rows = [
        # (key, seq, op, payload)
        (1, 1, "U", "a"), (1, 2, "U", "b"),              # live, latest = b
        (2, 1, "U", "x"), (2, 2, "D", None),             # deleted
        (3, 1, "D", None), (3, 2, "U", "resurrected"),   # delete then re-insert
        (4, 1, "U", "only"),
    ]
    log = spark.createDataFrame(rows, "k long, seq long, op string, v string")
    snap = {r["k"]: r["v"] for r in apply_cdc(log, ["k"], ["seq"]).collect()}
    assert snap == {1: "b", 3: "resurrected", 4: "only"}

    # applying log[seq<=1] then re-applying the union equals one-shot apply
    # (the incremental contract: monotonic seq per key => order-insensitive)
    first = apply_cdc(log.where(F.col("seq") <= 1), ["k"], ["seq"])
    replay = {r["k"]: r["v"] for r in apply_cdc(log, ["k"], ["seq"]).collect()}
    assert replay == snap and first.count() == 3  # k=3 deleted in the prefix


def test_apply_cdc_single_shuffle_plan(spark):
    import contextlib
    import io

    from sm_etl_cloud_run_spark.operators.cdc import apply_cdc

    log = spark.createDataFrame([(1, 1, "U", "a")], "k long, seq long, op string, v string")
    out = apply_cdc(log, ["k"], ["seq"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("simple")
    plan = buf.getvalue().split("Initial Plan")[0]
    assert plan.count("Exchange") <= 1 and "BatchEvalPython" not in plan


def test_distributed_rank_matches_global_row_number(spark, shuffle_partitions):
    """distributed_rank == row_number() OVER (ORDER BY ...) exactly —
    including heavy ties (split across range partitions by the
    tiebreaker) and NULL values (pinned NULLS LAST)."""
    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.operators.windows import distributed_rank

    rows = [(i, i % 7 if i % 11 else None) for i in range(3001)]
    df = spark.createDataFrame(rows, "id long, v long")
    order = [F.col("v").desc_nulls_last(), F.col("id").asc()]
    with shuffle_partitions(8):
        got = distributed_rank(df, order, rank_name="rn")
    exp = df.withColumn("rn", F.row_number().over(Window.orderBy(*order)).cast("long"))
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_distributed_rank_pins_partition_count_under_cached_plan_aqe(spark):
    """ADVICE r12 item 2: `canChangeCachedPlanOutputPartitioning=true`
    (session.py) lets AQE coalesce shuffles inside cached plans;
    distributed_rank's partition-id arithmetic rests on AQE never
    coalescing a user-specified repartitionByRange(N, ...). Pin the
    invariant so a future Spark version or config interaction that
    starts coalescing REPARTITION_BY_NUM shuffles fails HERE instead of
    silently corrupting ranks: (a) the session really runs with the
    flag; (b) a persisted range-partitioned relation still produces
    exactly N partition ids — the base of the rank math."""
    assert (
        spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        )
        == "true"
    )
    df = spark.createDataFrame(
        [(i, (i * 37) % 97) for i in range(5000)], "id long, v long"
    )
    part = (
        df.repartitionByRange(16, F.col("v").asc(), F.col("id").asc())
        .select(F.spark_partition_id().alias("pid"))
        .persist()
    )
    try:
        assert part.distinct().count() == 16
    finally:
        part.unpersist()


def test_distributed_ntile_matches_global_ntile(spark, shuffle_partitions):
    """distributed_ntile == ntile(n) for n that divides N, n with a
    remainder, and n > N (the q=0 edge)."""
    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.operators.windows import distributed_ntile

    df = spark.createDataFrame(
        [(i, (i * 37) % 13) for i in range(1000)], "id long, v long"
    )
    order = [F.col("v").desc(), F.col("id").asc()]
    for n in (10, 7, 4000):
        with shuffle_partitions(8):
            got = distributed_ntile(df, order, n, tile_name="t")
        exp = df.withColumn("t", F.ntile(n).over(Window.orderBy(*order)).cast("long"))
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_distributed_cumsum_matches_global_running_total(spark, shuffle_partitions):
    """distributed_cumsum == SUM(v) OVER (ORDER BY ...) exactly,
    including heavy ties split across range partitions, negative
    values, and the ride-along grand total."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.operators.windows import distributed_cumsum

    rows = [(i % 7, i, (i % 5) - 2) for i in range(501)]
    df = spark.createDataFrame(rows, "k long, id long, v long")
    order = [F.col("k").asc(), F.col("id").asc()]
    with shuffle_partitions(8):
        got = distributed_cumsum(df, order, "v", cumsum_name="cs", total_name="tot")
    w = Window.orderBy(F.col("k").asc(), F.col("id").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.withColumn("cs", F.sum("v").over(w).cast("long"))
    gl = {(r["k"], r["id"]): (r["cs"], r["tot"]) for r in got.collect()}
    total = sum(r[2] for r in rows)
    for r in want.collect():
        cs, tot = gl[(r["k"], r["id"])]
        assert cs == r["cs"] and tot == total
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower().replace(" ", "")


def test_tracked_caches_release_after_action(spark):
    """distributed_rank's persisted relation must be releasable by the
    runner between queries: persist_tracked registers it, an action
    materializes it, release_tracked drops every registered cache
    (VERDICT r5 ADVICE — caches may not accumulate for a session's
    lifetime)."""
    from sm_etl_cloud_run_spark import cache as c
    from sm_etl_cloud_run_spark.operators.windows import distributed_rank

    release0 = c.release_tracked()  # clean slate from earlier tests
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("v"))
    ranked = distributed_rank(df, [F.col("v"), F.col("id")], rank_name="rn")
    assert ranked.count() == 1000
    assert len(c._TRACKED) >= 1
    sc = spark.sparkContext
    assert len(sc._jsc.getPersistentRDDs()) >= 1
    released = c.release_tracked()
    assert released >= 1 and not c._TRACKED
    # async unpersist: registration is what we pin; the storage drop
    # follows. A second release is a no-op.
    assert c.release_tracked() == 0
    _ = release0


def test_distributed_rank_in_groups_matches_partitioned_row_number(spark, shuffle_partitions):
    """distributed_rank_in_groups == row_number() OVER (PARTITION BY g
    ORDER BY ...) exactly — heavy ties spanning range-partition
    boundaries, NULL group keys (a real window group, unlike an
    equi-join key), per-group totals, and the plan shape: range
    partitioning on the composite key, no single-task per-group sort of
    the input."""
    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.operators.windows import (
        distributed_rank_in_groups,
    )

    n = 5_000
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 3).cast("string")))
        .alias("g"),
        (F.col("id") % 7).alias("v"),  # heavy ties
    )
    order = [F.col("v").asc_nulls_last(), F.col("id")]
    with shuffle_partitions(8):
        got = distributed_rank_in_groups(df, ["g"], order, rank_name="rn", total_name="n_g")
    w = Window.partitionBy("g").orderBy(*order)
    want = df.select(
        "id", "g",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("g")).alias("n_g"),
    )
    gm = {(r["id"],): (r["rn"], r["n_g"]) for r in got.collect()}
    assert len(gm) == n
    for r in want.collect():
        assert gm[(r["id"],)] == (r["rn"], r["n_g"]), r
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower().replace(" ", "")

    from sm_etl_cloud_run_spark.cache import release_tracked
    release_tracked()


def test_distributed_lag_matches_partitioned_lag(spark, shuffle_partitions):
    """distributed_lag == lag(v) OVER (PARTITION BY g ORDER BY ...) —
    boundary rows across range partitions get their predecessor from
    the shifted per-(partition, group) last-value relation; NULL values
    and NULL group keys survive (the patch keys on local row number,
    not on lag-is-NULL)."""
    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.cache import release_tracked
    from sm_etl_cloud_run_spark.operators.windows import distributed_lag

    n = 5_000
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 3).cast("string")))
        .alias("g"),
        F.when(F.col("id") % 17 == 0, None)
        .otherwise(F.col("id") * 3)
        .alias("v"),
    )
    order = [F.col("id")]
    with shuffle_partitions(8):
        got = distributed_lag(df, ["g"], order, "v", lag_name="pv")
    w = Window.partitionBy("g").orderBy("id")
    want = df.withColumn("pv", F.lag("v").over(w))
    gm = {r["id"]: r["pv"] for r in got.collect()}
    assert len(gm) == n
    for r in want.collect():
        assert gm[r["id"]] == r["pv"], (r["id"], gm[r["id"]], r["pv"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower().replace(" ", "")
    release_tracked()


def test_distributed_ntile_in_groups_matches_partitioned_ntile(spark, shuffle_partitions):
    """distributed_ntile_in_groups == ntile(n) OVER (PARTITION BY g
    ORDER BY ...) for dividing / remainder / n > N-per-group cases,
    including NULL group keys and heavy ties, with the plan range-
    partitioned on the composite key."""
    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.operators.windows import (
        distributed_ntile_in_groups,
    )

    df = spark.createDataFrame(
        [
            (
                i,
                None if i % 13 == 0 else f"g{i % 3}",
                (i * 37) % 7,  # heavy ties
            )
            for i in range(2000)
        ],
        "id long, g string, v long",
    )
    order = [F.col("v").desc_nulls_last(), F.col("id").asc()]
    for n in (4, 7, 5000):
        with shuffle_partitions(8):
            got = distributed_ntile_in_groups(df, ["g"], order, n, tile_name="t")
        w = Window.partitionBy("g").orderBy(*order)
        exp = df.withColumn("t", F.ntile(n).over(w).cast("long"))
        assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower().replace(" ", "")
    assert "ntile(" not in plan


def test_distributed_cumsum_in_groups_matches_partitioned_running_total(spark, shuffle_partitions):
    """distributed_cumsum_in_groups == SUM(v)/row_number() OVER
    (PARTITION BY g ORDER BY ...) exactly — heavy ties across range
    boundaries, NULL group keys, negative values, the shared rank
    output, and the plan shape (range partitioning,
    no single-task per-group sort)."""
    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.operators.windows import (
        distributed_cumsum_in_groups,
    )

    n = 5_000
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 3).cast("string")))
        .alias("g"),
        (F.col("id") % 7).alias("k"),              # heavy ties in the order key
        ((F.col("id") % 13) - 6).cast("long").alias("v"),  # negatives too
    )
    order = [F.col("k").asc_nulls_last(), F.col("id")]
    with shuffle_partitions(8):
        got = distributed_cumsum_in_groups(df, ["g"], order, "v", cumsum_name="cs", rank_name="rn")
    w = Window.partitionBy("g").orderBy(*order)
    want = df.select(
        "id", "g",
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
        F.row_number().over(w).alias("rn"),
    )
    gm = {(r["id"],): (r["cs"], r["rn"]) for r in got.collect()}
    assert len(gm) == n
    for r in want.collect():
        assert gm[(r["id"],)] == (r["cs"], r["rn"]), r
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower().replace(" ", "")

    from sm_etl_cloud_run_spark.cache import release_tracked
    release_tracked()


def test_distributed_running_max_matches_single_window(spark, shuffle_partitions):
    """Prefix-max (inclusive and exclusive) == the single-task window,
    on adversarial data: duplicate order keys carry EQUAL values (the
    operator's tie contract), partition boundaries land mid-run."""
    import random

    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.operators.windows import distributed_running_max

    rng = random.Random(7)
    rows = []
    for i in range(500):
        k = rng.randrange(120)  # heavy ties in the order key
        v = (k * 37) % 101 - 50  # ties on k carry equal values
        rows.append((k, v))
    df = spark.createDataFrame(rows, "k long, v long")
    for exclusive in (False, True):
        with shuffle_partitions(7):
            got = distributed_running_max(
                df, [F.col("k"), F.col("v")], "v", max_name="m", exclusive=exclusive,
            )
        lo, hi = Window.unboundedPreceding, (-1 if exclusive else 0)
        w = Window.orderBy("k", "v").rowsBetween(lo, hi)
        want = df.withColumn("m", F.max("v").over(w).cast("long"))
        key = lambda r: (r["k"], r["v"], r["m"] is not None, r["m"] or 0)
        assert sorted(map(key, got.collect())) == \
            sorted(map(key, want.collect())), exclusive


def test_lateness_profile_hostile_out_of_order_stream(spark):
    """The driver fixture is perfectly time-ordered (one all-on_time
    row); this pins the multi-bucket path on a hand-built disordered
    stream where every bucket of the ladder is hit."""
    from sm_etl_cloud_run_spark.plans.events_queries import lateness_profile

    us = 1_000_000
    rows = [
        (1, 0),                       # first row: never late
        (2, 3600 * us),               # high-water mark jumps to 1h
        (3, 3600 * us - 30 * us),     # 30s late -> '<=1m'
        (4, 3600 * us - 300 * us),    # 5m late -> '<=10m'
        (5, 3600 * us),               # ties the max: on_time
        (6, 0),                       # 1h late -> '<=1h'
        (7, 7200 * us),               # new max: on_time
        (8, 1),                       # 2h-1us late -> '>1h'
    ]
    prof = {
        r["lateness_bucket"]: r
        for r in lateness_profile(
            spark.createDataFrame(rows, "event_id long, tsu long")
        ).collect()
    }
    assert {k: v["n_events"] for k, v in prof.items()} == {
        "on_time": 4, "<=1m": 1, "<=10m": 1, "<=1h": 1, ">1h": 1,
    }
    assert prof[">1h"]["max_late_us"] == 7200 * us - 1
    assert prof["on_time"]["share_bp"] == 5000
    assert sum(v["n_events"] for v in prof.values()) == 8


def test_containment_pairs_catch_subset_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment ~1,
    jaccard tiny — the pair the symmetric detectors miss."""
    from sm_etl_cloud_run_spark.operators.dedup import ngram_containment_pairs

    quote = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"w{i}" for i in range(200))
    docs = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote), (3, "totally unrelated text here")],
        "doc_id long, text string",
    )
    # no shingle is in more than the corpus's three docs
    out = ngram_containment_pairs(
        docs, text_col="text", id_col="doc_id", shingle_k=3, threshold=0.8, max_df=3,
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
    r = out[0]
    assert r["cont_a"] == 1.0          # every shingle of the quote is in doc 2
    assert r["cont_b"] < 0.1           # doc 2 is mostly NOT the quote
    assert r["jaccard"] < 0.1          # ... so Jaccard-based dedup misses it
    # jaccard threshold at the same 0.8 finds nothing on this corpus
    assert ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", shingle_k=3, threshold=0.8
    ).count() == 0


def test_stream_state_census_hostile_intervals(spark):
    """Hand-computable peaks on a hostile stream: back-to-back events
    merging into one interval, a user re-opening after the gap, and
    three users overlapping at one instant."""
    from sm_etl_cloud_run_spark.plans.events_queries import state_census

    us = 1_000_000
    rows = [
        # user 1: events at 0s and 30s -> with D=60s ONE interval [0, 90s)
        (1, 0), (1, 30 * us),
        # user 1 again at 300s (gap 270s > 60s) -> second interval [300, 360)
        (1, 300 * us),
        # users 2,3: open inside user 1's first interval -> 3 concurrent
        (2, 40 * us), (3, 50 * us),
    ]
    out = {r["delay"]: r for r in state_census(
        spark.createDataFrame(rows, "user_id long, tsu long"),
        delays_us=(("1m", 60 * us),),
    ).collect()}
    r = out["1m"]
    assert r["n_intervals"] == 4          # u1×2, u2, u3
    assert r["peak_state"] == 3           # at t in [50s, 90s)
    # open time: u1 [0,90)+[300,360)=150s, u2 [40,100)=60s, u3 [50,110)=60s
    assert r["sum_open_us"] == 270 * us


def test_lateness_profile_incremental_equals_batch(spark):
    """The streaming claim behind events_late_data_profile: lateness is
    incrementally maintainable with ONE scalar of carried state (the
    event-time high-water mark). Process a disordered stream in 3
    arrival chunks, carry max(tsu) forward, clamp each chunk's prior
    max against the carried scalar — the concatenated per-event
    lateness must equal the single-pass profile exactly."""
    import random

    from pyspark.sql.window import Window

    from sm_etl_cloud_run_spark.plans.events_queries import lateness_profile

    rng = random.Random(13)
    us = 1_000_000
    rows = [(i, max(0, (i * 37) % 211 - rng.randrange(120)) * us)
            for i in range(300)]
    full = lateness_profile(
        spark.createDataFrame(rows, "event_id long, tsu long")
    ).collect()

    hwm = None
    merged: dict[str, int] = {}
    for lo in range(0, 300, 100):  # 3 arrival chunks in event_id order
        chunk = spark.createDataFrame(rows[lo:lo + 100], "event_id long, tsu long")
        # a chunk-local prior max is wrong at the seam unless the
        # carried hwm clamps it — fold the scalar into the window
        w = Window.orderBy("event_id", "tsu").rowsBetween(
            Window.unboundedPreceding, -1
        )
        from pyspark.sql import functions as F2
        pm = chunk.withColumn("lmax", F2.max("tsu").over(w))
        pm = pm.withColumn(
            "prior",
            F2.greatest(F2.col("lmax"), F2.lit(hwm).cast("long"))
            if hwm is not None else F2.col("lmax"),
        )
        late = pm.select(
            F2.when(F2.col("prior").isNull() | (F2.col("prior") <= F2.col("tsu")), 0)
            .otherwise(F2.col("prior") - F2.col("tsu")).alias("late_us")
        ).collect()
        for r in late:
            lu = r["late_us"]
            b = ("on_time" if lu == 0 else "<=1m" if lu <= 60 * us
                 else "<=10m" if lu <= 600 * us
                 else "<=1h" if lu <= 3600 * us else ">1h")
            merged[b] = merged.get(b, 0) + 1
        hwm = max([hwm or 0] + [t for _, t in rows[lo:lo + 100]])
    assert merged == {r["lateness_bucket"]: r["n_events"] for r in full}
