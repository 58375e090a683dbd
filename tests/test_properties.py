"""Property-based tests (hypothesis) for the scalar layer and dedup
estimates. Each property evaluates ONE Spark job over a generated batch
(row-per-example would be prohibitively slow)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.functions import cleaning
from sm_etl_cloud_run_spark.functions.cleaning import _int_to_roman
from sm_etl_cloud_run_spark.operators.dedup import minhash_signatures

_SETTINGS = dict(max_examples=5, deadline=None)


@settings(**_SETTINGS)
@given(st.lists(st.text(alphabet="0123456789", min_size=0, max_size=12), min_size=1, max_size=50))
def test_zfill_properties(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    out = [r["y"] for r in df.select(cleaning.zfill(F.col("x"), 6).alias("y")).collect()]
    for orig, padded in zip(values, out):
        assert len(padded) >= 6 or len(orig) < 6
        assert padded.endswith(orig)
        assert padded == orig.zfill(6)  # pandas-semantics parity


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=50))
def test_decimal_comma_roundtrip(spark, cents_list):
    rows = [(f"{c // 100}", f"{c % 100:02d}") for c in cents_list]
    df = spark.createDataFrame(rows, "i string, f string")
    ptbr = F.concat(
        F.translate(F.format_number(F.col("i").cast("long"), 0), ",", "."),
        F.lit(","), F.col("f"),
    )
    out = df.select(cleaning.parse_decimal_comma(ptbr).alias("v")).collect()
    for c, r in zip(cents_list, out):
        assert abs(r["v"] - c / 100.0) < 1e-6


@settings(**_SETTINGS)
@given(st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=50))
def test_roman_roundtrip(spark, numbers):
    df = spark.createDataFrame([(_int_to_roman(n),) for n in numbers], "r string")
    out = [r["y"] for r in df.select(cleaning.roman_to_int_string(F.col("r"), 50).alias("y")).collect()]
    assert out == [str(n) for n in numbers]


def _true_jaccard(a: str, b: str, k: int = 3) -> float:
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


@settings(max_examples=3, deadline=None)
@given(st.integers(min_value=0, max_value=2**31))
def test_minhash_estimates_jaccard(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(30)]
    base = [rng.choice(vocab) for _ in range(60)]
    # mutate 15% of tokens → expect high (not exact) jaccard
    other = [w if rng.random() > 0.15 else rng.choice(vocab) for w in base]
    a, b = " ".join(base), " ".join(other)
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id int, text string")
    sigs = {r["doc_id"]: [r[f"sig_{i}"] for i in range(8)] for r in minhash_signatures(df).collect()}
    est = sum(x == y for x, y in zip(sigs[1], sigs[2])) / 8.0
    true = _true_jaccard(a, b)
    # 8 hashes → coarse estimate; verify it's in the right ballpark
    assert abs(est - true) <= 0.5
    if true == 1.0:
        assert est == 1.0


@settings(**_SETTINGS)
@given(st.integers(min_value=0, max_value=2**31))
def test_winnowing_guarantee(spark, seed):
    """Schleimer/Wilkerson/Aiken guarantee: two docs sharing any passage
    of >= window + k - 1 tokens share at least one winnowed fingerprint,
    for random surrounding text."""
    import random

    from sm_etl_cloud_run_spark.operators.dedup import winnowing_fingerprints

    k, w = 3, 4
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(50)]
    passage = " ".join(rng.choice(vocab) for _ in range(w + k - 1))
    pre = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10)))
    post = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10)))
    doc1 = f"{pre} {passage}".strip()
    doc2 = f"{passage} {post}".strip()
    df = spark.createDataFrame([(1, doc1), (2, doc2)], "doc_id int, text string")
    fps = winnowing_fingerprints(df, shingle_k=k, window=w).collect()
    by_doc: dict[int, set] = {1: set(), 2: set()}
    for r in fps:
        by_doc[r["doc_id"]].add(r["fingerprint"])
    assert by_doc[1] & by_doc[2], (doc1, doc2)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),            # key
            st.sampled_from(["U", "U", "U", "D"]),            # op (deletes rarer)
            st.integers(min_value=0, max_value=99),           # payload
        ),
        min_size=1,
        max_size=30,
    )
)
def test_cdc_apply_matches_sequential_fold(spark, log_rows):
    """apply_cdc == the obvious sequential interpretation: replay the
    log in seq order into a dict, dropping deleted keys. Any (random)
    interleaving of keys, ops, and payloads must agree."""
    from sm_etl_cloud_run_spark.operators.cdc import apply_cdc

    rows = [(k, i, op, v) for i, (k, op, v) in enumerate(log_rows)]
    df = spark.createDataFrame(rows, "k long, seq long, op string, v long")
    got = {r["k"]: r["v"] for r in apply_cdc(df, ["k"], ["seq"]).collect()}

    state: dict[int, int] = {}
    for k, _seq, op, v in rows:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == state


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=30),
                  st.integers(min_value=-50, max_value=50)),
        min_size=1, max_size=80,
    ),
    st.integers(min_value=1, max_value=9),
)
def test_distributed_running_max_property(spark, shuffle_partitions, pairs, nparts):
    """Prefix-max == Python's itertools.accumulate(max) over the sorted
    stream, for ANY generated multiset of (key, value) rows and ANY
    partition count — inclusive and exclusive forms. Values are made a
    FUNCTION of the order key so duplicate order keys carry equal
    values (the operator's tie contract)."""
    import itertools

    from sm_etl_cloud_run_spark.operators.windows import distributed_running_max

    # v = f(k): tie-safe. Every 4th key carries a NULL value — the
    # operator's contract (ADVICE r9) is that NULL values are IGNORED
    # by the prefix max: a NULL row sees the max of prior non-NULLs
    # (NULL if none) and contributes nothing to later rows — exactly
    # what the lateness callers rely on for NULL unix_micros(ts).
    rows = [
        (k, None if k % 4 == 0 else (k * 13) % 37 - 18) for k, _ in pairs
    ]
    df = spark.createDataFrame(rows, "k long, v long")
    ordered = sorted(rows, key=lambda r: r[0])  # equal k ⇒ equal v
    inc_want = list(itertools.accumulate(
        (v for _, v in ordered),
        lambda m, v: m if v is None else v if m is None else max(m, v),
    ))
    exc_want = [None] + inc_want[:-1]
    for exclusive, want in ((False, inc_want), (True, exc_want)):
        with shuffle_partitions(nparts):
            got = distributed_running_max(
                df, [F.col("k"), F.col("v")], "v", max_name="m", exclusive=exclusive,
            ).collect()
        # rows tied on (k, v) may swap positions, but the MULTISET of
        # (k, v, prefix-max) triples is order-invariant — compare those
        from collections import Counter
        want_rows = Counter(zip((k for k, _ in ordered), (v for _, v in ordered), want))
        got_rows = Counter(
            (r["k"], r["v"], r["m"]) for r in got
        )
        assert got_rows == want_rows, exclusive


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=7),    # key
                  st.integers(min_value=0, max_value=30)),  # time
        min_size=1, max_size=60,
    ),
    st.sampled_from([10, 15]),
)
def test_dedup_state_census_property(spark, occs, d):
    """events_dedup_state_census's suppression-chain + endpoint-sweep
    == a literal Python simulation, for ANY multiset of (key, time)
    occurrences: greedy chain per key (new segment strictly past
    s + d, capped at the operator's unroll depth with the same
    truncation contract), peak via the eviction-before-insert sweep.
    The time range and d are chosen so chains can reach (but not
    exceed) the unroll cap, exercising every segment."""
    from sm_etl_cloud_run_spark.plans.events_queries import (
        _DDC_ROUNDS,
        dedup_state_census,
    )

    ev = spark.createDataFrame(occs, "k long, tsu long")
    got = dedup_state_census(ev, (("d", d),)).collect()[0]

    by_key: dict[int, list[int]] = {}
    for k, t in occs:
        by_key.setdefault(k, []).append(t)
    intervals, truncated = [], set()
    for k, ts in by_key.items():
        ts = sorted(ts)
        starts = [ts[0]]
        for t in ts[1:]:
            if len(starts) == _DDC_ROUNDS:
                if t > starts[-1] + d:
                    truncated.add(k)
                continue
            if t > starts[-1] + d:
                starts.append(t)
        intervals += [(s, s + d, k) for s in starts]
    # sweep: close (-1) before open (+1) at equal t
    pts = sorted(
        [(s, 1, k) for s, _, k in intervals]
        + [(e, -1, k) for _, e, k in intervals],
        key=lambda p: (p[0], p[1], p[2]),
    )
    peak = cur = 0
    for _, delta, _k in pts:
        cur += delta
        peak = max(peak, cur)

    assert got["n_events"] == len(occs)
    assert got["n_intervals"] == len(intervals)
    assert got["n_suppressed"] == len(occs) - len(intervals)
    assert got["peak_state"] == peak
    assert got["truncated_keys"] == len(truncated)


@settings(max_examples=25, deadline=None)
@given(
    st.integers(min_value=1, max_value=6),   # n frames
    st.integers(min_value=1, max_value=9),   # height
    st.integers(min_value=1, max_value=9),   # width (odd widths hit row padding)
    st.integers(min_value=0, max_value=2**31 - 1),
)
def test_bmp_batch_twin_property(n, h, w, seed):
    """encode_bmp_batch / decode_bmp_batch are byte- and pixel-identical
    to the per-frame codecs for EVERY (n, h, w) — including widths whose
    3-byte rows need BMP 4-byte padding. Pure numpy property (no Spark
    job), so a full hypothesis sweep is cheap."""
    import numpy as np

    from sm_etl_cloud_run_spark.functions.codecs import (
        decode_bmp,
        decode_bmp_batch,
        encode_bmp,
        encode_bmp_batch,
    )

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w, 3), dtype=np.uint8)
    batch = encode_bmp_batch(frames)
    assert batch == [encode_bmp(frames[i]) for i in range(n)]
    dec = decode_bmp_batch(batch)
    assert dec.shape == (n, h, w, 3) and dec.dtype == np.uint8
    assert (dec == frames).all()
    assert all((decode_bmp(p) == frames[i]).all() for i, p in enumerate(batch))
