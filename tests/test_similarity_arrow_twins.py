"""Byte-identity pins for the Arrow/numpy similarity kernels.

The k-NN query paths run the fixed-point bucket/norm/cosine arithmetic
as numpy over Arrow batches (guide §4.2) instead of interpreted
zip_with/aggregate expressions. The known risk is rounding divergence
(HALF_UP on the decimal string the JVM rounds vs the binary value — see
`_np_half_up` / `_np_round6`), so these tests pin the two rounding
helpers against the JVM's own F.round on tie-boundary doubles, and the
kernels against the expression forms on the REAL driver data, every
row, exact equality — the codecs byte-identity harness convention.
sf0.01 and sf0.1 are covered by tools/check_parity.py sweeps; the
committed test runs at the suite's sf0.001 fixture plus hostile
literals (exact .5 products, negatives, zero vectors).
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from sm_etl_cloud_run_spark.operators.similarity import (
    _bucket_sq_pandas,
    _const_cosine_pandas,
    _fixed_point_dot,
    _fixed_point_sq_norm,
    _np_half_up,
    _np_round6,
    _pair_cosine_pandas,
    _sq_norm_pandas,
    cosine_similarity,
    hyperplane_lsh_bucket,
)
from sm_etl_cloud_run_spark.tables import load_tables


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_tables(spark, sf_dir)["embeddings"]


def _planes(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(4).collect()
    return [[float(x) for x in rows[i]["embedding"]] for i in (1, 2, 3)]


def test_bucket_and_sq_twin_matches_expressions(emb):
    planes = _planes(emb)
    bsq = _bucket_sq_pandas(planes)
    both = emb.select(
        "vec_id",
        bsq(F.col("embedding")).alias("np"),
        hyperplane_lsh_bucket(F.col("embedding"), planes).alias("jb"),
        _fixed_point_sq_norm(F.col("embedding")).alias("jsq"),
    ).collect()
    assert both, "fixture embeddings present"
    for r in both:
        assert r["np"]["bucket"] == r["jb"], r["vec_id"]
        assert r["np"]["sq"] == r["jsq"], r["vec_id"]


def test_sq_norm_twin_matches_expression(emb):
    sq = _sq_norm_pandas()
    rows = emb.select(
        sq(F.col("embedding")).alias("np"),
        _fixed_point_sq_norm(F.col("embedding")).alias("jv"),
    ).collect()
    assert all(r["np"] == r["jv"] for r in rows)


def test_pair_cosine_twin_matches_expression_all_pairs(emb):
    # every ordered pair of the first 40 vectors — 1,560 pairs of real
    # driver data through both paths
    a = emb.orderBy("vec_id").limit(40).select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("va")
    )
    b = emb.orderBy("vec_id").limit(40).select(
        F.col("vec_id").alias("idb"), F.col("embedding").alias("vb")
    )
    pairs = a.crossJoin(b).where(F.col("ida") != F.col("idb")).select(
        "ida", "idb", "va", "vb",
        _fixed_point_sq_norm(F.col("va")).alias("sqa"),
        _fixed_point_sq_norm(F.col("vb")).alias("sqb"),
    )
    rows = pairs.select(
        "ida", "idb",
        _pair_cosine_pandas()(
            F.col("va"), F.col("vb"), F.col("sqa"), F.col("sqb")
        ).alias("np"),
        cosine_similarity(F.col("va"), F.col("vb")).alias("jv"),
    ).collect()
    assert len(rows) == 40 * 39
    bad = [(r["ida"], r["idb"], r["np"], r["jv"]) for r in rows if r["np"] != r["jv"]]
    assert not bad, bad[:5]


def test_const_cosine_twin_matches_expression(emb):
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    qvec = [float(x) for x in seed["embedding"]]
    q = F.array(*[F.lit(v) for v in qvec])
    rows = emb.select(
        "vec_id",
        _const_cosine_pandas(qvec)(F.col("embedding")).alias("np"),
        F.round(
            _fixed_point_dot(F.col("embedding"), q).cast("double")
            / (
                F.sqrt(_fixed_point_sq_norm(F.col("embedding")).cast("double"))
                * F.sqrt(_fixed_point_sq_norm(q).cast("double"))
            ),
            6,
        ).alias("jv"),
    ).collect()
    bad = [(r["vec_id"], r["np"], r["jv"]) for r in rows if r["np"] != r["jv"]]
    assert not bad, bad[:5]


def test_round6_hostile_values(spark):
    # exact .5 products and boundary-repr cosines: vectors engineered so
    # dot/(na·nb) lands on 7-decimal shortest-repr boundaries
    hostile = [
        (1, [0.5, 0.5], [0.0000005, 1.0]),
        (2, [1.0, 0.0], [0.1234565, 1.0]),
        (3, [-1.0, 0.0], [0.9999995, 0.0000005]),
        (4, [0.0000015, 1.0], [1.0, 0.0000025]),
        (5, [0.0, 0.0], [1.0, 1.0]),  # zero vector → NaN through both
    ]
    df = spark.createDataFrame(
        [(i, a, b) for i, a, b in hostile], "pid long, va array<float>, vb array<float>"
    ).select(
        "pid", "va", "vb",
        _fixed_point_sq_norm(F.col("va")).alias("sqa"),
        _fixed_point_sq_norm(F.col("vb")).alias("sqb"),
    )
    rows = df.select(
        "pid",
        _pair_cosine_pandas()(
            F.col("va"), F.col("vb"), F.col("sqa"), F.col("sqb")
        ).alias("np"),
        cosine_similarity(F.col("va"), F.col("vb")).alias("jv"),
    ).collect()
    for r in rows:
        if r["jv"] is None or (isinstance(r["jv"], float) and r["jv"] != r["jv"]):
            assert r["np"] is None or r["np"] != r["np"], r["pid"]
        else:
            assert r["np"] == r["jv"], (r["pid"], r["np"], r["jv"])


def _ulp_neighbours(xs, steps=2):
    """Each x plus the doubles up to `steps` ulps below and above it."""
    out = []
    for x in xs:
        lo = hi = x
        out.append(x)
        for _ in range(steps):
            lo, hi = np.nextafter(lo, -np.inf), np.nextafter(hi, np.inf)
            out += [lo, hi]
    return [float(v) for v in out]


def _jvm_round(spark, xs, scale):
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i long, x double")
    rows = df.select("i", F.round("x", scale).alias("r")).orderBy("i").collect()
    return [r["r"] for r in rows]


def _assert_same_doubles(got, want, xs):
    # repr, not ==, so a -0.0 where the JVM gives 0.0 also fails
    bad = [(x, g, w) for x, g, w in zip(xs, got, want) if repr(float(g)) != repr(w)]
    assert not bad, bad[:5]


def test_half_up_matches_jvm_round0(spark):
    """_np_half_up == F.round(x, 0) on .5 ties and their ulp neighbours
    at every magnitude the products reach, on both signs —
    0.49999999999999994 included, which |x| + 0.5 used to round to 1."""
    rng = random.Random(3)
    ties = [k + 0.5 for k in range(0, 20)]
    ties += [rng.randrange(0, 2**52) + 0.5 for _ in range(300)]
    ties += [0.015625 * 0.0625 * 1e9, 2.0**52 - 0.5, 2.0**52, 2.0**53]
    xs = _ulp_neighbours(ties + [0.0, 0.3, 1e-300])
    xs += [-x for x in xs]
    # realistic products: float32 components widened, times the scale
    xs += [
        float(np.float32(rng.uniform(-1, 1))) * float(np.float32(rng.uniform(-1, 1))) * 1e9
        for _ in range(2000)
    ]
    assert np.nextafter(0.5, 0) in xs
    _assert_same_doubles(_np_half_up(np.asarray(xs)), _jvm_round(spark, xs, 0), xs)


def test_round6_matches_jvm_round6_on_tie_boundaries(spark):
    """_np_round6 == this JVM's F.round(x, 6) (BigDecimal.valueOf, i.e.
    Double.toString, then HALF_UP) on a sweep of 6-decimal ties: the
    double nearest each (k + 0.5)·1e-6 and its ulp neighbours, for
    cosine-range k on both signs plus larger magnitudes."""
    rng = random.Random(5)
    ks = list(range(0, 200)) + [rng.randrange(0, 10**6) for _ in range(3000)]
    ks += [rng.randrange(0, 10**8) for _ in range(500)]
    ties = [float(f"{k}.5e-6") for k in ks]
    xs = _ulp_neighbours(ties, steps=3)
    xs += [-x for x in xs]
    _assert_same_doubles(_np_round6(np.asarray(xs)), _jvm_round(spark, xs, 6), xs)

