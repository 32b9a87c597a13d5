"""Distance semantics vs NumPy ground truth + reference edge rules
(SURVEY.md §2.5, FIXTURES.md F2)."""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.functions.distance import EPS_SNAP, distance, distance_pandas_udf

VECS = [
    (1, [1.0, 2.0, 3.0, 4.0]),
    (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector: cosine -> 1.0
    (3, [-1.0, 5.5, 0.25, -2.0]),
    (4, [0.5, 0.5, 0.5, 0.5]),
]
Q = [1.0, 2.0, 3.0, 4.0]


def _df(spark):
    return spark.createDataFrame(VECS, "id long, v array<float>")


def _np_dist(metric, a, q):
    a, q = np.asarray(a, dtype=np.float64), np.asarray(q, dtype=np.float64)
    if metric == "L2":
        return math.sqrt(((a - q) ** 2).sum())
    if metric == "SQUARED_L2":
        return ((a - q) ** 2).sum()
    if metric == "L1":
        return np.abs(a - q).sum()
    if metric == "DOT":
        return -(a @ q)
    if metric == "COSINE":
        den = np.linalg.norm(a) * np.linalg.norm(q)
        return 1.0 if den == 0 else 1.0 - (a @ q) / den
    raise ValueError(metric)


@pytest.mark.parametrize("metric", ["L2", "SQUARED_L2", "COSINE", "DOT", "L1"])
def test_metrics_match_numpy(spark, metric):
    rows = _df(spark).select("id", distance("v", Q, metric).alias("d")).collect()
    for r in rows:
        expected = _np_dist(metric, dict(VECS)[r.id], Q)
        if abs(expected) <= EPS_SNAP:
            expected = 0.0
        assert r.d == pytest.approx(expected, rel=1e-12), (metric, r.id)


def test_cosine_zero_vector_is_one(spark):
    # distance-cpu.c:105-107
    r = _df(spark).where("id = 2").select(distance("v", Q, "COSINE").alias("d")).collect()[0]
    assert r.d == 1.0


def test_identical_vector_snaps_to_zero(spark):
    # |d| <= 8*FLT_EPSILON -> 0.0 (sqlite-vector.c:994-996)
    r = _df(spark).where("id = 1").select(distance("v", Q, "L2").alias("d")).collect()[0]
    assert r.d == 0.0
    r = _df(spark).where("id = 1").select(distance("v", Q, "COSINE").alias("d")).collect()[0]
    assert r.d == 0.0


def test_dot_is_negated(spark):
    r = _df(spark).where("id = 1").select(distance("v", Q, "DOT").alias("d")).collect()[0]
    assert r.d == -30.0


def test_metric_aliases(spark):
    df = _df(spark).where("id = 3")
    a = df.select(distance("v", Q, "EUCLIDEAN").alias("d")).collect()[0].d
    b = df.select(distance("v", Q, "L2").alias("d")).collect()[0].d
    assert a == b
    a = df.select(distance("v", Q, "INNER").alias("d")).collect()[0].d
    b = df.select(distance("v", Q, "DOT").alias("d")).collect()[0].d
    assert a == b


@pytest.mark.parametrize("metric", ["L2", "SQUARED_L2", "COSINE", "DOT", "L1"])
def test_pandas_udf_backend_agrees(spark, metric):
    """arrow-numpy backend ≡ codegen backend (up to accumulation order)."""
    df = _df(spark)
    kernel = distance_pandas_udf(metric, Q)
    got = {r.id: r.d for r in df.select("id", kernel("v").alias("d")).collect()}
    want = {r.id: r.d for r in df.select("id", distance("v", Q, metric).alias("d")).collect()}
    for i in got:
        assert got[i] == pytest.approx(want[i], rel=1e-12, abs=1e-12)


def test_distance_is_codegen_plan_when_pinned(spark, emb):
    """under the pinned codegen backend (the oracle-gate setting) the
    hot path stays JVM-side: no Python eval in the plan."""
    from sqlite_vector_spark.plans import assert_not_in_plan
    from sqlite_vector_spark.version import set_backend

    set_backend("codegen")
    try:
        df = emb.select(distance("embedding", [0.0] * 64, "L2").alias("d"))
    finally:
        set_backend("auto")
    assert_not_in_plan(df, "BatchEvalPython", "ArrowEvalPython")


def test_auto_backend_resolves_by_dim(spark, emb):
    """default 'auto' mirrors the reference's runtime SIMD dispatch
    (init_distance_functions, distance-cpu.c:797-812): Arrow/NumPy for
    dim >= AUTO_DIM literal-query scans, codegen below."""
    from sqlite_vector_spark.plans import assert_not_in_plan
    from sqlite_vector_spark.version import AUTO_DIM, vector_backend

    assert vector_backend() == "auto"
    wide = emb.select(distance("embedding", [0.0] * 64, "L2").alias("d"))
    assert "ArrowEvalPython" in wide._jdf.queryExecution().executedPlan().toString()
    narrow = _df(spark).select(distance("v", Q, "L2").alias("d"))  # dim 4 < AUTO_DIM
    assert_not_in_plan(narrow, "BatchEvalPython", "ArrowEvalPython")
    assert AUTO_DIM <= 64


def test_backend_dispatch_arrow_numpy(spark, emb):
    """set_backend('arrow-numpy') routes literal-query distance through
    the NumPy kernel (reference: init_distance_functions force_cpu,
    distance-cpu.c:797-812); results agree with codegen to float tol
    and RANKS are identical on real data (the auto-dispatch contract)."""
    import pytest

    from sqlite_vector_spark.operators.search import full_scan
    from sqlite_vector_spark.version import set_backend

    q = [0.1] * 64
    set_backend("codegen")
    try:
        base = full_scan(emb, "embedding", q, 50, "L2", id_col="vec_id").collect()
    finally:
        set_backend("auto")
    set_backend("arrow-numpy")
    try:
        alt = full_scan(emb, "embedding", q, 50, "L2", id_col="vec_id").collect()
    finally:
        set_backend("auto")
    assert [r.id for r in alt] == [r.id for r in base]
    for a, b in zip(alt, base):
        assert a.distance == pytest.approx(b.distance, rel=1e-12)


def _normalized_plan(df) -> str:
    """Optimized plan text with expression ids and PySpark's lambda
    variable numbers (x_12 -> x) normalized."""
    import re

    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"\b([xyz])_\d+\b", r"\1", re.sub(r"#\d+L?", "#", plan))


def test_array_literal_is_bit_exact_one_call_form(spark):
    """vector_literal / array_literal build one SQL array literal. It
    must equal the per-element F.lit form bit for bit on the values a
    decimal rendering can get wrong, with the same type: array<double>
    (array<bigint> for ints) and containsNull false."""
    import struct

    from pyspark.sql.types import ArrayType, DoubleType, LongType

    from sqlite_vector_spark.functions.distance import array_literal, vector_literal

    vals = [float("nan"), float("inf"), float("-inf"), -0.0, 5e-324,
            1.7976931348623157e308, 1e-05, 0.1, -2.5]
    one = spark.range(1).select(vector_literal(vals).alias("a"))
    ref = spark.range(1).select(F.array(*[F.lit(x) for x in vals]).alias("a"))
    assert one.schema["a"].dataType == ArrayType(DoubleType(), containsNull=False)
    assert ref.schema["a"].dataType == one.schema["a"].dataType

    def bits(df):
        return [struct.pack(">d", x) for x in df.collect()[0]["a"]]

    assert bits(one) == bits(ref) == [struct.pack(">d", x) for x in vals]

    words = [-(1 << 63), (1 << 63) - 1, -1, 0, 1 << 40]
    w = spark.range(1).select(array_literal(words).alias("w"))
    assert w.schema["w"].dataType == ArrayType(LongType(), containsNull=False)
    assert w.collect()[0]["w"] == words


def test_one_call_scan_plans_equal_column_api_plans(spark, emb):
    """The one-call SQL forms of the scan expressions (distance over a
    named column and a literal query, the PQ ADC fold, the BQ Hamming
    fold) give the optimized plans that the Column-API builders with
    per-element F.lit literals give, once expression ids and lambda
    variable numbers are normalized. full_scan and pq_scan are checked
    whole, under set_backend("codegen")."""
    from sqlite_vector_spark.functions.distance import _BUILDERS, snap_zero
    from sqlite_vector_spark.operators import pq as pq_mod
    from sqlite_vector_spark.operators.bq import bq_encode, hamming_col
    from sqlite_vector_spark.operators.search import full_scan
    from sqlite_vector_spark.types import Metric
    from sqlite_vector_spark.version import set_backend

    def lits(values):
        return F.array(*[F.lit(float(v)) for v in values])

    def scan(df, score):
        return (df.where(F.col("embedding").isNotNull())
                .select(F.col("vec_id").cast("bigint").alias("id"), score.alias("distance"))
                .orderBy(F.col("distance").asc(), F.col("id").asc()).limit(10))

    q = [math.sin(i * 0.37) for i in range(64)]
    set_backend("codegen")
    try:
        for m in Metric:
            got = emb.select(distance("embedding", q, m).alias("d"))
            want = emb.select(snap_zero(_BUILDERS[m](F.col("embedding"), lits(q))).alias("d"))
            assert _normalized_plan(got) == _normalized_plan(want), m
        want = scan(emb, snap_zero(_BUILDERS[Metric.L2](F.col("embedding"), lits(q))))
        assert _normalized_plan(full_scan(emb, "embedding", q, 10, "L2", id_col="vec_id")) == \
            _normalized_plan(want)

        books = pq_mod.pq_codebooks_first(emb, "embedding", 8, 4, 64, id_col="vec_id")
        codes = pq_mod.pq_encode(emb, "embedding", books, id_col="vec_id")
        luts = pq_mod.adc_lut(q, books)
        terms = F.zip_with(F.col("codes"), F.array(*[lits(row) for row in luts]),
                           lambda code, lut: F.element_at(lut, (code + 1).cast("int")))
        adc = snap_zero(F.sqrt(F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)))
        want = (codes.where(F.col("codes").isNotNull())
                .select(F.col("id").cast("bigint").alias("id"), adc.alias("distance"))
                .orderBy(F.col("distance").asc(), F.col("id").asc()).limit(10))
        assert _normalized_plan(pq_mod.pq_scan(codes, q, books, 10)) == _normalized_plan(want)
    finally:
        set_backend("auto")

    bits = bq_encode(emb, "embedding", 64, id_col="vec_id")
    words = [-(1 << 63), 12345]
    assert _normalized_plan(bits.select(hamming_col("bits", words).alias("h"))) == \
        _normalized_plan(bits.select(hamming_col(F.col("bits"), words).alias("h")))
