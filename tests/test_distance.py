"""Distance semantics vs NumPy ground truth + reference edge rules
(SURVEY.md §2.5, FIXTURES.md F2)."""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.functions.distance import (
    EPS_SNAP,
    _let,
    distance,
    distance_pandas_udf,
    literal_sql,
    snap_zero,
)
from sqlite_vector_spark.plans import normalized_plan
from sqlite_vector_spark.types import Metric
from sqlite_vector_spark.version import set_backend

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
def test_pandas_udf_backend_agrees(spark, emb, metric):
    """arrow-numpy backend ≡ codegen backend, bit for bit: the kernel
    folds each lane in the tree's order (zero and identical vectors,
    one-row batches and real float32 rows at dim 64 alike)."""
    q = [0.1 * ((i % 7) - 3) for i in range(64)]
    frames = [
        (_df(spark).repartition(4), "v", Q),
        (emb.select(F.col("vec_id").alias("id"), "embedding"), "embedding", q),
    ]
    for df, col, query in frames:
        got = {r.id: r.d for r in df.select("id", distance_pandas_udf(metric, query)(col).alias("d")).collect()}
        set_backend("codegen")
        want = {r.id: r.d for r in df.select("id", distance(col, query, metric).alias("d")).collect()}
        set_backend("auto")
        assert got == want, metric


def test_distance_is_codegen_plan_when_pinned(spark, emb):
    """under the pinned codegen backend (the oracle-gate setting) the
    hot path stays JVM-side: no Python eval in the plan."""
    from sqlite_vector_spark.plans import assert_not_in_plan

    set_backend("codegen")
    df = emb.select(distance("embedding", [0.0] * 64, "L2").alias("d"))
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

    q = [0.1] * 64
    set_backend("codegen")
    base = full_scan(emb, "embedding", q, 50, "L2", id_col="vec_id").collect()
    set_backend("arrow-numpy")
    alt = full_scan(emb, "embedding", q, 50, "L2", id_col="vec_id").collect()
    assert [r.id for r in alt] == [r.id for r in base]
    for a, b in zip(alt, base):
        assert a.distance == pytest.approx(b.distance, rel=1e-12)


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


# The Column-API trees the library built before its one SQL-text tree
# (functions/distance.py): the reference the SQL forms' plans are held to.


def _d(x):
    return x.cast("double")


def _fold_sum(pairs):
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)


def _dot_sum(a, b):
    return _fold_sum(F.zip_with(a, b, lambda x, y: _d(x) * _d(y)))


def _squared_l2(a, b):
    return _fold_sum(F.zip_with(a, b, lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y))))


def _cosine(a, b):
    num = _dot_sum(a, b)
    denom = F.sqrt(_dot_sum(a, a)) * F.sqrt(_dot_sum(b, b))
    return _let(denom, lambda dn: F.when(dn == F.lit(0.0), F.lit(1.0)).otherwise(F.lit(1.0) - num / dn))


_COLUMN_TREES = {
    Metric.L2: lambda a, b: F.sqrt(_squared_l2(a, b)),
    Metric.SQUARED_L2: _squared_l2,
    Metric.COSINE: _cosine,
    Metric.DOT: lambda a, b: -_dot_sum(a, b),
    Metric.L1: lambda a, b: _fold_sum(F.zip_with(a, b, lambda x, y: F.abs(_d(x) - _d(y)))),
}


def _column_distance(a, b, m):
    return snap_zero(_COLUMN_TREES[m](a, b))


def _lits(values):
    return F.array(*[F.lit(float(v)) for v in values])


def test_one_call_scan_plans_equal_column_api_plans(spark, emb):
    """Every SQL-text form gives the optimized plan that the Column-API
    tree with per-element F.lit literals gives, once expression ids and
    lambda-variable names are erased: distance() over a named column and
    a literal query and over two columns, the vector_distance macro,
    pq_encode_col, the dedup norm-precomputed cosine, the PQ ADC fold and
    the BQ Hamming fold. full_scan and pq_scan are checked whole, under
    set_backend("codegen")."""
    from sqlite_vector_spark.operators import pq as pq_mod
    from sqlite_vector_spark.operators.bq import bq_encode, hamming_col, hamming_sql
    from sqlite_vector_spark.operators.dedup import _pair_sides
    from sqlite_vector_spark.operators.search import full_scan
    from sqlite_vector_spark.sql import distance_sql

    def scan(df, score):
        return (df.where(F.col("embedding").isNotNull())
                .select(F.col("vec_id").cast("bigint").alias("id"), score.alias("distance"))
                .orderBy(F.col("distance").asc(), F.col("id").asc()).limit(10))

    q = [math.sin(i * 0.37) for i in range(64)]
    pairs = emb.select("embedding", F.reverse("embedding").alias("e2"))
    e, e2 = F.col("embedding"), F.col("e2")
    set_backend("codegen")
    for m in Metric:
        got = emb.select(distance("embedding", q, m).alias("d"))
        assert normalized_plan(got) == normalized_plan(emb.select(_column_distance(e, _lits(q), m).alias("d"))), m
        got = pairs.select(distance("embedding", e2, m).alias("d"))
        assert normalized_plan(got) == normalized_plan(pairs.select(_column_distance(e, e2, m).alias("d"))), m
        got = emb.select(F.expr(distance_sql("embedding", literal_sql(q), m.value)).alias("d"))
        want = _column_distance(e.cast("array<double>"), _lits(q).cast("array<double>"), m)
        assert normalized_plan(got) == normalized_plan(emb.select(want.alias("d"))), m
    want = scan(emb, _column_distance(e, _lits(q), Metric.L2))
    assert normalized_plan(full_scan(emb, "embedding", q, 10, "L2", id_col="vec_id")) == normalized_plan(want)

    books = pq_mod.pq_codebooks_first(emb, "embedding", 8, 16, 64, id_col="vec_id")
    cols = []
    for s in range(8):
        d_arr = F.array(*[_column_distance(F.slice(e, s * 8 + 1, 8), _lits(c), Metric.SQUARED_L2)
                          for c in books[s]])
        cols.append((F.array_position(d_arr, F.array_min(d_arr)) - 1).cast("bigint"))
    assert normalized_plan(emb.select(pq_mod.pq_encode_col("embedding", books).alias("c"))) == \
        normalized_plan(emb.select(F.array(*cols).alias("c")))

    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"), F.lit(0).alias("g"))
    a, b, dist = _pair_sides(base, "COSINE", "g")
    got = a.join(b, "g").select("a", "b", dist.alias("distance"))
    nb = base.withColumn("nrm", F.sqrt(_dot_sum(F.col("v"), F.col("v"))))
    a = nb.select(F.col("id").alias("a"), F.col("v").alias("va"), F.col("nrm").alias("na"), "g")
    b = nb.select(F.col("id").alias("b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"), "g")
    denom = F.col("na") * F.col("nb")
    cos = F.when(denom == F.lit(0.0), F.lit(1.0)).otherwise(F.lit(1.0) - _dot_sum(F.col("va"), F.col("vb")) / denom)
    want = a.join(b, "g").select("a", "b", snap_zero(cos).alias("distance"))
    assert normalized_plan(got) == normalized_plan(want)

    books = pq_mod.pq_codebooks_first(emb, "embedding", 8, 4, 64, id_col="vec_id")
    codes = pq_mod.pq_encode(emb, "embedding", books, id_col="vec_id")
    luts = pq_mod.adc_lut(q, books)
    terms = F.zip_with(F.col("codes"), F.array(*[_lits(row) for row in luts]),
                       lambda code, lut: F.element_at(lut, (code + 1).cast("int")))
    adc = snap_zero(F.sqrt(F.aggregate(terms, F.lit(0.0), lambda acc, t: acc + t)))
    want = (codes.where(F.col("codes").isNotNull())
            .select(F.col("id").cast("bigint").alias("id"), adc.alias("distance"))
            .orderBy(F.col("distance").asc(), F.col("id").asc()).limit(10))
    assert normalized_plan(pq_mod.pq_scan(codes, q, books, 10)) == normalized_plan(want)

    bits = bq_encode(emb, "embedding", 64, id_col="vec_id")
    words = [-(1 << 63), 12345]
    assert normalized_plan(bits.select(F.expr(hamming_sql("bits", words)).alias("h"))) == \
        normalized_plan(bits.select(hamming_col(F.col("bits"), words).alias("h")))


SHADOW_NAMES = ["x", "y", "v", "dn", "acc"]


@pytest.mark.parametrize("metric", ["L2", "SQUARED_L2", "COSINE", "DOT", "L1"])
def test_column_named_like_a_lambda_variable(spark, metric):
    """A vector column named like one of the trees' lambda variables
    gives the values the same data gives under an ordinary name, through
    distance() (str and F.col, literal query and column-vs-column) and
    through the vector_distance macro."""
    from sqlite_vector_spark.sql import expand_vector_sql

    q_sql = "array(" + ", ".join(map(repr, Q)) + ")"

    def values(name):
        df = _df(spark).select("id", F.col("v").alias(name), F.reverse("v").alias(name + "_r"))
        df.createOrReplaceTempView("shadow_t")
        macro = spark.sql(expand_vector_sql(
            f"SELECT id, vector_distance({name}, {q_sql}, '{metric}') AS m, "
            f"vector_distance({name}, {name}_r, '{metric}') AS mc FROM shadow_t"))
        rows = (
            df.select(
                "id",
                distance(name, Q, metric).alias("s"),
                distance(F.col(name), Q, metric).alias("c"),
                distance(name, name + "_r", metric).alias("sc"),
            )
            .join(macro, "id")
            .orderBy("id")
            .collect()
        )
        return [tuple(r) for r in rows]

    want = values("embedding")
    assert all(r[1] == r[2] == r[4] and r[3] == r[5] for r in want)
    for name in SHADOW_NAMES:
        assert values(name) == want, name


def test_operand_rule(spark):
    """distance() reads a str the way F.col does (keywords, struct
    fields, backtick-quoted dots), F.col(...) and F.expr(...) Columns
    from their JVM node, and refuses any other Column with a TypeError
    that says how to pass it instead."""
    from sqlite_vector_spark.functions.distance import vector_literal

    df = _df(spark).select(
        "id",
        F.col("v").alias("select"),
        F.struct(F.col("v").alias("v")).alias("s"),
        F.col("v").alias("a.b"),
    )
    want = [r.d for r in _df(spark).orderBy("id").select(distance("v", Q, "L2").alias("d")).collect()]
    for operand in ("select", F.col("select"), "s.v", F.col("s.v"), "`a.b`", F.col("`a.b`"),
                    F.expr("`select`")):
        got = [r.d for r in df.orderBy("id").select(distance(operand, Q, "L2").alias("d")).collect()]
        assert got == want, operand
    got = df.orderBy("id").select(distance(F.expr("slice(`select`, 1, 4)"), vector_literal(Q), "L2").alias("d"))
    assert [r.d for r in got.collect()] == want
    for bad in (F.slice("select", 1, 2), df["select"]):
        with pytest.raises(TypeError, match="project it under a name"):
            distance(bad, Q, "L2")
