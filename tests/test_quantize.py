"""Quantization golden checks (SURVEY.md §2.6, FIXTURES.md F4)."""

import math

import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.operators.quantize import (
    QuantParams,
    compute_quant_params,
    quantize_codes_column,
    quantize_query,
    vector_quantize,
    vector_quantize_memory,
    vector_quantize_scan,
)
from sqlite_vector_spark.types import QType


def test_all_positive_resolves_u8(spark):
    # values in [0, 10] -> U8, scale=255/(max-min), offset=min (sqlite-vector.c:1258-1272)
    df = spark.createDataFrame([(1, [0.0, 5.0]), (2, [10.0, 2.0])], "id long, v array<float>")
    p = compute_quant_params(df, "v")
    assert p.qtype == "U8BIT"
    assert p.scale == 255.0 / 10.0
    assert p.offset == 0.0
    assert p.count == 2


def test_mixed_sign_resolves_s8_symmetric(spark):
    # values in [-5, 3] -> S8, scale=127/5, offset=0
    df = spark.createDataFrame([(1, [-5.0, 1.0]), (2, [3.0, 2.0])], "id long, v array<float>")
    p = compute_quant_params(df, "v")
    assert p.qtype == "S8BIT"
    assert p.scale == 127.0 / 5.0
    assert p.offset == 0.0


def test_forced_qtype_honored(spark):
    df = spark.createDataFrame([(1, [-5.0, 3.0])], "id long, v array<float>")
    p = compute_quant_params(df, "v", QType.U8)
    assert p.qtype == "U8BIT"
    assert p.scale == 255.0 / 8.0
    assert p.offset == -5.0


def test_empty_table_params(spark):
    # scale=1, offset=0, count=0 (sqlite-vector.c:1172-1178)
    df = spark.createDataFrame([], "id long, v array<float>")
    p = compute_quant_params(df, "v")
    assert (p.scale, p.offset, p.count) == (1.0, 0.0, 0)


def test_constant_vectors_scale_inf_codes_zero(spark):
    # max==min -> scale=+Inf like the C double division; codes saturate NaN->0
    df = spark.createDataFrame([(1, [7.0, 7.0]), (2, [7.0, 7.0])], "id long, v array<float>")
    p = compute_quant_params(df, "v")
    assert math.isinf(p.scale)
    codes = df.select(quantize_codes_column("v", p.scale, p.offset, p.lo, p.hi).alias("q")).collect()
    # (7-7)*inf = NaN -> 0
    assert all(list(r.q) == [0, 0] for r in codes)


def test_rounding_half_away_from_zero_and_saturation(spark):
    # q_round_s8 (sqlite-vector.c:506-515): scale=1, offset=0 passthrough rounding
    df = spark.createDataFrame(
        [(1, [0.5, -0.5, 1.4, -1.4, 200.0, -200.0, float("nan"), float("inf"), float("-inf")])],
        "id long, v array<double>",
    )
    codes = df.select(quantize_codes_column("v", 1.0, 0.0, -128, 127).alias("q")).collect()[0].q
    assert list(codes) == [1, -1, 1, -1, 127, -128, 0, 127, -128]


def test_quantize_query_matches_column_math(spark):
    vals = [0.3, -0.7, 12.2, -3.9]
    p = QuantParams("S8BIT", 127.0 / 12.2, 0.0, 1)
    py = quantize_query(vals, p)
    df = spark.createDataFrame([(1, vals)], "id long, v array<double>")
    sp = df.select(quantize_codes_column("v", p.scale, p.offset, p.lo, p.hi).alias("q")).collect()[0].q
    assert py == list(sp)


def test_end_to_end_build_and_scan(spark, emb, tmp_path):
    dest = str(tmp_path / "codes")
    p = vector_quantize(emb, "embedding", dest, id_col="vec_id")
    assert p.count == emb.count()
    codes = spark.read.parquet(dest)
    assert codes.columns == ["id", "qvec"]
    # memory estimate = n * (8 + dim) (sqlite-vector.c:1161)
    assert vector_quantize_memory(codes) == p.count * (8 + 64)
    res = vector_quantize_scan(codes, [0.1] * 64, p, 5, "L2")
    rows = res.collect()
    assert len(rows) == 5
    assert [r.distance for r in rows] == sorted(r.distance for r in rows)


def test_recall_vs_exact_meets_reference_bar(spark, emb, tmp_path):
    """recall@10 >= 0.95 (QUANTIZATION.md:39, API.md:255)."""
    from sqlite_vector_spark.operators.search import full_scan

    dest = str(tmp_path / "codes")
    p = vector_quantize(emb, "embedding", dest, id_col="vec_id")
    codes = spark.read.parquet(dest)
    q = [float(x) for x in emb.where("vec_id = 3").collect()[0].embedding]
    exact = {r.id for r in full_scan(emb, "embedding", q, 10, "L2", id_col="vec_id").collect()}
    approx = {r.id for r in vector_quantize_scan(codes, q, p, 10, "L2").collect()}
    assert len(exact & approx) / 10.0 >= 0.9  # small-N fixture; reference bar is 0.95 at 1M


def test_quantize_numpy_backend_codes_identical(spark, emb, tmp_path):
    """The Arrow/NumPy encode kernel must produce bit-identical codes
    to the codegen HOF path (integer output -> no accumulation-order
    slack to hide behind)."""
    from sqlite_vector_spark.operators.quantize import vector_quantize
    from sqlite_vector_spark.version import set_backend

    a_path, b_path = str(tmp_path / "a"), str(tmp_path / "b")
    pa = vector_quantize(emb, "embedding", a_path, id_col="vec_id")
    set_backend("arrow-numpy")
    pb = vector_quantize(emb, "embedding", b_path, id_col="vec_id")
    assert (pa.qtype, pa.scale, pa.offset) == (pb.qtype, pb.scale, pb.offset)
    rows_a = {r.id: list(r.qvec) for r in spark.read.parquet(a_path).collect()}
    rows_b = {r.id: list(r.qvec) for r in spark.read.parquet(b_path).collect()}
    assert rows_a == rows_b


def test_quantize_declared_dim_rejects_malformed(spark, tmp_path):
    """Wrong-length vectors fail the build when dim is declared
    (reference short-blob error, sqlite-vector.c:1219-1225)."""
    from sqlite_vector_spark.operators.quantize import vector_quantize

    rows = [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0])]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    with pytest.raises(ValueError, match="dimension"):
        vector_quantize(df, "v", str(tmp_path / "q"), dim=2)
    # without the declaration the scan paths trust the data (SURVEY §2.3)
    p = vector_quantize(df.where("id < 2"), "v", str(tmp_path / "q2"), dim=2)
    assert p.count == 2


def test_quantize_update_append_equals_rebuild(spark, emb, tmp_path):
    """VERDICT r5 #2: appending new rows against frozen params must be
    byte-equal to a full rebuild with the same rows present — whenever
    the global min/max is unchanged (old half contains the extremes)."""
    from sqlite_vector_spark.operators.quantize import vector_quantize_update

    from sqlite_vector_spark.operators.quantize import params_value_range

    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    mid = ids[len(ids) // 2]
    old = emb.select("vec_id", "embedding").where(F.col("vec_id") < mid)
    new = emb.select("vec_id", "embedding").where(F.col("vec_id") >= mid)
    # the sf0.001 embeddings' global extremes must live in the old half
    # for exact equivalence; clamp the new half into the old range
    p_old = compute_quant_params(old, "embedding")
    lo_v, hi_v = params_value_range(p_old)
    new = new.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.greatest(F.least(x, F.lit(hi_v)), F.lit(lo_v))
        ).alias("embedding"),
    )
    inc_path = str(tmp_path / "inc")
    p = vector_quantize(old, "embedding", inc_path, id_col="vec_id")
    rep = vector_quantize_update(new, "embedding", inc_path, p, id_col="vec_id")
    assert rep.n_appended == new.count()
    assert rep.drift == 0.0 and not rep.rebuild_recommended
    assert rep.params.count == p.count + rep.n_appended

    full_path = str(tmp_path / "full")
    vector_quantize(old.unionByName(new), "embedding", full_path, id_col="vec_id")
    inc = {(r.id, tuple(r.qvec)) for r in spark.read.parquet(inc_path).collect()}
    full = {(r.id, tuple(r.qvec)) for r in spark.read.parquet(full_path).collect()}
    assert inc == full


def test_quantize_update_preserves_include_cols(spark, emb, tmp_path):
    """Append maintenance on an include_cols replica: appended files
    carry the payload columns (the registered list is picked up from
    the catalog automatically), the catalog marker survives the
    append, and a filtered scan over the mixed old+new store returns
    only matching rows from BOTH halves."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.quantize import vector_quantize, vector_quantize_update
    from sqlite_vector_spark.router import knn

    base = emb.withColumn("label", (F.col("vec_id") % 3).cast("int"))
    base.createOrReplaceTempView("emb_incfilt_t")
    old = base.where(F.col("vec_id") % 2 == 0)
    new = base.where(F.col("vec_id") % 2 == 1)
    cat = VectorCatalog(str(tmp_path / "cat"))
    cat.vector_init(base, "emb_incfilt_t", "embedding", "type=FLOAT32,dimension=64,distance=L2")
    dest = str(tmp_path / "shadow")
    p = vector_quantize(old, "embedding", dest, id_col="vec_id",
                        catalog=cat, table="emb_incfilt_t", include_cols=["label"])
    rep = vector_quantize_update(new, "embedding", dest, p, id_col="vec_id",
                                 catalog=cat, table="emb_incfilt_t")
    assert rep.n_appended == new.count()
    assert cat.get("emb_incfilt_t", "embedding").quantized_include_cols == ["label"]
    stored = spark.read.parquet(dest)
    assert "label" in stored.columns and stored.where(F.col("label").isNull()).count() == 0
    got = knn(spark, cat, "emb_incfilt_t", "embedding", [0.1] * 64, 200,
              prefer="quantized", id_col="vec_id", where="label = 1").collect()
    ids = {r.id for r in got}
    assert ids and all(i % 3 == 1 for i in ids)
    assert any(i % 2 == 0 for i in ids) and any(i % 2 == 1 for i in ids)  # both halves


def test_quantize_update_drift_flags_rebuild(spark, tmp_path):
    """New values outside the frozen range saturate and trip the
    rebuild recommendation once past the threshold."""
    from sqlite_vector_spark.operators.quantize import vector_quantize_update

    old = spark.createDataFrame([(1, [0.0, 10.0]), (2, [5.0, 2.0])], "id long, v array<double>")
    path = str(tmp_path / "q")
    p = vector_quantize(old, "v", path, id_col="id")
    # 10% overshoot above vmax=10 -> drift 0.1 > default threshold 0.05
    new = spark.createDataFrame([(3, [4.0, 11.0])], "id long, v array<double>")
    rep = vector_quantize_update(new, "v", path, p, id_col="id")
    assert rep.n_appended == 1
    assert abs(rep.drift - 0.1) < 1e-12
    assert rep.rebuild_recommended
    # the overshooting value saturated to the hi code
    rows = {r.id: list(r.qvec) for r in spark.read.parquet(path).collect()}
    assert rows[3][1] == p.hi
    # within-threshold drift does not recommend a rebuild
    new2 = spark.createDataFrame([(4, [0.0, 10.2])], "id long, v array<double>")
    rep2 = vector_quantize_update(new2, "v", path, p, id_col="id")
    assert rep2.drift < 0.05 and not rep2.rebuild_recommended
    # empty batch is a no-op
    rep3 = vector_quantize_update(
        spark.createDataFrame([], "id long, v array<double>"), "v", path, p, id_col="id"
    )
    assert rep3.n_appended == 0 and rep3.drift == 0.0


def test_quantize_cleanup_deletes_scheme_roots(spark, tmp_path):
    """ADVICE-class gap closed in r13: vector_quantize_cleanup used
    shutil.rmtree(ignore_errors=True), which silently no-ops on a
    URI — a versioned/remote replica would stay on disk while the
    catalog forgot it. Scheme-carrying roots now delete through the
    FS layer."""
    from sqlite_vector_spark import fsutil
    from sqlite_vector_spark.operators.quantize import vector_quantize_cleanup

    p = f"mock:{tmp_path}/replica"
    spark.range(5).write.parquet(p)
    assert fsutil.exists(spark, p)
    vector_quantize_cleanup(dest_path=p)
    assert not fsutil.exists(spark, p)
