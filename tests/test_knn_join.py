"""kNN join: window path ≡ blocked (mapInPandas) scale path."""

import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.operators.knn_join import join_back, knn_join, knn_join_blocked


@pytest.mark.parametrize("metric", ["L2", "COSINE", "DOT"])
def test_blocked_equals_window_path(spark, emb, metric):
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    a = knn_join(queries, emb, 7, metric, corpus_vec="embedding", corpus_id="vec_id")
    qlocal = [(r.qid, list(r.qvec)) for r in queries.collect()]
    b = knn_join_blocked(qlocal, emb.repartition(4), 7, metric, corpus_vec="embedding", corpus_id="vec_id")
    ra = sorted((r.qid, r.id, r.rank) for r in a.collect())
    rb = sorted((r.qid, r.id, r.rank) for r in b.collect())
    assert ra == rb
    da = {(r.qid, r.id): r.distance for r in a.collect()}
    db = {(r.qid, r.id): r.distance for r in b.collect()}
    for k in da:
        assert da[k] == pytest.approx(db[k], rel=1e-9, abs=1e-12)


def test_knn_join_k_bounds_group_size(spark, emb):
    queries = emb.where("vec_id < 3").select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    out = knn_join(queries, emb, 4, "L2", corpus_vec="embedding", corpus_id="vec_id")
    counts = out.groupBy("qid").count().collect()
    assert all(r["count"] == 4 for r in counts)


def test_join_back_broadcasts_results(spark, emb):
    queries = emb.where("vec_id < 2").select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    res = knn_join(queries, emb, 3, "L2", corpus_vec="embedding", corpus_id="vec_id")
    payload = emb.select(F.col("vec_id").alias("pid"), "label")
    joined = join_back(res, payload, "pid")
    from sqlite_vector_spark.plans import assert_in_plan

    assert_in_plan(joined, "BroadcastHashJoin")
    assert joined.count() == 6


def test_auto_salt_thresholds_and_identical_results(spark, emb, monkeypatch):
    """VERDICT r5 #7: the two-phase window engages automatically when
    Catalyst's corpus size estimate crosses the per-partition budget,
    and salted results are identical to the plain window's."""
    from sqlite_vector_spark import scale

    queries = emb.where("vec_id < 2").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    def n_windows(df):
        # count Window EXEC nodes ("Window [row_number()..."), not the
        # WindowGroupLimit pushdown helpers Spark 4 adds around them
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Window [row_number()")

    # small parquet corpus under the budget: single window, no salt
    plain = knn_join(queries, emb, 5, "L2", corpus_vec="embedding", corpus_id="vec_id")
    assert n_windows(plain) == 1
    # derived salt crosses the threshold when the budget shrinks
    monkeypatch.setattr(scale, "BUDGET_BYTES", 1 << 10)
    salted = knn_join(queries, emb, 5, "L2", corpus_vec="embedding", corpus_id="vec_id")
    assert n_windows(salted) == 2  # local bucket top-k + global window
    assert [tuple(r) for r in salted.orderBy("qid", "rank").collect()] == [
        tuple(r) for r in plain.orderBy("qid", "rank").collect()
    ]

    # Catalyst sizes a localCheckpoint (the streaming neardup batch
    # relies on it); a createDataFrame(rdd, schema) frame is unsized,
    # and unsized counts as large: the cap
    ckpt = emb.select("vec_id", "embedding").localCheckpoint(eager=True)
    assert scale.size(ckpt) is not None
    unsized = spark.createDataFrame(emb.rdd, emb.schema)
    assert scale.salt(unsized) == scale.SALT_MAX


def _tiny_join(spark, fn, salt):
    """Call one of the three salted joins on a 4-dim, 3-row input."""
    vecs = [(i, [float(i), 0.0, 1.0, float(-i)]) for i in range(3)]
    queries = spark.createDataFrame(vecs[:1], "qid bigint, qv array<float>")
    corpus = spark.createDataFrame(vecs, "id bigint, vec array<float>")
    cents = [[0.0, 0.0, 1.0, 0.0], [2.0, 0.0, 1.0, -2.0]]
    if fn == "knn_join":
        return knn_join(queries, corpus, 2, query_vec="qv", corpus_vec="vec", salt=salt)
    if fn == "ivf_knn_join":
        from sqlite_vector_spark.operators.ann import ivf_knn_join

        return ivf_knn_join(queries, corpus, cents, 2, salt=salt)
    from sqlite_vector_spark.operators.pq import ivf_pq_knn_join

    store = spark.createDataFrame(
        [(i, [0, 1], i % 2) for i in range(3)], "id bigint, codes array<bigint>, cluster int"
    )
    books = [[[0.0, 0.0], [1.0, 1.0]], [[0.0, 0.0], [1.0, 1.0]]]
    return ivf_pq_knn_join(queries, store, cents, books, 2, salt=salt)


@pytest.mark.parametrize("salt", ["2", -1, 2.5, True])
@pytest.mark.parametrize("fn", ["knn_join", "ivf_knn_join", "ivf_pq_knn_join"])
def test_bad_salt_raises_value_error(spark, fn, salt):
    """salt accepts only "auto", None or an int >= 1; anything else
    (a numeric string, a negative, a float, a bool) is rejected while
    the plan is built, not truncated or silently ignored."""
    with pytest.raises(ValueError, match="salt"):
        _tiny_join(spark, fn, salt)


def test_topk_per_key_salted_equals_sorted_reference(spark):
    """topk_per_key on the (arm, qid) two-key shape with a descending
    order: ties on the score at the k boundary break by id, a group
    smaller than k keeps all its rows, and salt 3 and no salt both
    equal a Python sort of each group."""
    from sqlite_vector_spark.operators.topk import topk_per_key

    k = 3
    rows = [(a, q, i, float((i * 7 + q) % 5)) for a in (0, 1) for q in (0, 1) for i in range(12)]
    rows += [(0, 2, 100, 1.0), (0, 2, 101, 1.0)]  # group smaller than k
    df = spark.createDataFrame(rows, "arm int, qid bigint, id bigint, score double")
    groups: dict = {}
    for a, q, i, sc in rows:
        groups.setdefault((a, q), []).append((sc, i))
    want = sorted(
        (a, q, i, sc, r + 1)
        for (a, q), g in groups.items()
        for r, (sc, i) in enumerate(sorted(g, key=lambda t: (-t[0], t[1]))[:k])
    )
    # the fixture really ties at the boundary: rank k and k+1 share a score
    g = sorted(groups[(0, 0)], key=lambda t: (-t[0], t[1]))
    assert g[k - 1][0] == g[k][0]
    order = [F.col("score").desc(), F.col("id").asc()]
    for salt in (3, None):
        got = topk_per_key(df, ["arm", "qid"], order, k, salt=salt)
        assert got.columns == ["arm", "qid", "id", "score", "rank"]
        assert sorted(map(tuple, got.collect())) == want


def test_router_filtered_knn_join_both_tiers(spark, emb, tmp_path):
    """router.knn_join(where=): the exact tier must equal a manual
    knn_join over the pre-filtered corpus (true distances); the
    quantized tier must equal a manual knn_join over the filtered
    REPLICA with in-plan-quantized queries (quantized units); a
    predicate the replica cannot answer raises instead of silently
    falling back; probe-limited prefer values are rejected."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.quantize import (
        quantize_codes_column,
        vector_quantize,
    )
    from sqlite_vector_spark.router import knn_join as router_knn_join

    emb.createOrReplaceTempView("fkj_t")
    cat = VectorCatalog(str(tmp_path / "cat"))
    cat.vector_init(emb, "fkj_t", "embedding", "type=FLOAT32,dimension=64,distance=L2")
    params = vector_quantize(
        emb, "embedding", str(tmp_path / "shadow"), id_col="vec_id",
        catalog=cat, table="fkj_t", include_cols=["label"],
    )
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    pred = "label = 2"

    got_exact = router_knn_join(
        spark, cat, "fkj_t", "embedding", queries, 5,
        prefer="exact", id_col="vec_id", where=pred,
    )
    want_exact = knn_join(
        queries, emb.where(F.expr(pred)), 5, "L2",
        query_vec="qv", corpus_vec="embedding", corpus_id="vec_id",
    )
    assert sorted(map(tuple, got_exact.collect())) == sorted(map(tuple, want_exact.collect()))
    # the filter reached the parquet scan
    plan = got_exact._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "label" in plan

    got_q = router_knn_join(
        spark, cat, "fkj_t", "embedding", queries, 5,
        prefer="quantized", id_col="vec_id", where=pred,
    )
    replica = spark.read.parquet(str(tmp_path / "shadow")).where(F.expr(pred))
    qenc = queries.select(
        "qid",
        quantize_codes_column(
            "qv", F.lit(params.scale), F.lit(params.offset),
            F.lit(params.lo), F.lit(params.hi),
        ).cast("array<double>").alias("qv"),
    )
    want_q = knn_join(qenc, replica, 5, "L2", query_vec="qv", corpus_vec="qvec", corpus_id="id")
    assert sorted(map(tuple, got_q.collect())) == sorted(map(tuple, want_q.collect()))
    # every returned corpus row matches the predicate
    lbl = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert all(lbl[r.id] == 2 for r in got_q.collect())

    with pytest.raises(ValueError, match="cannot answer"):
        router_knn_join(
            spark, cat, "fkj_t", "embedding", queries, 5,
            prefer="quantized", id_col="vec_id", where="nonexistent_col = 1",
        ).collect()
    with pytest.raises(ValueError, match="full-coverage"):
        router_knn_join(
            spark, cat, "fkj_t", "embedding", queries, 5,
            prefer="ivf", id_col="vec_id", where=pred,
        )
