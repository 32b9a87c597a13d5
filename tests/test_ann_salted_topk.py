"""r15: the two-phase (salted) per-query top-k window, extended from
knn_join to the rest of the ANN join family (VERDICT r14 #3's pattern:
ivf_knn_join, ivf_pq_knn_join, bq_knn_join, bq_band_join).

Each test pins BOTH gate arms: the default (small parquet input, salt
None) plans exactly ONE rank window — local bench/oracle plans are
unchanged — and forcing the salt (shrunk partition budget) plans TWO
windows whose results are IDENTICAL row-for-row, which is the whole
correctness argument: any global top-k row is top-k of its
(id mod salt) bucket."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark import scale


@pytest.fixture(scope="module")
def books(emb):
    from sqlite_vector_spark.operators.pq import pq_codebooks_first

    return pq_codebooks_first(emb, "embedding", 4, 8, 64, id_col="vec_id")


def _n_rank_windows(df) -> int:
    # count Window EXEC nodes, not the WindowGroupLimit helpers Spark 4
    # adds around them (same counter as test_knn_join)
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Window [row_number()")


def _rows(df):
    return [tuple(r) for r in df.orderBy("qid", "rank").collect()]


def _forced(monkeypatch, build):
    """Build the frame under a 1 KiB salt budget (forces the two-phase
    window for any parquet-sized input); the budget is restored when
    the build returns."""
    with monkeypatch.context() as m:
        m.setattr(scale, "BUDGET_BYTES", 1 << 10)
        return build()


def test_ivf_knn_join_salted_identical(monkeypatch, spark, emb):
    from sqlite_vector_spark.operators.ann import ivf_knn_join

    cent = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    queries = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )

    def build():
        return ivf_knn_join(
            queries, emb, cent, 5, nprobe=2, id_col="vec_id", vec_col="embedding"
        )

    plain = build()
    assert _n_rank_windows(plain) == 1  # small corpus: plan unchanged
    salted = _forced(monkeypatch, build)
    assert _n_rank_windows(salted) == 2
    assert _rows(salted) == _rows(plain)


def test_ivf_pq_knn_join_salted_identical(monkeypatch, spark, emb, books):
    from sqlite_vector_spark.operators.ann import ivf_assign
    from sqlite_vector_spark.operators.pq import ivf_pq_knn_join, pq_encode_col

    cents = [
        list(r.embedding)
        for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    store = ivf_assign(emb, "embedding", cents, id_col="vec_id", metric="L2").select(
        "id", pq_encode_col(F.col("vec"), books).alias("codes"), "cluster"
    )

    def build():
        return ivf_pq_knn_join(queries, store, cents, books, 5, nprobe=3)

    plain = build()
    assert _n_rank_windows(plain) == 1
    salted = _forced(monkeypatch, build)
    assert _n_rank_windows(salted) == 2
    assert _rows(salted) == _rows(plain)


def test_bq_knn_join_salted_identical(monkeypatch, spark, emb):
    from sqlite_vector_spark.operators.bq import bq_encode, bq_knn_join

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )

    def build():
        return bq_knn_join(queries, codes, 64, k=5, band_bits=8)

    plain = build()
    assert _n_rank_windows(plain) == 1
    salted = _forced(monkeypatch, build)
    assert _n_rank_windows(salted) == 2
    assert _rows(salted) == _rows(plain)


def test_bm25_batch_topk_salted_identical(monkeypatch, spark, docs):
    from sqlite_vector_spark.operators.retrieval import bm25_batch_topk

    queries = [(0, ["the", "of"]), (1, ["and", "data"])]

    def build():
        return bm25_batch_topk(docs, queries, 5)

    plain = build()
    assert _n_rank_windows(plain) == 1
    salted = _forced(monkeypatch, build)
    assert _n_rank_windows(salted) == 2
    assert _rows(salted) == _rows(plain)


def test_bq_band_join_salted_identical(monkeypatch, spark, emb, tmp_path):
    from sqlite_vector_spark.operators.bq import bq_band_join, bq_band_store, bq_encode

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    dest = str(tmp_path / "bands")
    bq_band_store(codes, 64, dest, band_bits=8)
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )

    def build():
        return bq_band_join(spark, dest, queries, 64, 5, band_bits=8)

    plain = build()
    assert _n_rank_windows(plain) == 1
    salted = _forced(monkeypatch, build)
    assert _n_rank_windows(salted) == 2
    assert _rows(salted) == _rows(plain)
