"""Lexical BM25 / hybrid RRF / matryoshka / semantic-dedup semantics
(operators/retrieval.py, search.matryoshka_scan, dedup.semantic_dedup)."""

import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark import workload as w
from sqlite_vector_spark.operators.retrieval import bm25_scores, bm25_topk, rrf_fuse
from sqlite_vector_spark.operators.search import full_scan, matryoshka_scan
from tests.conftest import SF_SMOKE


def test_bm25_scores_every_doc_and_is_finite(spark, docs):
    scored = bm25_scores(docs, w.BM25_TERMS).collect()
    n_docs = docs.where(F.col("text").isNotNull()).count()
    assert len(scored) == n_docs
    assert all(r.score >= 0.0 for r in scored)


def test_bm25_term_frequency_monotone(spark):
    # same length docs: more matches of the query term -> higher score
    docs = spark.createDataFrame(
        [(1, "spark row filter table"), (2, "spark spark filter table"), (3, "row col filter table")],
        "doc_id long, text string",
    )
    got = {r.id: r.score for r in bm25_scores(docs, ["spark"]).collect()}
    assert got[2] > got[1] > got[3] == 0.0


def test_bm25_length_normalization(spark):
    # equal tf: the shorter document scores higher (b > 0)
    docs = spark.createDataFrame(
        [(1, "spark a b c d e f g h i j k l m n o p"), (2, "spark a b")],
        "doc_id long, text string",
    )
    got = {r.id: r.score for r in bm25_scores(docs, ["spark"]).collect()}
    assert got[2] > got[1]


def test_bm25_topk_orders_desc_with_id_ties(spark, docs):
    rows = bm25_topk(docs, w.BM25_TERMS, 10).collect()
    assert len(rows) == 10
    keys = [(-r.score, r.id) for r in rows]
    assert keys == sorted(keys)


def test_rrf_fuse_ranks_and_scores(spark):
    # arm0 ranks ids 1,2,3 (asc distance); arm1 ranks 3,2,9 (desc score)
    a0 = spark.createDataFrame([(1, 0.1), (2, 0.2), (3, 0.3)], "id long, distance double")
    a1 = spark.createDataFrame([(3, 9.0), (2, 5.0), (9, 1.0)], "id long, score double")
    out = {r.id: r for r in rrf_fuse([(a0, "distance", True), (a1, "score", False)], 10).collect()}
    assert out[3].rank_0 == 3 and out[3].rank_1 == 1
    assert out[9].rank_0 is None and out[9].rank_1 == 3
    assert abs(out[3].rrf_score - (1 / 63 + 1 / 61)) < 1e-12
    assert abs(out[9].rrf_score - 1 / 63) < 1e-12
    # both-arm ids beat single-arm ids at comparable ranks
    assert out[2].rrf_score > out[9].rrf_score


def test_hybrid_rrf_contains_both_arm_hits(spark):
    out = w.hybrid_rrf_q(spark, SF_SMOKE)
    rows = out.collect()
    assert len(rows) == w.HYBRID_K
    assert any(r.rank_0 is not None for r in rows)
    assert any(r.rank_1 is not None for r in rows)


def test_matryoshka_equals_full_scan_when_m_covers_corpus(spark, emb):
    n = emb.count()
    exact = full_scan(emb, "embedding", w.Q64, 10, "L2", id_col="vec_id").collect()
    mat = matryoshka_scan(emb, "embedding", w.Q64, 10, w.MAT_DIM, n, "L2", id_col="vec_id").collect()
    assert [(r.id, r.distance) for r in mat] == [(r.id, r.distance) for r in exact]


def test_matryoshka_recall_reasonable_at_small_m(spark, emb):
    exact = {r.id for r in full_scan(emb, "embedding", w.Q64, 10, "L2", id_col="vec_id").collect()}
    mat = {r.id for r in matryoshka_scan(emb, "embedding", w.Q64, 10, w.MAT_DIM, w.MAT_M, "L2", id_col="vec_id").collect()}
    # prefix dims of the synthetic manifold preserve neighborhoods
    assert len(mat & exact) >= 6


def test_matryoshka_validates_args(spark, emb):
    with pytest.raises(ValueError):
        matryoshka_scan(emb, "embedding", w.Q64, 10, 0, 50, id_col="vec_id")
    with pytest.raises(ValueError):
        matryoshka_scan(emb, "embedding", w.Q64, 10, 16, 5, id_col="vec_id")


def test_semantic_dedup_keeps_min_id_and_drops_only_neighbors(spark):
    from sqlite_vector_spark.operators.dedup import semantic_dedup

    # two clusters around +e1 and -e1; 10/11 near-identical, 12 far
    vecs = [
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [0.999, 0.01, 0.0, 0.0]),
        (12, [0.0, 1.0, 0.0, 0.0]),
        (20, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]]
    out = {r.id: r for r in semantic_dedup(df, "vec_id", "embedding", cents, 0.2).collect()}
    assert out[10].keep and not out[11].keep  # min id kept, near-dup dropped
    assert out[12].keep and out[20].keep
    assert out[10].cluster == out[11].cluster == out[12].cluster == 0
    assert out[20].cluster == 1


def test_semantic_dedup_workload_drops_nonzero(spark):
    out = w.semantic_dedup_q(spark, SF_SMOKE)
    drops = out.where(~F.col("keep")).count()
    keeps = out.where(F.col("keep")).count()
    assert drops > 0 and keeps > 0


def test_funnel_counts_monotone_nonincreasing(spark):
    rows = w.event_funnel_q(spark, SF_SMOKE).collect()
    ns = [r.n_users for r in sorted(rows, key=lambda r: r.step_idx)]
    assert len(ns) == 3
    assert ns[0] >= ns[1] >= ns[2] >= 0


def test_cohort_retention_offsets_nonnegative(spark):
    rows = w.cohort_retention_q(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.week_offset >= 0 and r.n_users > 0 for r in rows)
    # offset-0 cell exists for every cohort (first-seen week is active)
    cohorts = {r.cohort_week for r in rows}
    zero = {r.cohort_week for r in rows if r.week_offset == 0}
    assert cohorts == zero


def test_rrf_fuse_batch_per_query_isolation(spark):
    """Batch fusion must rank each query independently: an id's rank
    in one query's arms cannot leak into another's, and a doc present
    in both arms outscores single-arm docs at equal ranks."""
    from sqlite_vector_spark.operators.retrieval import rrf_fuse, rrf_fuse_batch

    vec = spark.createDataFrame(
        [(1, 10, 0.1), (1, 11, 0.2), (2, 20, 0.05), (2, 10, 0.3)],
        "qid long, id long, distance double",
    )
    lex = spark.createDataFrame(
        [(1, 10, 9.0), (1, 12, 8.0), (2, 21, 7.0), (2, 10, 6.5)],
        "qid long, id long, score double",
    )
    out = rrf_fuse_batch([(vec, "distance", True), (lex, "score", False)], 10)
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.qid, {})[r.id] = (r.rrf_score, r.rank_0, r.rank_1, r.hybrid_rank)
    # id 10 is rank-1 in both arms of qid 1 -> top fused
    assert by_q[1][10][3] == 1 and by_q[1][10][1] == 1 and by_q[1][10][2] == 1
    # per-query isolation: each qid fuses only its own rows, and the
    # batch result equals the single-query rrf_fuse run per qid
    for qid in (1, 2):
        single = rrf_fuse(
            [
                (vec.where(F.col("qid") == qid).select("id", "distance"), "distance", True),
                (lex.where(F.col("qid") == qid).select("id", "score"), "score", False),
            ],
            10,
        ).collect()
        want = {r.id: (r.rrf_score, r.rank_0, r.rank_1) for r in single}
        got = {i: v[:3] for i, v in by_q[qid].items()}
        assert got == want, qid


def test_ivf_recall_curve_monotone(spark):
    """Recall must be non-decreasing in nprobe (each probe set is a
    superset of the previous) and reach 1.0 when every cluster is
    probed."""
    from sqlite_vector_spark import workload as w

    rows = w.ivf_recall_curve_q(spark, "/root/testdata/sf0.001").collect()
    assert [r.nprobe for r in rows] == sorted(r.nprobe for r in rows)
    recalls = [r.recall for r in rows]
    assert all(b >= a for a, b in zip(recalls, recalls[1:])), recalls
    assert 0.0 <= recalls[0] <= 1.0


def test_ivf_recall_curve_salted_tier_window_identical(spark, monkeypatch):
    """The r15 two-phase (salted) tier top-K must be invisible in the
    results: forcing the salt on (tiny partition budget) and the
    local default (no salting) return the same curve. Any (qid, pos)
    tier top-K row is top-K of its own salt bucket, so phase 1 cannot
    drop a survivor."""
    from sqlite_vector_spark import scale
    from sqlite_vector_spark import workload as w

    sf = "/root/testdata/sf0.001"
    plain = [(r.nprobe, r.recall) for r in w.ivf_recall_curve_q(spark, sf).collect()]
    monkeypatch.setattr(scale, "BUDGET_BYTES", 1 << 10)  # force the salted shape
    salted = [(r.nprobe, r.recall) for r in w.ivf_recall_curve_q(spark, sf).collect()]
    assert salted == plain


def test_recall_at_k_single_pass_arm_identical(spark, monkeypatch):
    """The r15 single-pass arm of recall_at_k (both ranking arms from
    one corpus pass + survivor checkpoint, taken when the input is
    above the partition budget) must be invisible
    in the results: forcing it and the local default (two-scan form)
    return identical (qid, recall) rows. Per-arm row sets and distance
    expressions are shared, and row_number's (distance, id) ordering
    is total, so survivors cannot differ."""
    from sqlite_vector_spark import scale
    from sqlite_vector_spark import workload as w

    sf = "/root/testdata/sf0.001"
    plain = sorted(map(tuple, w.recall_at_k(spark, sf).collect()))
    monkeypatch.setattr(scale, "BUDGET_BYTES", 0)  # force the single-pass arm
    single = sorted(map(tuple, w.recall_at_k(spark, sf).collect()))
    assert single == plain


def test_bm25_batch_topk_salt_sized_from_docs_times_queries(spark, docs, monkeypatch):
    """bm25_batch_topk ranks docs x queries rows, so its salt is sized
    from the docs estimate times the query count: a budget between
    the two sizes salts the window, and the salted rows equal the
    plain window's."""
    from sqlite_vector_spark import scale
    from sqlite_vector_spark.operators.retrieval import bm25_batch_topk
    from sqlite_vector_spark.workload import BM25_BATCH

    def windows(df):
        return df._jdf.queryExecution().executedPlan().toString().count("Window [row_number()")

    def rows(df):
        return [tuple(r) for r in df.orderBy("qid", "rank").collect()]

    plain = bm25_batch_topk(docs, BM25_BATCH, 5)
    assert windows(plain) == 1
    monkeypatch.setattr(scale, "BUDGET_BYTES", 2 * scale.size(docs))
    assert len(BM25_BATCH) > 2
    salted = bm25_batch_topk(docs, BM25_BATCH, 5)
    assert windows(salted) == 2
    assert rows(salted) == rows(plain)
