"""The one size policy (sqlite_vector_spark/scale.py): every byte gate
answers through ``scale.large``, an unsized input counts as large, and
each decision can be read back from the ``sqlite_vector_spark`` logger."""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark import scale
from tests.conftest import SF_SMOKE


def test_salt_from_known_sizes(monkeypatch):
    monkeypatch.setattr(scale, "BUDGET_BYTES", 100)
    assert scale.salt(100) is None  # within the budget: one window
    assert scale.salt(101) == 2
    assert scale.salt(1000) == 10
    assert scale.salt(10**9) == scale.SALT_MAX
    assert scale.salt(None) == scale.SALT_MAX  # unsized -> large
    for budget in (0, 1):  # no division by zero
        monkeypatch.setattr(scale, "BUDGET_BYTES", budget)
        assert scale.salt(5) == 5
        assert scale.salt(1 << 40) == scale.SALT_MAX


def test_stream_is_unsized(spark):
    assert scale.size(spark.readStream.format("rate").load()) is None


def test_bounds_on_one_input(spark, caplog):
    """A tuple of bounds is small once one known bound is within the
    limit; later frames are then not sized, and only unknown bounds
    leave it large."""
    stream = spark.readStream.format("rate").load()
    caplog.set_level(logging.DEBUG, logger="sqlite_vector_spark")
    assert not scale.large("scan", (scale.SCAN_BYTES + 1, 5, stream))
    assert scale.large("scan", (scale.SCAN_BYTES + 1, stream))
    assert scale.large("scan", (None, stream))
    assert [r.getMessage() for r in caplog.records] == [
        "size gate scan: 5 -> small",
        f"size gate scan: {scale.SCAN_BYTES + 1} -> large",
        "size gate scan: unsized -> large",
    ]


def test_no_scan_input_asks_no_gate(caplog):
    """A backend choice with no scan input (an encode, a stream's
    per-dim rule) is not a size decision and logs none."""
    from sqlite_vector_spark.version import resolve_backend, vector_backend

    caplog.set_level(logging.DEBUG, logger="sqlite_vector_spark")
    got = resolve_backend(64)
    assert got == ("arrow-numpy" if vector_backend() == "auto" else vector_backend())
    assert not caplog.records


def _knn(spark, emb):
    from sqlite_vector_spark.operators.knn_join import knn_join

    queries = emb.where("vec_id < 2").select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    return knn_join(queries, emb, 5, "L2", corpus_vec="embedding", corpus_id="vec_id")


def _neardup(spark, emb):
    from sqlite_vector_spark import workload as w
    from sqlite_vector_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(emb, "vec_id", "embedding", w.HYPERPLANES, w.NEARDUP_T)


def _text_pull(spark, docs):
    from sqlite_vector_spark.operators.dedup import edit_distance_pairs

    cand = spark.createDataFrame([(1, 2)], "a bigint, b bigint")
    return edit_distance_pairs(cand, docs, "doc_id", "text")


def _recall(spark, emb):
    from sqlite_vector_spark import workload as w

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(w, "_emb", lambda spark, sf_dir: emb)
        return w.recall_at_k(spark, SF_SMOKE)


def _scan(spark, emb):
    from sqlite_vector_spark.operators.search import full_scan

    return full_scan(emb, "embedding", [0.5] * 64, 5, id_col="vec_id")


#: gate -> (table its input is read from, a build that reaches it)
GATES = {
    "salt": ("embeddings", _knn),
    "prefilter": ("embeddings", _neardup),
    "text_pull": ("documents", _text_pull),
    "single_pass": ("embeddings", _recall),
    "scan": ("embeddings", _scan),
}


@pytest.mark.parametrize("sized", [True, False], ids=["sized", "unsized"])
@pytest.mark.parametrize("gate", sorted(GATES))
def test_gate_decision_is_logged(spark, caplog, gate, sized):
    """A small parquet input takes each gate's small arm and logs its
    estimate; the same rows through createDataFrame(rdd, schema) are
    unsized and take the large arm."""
    table, build = GATES[gate]
    df = spark.read.parquet(f"{SF_SMOKE}/{table}.parquet")
    if not sized:
        df = spark.createDataFrame(df.rdd, df.schema)
    caplog.set_level(logging.DEBUG, logger="sqlite_vector_spark")
    build(spark, df)
    lines = [r.getMessage() for r in caplog.records if r.name == "sqlite_vector_spark"]
    got = [m for m in lines if m.startswith(f"size gate {gate}: ")]
    assert got, lines
    est, arm = got[0].removeprefix(f"size gate {gate}: ").split(" -> ")
    if sized:
        assert int(est) <= scale.SCAN_BYTES and arm == "small"
    else:
        assert est == "unsized" and arm == "large"
