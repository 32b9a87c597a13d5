"""kNN similarity join + payload join-back.

The reference's documented pattern joins search results back to the
payload row by rowid (README.md:96-99, QUANTIZATION.md:48-58); the
many-queries generalization (one top-k per query row) is the first
north-star operator for the LLM-pipeline layer (SURVEY.md §7 step 6).

Physical strategy, chosen for 100 TB corpora:

``knn_join`` (window path) — broadcast the query side, nested-loop
join (no corpus shuffle), then ``row_number() over (partition by qid
order by distance, id) <= k``. The only shuffle is of the scored
candidate pairs (|corpus| x |queries| rows) — fine for small Q, wrong
for large Q x large corpus.

``knn_join_blocked`` (scale path) — per-corpus-partition LOCAL top-k
per query via Arrow-batched ``mapInPandas`` (NumPy matmul block
kernel), emitting only P x Q x k candidate rows, then a global top-k
window over that tiny set. This is the distributed generalization of
the reference's k-slot array (sqlite-vector.c:2022-2106): each
partition plays the role of one scan, the final window merges. The
corpus is never shuffled; candidate volume is independent of corpus
row count. Results match the window path to float tolerance: the
NumPy block kernel reduces with pairwise summation, not the window
path's sequential left fold, so distances can differ in the final
ulp and top-k membership could in principle flip on a near-exact-tie
k boundary. Equality is verified in tests on real data; callers
needing bit-parity with the oracle use the window path or
``accumulate="sequential"``.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import broadcast

from sqlite_vector_spark.functions.distance import EPS_SNAP, batch_matrix, distance, fold_distances
from sqlite_vector_spark.operators.topk import topk_per_key
from sqlite_vector_spark.sources import widen
from sqlite_vector_spark.types import Metric, parse_metric


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str | Metric = Metric.L2,
    query_vec: str = "qvec",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    corpus_id: str = "id",
    salt: int | None | str = "auto",
) -> DataFrame:
    """Exact top-k per query -> (qid, id, distance, rank).

    ``salt``: skew bound of the per-query rank window, see
    topk.topk_per_key; "auto" sizes it from ``corpus``.
    """
    q = broadcast(
        queries.where(F.col(query_vec).isNotNull()).select(
            F.col(query_id).cast("bigint").alias("qid"), F.col(query_vec).alias("__qv")
        )
    )
    c = corpus.where(F.col(corpus_vec).isNotNull()).select(
        F.col(corpus_id).cast("bigint").alias("id"), F.col(corpus_vec).alias("__cv")
    )
    scored = c.crossJoin(q).select(
        "qid", "id", distance(F.col("__cv"), F.col("__qv"), metric).alias("distance")
    )
    order = [F.col("distance").asc(), F.col("id").asc()]
    return topk_per_key(scored, ["qid"], order, k, salt=salt, size_from=corpus)


def knn_join_blocked(
    queries_local: Sequence[tuple[int, Sequence[float]]],
    corpus: DataFrame,
    k: int,
    metric: str | Metric = Metric.L2,
    corpus_vec: str = "embedding",
    corpus_id: str = "id",
    accumulate: str = "pairwise",
) -> DataFrame:
    """Scale path: local top-k per partition (NumPy block kernel via
    mapInPandas), then global top-k window over P x Q x k rows.

    ``queries_local`` is a driver-side list of (qid, vector) — the
    query block is shipped inside the serialized task closure, i.e.
    broadcast. For query sets too big for one block, shard the list
    and union the results.

    ``accumulate``: "pairwise" (default) reduces with NumPy pairwise
    summation — fastest, final-ulp different from the sequential left
    fold. "sequential" loops the dim axis with an (B, Q) accumulator:
    each lane adds in index order, bit-identical to the codegen HOF
    fold and the DuckDB oracle's list_reduce, so the blocked path can
    be hash-gated like the window path (still vectorized over the
    B x Q block; only the dim axis is a Python loop — ~dim array ops
    per batch)."""
    import numpy as np

    m = parse_metric(metric) if isinstance(metric, str) else metric
    if accumulate not in ("pairwise", "sequential"):
        raise ValueError(f"accumulate must be 'pairwise' or 'sequential', got {accumulate!r}")
    seq = accumulate == "sequential"
    qids = np.asarray([int(q) for q, _ in queries_local], dtype=np.int64)
    qmat = np.asarray([list(v) for _, v in queries_local], dtype=np.float64)  # (Q, dim)
    kk = int(k)

    # widen: the block kernel is CPU-bound per partition; a small
    # single-split scan would run it serial (no-op at real scale)
    src = widen(
        corpus.where(F.col(corpus_vec).isNotNull()).select(
            F.col(corpus_id).cast("bigint").alias("id"), F.col(corpus_vec).alias("vec")
        )
    )

    def part_topk(batches: Iterator) -> Iterator:
        import pandas as pd

        best: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = batch_matrix(pdf["vec"], lanes=seq)  # (B, dim)
            if seq:
                d = fold_distances(np, mat, qmat, m)
            elif m is Metric.SQUARED_L2:
                d = ((mat[:, None, :] - qmat[None, :, :]) ** 2).sum(axis=2)
            elif m is Metric.L2:
                d = np.sqrt(((mat[:, None, :] - qmat[None, :, :]) ** 2).sum(axis=2))
            elif m is Metric.L1:
                d = np.abs(mat[:, None, :] - qmat[None, :, :]).sum(axis=2)
            elif m is Metric.DOT:
                d = -(mat @ qmat.T)
            elif m is Metric.COSINE:
                num = mat @ qmat.T
                cn = np.sqrt((mat * mat).sum(axis=1))[:, None]
                qn = np.sqrt((qmat * qmat).sum(axis=1))[None, :]
                denom = cn * qn
                with np.errstate(divide="ignore", invalid="ignore"):
                    d = np.where(denom == 0.0, 1.0, 1.0 - num / denom)
            else:  # pragma: no cover
                raise ValueError(m)
            d = np.where(np.abs(d) <= EPS_SNAP, 0.0, d)  # zero-snap parity
            for j in range(len(qids)):
                dj = d[:, j]
                pid, pd_ = best.get(j, (None, None))
                cand_ids = ids if pid is None else np.concatenate([pid, ids])
                cand_d = dj if pd_ is None else np.concatenate([pd_, dj])
                order = np.lexsort((cand_ids, cand_d))[:kk]
                best[j] = (cand_ids[order], cand_d[order])
        rows = {"qid": [], "id": [], "distance": []}
        for j, (ids_, ds_) in best.items():
            rows["qid"].extend([qids[j]] * len(ids_))
            rows["id"].extend(ids_.tolist())
            rows["distance"].extend(ds_.tolist())
        yield pd.DataFrame(rows, columns=["qid", "id", "distance"])

    local = src.mapInPandas(part_topk, schema="qid bigint, id bigint, distance double")
    return topk_per_key(local, ["qid"], [F.col("distance").asc(), F.col("id").asc()], kk)


def join_back(results: DataFrame, payload: DataFrame, payload_id: str, result_id: str = "id", how: str = "inner") -> DataFrame:
    """Join search results to their payload rows (README.md:96-99).

    The result side is k (or Q x k) rows — broadcast it, so the payload
    table is never shuffled.
    """
    r = broadcast(results)
    return r.join(payload, r[result_id] == payload[payload_id], how)


def knn_label_propagation(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    metric: str | Metric = Metric.L2,
    query_vec: str = "qvec",
    corpus_vec: str = "embedding",
    query_id: str = "qid",
    corpus_id: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised kNN labeling: each query takes the majority
    label among its k nearest corpus rows; ties break to the SMALLER
    label (deterministic). Returns (qid, pred_label, votes).

    Scale shape: the label ride-along joins the k·|Q| result rows —
    never the corpus — back to corpus labels, then one k-row-per-query
    vote window. All heavy lifting stays in knn_join's salted
    window/broadcast plan."""
    nn = knn_join(
        queries, corpus, k, metric,
        query_vec=query_vec, corpus_vec=corpus_vec,
        query_id=query_id, corpus_id=corpus_id,
    )
    return majority_vote(nn, corpus, corpus_id=corpus_id, label_col=label_col)


def majority_vote(
    nn: DataFrame,
    corpus: DataFrame,
    corpus_id: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Vote step over ANY neighbor result carrying (qid, id) — the
    exact knn_join above, or operators/ann.py ivf_knn_join for the
    100 TB route: exact |Q|x|corpus| scoring is quadratic when the
    unlabeled fraction grows with the corpus, so large-scale label
    propagation probes the IVF store and feeds its (qid, id) rows
    here unchanged."""
    labels = corpus.select(
        F.col(corpus_id).cast("bigint").alias("id"),
        F.col(label_col).cast("int").alias("__lbl"),
    )
    votes = (
        nn.select("qid", "id").join(labels, "id")
        .groupBy("qid", "__lbl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("votes").desc(), F.col("__lbl").asc())
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("qid", F.col("__lbl").alias("pred_label"), F.col("votes").cast("bigint").alias("votes"))
    )
