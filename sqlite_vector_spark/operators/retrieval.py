"""Lexical retrieval (BM25) and hybrid lexical+vector fusion (RRF).

The reference is a vector-search extension whose canonical deployment
pairs it with SQLite's FTS5 for hybrid retrieval (README.md:25-33
positions it as the vector half of that stack; the extension itself
ships no lexical scorer). This module supplies the lexical half and
the fusion step Spark-first, so the two retrieval arms the reference
user runs today — `vector_full_scan` + an FTS5 MATCH — become two
DataFrame plans fused by reciprocal-rank.

Scale shapes:
- ``bm25_topk`` is the quantize two-pass shape: pass 1 computes the
  corpus statistics (N, Σdl, per-term document frequencies) as ONE
  tiny aggregate (map-side partials, 1-row result), pass 2 scores
  every document map-side against the broadcast stats and keeps top-k
  via TakeOrderedAndProject — only P×k rows leave the executors. No
  inverted index is materialized: with a literal term list the tf
  projection is a per-row array_filter, so the "posting list lookup"
  is a column prune + codegen'd map, which at 100 TB beats shuffling
  an exploded token table by the token-count multiple.
- ``rrf_fuse`` joins k-row arms — driver-scale inputs, any join
  strategy is fine; the plan broadcasts both sides.

Determinism contract (oracle.py mirrors bit-for-bit): the scorer is
**rational-idf BM25** — idf(t) = (N − df + 0.5)/(df + 0.5), i.e. the
Robertson odds ratio WITHOUT the log. ln() is not IEEE
correctly-rounded and differs in the last ulp across libm
implementations, so a log idf cannot be hash-gated across engines;
the odds ratio uses only exact-IEEE ops (+ − * /) and is a monotone
transform of the log form, so per-term ranking is identical (the
cross-term weighting is slightly sharper — documented engine
semantics, same trade as eps-snap). k1/b defaults are the classic
Robertson values.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from sqlite_vector_spark import scale
from sqlite_vector_spark.operators.topk import topk_per_key

#: classic Robertson/Sparck-Jones constants
BM25_K1 = 1.2
BM25_B = 0.75
#: reciprocal-rank-fusion damping (Cormack et al.: 60)
RRF_K = 60


def _term_tf(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("double")


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Score every document against a literal term list -> (id, score).

    Two passes over the corpus, both narrow: (1) one combined
    aggregate for N / Σdl / df_t, (2) a map-side scoring projection
    against the broadcast 1-row stats. The per-term sum folds in
    fixed literal order, so the double result is partition-layout
    independent.
    """
    from sqlite_vector_spark.functions.text import normalize_text, words

    if not terms:
        raise ValueError("bm25 needs at least one query term")
    # materialize the token array behind an attribute boundary before
    # fanning out dl + per-term tf columns — same rationale (and
    # measured win) as bm25_batch_topk below: inlined, every tf column
    # re-runs the lowercase + regex + split chain because HOF lambdas
    # are CodegenFallback (no codegen subexpression elimination)
    base = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"),
        words(normalize_text(F.col(text_col))).alias("toks"),
    ).select(
        "id",
        F.size("toks").cast("double").alias("dl"),
        *[_term_tf(F.col("toks"), t).alias(f"tf_{i}") for i, t in enumerate(terms)],
    )
    # stats accumulate as BIGINT (dl and the df indicators are exact
    # integers), so the partial-sum merge order can't perturb a double
    # accumulator; the casts back to DOUBLE below are exact
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.col("dl").cast("bigint")).cast("double").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > F.lit(0.0)).cast("bigint")).cast("double").alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    # avgdl = Σdl / N: both operands are integer-exact doubles, the
    # division is a single correctly-rounded IEEE op -> identical in
    # any engine. Same for every op below (no transcendentals).
    avgdl = F.col("sum_dl") / F.col("n_docs")
    one_b = F.lit(1.0) - F.lit(b)

    def term_score(i: int) -> Column:
        tf = F.col(f"tf_{i}")
        idf = (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5)) / (F.col(f"df_{i}") + F.lit(0.5))
        denom = tf + F.lit(k1) * (one_b + F.lit(b) * (F.col("dl") / avgdl))
        return idf * ((tf * F.lit(k1 + 1.0)) / denom)

    score = term_score(0)
    for i in range(1, len(terms)):  # fixed left-to-right fold
        score = score + term_score(i)
    return base.crossJoin(F.broadcast(stats)).select("id", score.alias("score"))


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k lexical retrieval -> (id, score) descending, id-tiebroken.

    Compiles to TakeOrderedAndProject over the map-side scoring
    projection: per-partition k-heaps, P×k rows to the driver — the
    same distributed k-slot shape as vector full_scan.
    """
    scored = bm25_scores(docs, terms, id_col=id_col, text_col=text_col, k1=k1, b=b)
    return scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(k)


def rrf_fuse(
    arms: Sequence[tuple[DataFrame, str, bool]],
    k: int,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval arms.

    Each arm is ``(df, order_col, ascending)`` where ``df`` has an
    ``id`` column and ``order_col`` defines its ranking (ascending for
    distances, descending for scores; ties broken by id everywhere).
    Returns (id, rrf_score, rank_0, rank_1, ...) — top-k by fused
    score, with each arm's 1-based rank (NULL when the arm missed the
    id). Inputs are k-row results, so the fusion plan is driver-scale:
    both sides broadcast, no shuffle of anything large.
    """
    fused: DataFrame | None = None
    rank_cols: list[str] = []
    for i, (df, order_col, asc) in enumerate(arms):
        oc = F.col(order_col).asc() if asc else F.col(order_col).desc()
        w = Window.orderBy(oc, F.col("id").asc())
        ranked = df.select("id", F.row_number().over(w).alias(f"rank_{i}"))
        rank_cols.append(f"rank_{i}")
        fused = ranked if fused is None else fused.join(ranked, "id", "full_outer")
    assert fused is not None, "rrf_fuse needs at least one arm"
    contribs = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(c).cast("double")), F.lit(0.0)
        )
        for c in rank_cols
    ]
    score = contribs[0]
    for c in contribs[1:]:  # fixed fold order, mirrored in the oracle
        score = score + c
    return (
        fused.select(
            "id",
            score.alias("rrf_score"),
            *[F.col(c).cast("int").alias(c) for c in rank_cols],
        )
        .orderBy(F.col("rrf_score").desc(), F.col("id").asc())
        .limit(k)
    )


def mmr_select(
    corpus: DataFrame,
    query: Sequence[float],
    c: int,
    k: int,
    lam: float = 0.7,
    metric: str = "L2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified top-k (Carbonell &
    Goldstein 1998): retrieve the ``c`` most relevant candidates,
    then greedily pick ``k`` of them maximizing
    ``lam * relevance - (1 - lam) * redundancy`` — with distances,
    each step takes argmin of ``lam * d(q, x) - (1 - lam) *
    min_{s in S} d(x, s)``, ties to the smaller id. Step 1 is the
    pure-relevance pick. Returns (mmr_rank, id, distance).

    Scale shape: the candidate fetch is the distributed part — a
    TakeOrderedAndProject top-c over the full corpus. The greedy loop
    is O(k·c) on c collected rows (k, c are result-sized, like the
    reference's k-row result sets), driver-side by design: MMR is
    inherently sequential, and shipping c ~ tens of rows beats k
    cluster round-trips. Pair distances replicate the engine's
    sequential IEEE fold + eps-snap bitwise, so results hash-match
    the recursive-CTE oracle.
    """
    import math

    from sqlite_vector_spark.functions.distance import EPS_SNAP, distance, vector_literal

    if k < 1 or c < 1:
        raise ValueError(f"mmr_select needs k >= 1 and c >= 1, got k={k}, c={c}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    emb = corpus.where(F.col(vec_col).isNotNull())
    scored = emb.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(vec_col).alias("v"),
        distance(F.col(vec_col), vector_literal(query), metric).alias("dq"),
    )
    cand = scored.orderBy(F.col("dq").asc(), F.col("id").asc()).limit(c).collect()

    def seq_l2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            d = float(x) - float(y)
            acc += d * d
        d = math.sqrt(acc)
        return 0.0 if abs(d) <= EPS_SNAP else d

    rows = {r.id: r for r in cand}
    selected: list[int] = []
    pair: dict[tuple[int, int], float] = {}
    while len(selected) < min(k, len(rows)):
        best = None
        for cid, r in rows.items():
            if cid in selected:
                continue
            if not selected:
                score = r.dq  # argmin dq == argmin lam*dq at step 1
            else:
                red = min(pair.setdefault((cid, s), seq_l2(r.v, rows[s].v)) for s in selected)
                score = lam * r.dq - (1.0 - lam) * red
            if best is None or (score, cid) < best:
                best = (score, cid)
        selected.append(best[1])
    out = [(i + 1, cid, rows[cid].dq) for i, cid in enumerate(selected)]
    return corpus.sparkSession.createDataFrame(out, "mmr_rank int, id bigint, distance double")


def bm25_batch_topk(
    docs: DataFrame,
    queries: Sequence[tuple[int, Sequence[str]]],
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Multi-query lexical retrieval — the BM25 analog of the kNN
    join: top-k per query for a BATCH of (qid, terms) queries in ONE
    corpus pass. Returns (qid, id, score, rank).

    Shape: tf columns are computed once for the UNION of all query
    terms (map-side HOFs), the stats aggregate covers every term in
    the same 1-row pass, and each query's score is a fixed-order fold
    over its own term subset — Q extra PROJECTION columns, zero extra
    scans. The per-(id, qid) rows explode map-side and one rank
    window per qid keeps k; corpus passes stay at two regardless of
    batch size."""
    from sqlite_vector_spark.functions.text import normalize_text, words

    if not queries:
        raise ValueError("bm25_batch_topk needs at least one query")
    for qid, ts in queries:
        if not ts:
            raise ValueError(f"bm25_batch_topk: query qid={qid} has no terms")
    all_terms = sorted({t for _, ts in queries for t in ts})
    tix = {t: i for i, t in enumerate(all_terms)}
    toks = words(normalize_text(F.col(text_col)))
    # MATERIALIZE the token array in its own projection before fanning
    # out per-term tf columns: inlined, every tf column re-runs the
    # lowercase + regex + split chain (HOF lambdas defeat codegen
    # subexpression elimination), which measured ~5 min for 64 terms
    # over 1M docs vs ~30 s with the split done once. Catalyst's
    # CollapseProject keeps the two-step shape because the non-cheap
    # alias is referenced |terms|+1 times.
    toked = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), toks.alias("toks")
    )
    base = toked.select(
        "id",
        F.size("toks").cast("double").alias("dl"),
        *[_term_tf(F.col("toks"), t).alias(f"tf_{i}") for i, t in enumerate(all_terms)],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.col("dl").cast("bigint")).cast("double").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > F.lit(0.0)).cast("bigint")).cast("double").alias(f"df_{i}")
            for i in range(len(all_terms))
        ],
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    one_b = F.lit(1.0) - F.lit(b)

    def term_score(i: int) -> Column:
        tf = F.col(f"tf_{i}")
        idf = (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5)) / (F.col(f"df_{i}") + F.lit(0.5))
        denom = tf + F.lit(k1) * (one_b + F.lit(b) * (F.col("dl") / avgdl))
        return idf * ((tf * F.lit(k1 + 1.0)) / denom)

    def query_score(terms: Sequence[str]) -> Column:
        score = term_score(tix[terms[0]])
        for t in terms[1:]:  # fixed left-to-right fold per query
            score = score + term_score(tix[t])
        return score

    arr = F.array(
        *[
            F.struct(F.lit(int(qid)).cast("bigint").alias("qid"), query_score(ts).alias("score"))
            for qid, ts in queries
        ]
    )
    exploded = (
        base.crossJoin(F.broadcast(stats))
        .select("id", F.explode(arr).alias("x"))
        .select(F.col("x.qid").alias("qid"), "id", F.col("x.score").alias("score"))
    )
    # rank window: see topk.topk_per_key; the ranked frame is
    # docs x queries, so the salt is sized from both
    order = [F.col("score").desc(), F.col("id").asc()]
    docs_bytes = scale.size(docs)
    size = None if docs_bytes is None else docs_bytes * len(queries)
    return topk_per_key(exploded, ["qid"], order, k, salt="auto", size_from=size)


def rrf_fuse_batch(
    arms: Sequence[tuple[DataFrame, str, bool]],
    k: int,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Per-query reciprocal-rank fusion of BATCHED retrieval arms —
    the multi-query form of rrf_fuse: each arm is ``(df, order_col,
    ascending)`` with (qid, id, order_col) rows; ranks are per-qid
    windows, the fusion join keys on (qid, id), and the result keeps
    the top-k fused rows per query. Returns (qid, id, rrf_score,
    rank_0, rank_1, ..., hybrid_rank).

    Scale shape: arm inputs are k-rows-per-query results (each arm's
    own plan did the corpus work), so every window and the full-outer
    join run on Q x k rows — WindowGroupLimit bounds the final top-k
    per qid."""
    fused: DataFrame | None = None
    rank_cols: list[str] = []
    for i, (df, order_col, asc) in enumerate(arms):
        oc = F.col(order_col).asc() if asc else F.col(order_col).desc()
        w = Window.partitionBy("qid").orderBy(oc, F.col("id").asc())
        ranked = df.select(
            F.col("qid").cast("bigint").alias("qid"),
            F.col("id").cast("bigint").alias("id"),
            F.row_number().over(w).alias(f"rank_{i}"),
        )
        rank_cols.append(f"rank_{i}")
        fused = ranked if fused is None else fused.join(ranked, ["qid", "id"], "full_outer")
    assert fused is not None, "rrf_fuse_batch needs at least one arm"
    contribs = [
        F.coalesce(
            F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(c).cast("double")), F.lit(0.0)
        )
        for c in rank_cols
    ]
    score = contribs[0]
    for c in contribs[1:]:  # fixed fold order, mirrored in the oracle
        score = score + c
    w_final = Window.partitionBy("qid").orderBy(F.col("rrf_score").desc(), F.col("id").asc())
    return (
        fused.select(
            "qid", "id", score.alias("rrf_score"),
            *[F.col(c).cast("int").alias(c) for c in rank_cols],
        )
        .withColumn("hybrid_rank", F.row_number().over(w_final))
        .where(F.col("hybrid_rank") <= k)
    )
