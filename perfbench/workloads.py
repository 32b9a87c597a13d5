"""The perfbench workloads.

Each is a closed loop with one client: the next call starts when the
previous one returned. Each workload sets up ``SETUP_REPEATS`` times
(the median is ``setup_s``), warms up untimed, then runs its timed loop
until ``seconds`` have passed, finishing the round or pass it is in.
Every call goes through the Harness, which times it, isolates its
failure and (in a traced run) labels its Spark jobs; every output is
checked against the NumPy references in gen.py.

A workload returns ``Result``: the set-up times, the op latencies the
end-to-end metrics are computed from, its own named metrics for the
report, and the generator's properties.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
import pyspark.sql.functions as F

import gen
from sqlite_vector_spark import router
from sqlite_vector_spark.catalog import VectorCatalog
from sqlite_vector_spark.operators.ann import ivf_knn_join, ivf_store, ivf_store_append
from sqlite_vector_spark.operators.bq import bq_knn_join, bq_store, bq_store_append
from sqlite_vector_spark.operators.dedup import (
    connected_components_min_label,
    embedding_neardup_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
)
from sqlite_vector_spark.operators.pq import pq_fit, pq_store, pq_store_append
from sqlite_vector_spark.operators.quantize import (
    vector_quantize,
    vector_quantize_preload,
    vector_quantize_update,
)
from sqlite_vector_spark.sinks import read_store, takedown

SETUP_REPEATS = 5
#: untimed round-robin rounds before interactive_search starts timing:
#: the first rounds still compile each tier's query plan shapes
WARMUP_ROUNDS = 4
TABLE = "pb_corpus"
K = 10

#: input sizes per workload; "tiny" overrides them for the smoke test
SIZES = {
    "interactive_search": dict(n=6000, dim=64, clusters=16, big_share=0.3),
    "batch_pipeline": dict(n=6000, dim=64, clusters=16, big_share=0.3, exact_queries=16,
                           approx_queries=64, docs=2000, dup_share=0.1, planes=10,
                           batch=500, takedown=50),
}
TINY = dict(n=600, docs=300, batch=60, takedown=8, exact_queries=4, approx_queries=8)

PQ = dict(m=8, ksub=16, iters=3)
JACCARD_T = 0.6  # text near-dup edge threshold
EMB_T = 0.05  # embedding near-dup cosine-distance threshold
APPROX_TIERS = ("quantized", "ivf", "bq", "pq")


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    #: call name -> latencies (s) of successful timed calls
    ops: dict[str, list[float]] = field(default_factory=dict)
    #: latency (s) of each timed request: the summed latency of a
    #: round-robin round's queries, or of a pass's calls
    requests: list[float] = field(default_factory=list)
    recall: list[float] = field(default_factory=list)
    store_bytes_per_vector: float = 0.0
    named: dict[str, tuple[float, str]] = field(default_factory=dict)
    props: dict = field(default_factory=dict)


class Context:
    """What a workload runs with: the session, the harness, the seeded
    generator, its scratch directory and its sizes."""

    def __init__(self, spark, harness, seed: int, tmp: str, size: dict):
        self.spark = spark
        self.h = harness
        self.rng = np.random.default_rng(seed)
        self.tmp = tmp
        self.size = size


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _store_ids(path: str) -> np.ndarray:
    """Ids held by a parquet store, read with pyarrow (independent of
    Spark and of the library's readers)."""
    return pq.read_table(path, columns=["id"]).column("id").to_numpy()


def _timed_ops(h, res: Result) -> None:
    for s in h.timed_spans():
        res.ops.setdefault(s.name, []).append(s.seconds)


def _ms(values) -> float:
    """Median in ms; 0.0 when every call failed (the run then reports
    correct: false)."""
    return float(np.median(values)) * 1000.0 if len(values) else 0.0


def _tail(values) -> tuple[int, float]:
    """The highest of p99/p95/p90/p75/p50 with at least ten samples
    beyond it, as (percentile, seconds)."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, float(np.percentile(values, p))
    return 50, float(np.median(values))


def _register(spark, path: str):
    df = spark.read.parquet(path)
    df.createOrReplaceTempView(TABLE)
    return df


def _new_catalog(ctx, df, tag: str) -> VectorCatalog:
    cat = VectorCatalog(f"{ctx.tmp}/catalog/{tag}")
    cat.vector_init(df, TABLE, "vec", f"type=FLOAT32,dimension={ctx.size['dim']},distance=L2")
    return cat


def _build_tiers(ctx, df, cat, centers, root: str, n: int):
    """Quantized, IVF, BQ and PQ tiers of ``df`` under ``root``,
    registered in ``cat``. Returns (PQ codebooks, quantize params)."""
    h, dim = ctx.h, ctx.size["dim"]
    params = h.action(
        "quantize.vector_quantize",
        lambda: vector_quantize(df, "vec", f"{root}/quantized", catalog=cat, table=TABLE),
        check=lambda p: p.count == n, rows=n,
    )
    h.action("ann.ivf_store", lambda: ivf_store(df, "vec", centers, f"{root}/ivf"),
             check=lambda _: len(_store_ids(f"{root}/ivf")) == n, rows=n)
    cat.set_ivf_index(TABLE, "vec", path=f"{root}/ivf", centroids=centers)
    h.action("bq.bq_store", lambda: bq_store(df, "vec", dim, f"{root}/bq"),
             check=lambda _: len(_store_ids(f"{root}/bq")) == n, rows=n)
    cat.set_bq_index(TABLE, "vec", path=f"{root}/bq")
    books = h.action("pq.pq_fit", lambda: pq_fit(df, "vec", PQ["m"], PQ["ksub"], dim,
                                                 iters=PQ["iters"]),
                     check=lambda b: len(b) == PQ["m"], rows=n)
    h.action("pq.pq_store", lambda: pq_store(df, "vec", books, f"{root}/pq"),
             check=lambda _: len(_store_ids(f"{root}/pq")) == n, rows=n)
    cat.set_pq_index(TABLE, "vec", path=f"{root}/pq", codebooks=books)
    return books, params


def _check_knn(rows, tier: str, q, ids: np.ndarray, vecs: np.ndarray, recalls=None,
               must=(), must_not=()) -> bool:
    """A router.knn result against the live corpus (ids, vecs): k rows
    of live ids ordered by distance; equal to brute force on the exact
    tier; true distances on the ivf and bq tiers (both rerank exactly).
    Appends the tier's recall@k to ``recalls`` for approximate tiers."""
    got = [(int(r["id"]), float(r["distance"])) for r in rows]
    ref_ids, ref_d = gen.topk(ids, vecs, q, K)
    if len(got) != min(K, len(ids)):
        return False
    pos = {int(i): j for j, i in enumerate(ids)}
    if any(i not in pos for i, _ in got):
        return False
    got_ids = [i for i, _ in got]
    if not set(must) <= set(got_ids) or set(must_not) & set(got_ids):
        return False
    dists = np.array([d for _, d in got])
    if np.any(np.diff(dists) < -1e-9):
        return False
    if tier == "exact":
        return gen.same_topk(got, ref_ids, ref_d)
    if tier in ("ivf", "bq"):
        true_d = gen.l2(vecs[[pos[i] for i in got_ids]], q)
        if not np.allclose(dists, true_d, rtol=1e-5, atol=1e-6):
            return False
    if recalls is not None:
        recalls.append(gen.recall(got_ids, ref_ids))
    return True


# --------------------------------------------------------------------
# interactive_search


def interactive_search(ctx: Context, seconds: float) -> Result:
    """Single-query top-k over a preloaded quantized replica and the
    IVF, BQ and PQ tiers, round-robin with the exact scan."""
    s, h, spark, res = ctx.size, ctx.h, ctx.spark, Result()
    data = gen.clustered(ctx.rng, s["n"], s["dim"], s["clusters"], s["big_share"])
    res.props = dict(data.props, ivf_lists=s["clusters"], k=K, pq=PQ)
    gen.write_vectors(f"{ctx.tmp}/corpus.parquet", data.ids, data.vecs)
    centers = data.centers.tolist()

    # The tiers are built once, as an offline index build would; the
    # batch_pipeline workload times these builds. Set-up is what a
    # search process does at start: open a catalog, register the tiers
    # and preload the quantized replica.
    root = f"{ctx.tmp}/stores"
    with h.untimed():
        with h.request("build"):
            df = _register(spark, f"{ctx.tmp}/corpus.parquet")
            books, params = _build_tiers(ctx, df, _new_catalog(ctx, df, "build"), centers,
                                         root, s["n"])
        cached = None
        for rep in range(SETUP_REPEATS):
            if cached is not None:
                cached.unpersist(blocking=True)
            t0 = time.perf_counter()
            with h.request("setup", rep=rep):
                cat = _new_catalog(ctx, df, f"rep{rep}")
                cat.set_quant_params(TABLE, "vec", qtype=params.qtype, scale=params.scale,
                                     offset=params.offset, path=f"{root}/quantized")
                cat.set_ivf_index(TABLE, "vec", path=f"{root}/ivf", centroids=centers)
                cat.set_bq_index(TABLE, "vec", path=f"{root}/bq")
                cat.set_pq_index(TABLE, "vec", path=f"{root}/pq", codebooks=books)
                cached = h.action(
                    "quantize.vector_quantize_preload",
                    lambda: vector_quantize_preload(read_store(spark, f"{root}/quantized")),
                    rows=s["n"])
            res.setup_s.append(time.perf_counter() - t0)

    tiers = ("exact",) + APPROX_TIERS
    recalls = {t: [] for t in APPROX_TIERS}

    def one(tier, q, recs):
        return h.query(
            f"router.knn.{tier}",
            lambda: router.knn(spark, cat, TABLE, "vec", q.tolist(), K, prefer=tier),
            check=lambda rows: _check_knn(rows, tier, q, data.ids, data.vecs, recs),
            rows=s["n"], queries=1,
        )

    def round_robin():
        """One request: a query on each tier, one after the other."""
        qs = gen.draw(ctx.rng, data.centers, len(tiers), s["big_share"])
        with h.request("round") as rnd:
            for tier, q in zip(tiers, qs):
                one(tier, q, recalls.get(tier))
        return rnd

    # recall does not depend on timing, so warm-up queries count for it
    with h.untimed():
        for _ in range(WARMUP_ROUNDS):
            round_robin()
    t_end = time.perf_counter() + seconds
    while not res.requests or time.perf_counter() < t_end:
        res.requests.append(h.request_seconds(round_robin()))

    _timed_ops(h, res)
    res.recall = [float(np.mean(v)) for v in recalls.values() if v]
    res.store_bytes_per_vector = _du(root) / s["n"]
    lat = [x for v in res.ops.values() for x in v]
    p, tail = _tail(lat)
    res.named = {
        "search_p50_ms": (_ms(lat), "ms"),
        f"search_p{p}_ms": (tail * 1000.0, "ms"),
        "search_queries": (len(lat), "count"),
        "search_qps": (len(lat) / sum(lat) if lat else 0.0, "queries/s"),
        "search_recall_at_10": (float(np.mean(res.recall)) if res.recall else 0.0, "fraction"),
        **{f"search_p50_ms.{t}": (_ms(res.ops[f"router.knn.{t}"]), "ms")
           for t in tiers if res.ops.get(f"router.knn.{t}")},
        **{f"recall_at_10.{t}": (float(np.mean(v)), "fraction") for t, v in recalls.items() if v},
    }
    return res


# --------------------------------------------------------------------
# batch_pipeline


def batch_pipeline(ctx: Context, seconds: float) -> Result:
    """Passes over inputs read cold from parquet (nothing persisted),
    each in four phases: build every tier, run the batch kNN joins,
    detect near-duplicate documents, then maintain the new tiers
    (append a batch, read it back, take ids down everywhere, check
    they are gone)."""
    s, h, spark, res = ctx.size, ctx.h, ctx.spark, Result()
    n, dim = s["n"], s["dim"]
    data = gen.clustered(ctx.rng, n, dim, s["clusters"], s["big_share"])
    queries = gen.draw(ctx.rng, data.centers, s["approx_queries"], s["big_share"])
    docs = gen.docs(ctx.rng, s["docs"], dim, s["dup_share"])
    planes = ctx.rng.normal(0.0, 1.0, (s["planes"], dim)).tolist()
    centers = data.centers.tolist()
    res.props = dict(data.props, **docs.props, ivf_lists=s["clusters"], k=K, pq=PQ,
                     exact_join_queries=s["exact_queries"],
                     approx_join_queries=s["approx_queries"], hyperplanes=s["planes"],
                     append_batch=s["batch"], takedown_batch=s["takedown"])

    tables = {
        "corpus": gen.vector_table(data.ids, data.vecs),
        "queries": gen.vector_table(np.arange(len(queries)), queries, "qid", "qv"),
        "docs": gen.vector_table(docs.ids, docs.vecs, "doc_id", "emb", text=docs.texts),
    }

    # Set-up brings a freshly written corpus online: open a catalog on
    # it and answer a first exact query from the cold parquet files.
    # The writes of the inputs are the benchmark's own work, untimed.
    with h.untimed():
        for rep in range(SETUP_REPEATS):
            inputs = f"{ctx.tmp}/inputs/rep{rep}"
            for name, table in tables.items():
                spark.createDataFrame(table).write.parquet(f"{inputs}/{name}")
            q = queries[rep]
            t0 = time.perf_counter()
            with h.request("setup", rep=rep):
                cat = _new_catalog(ctx, _register(spark, f"{inputs}/corpus"), f"rep{rep}")
                h.query("router.knn.exact",
                        lambda: router.knn(spark, cat, TABLE, "vec", q.tolist(), K,
                                           prefer="exact"),
                        check=lambda rows: _check_knn(rows, "exact", q, data.ids, data.vecs),
                        rows=n, queries=1)
            res.setup_s.append(time.perf_counter() - t0)

    bits = data.vecs > 0
    qbits = queries > 0
    ref = [gen.topk(data.ids, data.vecs, q, K) for q in queries]
    join_recall = {"quantized": [], "ivf": []}

    def check_join(rows, qn, tier):
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(int(r["qid"]), []).append(r)
        if not set(by_q) <= set(range(qn)) or tier != "bq" and len(by_q) != qn:
            return False
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: r["rank"])
            # the Hamming join may find fewer than k band collisions
            if [r["rank"] for r in rs] != list(range(1, len(rs) + 1)) or not (
                    len(rs) == K or tier == "bq" and len(rs) < K):
                return False
            ids = np.array([int(r["id"]) for r in rs])
            if ids.min() < 0 or ids.max() >= n:
                return False
            if tier == "bq":
                ham = [int(r["hamming"]) for r in rs]
                if ham != sorted(ham) or ham != list((bits[ids] != qbits[qid]).sum(axis=1)):
                    return False
                continue
            got = [(int(r["id"]), float(r["distance"])) for r in rs]
            if tier == "exact" and not gen.same_topk(got, *ref[qid]):
                return False
            if tier == "ivf" and not np.allclose([d for _, d in got],
                                                 gen.l2(data.vecs[ids], queries[qid]), rtol=1e-5):
                return False
            if tier in join_recall:
                join_recall[tier].append(gen.recall(ids, ref[qid][0]))
        return True

    def check_jaccard(path):
        t = pq.read_table(path).to_pydict()
        return all(abs(j - gen.jaccard(docs.texts[a], docs.texts[b])) < 1e-9
                   for a, b, j in zip(t["a"], t["b"], t["jaccard"]))

    def check_labels(rows, edges):
        return {int(r["id"]): int(r["cluster"]) for r in rows} == gen.min_labels(edges)

    def check_emb(rows):
        if not rows:
            return False
        a = docs.vecs[[int(r["a"]) for r in rows]].astype(np.float64)
        b = docs.vecs[[int(r["b"]) for r in rows]].astype(np.float64)
        cos = 1.0 - (a * b).sum(1) / np.linalg.norm(a, axis=1) / np.linalg.norm(b, axis=1)
        d = np.array([float(r["distance"]) for r in rows])
        return bool(np.allclose(d, cos, atol=1e-6) and np.all(d < EMB_T))

    def maintain(out, params, books, i):
        """Append a batch to every tier, read one appended vector back,
        take ids down everywhere, and check they are gone. Returns the
        live (ids, vecs) afterwards."""
        bn, root = s["batch"], f"{out}/stores"
        ids = np.arange(n + i * bn, n + (i + 1) * bn, dtype=np.int64)
        vecs = gen.draw(ctx.rng, data.centers, bn, s["big_share"])
        path = f"{out}/batch.parquet"
        gen.write_vectors(path, ids, vecs)
        b = spark.read.parquet(path)
        h.action("quantize.vector_quantize_update",
                 lambda: vector_quantize_update(b, "vec", f"{root}/quantized", params,
                                                catalog=cat, table=TABLE),
                 check=lambda r: r.n_appended == bn, rows=bn)
        h.action("ann.ivf_store_append",
                 lambda: ivf_store_append(b, "vec", centers, f"{root}/ivf"), rows=bn)
        h.action("bq.bq_store_append", lambda: bq_store_append(b, "vec", dim, f"{root}/bq"),
                 check=lambda r: r.n_appended == bn, rows=bn)
        h.action("pq.pq_store_append", lambda: pq_store_append(b, "vec", books, f"{root}/pq"),
                 check=lambda r: r.n_appended == bn, rows=bn)
        live_ids = np.concatenate([data.ids, ids])
        live_vecs = np.concatenate([data.vecs, vecs])

        j = int(ctx.rng.integers(bn))
        h.query("router.knn.quantized",
                lambda: router.knn(spark, cat, TABLE, "vec", vecs[j].tolist(), K,
                                   prefer="quantized"),
                check=lambda rows: _check_knn(rows, "quantized", vecs[j], live_ids, live_vecs,
                                              raw_recall, must=[int(ids[j])]),
                rows=len(live_ids), queries=1, read_after_write=True)

        pick = ctx.rng.choice(len(live_ids), s["takedown"], replace=False)
        victims = [int(x) for x in live_ids[pick]]
        probe = live_vecs[pick[0]]
        h.action("sinks.takedown",
                 lambda: takedown(spark, cat, TABLE, "vec", victims, verify=True),
                 check=lambda r: set(r["verified"]) >= set(APPROX_TIERS)
                 and not any(r["verified"].values()), rows=len(victims))
        keep = np.ones(len(live_ids), bool)
        keep[pick] = False
        live_ids, live_vecs = live_ids[keep], live_vecs[keep]
        h.query("router.knn.ivf",
                lambda: router.knn(spark, cat, TABLE, "vec", probe.tolist(), K, prefer="ivf"),
                check=lambda rows: _check_knn(rows, "ivf", probe, live_ids, live_vecs,
                                              must_not=victims),
                rows=len(live_ids), queries=1)
        # every tier holds exactly the live ids, read straight from its files
        live = sorted(int(x) for x in live_ids)
        with h.untimed():
            for tier in APPROX_TIERS:
                h.action(f"check.{tier}_ids", lambda tier=tier: _store_ids(f"{root}/{tier}"),
                         check=lambda got: sorted(got.tolist()) == live)
        return live_ids

    text_recall, emb_recall, cand_per_true, raw_recall, live_n = [], [], [], [], []
    t_end = time.perf_counter() + seconds
    passes = 0
    while passes == 0 or time.perf_counter() < t_end:
        out = f"{ctx.tmp}/pass{passes}"
        with h.request("pass", n=passes) as pass_span:
            # build
            corpus = _register(spark, f"{inputs}/corpus")
            books, params = _build_tiers(ctx, corpus, cat, centers, f"{out}/stores", n)
            # join
            qx = spark.read.parquet(f"{inputs}/queries")
            qe = qx.where(F.col("qid") < s["exact_queries"])
            for tier in ("exact", "quantized"):
                h.query(f"router.knn_join.{tier}",
                        lambda tier=tier: router.knn_join(spark, cat, TABLE, "vec", qe, K,
                                                          prefer=tier),
                        check=lambda rows, tier=tier: check_join(rows, s["exact_queries"], tier),
                        rows=n, queries=s["exact_queries"], results=s["exact_queries"] * K)
            h.query("ann.ivf_knn_join",
                    lambda: ivf_knn_join(qx, corpus, centers, K, vec_col="vec"),
                    check=lambda rows: check_join(rows, s["approx_queries"], "ivf"),
                    rows=n, queries=s["approx_queries"], results=s["approx_queries"] * K)
            h.query("bq.bq_knn_join",
                    lambda: bq_knn_join(qx, read_store(spark, f"{out}/stores/bq"), dim, K),
                    check=lambda rows: check_join(rows, s["approx_queries"], "bq"),
                    rows=n, queries=s["approx_queries"], results=s["approx_queries"] * K)
            # dedup
            dd = spark.read.parquet(f"{inputs}/docs")
            h.query("dedup.lsh_candidate_pairs",
                    lambda: lsh_candidate_pairs(dd, "doc_id", "text"),
                    finish=lambda df: df.write.parquet(f"{out}/cand"),
                    check=lambda _: os.path.isdir(f"{out}/cand"), rows=s["docs"])
            h.query("dedup.jaccard_pairs",
                    lambda: jaccard_pairs(spark.read.parquet(f"{out}/cand"), dd, "doc_id", "text"),
                    finish=lambda df: df.write.parquet(f"{out}/jaccard"),
                    check=lambda _: check_jaccard(f"{out}/jaccard"), rows=s["docs"])
            jt = pq.read_table(f"{out}/jaccard").to_pydict() if os.path.isdir(
                f"{out}/jaccard") else {"a": [], "b": [], "jaccard": []}
            edges = [(a, b) for a, b, j in zip(jt["a"], jt["b"], jt["jaccard"]) if j >= JACCARD_T]
            h.query("dedup.connected_components_min_label",
                    lambda: connected_components_min_label(
                        spark.read.parquet(f"{out}/jaccard")
                        .where(F.col("jaccard") >= JACCARD_T).select("a", "b")),
                    check=lambda rows: check_labels(rows, edges), rows=s["docs"])
            emb = h.query("dedup.embedding_neardup_pairs",
                          lambda: embedding_neardup_pairs(dd, "doc_id", "emb", planes, EMB_T),
                          check=check_emb, rows=s["docs"])
            # maintain
            live_n.append(len(maintain(out, params, books, passes)))
        text_recall.append(len(docs.planted & set(edges)) / len(docs.planted))
        emb_recall.append(len(docs.planted & {(int(r["a"]), int(r["b"])) for r in emb or []})
                          / len(docs.planted))
        cand_per_true.append(len(jt["a"]) / max(len(edges), 1))
        res.store_bytes_per_vector = _du(f"{out}/stores") / live_n[-1]
        res.requests.append(h.request_seconds(pass_span))
        passes += 1

    _timed_ops(h, res)
    res.recall = [float(np.mean(text_recall)), float(np.mean(emb_recall))]

    def total(prefixes):
        return sum(sum(v) for k, v in res.ops.items() if k.startswith(prefixes))

    build_t = total(("quantize.", "ann.ivf_store", "bq.bq_store", "pq."))
    join_t = total(("router.knn_join", "ann.ivf_knn_join", "bq.bq_knn_join"))
    dedup_t = total("dedup.")
    appends = total(("quantize.vector_quantize_update", "ann.ivf_store_append",
                     "bq.bq_store_append", "pq.pq_store_append"))
    build_t -= appends
    res.named = {
        "build_rows_per_s": (passes * n / build_t, "rows/s"),
        "join_queries_per_s": (passes * (2 * s["exact_queries"] + 2 * s["approx_queries"])
                               / join_t, "queries/s"),
        "dedup_docs_per_s": (passes * s["docs"] / dedup_t, "docs/s"),
        "dedup_pair_recall": (float(np.mean(res.recall)), "fraction"),
        "dedup_text_pair_recall": (float(np.mean(text_recall)), "fraction"),
        "dedup_embedding_pair_recall": (float(np.mean(emb_recall)), "fraction"),
        "candidate_pairs_per_true_pair": (float(np.mean(cand_per_true)), "ratio"),
        **{f"join_recall_at_10.{t}": (float(np.mean(v)), "fraction")
           for t, v in join_recall.items() if v},
        "append_rows_per_s": (passes * s["batch"] / max(appends, 1e-9), "rows/s"),
        "takedown_s": (_ms(res.ops.get("sinks.takedown", [])) / 1000.0, "s"),
        "read_after_write_p50_ms": (_ms(res.ops.get("router.knn.quantized", [])), "ms"),
        "read_after_write_recall_at_10": (float(np.mean(raw_recall)) if raw_recall else 0.0,
                                          "fraction"),
        "store_bytes_per_vector": (res.store_bytes_per_vector, "bytes"),
        "pass_s": (float(np.median(res.requests)), "s"),
        "passes": (passes, "count"),
    }
    return res


WORKLOADS = {
    "interactive_search": interactive_search,
    "batch_pipeline": batch_pipeline,
}
