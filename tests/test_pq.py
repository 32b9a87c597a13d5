"""Product quantization (operators/pq.py): encode backends, ADC math,
training vs a NumPy reference, rerank recall, IVF-PQ composition.

The oracle gate (pq_codes / pq_scan_l2 / ...) pins the bit-exact SQL
contract; these tests pin the pieces the gate can't see: backend
equivalence, trained-codebook quality, and the memory accounting.
"""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.operators.pq import (
    adc_distance_arrow_udf,
    adc_distance_sql,
    adc_lut,
    ivf_pq_scan,
    pq_codebooks_first,
    pq_encode,
    pq_encode_arrow_udf,
    pq_encode_col,
    pq_fit,
    pq_memory_bytes,
    pq_rerank_scan,
    pq_scan,
)
from sqlite_vector_spark.operators.search import full_scan
from sqlite_vector_spark.version import set_backend

M, KSUB, DIM = 4, 8, 64
DSUB = DIM // M


@pytest.fixture(scope="module")
def books(emb):
    return pq_codebooks_first(emb, "embedding", M, KSUB, DIM, id_col="vec_id")


def test_codebooks_shape(books):
    assert len(books) == M
    assert all(len(cb) == KSUB for cb in books)
    assert all(len(e) == DSUB for cb in books for e in cb)


def test_encode_arrow_equals_codegen(emb, books):
    """The Arrow batch encoder and the literal codegen fold must
    produce identical codes row-for-row (same argmin, same lowest-
    index tiebreak) — the same contract the IVF assign backends pin."""
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    a = base.select("id", pq_encode_col("vec", books).alias("codes")).collect()
    b = base.select("id", pq_encode_arrow_udf(books)(F.col("vec")).alias("codes")).collect()
    da = {r.id: list(r.codes) for r in a}
    db = {r.id: list(r.codes) for r in b}
    assert da == db


def test_backend_dispatch(emb, books):
    """Pinned backends force their path; auto routes tiny codebooks
    to codegen (below the literal-footprint threshold)."""
    try:
        set_backend("arrow-numpy")
        plan_arrow = pq_encode(emb, "embedding", books, id_col="vec_id")._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan_arrow or "EvalPython" in plan_arrow
        set_backend("codegen")
        plan_cg = pq_encode(emb, "embedding", books, id_col="vec_id")._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan_cg
    finally:
        set_backend("auto")


def test_adc_lut_matches_reconstruction(books):
    """LUT[s][j] must equal the snapped sequential-fold squared L2 of
    the query subvector against codebook entry j."""
    q = [math.sin(i * 0.1) for i in range(DIM)]
    luts = adc_lut(q, books)
    for s in range(M):
        for j in range(KSUB):
            acc = 0.0
            for x, y in zip(q[s * DSUB : (s + 1) * DSUB], books[s][j]):
                d = float(x) - float(y)
                acc += d * d
            assert luts[s][j] == acc or (acc <= 8 * 1.1920928955078125e-07 and luts[s][j] == 0.0)


def test_adc_scan_equals_numpy_reference(spark, emb, books):
    """pq_scan distances == NumPy ADC over the same codes (sequential
    vs vectorized sum agree to fp tolerance; ids agree exactly)."""
    q = [math.sin(i * 0.1) for i in range(DIM)]
    codes_df = pq_encode(emb, "embedding", books, id_col="vec_id")
    got = pq_scan(codes_df, q, books, 15, "L2").collect()

    codes = {r.id: list(r.codes) for r in codes_df.collect()}
    lut = np.asarray(adc_lut(q, books))
    ref = sorted(
        (float(np.sqrt(sum(lut[s][c] for s, c in enumerate(cs)))), i) for i, cs in codes.items()
    )[:15]
    assert [r.id for r in got] == [i for _, i in ref]
    for r, (d, _) in zip(got, ref):
        assert r.distance == pytest.approx(d, rel=1e-12)


def test_adc_arrow_udf_matches_codegen(spark, emb, books):
    q = [math.cos(i * 0.2) for i in range(DIM)]
    luts = adc_lut(q, books)
    codes_df = pq_encode(emb, "embedding", books, id_col="vec_id")
    a = codes_df.select("id", F.expr(adc_distance_sql("codes", luts, "L2")).alias("d")).collect()
    b = codes_df.select("id", adc_distance_arrow_udf(luts, "L2")(F.col("codes")).alias("d")).collect()
    da = {r.id: r.d for r in a}
    db = {r.id: r.d for r in b}
    assert set(da) == set(db)
    for i in da:
        assert da[i] == pytest.approx(db[i], rel=1e-12)


def test_adc_rejects_nonadditive_metric(books):
    q = [0.0] * DIM
    with pytest.raises(ValueError, match="additive"):
        adc_distance_sql("codes", adc_lut(q, books), "COSINE")


def test_pq_fit_matches_numpy_lloyd(spark):
    """pq_fit (distributed, fixed-point sums) vs a plain NumPy
    per-subspace Lloyd from the same seeds: same codes, centroids
    equal to the 1e-6 fixed-point quantum."""
    rng = np.random.default_rng(7)
    m, ksub, dim, n, iters = 2, 4, 8, 64, 3
    dsub = dim // m
    mat = rng.normal(size=(n, dim)).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(n)], "id long, vec array<double>"
    )
    got = pq_fit(df, "vec", m, ksub, dim, iters=iters, id_col="id", init="first")

    books = [[list(mat[j, s * dsub : (s + 1) * dsub]) for j in range(ksub)] for s in range(m)]
    for _ in range(iters):
        new = []
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            cb = np.asarray(books[s])
            d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(2)
            assign = d.argmin(1)
            nb = []
            for j in range(ksub):
                rows = sub[assign == j]
                if len(rows):
                    # fixed-point mean, mirroring the engine's 1e-6 sums
                    nb.append(list(np.round(rows * 1e6).sum(0) / 1e6 / len(rows)))
                else:
                    nb.append(list(cb[j]))
            new.append(nb)
        books = new
    for s in range(m):
        for j in range(ksub):
            assert got[s][j] == pytest.approx(books[s][j], abs=2e-6)


def test_pq_fit_reduces_quantization_error(emb):
    """Trained codebooks must reconstruct better than first-KSUB
    seeds: mean ADC-able squared error strictly drops after Lloyd."""
    vecs = np.array([r.embedding for r in emb.select("embedding").collect()], dtype=np.float64)

    def sse(books):
        total = 0.0
        for s in range(M):
            sub = vecs[:, s * DSUB : (s + 1) * DSUB]
            cb = np.asarray(books[s])
            d = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(2)
            total += d.min(1).sum()
        return total

    seed_df = emb
    seeds = pq_codebooks_first(seed_df, "embedding", M, KSUB, DIM, id_col="vec_id")
    trained = pq_fit(seed_df, "embedding", M, KSUB, DIM, iters=4, id_col="vec_id")
    assert sse(trained) < 0.7 * sse(seeds)


def test_pq_fit_kmeanspp_init(emb):
    trained = pq_fit(
        emb, "embedding", M, KSUB, DIM, iters=2, id_col="vec_id", init="kmeans++", seed=3
    )
    assert len(trained) == M and all(len(cb) == KSUB for cb in trained)


@pytest.mark.slow
def test_rerank_recall_exceeds_raw_adc(spark, emb, books):
    """With TRAINED codebooks the two-stage rerank path returns exact
    distances and top-k agreement with the exact scan at least as good
    as raw ADC (seed codebooks are deliberately weak — they exist for
    the SQL gate; quality comes from pq_fit)."""
    q = [math.sin((i + 1) * 0.37) * 0.8 for i in range(DIM)]
    k = 10
    trained = pq_fit(emb, "embedding", M, KSUB, DIM, iters=3, id_col="vec_id")
    exact = full_scan(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "embedding", q, k, "L2"
    ).collect()
    exact_ids = [r.id for r in exact]

    rer = pq_rerank_scan(emb, "embedding", q, trained, k, 160, "L2", id_col="vec_id").collect()
    rer_ids = [r.id for r in rer]
    codes_df = pq_encode(emb, "embedding", trained, id_col="vec_id")
    adc_ids = [r.id for r in pq_scan(codes_df, q, trained, k, "L2").collect()]

    recall_rer = len(set(exact_ids) & set(rer_ids)) / k
    recall_adc = len(set(exact_ids) & set(adc_ids)) / k
    assert recall_rer >= recall_adc
    assert recall_rer >= 0.8
    # reranked distances are TRUE distances
    exact_d = {r.id: r.distance for r in exact}
    for r in rer:
        if r.id in exact_d:
            assert r.distance == exact_d[r.id]


def test_ivf_pq_subset_of_probed(emb, books):
    """IVF-PQ results only come from probed clusters and ranks follow
    the ADC distance."""
    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    q = [math.sin(i * 0.11) for i in range(DIM)]
    got = ivf_pq_scan(emb, "embedding", q, cents, books, 12, nprobe=3, id_col="vec_id").collect()
    assert 0 < len(got) <= 12
    ds = [r.distance for r in got]
    assert ds == sorted(ds)


def test_pq_memory_accounting():
    est = pq_memory_bytes(1_000_000, 768, 16, 256)
    assert est["codes_bytes"] == 16_000_000
    assert est["full_bytes"] == 768 * 4 * 1_000_000
    assert est["compression"] > 150


def test_validation_errors(emb, books):
    with pytest.raises(ValueError, match="divisible"):
        pq_codebooks_first(emb, "embedding", 7, KSUB, DIM, id_col="vec_id")
    codes_df = pq_encode(emb, "embedding", books, id_col="vec_id")
    with pytest.raises(ValueError, match="k must be"):
        pq_scan(codes_df, [0.0] * DIM, books, -1)
    with pytest.raises(ValueError, match="query dim"):
        adc_lut([0.0] * (DIM + 1), books)
    with pytest.raises(ValueError, match="ragged"):
        pq_encode_col("vec", [[[0.0, 1.0]], [[0.0]]])


def test_ivf_pq_store_prunes_and_matches_inplan(spark, emb, books, tmp_path):
    """The persistent IVF-PQ store: probe IN filter must be
    planning-time partition pruning over cluster=N directories, and
    the stored scan must return exactly what the in-plan ivf_pq_scan
    computes from the same centroids/codebooks."""
    from sqlite_vector_spark.operators.pq import ivf_pq_store, ivf_pq_stored_scan

    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    q = [math.sin(i * 0.11) for i in range(DIM)]
    dest = str(tmp_path / "ivfpq")
    ivf_pq_store(emb, "embedding", cents, books, dest, id_col="vec_id")

    res = ivf_pq_stored_scan(spark, dest, q, cents, books, 12, nprobe=3)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters", 1)[1][:160]

    stored = [(r.id, r.distance) for r in res.collect()]
    inplan = [
        (r.id, r.distance)
        for r in ivf_pq_scan(
            emb, "embedding", q, cents, books, 12, nprobe=3, id_col="vec_id"
        ).collect()
    ]
    assert stored == inplan and len(stored) == 12


@pytest.mark.slow
def test_ivf_pq_store_append_equals_rebuild(spark, emb, books, tmp_path):
    """Append-mode maintenance: appending a batch into an existing
    store yields the same scan results as rebuilding over the union —
    assignment and codes depend only on the frozen centroids and
    codebooks."""
    from sqlite_vector_spark.operators.ann import ivf_assign
    from sqlite_vector_spark.operators.pq import ivf_pq_store, ivf_pq_stored_scan, pq_encode_col

    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    q = [math.cos(i * 0.07) for i in range(DIM)]
    old = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    ivf_pq_store(old, "embedding", cents, books, inc, id_col="vec_id")
    # append path: same map-side assign+encode, mode("append")
    assigned = ivf_assign(new, "embedding", cents, id_col="vec_id", metric="L2")
    assigned.select("id", pq_encode_col(F.col("vec"), books).alias("codes"), "cluster").write.partitionBy(
        "cluster"
    ).mode("append").parquet(inc)

    full = str(tmp_path / "full")
    ivf_pq_store(emb, "embedding", cents, books, full, id_col="vec_id")

    a = [(r.id, r.distance) for r in ivf_pq_stored_scan(spark, inc, q, cents, books, 15, nprobe=3).collect()]
    b = [(r.id, r.distance) for r in ivf_pq_stored_scan(spark, full, q, cents, books, 15, nprobe=3).collect()]
    assert a == b and len(a) == 15


@pytest.mark.slow
def test_residual_ivf_pq_improves_recall(spark, tmp_path):
    """IVFADC residual encoding on CLUSTERED data (the regime it is
    designed for): codebooks trained on residuals + per-probe LUTs
    must beat raw-vector IVF-PQ of the same geometry — cluster
    residuals are origin-centered, so the shared codebook spends its
    entries on within-cluster structure instead of spanning the
    between-cluster spread."""
    from sqlite_vector_spark.operators.ann import kmeans_fit
    from sqlite_vector_spark.operators.pq import (
        ivf_pq_store,
        ivf_pq_stored_scan,
        ivf_residuals,
    )

    rng = np.random.default_rng(11)
    n_clusters, per, dim, intrinsic = 8, 120, DIM, 2
    centers = rng.normal(scale=8.0, size=(n_clusters, dim))
    # within-cluster variation on a LOW-DIMENSIONAL manifold whose
    # orientation is SHARED across clusters (the realistic embedding
    # regime: a few latent factors drive local variation everywhere;
    # isotropic noise would be incompressible for ANY codebook, and
    # per-cluster orientations defeat a shared residual codebook)
    basis = rng.normal(scale=1.0, size=(dim, intrinsic))
    rows = []
    for i in range(n_clusters * per):
        c = i % n_clusters
        z = rng.normal(scale=1.5, size=intrinsic)
        rows.append((i, [float(x) for x in centers[c] + basis @ z]))
    df = spark.createDataFrame(rows, "id long, embedding array<double>")

    cents = kmeans_fit(df, "embedding", n_clusters, dim, iters=3, id_col="id", init="kmeans++")
    q = [float(x) for x in centers[3] + rng.normal(scale=0.6, size=dim)]
    k, nprobe = 10, 2

    exact_ids = {r.id for r in full_scan(df, "embedding", q, k, "L2").collect()}

    raw_books = pq_fit(df, "embedding", M, KSUB, dim, iters=3, id_col="id")
    res_df = ivf_residuals(df, "embedding", cents, id_col="id")
    res_books = pq_fit(res_df, "vec", M, KSUB, dim, iters=3, id_col="id")

    raw_dir, res_dir = str(tmp_path / "raw"), str(tmp_path / "res")
    ivf_pq_store(df, "embedding", cents, raw_books, raw_dir, id_col="id")
    ivf_pq_store(df, "embedding", cents, res_books, res_dir, id_col="id", residual=True)

    # (a) the quantity residual encoding improves BY CONSTRUCTION:
    # reconstruction error. recon_raw = concat(raw_books[s][code]);
    # recon_res = centroid[cluster] + concat(res_books[s][code]).
    orig = {r.id: np.asarray(r.embedding) for r in df.collect()}
    cm = np.asarray(cents)

    def mse(store_dir, books, use_centroid):
        rows = spark.read.parquet(store_dir).collect()
        tot = 0.0
        for r in rows:
            recon = np.concatenate([np.asarray(books[s][c]) for s, c in enumerate(r.codes)])
            if use_centroid:
                recon = recon + cm[r.cluster]
            tot += float(((orig[r.id] - recon) ** 2).sum())
        return tot / len(rows)

    mse_raw = mse(raw_dir, raw_books, False)
    mse_res = mse(res_dir, res_books, True)
    assert mse_res < 0.5 * mse_raw, (mse_res, mse_raw)

    # (b) residual scan correctness: ids match a NumPy reference ADC
    # over the same stored codes and per-probe LUTs
    from sqlite_vector_spark.operators.ann import probe_clusters

    got = ivf_pq_stored_scan(spark, res_dir, q, cents, res_books, k, nprobe, residual=True).collect()
    probes = probe_clusters(q, cents, nprobe)
    qv = np.asarray(q)
    cand = []
    for r in spark.read.parquet(res_dir).collect():
        if r.cluster not in probes:
            continue
        qr = qv - cm[r.cluster]
        d2 = sum(
            float(((qr[s * (dim // M) : (s + 1) * (dim // M)] - np.asarray(res_books[s][c])) ** 2).sum())
            for s, c in enumerate(r.codes)
        )
        cand.append((math.sqrt(d2), r.id))
    ref_ids = [i for _, i in sorted(cand)[:k]]
    assert [r.id for r in got] == ref_ids
    # and the recall floor: residual at least matches raw on this data
    raw_ids = {
        r.id for r in ivf_pq_stored_scan(spark, raw_dir, q, cents, raw_books, k, nprobe).collect()
    }
    res_ids = {r.id for r in got}
    assert len(exact_ids & res_ids) >= len(exact_ids & raw_ids) - 1


def test_ivf_residuals_roundtrip(emb):
    """residual + centroid[cluster] reconstructs the original vector."""
    from sqlite_vector_spark.operators.pq import ivf_residuals

    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    res = ivf_residuals(emb, "embedding", cents, id_col="vec_id").collect()
    orig = {r.vec_id: list(r.embedding) for r in emb.collect()}
    for r in res[:50]:
        back = [x + c for x, c in zip(r.vec, cents[r.cluster])]
        for a, b in zip(back, orig[r.id]):
            assert a == pytest.approx(float(b), abs=1e-9)


@pytest.mark.slow
def test_ivf_pq_knn_join_matches_per_query_scan(spark, emb, books):
    """The multi-query compressed join must return the same neighbor
    ids per query as running ivf_pq_scan one query at a time with the
    same geometry (distances equal to fp tolerance — the batch kernel
    sums via NumPy, the single-query path via the ordered fold)."""
    from sqlite_vector_spark.operators.ann import ivf_assign
    from sqlite_vector_spark.operators.pq import ivf_pq_knn_join, ivf_pq_scan, pq_encode_col

    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    k, nprobe, nq = 5, 3, 4
    queries = emb.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    store = (
        ivf_assign(emb, "embedding", cents, id_col="vec_id", metric="L2")
        .select("id", pq_encode_col(F.col("vec"), books).alias("codes"), "cluster")
    )
    joined = ivf_pq_knn_join(queries, store, cents, books, k, nprobe=nprobe).collect()
    by_q = {}
    for r in joined:
        by_q.setdefault(r.qid, []).append((r.rank, r.id, r.distance))
    assert set(by_q) == set(range(nq))

    qrows = {r.qid: list(r.qv) for r in queries.collect()}
    for qid, got in by_q.items():
        got.sort()
        single = ivf_pq_scan(
            emb, "embedding", qrows[qid], cents, books, k, nprobe=nprobe, id_col="vec_id"
        ).collect()
        assert [i for _, i, _ in got] == [r.id for r in single]
        for (_, _, d), r in zip(got, single):
            assert d == pytest.approx(r.distance, rel=1e-9)


def test_ivf_pq_knn_join_window_group_limit(spark, emb, books):
    """The final per-qid top-k must plan as WindowGroupLimit so each
    candidate partition forwards only k rows per query into the rank
    shuffle — the bound that keeps the multi-query path k-limited when
    one query's probed clusters are huge (100 TB skew case)."""
    from sqlite_vector_spark.operators.ann import ivf_assign
    from sqlite_vector_spark.operators.pq import ivf_pq_knn_join, pq_encode_col

    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    queries = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    store = (
        ivf_assign(emb, "embedding", cents, id_col="vec_id", metric="L2")
        .select("id", pq_encode_col(F.col("vec"), books).alias("codes"), "cluster")
    )
    df = ivf_pq_knn_join(queries, store, cents, books, 5, nprobe=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan


def test_ivf_pq_knn_join_residual_mode(spark, emb, books):
    """Residual-mode join: distances equal explicit NumPy
    reconstruction of Σ_s ||(q - centroid)_s - codebook[s][code]||²
    over the probed clusters."""
    from sqlite_vector_spark.operators.ann import ivf_assign, probe_clusters
    from sqlite_vector_spark.operators.pq import ivf_pq_knn_join, ivf_residuals, pq_encode_col

    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    k, nprobe = 5, 3
    queries = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    res = ivf_residuals(emb, "embedding", cents, id_col="vec_id")
    store = res.select("id", pq_encode_col(F.col("vec"), books).alias("codes"), "cluster")
    got = ivf_pq_knn_join(queries, store, cents, books, k, nprobe=nprobe, residual=True).collect()

    cm = np.asarray(cents)
    codes = {r.id: (r.cluster, list(r.codes)) for r in store.collect()}
    for qrow in queries.collect():
        qv = np.asarray(qrow.qv, dtype=np.float64)
        probes = set(probe_clusters([float(x) for x in qrow.qv], cents, nprobe))
        cand = []
        for i, (cl, cs) in codes.items():
            if cl not in probes:
                continue
            qr = qv - cm[cl]
            d2 = sum(
                float(((qr[s * DSUB : (s + 1) * DSUB] - np.asarray(books[s][c])) ** 2).sum())
                for s, c in enumerate(cs)
            )
            cand.append((math.sqrt(d2), i))
        ref = sorted(cand)[:k]
        mine = sorted((r.rank, r.id, r.distance) for r in got if r.qid == qrow.qid)
        assert [i for _, i in ref] == [i for _, i, _ in mine]
        for (d, _), (_, _, dg) in zip(ref, mine):
            assert dg == pytest.approx(d, rel=1e-9)


def test_pq_store_append_equals_rebuild(spark, emb, books, tmp_path):
    """Frozen-codebook append maintenance: build-on-half + append-half
    must equal build-on-all row for row, and the drift report must
    stay quiet in-distribution and fire on a shifted batch."""
    from sqlite_vector_spark.operators.pq import (
        pq_reconstruction_error,
        pq_store,
        pq_store_append,
    )

    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "pq_inc")
    pq_store(half_a, "embedding", books, inc, id_col="vec_id")
    baseline = pq_reconstruction_error(half_a, "embedding", books, id_col="vec_id")
    rep = pq_store_append(
        half_b, "embedding", books, inc, id_col="vec_id", baseline_recon_err=baseline
    )
    assert rep.n_appended == half_b.count()
    assert not rep.rebuild_recommended  # same distribution

    full = str(tmp_path / "pq_full")
    pq_store(emb, "embedding", books, full, id_col="vec_id")
    got = {r.id: list(r.codes) for r in spark.read.parquet(inc).collect()}
    want = {r.id: list(r.codes) for r in spark.read.parquet(full).collect()}
    assert got == want

    shifted = emb.select(
        (F.col("vec_id") + 500_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + F.lit(25.0)).alias("embedding"),
    )
    rep_bad = pq_store_append(
        shifted, "embedding", books, str(tmp_path / "pq_drift"), id_col="vec_id",
        baseline_recon_err=baseline,
    )
    assert rep_bad.drift > 0.25 and rep_bad.rebuild_recommended


@pytest.mark.slow
@pytest.mark.parametrize("residual", [False, True])
def test_ivf_pq_store_append_equals_rebuild(spark, emb, books, tmp_path, residual):
    """IVF-PQ append (frozen centroids + codebooks) == rebuild for
    both the raw and the residual (IVFADC) store layouts; partition
    pruning still holds on the appended store."""
    from sqlite_vector_spark.operators.pq import ivf_pq_store, ivf_pq_store_append

    cents = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / f"ivfpq_inc_{residual}")
    ivf_pq_store(half_a, "embedding", cents, books, inc, id_col="vec_id", residual=residual)
    rep = ivf_pq_store_append(
        half_b, "embedding", cents, books, inc, id_col="vec_id", residual=residual
    )
    assert rep.n_appended == half_b.count()
    assert rep.batch_mean_recon_err >= 0.0

    full = str(tmp_path / f"ivfpq_full_{residual}")
    ivf_pq_store(emb, "embedding", cents, books, full, id_col="vec_id", residual=residual)
    got = {r.id: (int(r.cluster), list(r.codes)) for r in spark.read.parquet(inc).collect()}
    want = {r.id: (int(r.cluster), list(r.codes)) for r in spark.read.parquet(full).collect()}
    assert got == want

    pruned = spark.read.parquet(inc).where(F.col("cluster").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan


# ---------------------------------------------------------------- OPQ


def test_random_rotation_orthogonal_and_deterministic():
    from sqlite_vector_spark.operators.pq import random_rotation

    R1 = random_rotation(16, seed=3)
    R2 = random_rotation(16, seed=3)
    assert (R1 == R2).all()
    assert np.allclose(R1 @ R1.T, np.eye(16), atol=1e-12)
    assert not np.allclose(random_rotation(16, seed=4), R1)


def test_rotate_backends_agree_and_preserve_l2(spark, emb):
    """HOF codegen rotation vs Arrow matmul: same values to fp
    tolerance; orthogonality preserves pairwise L2 exactly (to fp)."""
    from sqlite_vector_spark.operators.pq import opq_rotate, random_rotation

    R = random_rotation(DIM, seed=1)
    a = {r.id: list(r.vec) for r in opq_rotate(emb.limit(50), "embedding", R, id_col="vec_id", backend="codegen").collect()}
    b = {r.id: list(r.vec) for r in opq_rotate(emb.limit(50), "embedding", R, id_col="vec_id", backend="arrow-numpy").collect()}
    assert set(a) == set(b)
    for i in a:
        assert np.allclose(a[i], b[i], rtol=1e-12, atol=1e-12)
    ids = sorted(a)[:10]
    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb.where(F.col("vec_id").isin(ids)).collect()}
    for x in ids[:5]:
        for y in ids[5:]:
            d_orig = np.linalg.norm(orig[x] - orig[y])
            d_rot = np.linalg.norm(np.asarray(a[x]) - np.asarray(a[y]))
            assert d_rot == pytest.approx(d_orig, rel=1e-9)


def _aniso_frame(spark, n=600, dim=32, seed=5):
    """Synthetic anisotropic corpus: per-dimension variance decays
    geometrically, so the leading subspace holds almost all the
    energy while the trailing ones hold none — the regime where raw
    axis-aligned PQ wastes codebook entropy on dead subspaces and
    OPQ's variance-balancing rotation recovers it (Ge et al. 2013
    §4's setup)."""
    rng = np.random.default_rng(seed)
    scales = np.array([4.0 ** (-(i / 4.0)) for i in range(dim)])
    X = rng.normal(size=(n, dim)) * scales
    rows = [(i, [float(x) for x in X[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "id long, vec array<double>"), X


@pytest.mark.slow
def test_opq_fit_beats_raw_pq_reconstruction(spark):
    """On anisotropic data, the learned rotation must cut the mean
    squared reconstruction error vs raw PQ at equal M/KSUB (Ge et al.
    2013's headline effect)."""
    from sqlite_vector_spark.operators.pq import opq_fit, opq_rotate, pq_fit, pq_reconstruction_error

    dim, m, ksub = 32, 4, 16
    df, _X = _aniso_frame(spark, dim=dim)
    raw_books = pq_fit(df, "vec", m, ksub, dim, iters=5, init="kmeans++", seed=0)
    raw_err = pq_reconstruction_error(df, "vec", raw_books)

    R, opq_books = opq_fit(df, "vec", m, ksub, dim, iters=10, seed=0)
    rotated = opq_rotate(df, "vec", R, id_col="id")
    opq_err = pq_reconstruction_error(rotated, "vec", opq_books)
    assert opq_err < raw_err * 0.9, (opq_err, raw_err)


def test_opq_scan_equals_pq_scan_on_rotated_frame(spark):
    """opq_scan == pq_scan over the rotated corpus with the rotated
    query — the composition contract the gate entry also pins."""
    from sqlite_vector_spark.operators.pq import (
        _rotate_py,
        opq_encode,
        opq_fit,
        opq_rotate,
        opq_scan,
        pq_scan,
    )

    dim, m, ksub = 32, 4, 16
    df, X = _aniso_frame(spark, dim=dim)
    R, books = opq_fit(df, "vec", m, ksub, dim, iters=4, seed=0)
    codes = opq_encode(df, "vec", R, books, id_col="id")
    q = [float(x) for x in X[0]]
    a = opq_scan(codes, q, R, books, 10).collect()
    b = pq_scan(codes, _rotate_py(q, R), books, 10).collect()
    assert [(r.id, r.distance) for r in a] == [(r.id, r.distance) for r in b]


def test_opq_rotation_persists_in_catalog(spark, emb, tmp_path):
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.pq import random_rotation

    R = random_rotation(DIM, seed=2)
    books = [[[0.0] * DSUB] * KSUB] * M
    cat = VectorCatalog(root=str(tmp_path / "cat"))
    cat.vector_init(emb, "embeddings", "embedding")
    cat.set_pq_index("embeddings", "embedding", path="/x", codebooks=books, rotation=R)
    # a fresh catalog on the same root reloads the rotation
    cat2 = VectorCatalog(root=str(tmp_path / "cat"))
    ctx = cat2.vector_init(emb, "embeddings", "embedding")
    assert ctx.pq_rotation is not None
    assert np.allclose(np.asarray(ctx.pq_rotation), R)


@pytest.mark.slow
def test_opq_composes_with_ivf_pq_store(spark, emb, tmp_path):
    """OPQ is a frame transform, so the IVF-PQ store tier works
    unchanged in the rotated basis. The preserved contract is EXACT
    distances (the rotation is orthogonal) — ADC cells deliberately
    differ, that is the point of OPQ — so the invariant is on the
    reranked result: rotated-store ADC prefilter covering the corpus
    + exact rerank in the rotated basis == the unrotated exact scan,
    id for id, distances to fp tolerance. Partition pruning must
    still hold on the rotated store."""
    from sqlite_vector_spark.functions.distance import distance
    from sqlite_vector_spark.operators.pq import (
        _rotate_py,
        ivf_pq_store,
        ivf_pq_stored_scan,
        opq_rotate,
        random_rotation,
    )

    R = random_rotation(DIM, seed=11)
    q = [0.1 * ((j % 7) - 3) for j in range(DIM)]
    n = emb.count()
    exact = full_scan(emb, "embedding", q, 10, "L2", id_col="vec_id").collect()

    rot = opq_rotate(emb, "embedding", R, id_col="vec_id").localCheckpoint(eager=True)
    cents_r = [
        list(r.vec) for r in rot.where(F.col("id") < 8).orderBy("id").collect()
    ]
    book_rows = rot.where(F.col("id") < KSUB).orderBy("id").collect()
    books_r = [
        [list(r.vec[s * DSUB : (s + 1) * DSUB]) for r in book_rows] for s in range(M)
    ]
    rot_dir = str(tmp_path / "rot")
    ivf_pq_store(rot, "vec", cents_r, books_r, rot_dir, id_col="id")
    qrot = _rotate_py(q, R)

    # ADC prefilter covering the corpus (all clusters probed), then
    # exact rerank in the rotated basis = true distances
    cand = ivf_pq_stored_scan(
        spark, rot_dir, qrot, cents_r, books_r, n, nprobe=len(cents_r)
    ).select("id")
    rr = (
        rot.join(F.broadcast(cand), "id", "left_semi")
        .select("id", distance(F.col("vec"), qrot, "L2").alias("distance"))
        .orderBy(F.col("distance").asc(), F.col("id").asc())
        .limit(10)
        .collect()
    )
    assert [r.id for r in rr] == [r.id for r in exact]
    for a, b in zip(exact, rr):
        assert b.distance == pytest.approx(a.distance, rel=1e-9)

    pruned = spark.read.parquet(rot_dir).where(F.col("cluster").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan


def test_opq_fit_returns_self_consistent_pair(spark):
    """The returned (R, codebooks) must be self-consistent at
    refine_iters=0: codebooks refreshed under the FINAL R, not the
    previous iteration's basis (the loop updates R after the codebook
    step). Deterministic probe: one extra Lloyd step on the same hash
    sample barely improves the sample recon error for a refreshed
    pair (measured 1.0% at iters=4, seed 0) but notably for a stale
    one (2.6% — the half-iteration gap this guards against)."""
    from sqlite_vector_spark.operators.pq import _hash_sample, opq_fit

    dim, m, ksub = 32, 4, 16
    df, _X = _aniso_frame(spark, dim=dim)
    R, cbs = opq_fit(df, "vec", m, ksub, dim, iters=4, seed=0)

    samp = _hash_sample(df.select("id", "vec"), 8192, 0)
    X = np.array([list(r.vec) for r in samp], dtype=np.float64)
    dsub = dim // m

    def recon_err(cbs_):
        Xr = X @ np.asarray(R).T
        e = 0.0
        for s in range(m):
            sub = Xr[:, s * dsub : (s + 1) * dsub]
            cb = np.asarray(cbs_[s])
            d = (sub * sub).sum(1)[:, None] - 2 * (sub @ cb.T) + (cb * cb).sum(1)[None, :]
            e += ((sub - cb[d.argmin(1)]) ** 2).sum()
        return e / len(X)

    def lloyd_step(cbs_):
        Xr = X @ np.asarray(R).T
        out = []
        for s in range(m):
            sub = Xr[:, s * dsub : (s + 1) * dsub]
            cb = np.asarray(cbs_[s]).copy()
            d = (sub * sub).sum(1)[:, None] - 2 * (sub @ cb.T) + (cb * cb).sum(1)[None, :]
            a = d.argmin(1)
            for j in range(len(cb)):
                sel = a == j
                if sel.any():
                    cb[j] = sub[sel].mean(0)
            out.append(cb)
        return out

    e0 = recon_err(cbs)
    e1 = recon_err(lloyd_step(cbs))
    assert e1 <= e0  # Lloyd never hurts
    assert (e0 - e1) / e0 < 0.02, (e0, e1)  # stale pair measures 0.026


def test_residual_adc_scan_single_pass_both_backends(spark, emb):
    """r15: the residual-IVFADC scan is ONE pass on BOTH backends — a
    cluster IN (probes) filter plus a short-circuit CASE WHEN LUT
    fold (codegen) / a cluster-aware LUT-gather kernel (arrow) —
    instead of per-probe filter-and-union branches that each re-walk
    the upstream plan. Results must be bit-identical to the old union
    form (built inline here, per backend) and the plan must contain
    no Union."""
    from sqlite_vector_spark.operators.ann import probe_clusters
    from sqlite_vector_spark.operators.pq import ivf_pq_residual_adc_scan, ivf_residuals

    cents = [
        list(r.embedding) for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    res = ivf_residuals(emb, "embedding", cents, id_col="vec_id")
    book_rows = res.where(F.col("id") < 16).orderBy("id").collect()
    m, dsub = 8, 8
    books = [[list(r.vec[s * dsub : (s + 1) * dsub]) for r in book_rows] for s in range(m)]
    table = res.select("id", pq_encode_col(F.col("vec"), books).alias("codes"), "cluster")
    q = [0.1 * ((j % 7) - 3) for j in range(64)]
    probes = probe_clusters(q, cents, 2)
    try:
        for backend in ("codegen", "arrow-numpy"):
            set_backend(backend)
            got = ivf_pq_residual_adc_scan(table, q, cents, books, 10, nprobe=2)
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert "Union" not in plan, backend
            branches = []
            for p in probes:
                q_res = [qq - cc for qq, cc in zip(q, cents[p])]
                luts = adc_lut(q_res, books)
                if backend == "arrow-numpy":
                    dist = adc_distance_arrow_udf(luts, "L2")(F.col("codes"))
                else:
                    dist = F.expr(adc_distance_sql("codes", luts, "L2"))
                branches.append(
                    table.where(F.col("cluster") == int(p)).select(
                        F.col("id").cast("bigint").alias("id"), dist.alias("distance")
                    )
                )
            ref = branches[0]
            for b in branches[1:]:
                ref = ref.unionAll(b)
            ref = ref.orderBy(F.col("distance").asc(), F.col("id").asc()).limit(10)
            assert [tuple(r) for r in got.collect()] == [tuple(r) for r in ref.collect()], backend
    finally:
        set_backend("auto")


def test_pq_store_append_empty_batch_writes_nothing(spark, emb, books, tmp_path):
    """An empty batch must not commit anything (r15: the emptiness
    probe runs BEFORE the observe-instrumented write)."""
    from sqlite_vector_spark.operators.pq import pq_store_append

    dest = tmp_path / "pq_empty"
    rep = pq_store_append(
        emb.where(F.lit(False)), "embedding", books, str(dest), id_col="vec_id"
    )
    assert rep.n_appended == 0 and rep.batch_mean_recon_err == 0.0
    assert not dest.exists()
