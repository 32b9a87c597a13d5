"""Binary quantization (operators/bq.py): packing parity across
backends and engines, multi-word vectors, Hamming semantics, and the
two-stage rerank contract. The oracle gate (bq_codes /
bq_scan_hamming / bq_rerank_scan_l2) pins the SQL mirror."""

import math

import numpy as np
import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.operators.bq import (
    bq_encode,
    bq_encode_arrow_udf,
    bq_encode_col,
    bq_query_words,
    bq_rerank_scan,
    bq_scan,
    hamming_col,
)
from sqlite_vector_spark.operators.search import full_scan

DIM = 64


def _ref_words(vec, thresholds=None):
    t = thresholds or [0.0] * len(vec)
    words = []
    for w in range((len(vec) + 63) // 64):
        acc = 0
        for i in range(min(64, len(vec) - w * 64)):
            if float(vec[w * 64 + i]) > t[w * 64 + i]:
                acc |= 1 << i
        if acc >= 1 << 63:
            acc -= 1 << 64
        words.append(acc)
    return words


def test_encode_matches_reference_packing(emb):
    got = {r.id: list(r.bits) for r in bq_encode(emb, "embedding", DIM, id_col="vec_id").collect()}
    for r in emb.collect():
        assert got[r.vec_id] == _ref_words(list(r.embedding))


def test_encode_arrow_equals_codegen(emb):
    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    a = {r.id: list(r.bits) for r in base.select("id", bq_encode_col("vec", DIM).alias("bits")).collect()}
    b = {r.id: list(r.bits) for r in base.select("id", bq_encode_arrow_udf(DIM)(F.col("vec")).alias("bits")).collect()}
    assert a == b


def _column_api_encode(v, dim, thresholds):
    """bq_encode_col's tree built from per-lane Column calls (its
    earlier form): the reference for its one-string build."""
    words = []
    for w in range((dim + 63) // 64):
        acc = None
        for i in range(min(64, dim - w * 64)):
            bit = F.when(
                F.element_at(v, w * 64 + i + 1).cast("double") > F.lit(thresholds[w * 64 + i]),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            acc = bit if acc is None else acc + bit
        words.append(acc)
    return F.array(*words)


@pytest.mark.parametrize("dim", [64, 100])
def test_encode_one_string_equals_column_api(spark, dim):
    """bq_encode_col, parsed from one string, gives the Column-API
    tree's codes bit for bit and the same optimized plan, with
    thresholds of every sign, a NaN lane value and a multi-word
    code."""
    from sqlite_vector_spark.plans import normalized_plan

    rng = np.random.default_rng(dim)
    t = [float(x) for x in rng.normal(0.0, 0.5, dim)]
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(30)]
    rows.append((30, [float("nan")] + [0.0] * (dim - 1)))
    df = spark.createDataFrame(rows, "id long, vec array<float>")
    one = df.select("id", bq_encode_col("vec", dim, t).alias("bits"))
    ref = df.select("id", _column_api_encode(F.col("vec"), dim, t).alias("bits"))
    assert normalized_plan(one) == normalized_plan(ref)
    assert sorted(one.collect()) == sorted(ref.collect())


def test_multiword_packing(spark):
    """dim > 64 packs into multiple words; Hamming sums across them."""
    dim = 150
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    codes = bq_encode(df, "vec", dim, id_col="id")
    got = {r.id: list(r.bits) for r in codes.collect()}
    assert all(len(v) == 3 for v in got.values())
    for i, vec in rows:
        assert got[i] == _ref_words(vec)

    q = [float(x) for x in rng.normal(size=dim)]
    qw = bq_query_words(q)
    scan = {r.id: r.hamming for r in bq_scan(codes, q, 40).collect()}
    for i, vec in rows:
        ref = sum(
            bin((a ^ b) & ((1 << 64) - 1)).count("1")
            for a, b in zip(_ref_words(vec), qw)
        )
        assert scan[i] == ref


def test_sign_bit_lane(spark):
    """Lane 63 lands in the BIGINT sign bit and still packs/XORs
    exactly (two's-complement addition of disjoint bits)."""
    vec = [0.0] * 63 + [1.0]
    df = spark.createDataFrame([(0, vec)], "id long, vec array<double>")
    r = bq_encode(df, "vec", 64, id_col="id").collect()[0]
    assert list(r.bits) == [-(1 << 63)]
    assert bq_query_words(vec) == [-(1 << 63)]
    h = df.select(hamming_col(bq_encode_col("vec", 64), bq_query_words(vec)).alias("h")).collect()
    assert h[0].h == 0


def test_custom_thresholds(spark, emb):
    """Per-dimension thresholds shift the bit split; mean-centering
    changes codes for biased dimensions."""
    means = [0.5] * DIM
    a = {r.id: list(r.bits) for r in bq_encode(emb, "embedding", DIM, id_col="vec_id").collect()}
    b = {r.id: list(r.bits) for r in bq_encode(emb, "embedding", DIM, thresholds=means, id_col="vec_id").collect()}
    assert a != b
    with pytest.raises(ValueError, match="thresholds has"):
        bq_encode(emb, "embedding", DIM, thresholds=[0.0] * (DIM - 1), id_col="vec_id")


def test_rerank_returns_true_distances_and_recall(spark, emb):
    q = [math.sin((i + 1) * 0.37) * 0.8 for i in range(DIM)]
    k = 10
    exact = full_scan(
        emb.select(F.col("vec_id").alias("id"), "embedding"), "embedding", q, k, "L2"
    ).collect()
    rer = bq_rerank_scan(emb, "embedding", q, k, 160, id_col="vec_id").collect()
    exact_d = {r.id: r.distance for r in exact}
    hits = [r for r in rer if r.id in exact_d]
    assert len(hits) / k >= 0.5  # 1-bit prefilter at 32% width
    for r in hits:
        assert r.distance == exact_d[r.id]


def test_scan_edges(spark, emb):
    codes = bq_encode(emb, "embedding", DIM, id_col="vec_id")
    q = [0.1] * DIM
    assert bq_scan(codes, q, 0).count() == 0
    n = codes.count()
    assert bq_scan(codes, q, n + 50).count() == n
    with pytest.raises(ValueError, match="k must be"):
        bq_scan(codes, q, -1)
    hams = [r.hamming for r in bq_scan(codes, q, n).collect()]
    assert hams == sorted(hams)


def test_projected_bits_match_numpy_reference(spark, emb):
    from sqlite_vector_spark.operators.bq import (
        bq_project_encode,
        bq_project_query_words,
        bq_random_planes,
    )

    planes = bq_random_planes(DIM, 128, seed=9)
    got = {r.id: list(r.bits) for r in bq_project_encode(emb, "embedding", planes, id_col="vec_id").collect()}
    for r in emb.collect():
        ref = bq_project_query_words(list(r.embedding), planes)
        assert got[r.vec_id] == ref
    assert all(len(v) == 2 for v in got.values())


@pytest.mark.slow
def test_projected_rerank_beats_axis_aligned_on_correlated_data(spark):
    """On a smooth correlated manifold (neighboring rows nearly
    identical lane-wise), axis-aligned sign bits collapse into
    Hamming ties and the prefilter misses; projected bits decorrelate
    and capture the true neighbors at the same width."""
    from sqlite_vector_spark.operators.bq import (
        bq_project_rerank_scan,
        bq_random_planes,
        bq_rerank_scan,
    )

    n, dim, k, pre = 4000, 64, 10, 80
    df = spark.range(n).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: F.sin(F.col("id").cast("double") * j.cast("double") * F.lit(1e-4)),
        ).alias("vec"),
    ).cache()
    q = [0.5 * (1 if j % 2 == 0 else -1) * ((j % 31) / 31.0) for j in range(dim)]
    exact_ids = {r.id for r in full_scan(df, "vec", q, k, "L2").collect()}

    axis = {r.id for r in bq_rerank_scan(df, "vec", q, k, pre).collect()}
    planes = bq_random_planes(dim, 256, seed=1)
    mu = np.array([r.vec for r in df.limit(500).collect()]).mean(0)
    proj = {r.id for r in bq_project_rerank_scan(df, "vec", q, planes, k, pre, center=mu).collect()}
    r_axis = len(exact_ids & axis) / k
    r_proj = len(exact_ids & proj) / k
    assert r_proj >= r_axis
    assert r_proj >= 0.5
    df.unpersist()


def test_bq_store_append_equals_rebuild(spark, emb, tmp_path):
    """Frozen-threshold 1-bit append == rebuild; bit-bias drift stays
    quiet in-distribution and fires when a shifted batch saturates
    the thresholds (bits go constant)."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.bq import bq_bit_bias, bq_encode, bq_store, bq_store_append

    dim = 64
    half_a = emb.where(F.col("vec_id") % 2 == 0)
    half_b = emb.where(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "bq_inc")
    bq_store(half_a, "embedding", dim, inc, id_col="vec_id")
    baseline = bq_bit_bias(bq_encode(half_a, "embedding", dim, id_col="vec_id"), dim)
    rep = bq_store_append(
        half_b, "embedding", dim, inc, id_col="vec_id", baseline_bit_bias=baseline
    )
    assert rep.n_appended == half_b.count()
    assert not rep.rebuild_recommended

    full = str(tmp_path / "bq_full")
    bq_store(emb, "embedding", dim, full, id_col="vec_id")
    got = {r.id: list(r.bits) for r in spark.read.parquet(inc).collect()}
    want = {r.id: list(r.bits) for r in spark.read.parquet(full).collect()}
    assert got == want

    # every lane shifted far positive -> every bit 1 -> bias 0.5
    shifted = emb.select(
        (F.col("vec_id") + 500_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + F.lit(100.0)).alias("embedding"),
    )
    rep_bad = bq_store_append(
        shifted, "embedding", dim, str(tmp_path / "bq_drift"), id_col="vec_id",
        baseline_bit_bias=baseline,
    )
    assert rep_bad.mean_bit_bias > 0.45
    assert rep_bad.drift > 0.15 and rep_bad.rebuild_recommended


def test_bq_store_append_wide_arm_equals_observed(spark, emb, tmp_path, monkeypatch):
    """Codes wider than _OBS_BIAS_MAX_DIM take the checkpoint +
    mapInPandas arm instead of dim+1 observe metrics. With the cap at
    32, a dim-64 append reports exactly what the observed arm reports,
    and its bias is bq_bit_bias of the encoded batch."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators import bq

    dim = 64
    batch = emb.where(F.col("vec_id") % 2 == 1)

    def append(dest):
        return bq.bq_store_append(
            batch, "embedding", dim, str(tmp_path / dest), id_col="vec_id", baseline_bit_bias=0.01
        )

    observed = append("observed")
    monkeypatch.setattr(bq, "_OBS_BIAS_MAX_DIM", 32)
    wide = append("wide")
    assert wide == observed and wide.n_appended == batch.count()
    codes = bq.bq_encode(batch, "embedding", dim, id_col="vec_id")
    assert wide.mean_bit_bias == bq.bq_bit_bias(codes, dim)


# ---------------------------------------------------------------- multi-index Hamming join


def _vec_from_bits(bits64):
    """dim-64 vector whose sign bits reproduce ``bits64``."""
    return [1.0 if (bits64 >> i) & 1 else -1.0 for i in range(64)]


def test_bq_knn_join_pigeonhole_completeness(spark):
    """MIH contract (Norouzi et al. 2012): with m=4 bands of 16 bits,
    every code within Hamming distance 3 of a query MUST be found
    (pigeonhole: 3 flips cannot touch all 4 bands). Plant neighbors
    at distances 0..3 plus far decoys; all planted ones must appear
    with exact Hamming values."""
    import random

    from sqlite_vector_spark.operators.bq import bq_encode, bq_knn_join

    rng = random.Random(5)
    rows, queries, expect = [], [], {}
    rid = 0
    for qid in range(4):
        base = rng.getrandbits(64)
        queries.append((qid, _vec_from_bits(base)))
        expect[qid] = {}
        for d in range(4):  # neighbors at Hamming 0, 1, 2, 3
            code = base
            for bit in rng.sample(range(64), d):
                code ^= 1 << bit
            d_true = bin(base ^ code).count("1")
            rows.append((rid, _vec_from_bits(code)))
            expect[qid][rid] = d_true
            rid += 1
        # far decoy: flip ~half the bits
        far = base ^ 0x5555555555555555
        rows.append((rid, _vec_from_bits(far)))
        rid += 1
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    codes = bq_encode(corpus, "vec", 64)
    qdf = spark.createDataFrame(queries, "qid long, qv array<double>")
    got = bq_knn_join(qdf, codes, 64, k=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r.qid, {})[r.id] = r.hamming
    for qid, exp in expect.items():
        for rid_, d_true in exp.items():
            assert by_q[qid].get(rid_) == d_true, (qid, rid_, d_true, by_q.get(qid))


def test_bq_knn_join_ranking_and_plan(spark, emb):
    """Returned rows rank by (hamming asc, id asc) with exact popcount
    values; the plan keeps the per-qid top-k WindowGroupLimit-bounded
    and the query side broadcast."""
    from sqlite_vector_spark.operators.bq import bq_encode, bq_knn_join, bq_query_words

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    df = bq_knn_join(queries, codes, 64, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan

    rows = df.collect()
    packed = {r.id: list(r.bits) for r in codes.collect()}
    qpacked = {
        r.qid: bq_query_words(list(r.qv)) for r in queries.collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        seq = [(r.hamming, r.id) for r in rs]
        assert seq == sorted(seq)  # rank order == (hamming, id) order
        for r in rs:
            want = sum(
                bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
                for a, b in zip(packed[r.id], qpacked[qid])
            )
            assert r.hamming == want


def test_bq_band_store_scan_matches_join_and_prunes(spark, emb, tmp_path):
    """The persisted MIH store must return the same top-k as the
    in-plan bq_knn_join for the same query, with partition pruning
    on b and a pushed bv filter in the scan plan."""
    from sqlite_vector_spark.operators.bq import (
        bq_band_scan,
        bq_band_store,
        bq_encode,
        bq_knn_join,
    )

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    dest = str(tmp_path / "bands")
    bq_band_store(codes, 64, dest, band_bits=8)

    qrow = emb.where(F.col("vec_id") == 3).collect()[0]
    q = list(qrow.embedding)
    got = bq_band_scan(spark, dest, q, 64, 5, band_bits=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "b#" in plan or "PartitionFilters: [" in plan
    assert "PushedFilters" in plan

    rows = got.collect()
    qdf = spark.createDataFrame([(0, q)], "qid long, qv array<double>")
    want = [
        (r.id, r.hamming)
        for r in bq_knn_join(qdf, codes, 64, 5, band_bits=8).orderBy("rank").collect()
    ]
    assert [(r.id, r.hamming) for r in rows] == want


@pytest.mark.slow
def test_bq_knn_join_multiword_codes(spark):
    """dim > 64: bands index into the RIGHT word (the band layout
    spans words); planted flips in different words are all found with
    exact distances."""
    import random

    from sqlite_vector_spark.operators.bq import bq_encode, bq_knn_join

    dim = 192  # 3 words, 12 bands at 16 bits
    rng = random.Random(3)

    def vec_from_bits(bits):
        return [1.0 if (bits >> i) & 1 else -1.0 for i in range(dim)]

    base_bits = rng.getrandbits(dim)
    rows = [(0, vec_from_bits(base_bits))]
    expect = {}
    rid = 1
    for d, positions in [(1, [5]), (2, [70, 130]), (3, [63, 64, 191])]:
        code = base_bits
        for p in positions:  # flips across word boundaries
            code ^= 1 << p
        rows.append((rid, vec_from_bits(code)))
        expect[rid] = d
        rid += 1
    for _ in range(50):  # noise far away
        rows.append((rid, vec_from_bits(rng.getrandbits(dim))))
        rid += 1
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    codes = bq_encode(corpus, "vec", dim)
    qdf = spark.createDataFrame([(9, vec_from_bits(base_bits))], "qid long, qv array<double>")
    got = {r.id: r.hamming for r in bq_knn_join(qdf, codes, dim, k=10).collect()}
    assert got[0] == 0
    for rid_, d in expect.items():
        assert got.get(rid_) == d, (rid_, d, got)


def test_bq_band_store_files_sorted_by_bv(spark, emb, tmp_path):
    """The row-group-skipping claim of bq_band_scan rests on bv being
    sorted WITHIN each written file. partitionBy("b") requires the
    sort key to prefix with b — a bare bv sort would be silently
    replaced by Spark's own b-only sort, leaving files unsorted."""
    import glob

    import pyarrow.parquet as pq_

    from sqlite_vector_spark.operators.bq import bq_band_store, bq_encode

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    dest = str(tmp_path / "bands_sorted")
    bq_band_store(codes, 64, dest, band_bits=8)

    files = glob.glob(f"{dest}/b=*/*.parquet")
    assert files, "no band files written"
    checked = 0
    for f in files:
        bv = pq_.read_table(f, columns=["bv"]).column("bv").to_pylist()
        if len(bv) > 1:
            assert bv == sorted(bv), f"bv not sorted within {f}"
            checked += 1
    assert checked > 0, "every band file had <2 rows; fixture too small"


def test_bq_store_append_without_baseline_reports_no_drift(spark, emb, tmp_path):
    """baseline_bit_bias=None means no drift claim is possible: the
    report mirrors _pq_append_report (drift 0.0, rebuild False), with
    the batch bias still surfaced via mean_bit_bias."""
    from sqlite_vector_spark.operators.bq import bq_store_append

    shifted = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double") + F.lit(100.0)).alias("embedding"),
    )
    rep = bq_store_append(
        shifted, "embedding", 64, str(tmp_path / "bq_nobase"), id_col="vec_id",
        baseline_bit_bias=None,
    )
    assert rep.mean_bit_bias > 0.45  # bias itself is still reported
    assert rep.drift == 0.0
    assert not rep.rebuild_recommended


@pytest.mark.slow
def test_bq_project_encode_codegen_equals_arrow(spark, emb):
    """The sequential-fold codegen projected encoder must pack the
    same bits as the Arrow matmul kernel (real data: no dot lands
    within an ulp of zero), and both must match the driver-side
    query-word packing."""
    from sqlite_vector_spark.operators.bq import (
        bq_project_encode,
        bq_project_query_words,
        bq_random_planes,
    )

    planes = bq_random_planes(DIM, 96, seed=4)
    cg = {r.id: list(r.bits) for r in bq_project_encode(
        emb, "embedding", planes, id_col="vec_id", backend="codegen").collect()}
    ar = {r.id: list(r.bits) for r in bq_project_encode(
        emb, "embedding", planes, id_col="vec_id").collect()}
    assert cg == ar
    some = list(cg)[:20]
    vecs = {r.vec_id: list(r.embedding) for r in emb.where(F.col("vec_id").isin(some)).collect()}
    for i in some:
        assert cg[i] == bq_project_query_words(vecs[i], planes)


@pytest.mark.slow
def test_bq_knn_join_projected_restores_selectivity(spark):
    """The measured MIH failure mode (SCALE.md §MIH): on a smooth
    correlated manifold, axis-aligned sign codes collapse into a few
    band values and the band join degenerates toward a cross product;
    SimHash-plane projected codes decorrelate the lanes, restoring
    band selectivity while still finding each query's own row at
    Hamming 0."""
    from sqlite_vector_spark.operators.bq import (
        bq_encode,
        bq_knn_join,
        bq_project_encode,
        bq_random_planes,
        explode_bands,
    )

    n, dim = 4000, 64
    df = spark.range(n).select(
        F.col("id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: F.sin(F.col("id").cast("double") * j.cast("double") * F.lit(1e-4)),
        ).alias("vec"),
    ).cache()
    queries = df.where(F.col("id") < 4).select(F.col("id").alias("qid"), F.col("vec").alias("qv"))

    def cand_count(codes):
        cx = explode_bands(codes, F.col("bits"), ["id"], dim, 8)
        return cx.groupBy("b", "bv").agg(F.count(F.lit(1)).alias("c")).agg(
            F.sum(F.col("c") * F.col("c")).alias("pairs")).collect()[0].pairs

    axis_codes = bq_encode(df, "vec", dim)
    mu = [float(x) for x in
          np.array([r.vec for r in df.limit(500).collect()]).mean(0)]
    planes = bq_random_planes(dim, dim, seed=1)
    proj_codes = bq_project_encode(df, "vec", planes, mu)

    # bucket mass: sum of squared band-bucket sizes ~ expected
    # collisions. The manifold's rows are GENUINELY near-identical in
    # stretches, so projected buckets legitimately keep those
    # collisions (locality is the point) — the claim is the axis
    # codes' pathological EXTRA mass is gone (measured 4.5x here,
    # 675x band selectivity at 1M — SCALE.md §MIH)
    axis_pairs = cand_count(axis_codes)
    proj_pairs = cand_count(proj_codes)
    assert proj_pairs < axis_pairs / 3, (axis_pairs, proj_pairs)

    got = bq_knn_join(queries, proj_codes, dim, 5, band_bits=8, planes=planes, center=mu)
    rows = {(r.qid, r.id): r.hamming for r in got.collect()}
    for q in range(4):  # each query's own row at Hamming 0, rank within k
        assert rows.get((q, q)) == 0
    df.unpersist()


def test_bq_band_join_matches_in_plan_join_with_dpp(spark, emb, tmp_path):
    """Multi-query join against the PERSISTED band store must equal
    the in-plan bq_knn_join, with DYNAMIC partition pruning on the
    b= directories (the broadcast query probes prune the store scan
    at runtime)."""
    from sqlite_vector_spark.operators.bq import (
        bq_band_join,
        bq_band_store,
        bq_encode,
        bq_knn_join,
    )

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    dest = str(tmp_path / "bands_join")
    bq_band_store(codes, 64, dest, band_bits=8)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    got = bq_band_join(spark, dest, queries, 64, 5, band_bits=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    ra = sorted(tuple(r) for r in got.collect())
    rb = sorted(tuple(r) for r in bq_knn_join(queries, codes, 64, 5, band_bits=8).collect())
    assert ra == rb and len(ra) == 40


@pytest.mark.slow
def test_bq_band_join_projected_planes(spark, emb, tmp_path):
    """bq_band_join with planes= (a store built from bq_project_encode
    codes) must equal the in-plan projected bq_knn_join — including
    the encode_backend="codegen" query-encoder pin, which routes
    through the same _project_code_col pass-through as bq_knn_join."""
    from sqlite_vector_spark.operators.bq import (
        bq_band_join,
        bq_band_store,
        bq_knn_join,
        bq_project_encode,
        bq_random_planes,
    )

    planes = bq_random_planes(DIM, 64, seed=3)
    proj_codes = bq_project_encode(emb, "embedding", planes, id_col="vec_id")
    dest = str(tmp_path / "bands_proj")
    bq_band_store(proj_codes, 64, dest, band_bits=8)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    want = sorted(
        tuple(r)
        for r in bq_knn_join(
            queries, proj_codes, 64, 5, band_bits=8, planes=planes
        ).collect()
    )
    for backend in (None, "codegen"):
        got = sorted(
            tuple(r)
            for r in bq_band_join(
                spark, dest, queries, 64, 5, band_bits=8,
                planes=planes, encode_backend=backend,
            ).collect()
        )
        assert got == want and len(got) == 40, backend


def test_bq_band_store_append_equals_rebuild(spark, emb, tmp_path):
    """Frozen band layout: appending new code rows to the store ==
    rebuilding from the full code set — bq_band_scan and bq_band_join
    see identical results either way."""
    from sqlite_vector_spark.operators.bq import (
        bq_band_scan,
        bq_band_store,
        bq_band_store_append,
        bq_encode,
    )

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    half_a = codes.where(F.col("id") % 2 == 0)
    half_b = codes.where(F.col("id") % 2 == 1)
    inc = str(tmp_path / "bands_inc")
    bq_band_store(half_a, 64, inc, band_bits=8)
    n = bq_band_store_append(half_b, 64, inc, band_bits=8)
    assert n == half_b.count()
    assert bq_band_store_append(half_b.limit(0), 64, inc, band_bits=8) == 0

    full = str(tmp_path / "bands_full")
    bq_band_store(codes, 64, full, band_bits=8)
    q = list(emb.where(F.col("vec_id") == 7).collect()[0].embedding)
    got = [tuple(r) for r in bq_band_scan(spark, inc, q, 64, 10, band_bits=8).collect()]
    want = [tuple(r) for r in bq_band_scan(spark, full, q, 64, 10, band_bits=8).collect()]
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_bq_band_join_randomized_pigeonhole_invariant(spark):
    """Randomized invariant (seeded): for random +/-1 corpora, every
    brute-force neighbor within Hamming m-1 of a query MUST appear in
    bq_band_join's result with its exact distance (pigeonhole over
    the persisted layout), and every returned hamming must equal the
    brute-force popcount."""
    import random

    from sqlite_vector_spark.operators.bq import (
        bq_band_join,
        bq_band_store,
        bq_encode,
        bq_query_words,
    )

    dim, band_bits = 128, 32  # m = 4 bands -> complete within 3
    m_bands = dim // band_bits
    rng = random.Random(77)

    def vec_from_bits(bits):
        return [1.0 if (bits >> i) & 1 else -1.0 for i in range(dim)]

    # corpus: random codes + planted near codes for the first 3 queries
    rows = []
    codes_int = {}
    rid = 0
    for _ in range(300):
        c = rng.getrandbits(dim)
        codes_int[rid] = c
        rows.append((rid, vec_from_bits(c)))
        rid += 1
    qids = [0, 1, 2]
    for qi in qids:
        base = codes_int[qi]
        for d in (1, 2, 3):  # within m-1 = 3: MUST be found
            c = base
            for b in range(d):
                c ^= 1 << rng.randrange(dim)
            codes_int[rid] = c
            rows.append((rid, vec_from_bits(c)))
            rid += 1
    corpus = spark.createDataFrame(rows, "id long, vec array<double>")
    codes = bq_encode(corpus, "vec", dim)
    import tempfile

    dest = tempfile.mkdtemp(prefix="svspark_mih_rand_") + "/bands"
    bq_band_store(codes, dim, dest, band_bits=band_bits)

    k = 12
    queries = spark.createDataFrame(
        [(qi, vec_from_bits(codes_int[qi])) for qi in qids], "qid long, qv array<double>"
    )
    got = {}
    for r in bq_band_join(spark, dest, queries, dim, k, band_bits=band_bits).collect():
        got.setdefault(r.qid, {})[r.id] = (r.hamming, r.rank)

    def ham(a, b):
        return bin(a ^ b).count("1")

    for qi in qids:
        brute = sorted(
            ((ham(codes_int[qi], c), i) for i, c in codes_int.items()), key=lambda t: (t[0], t[1])
        )
        # every in-radius neighbor that ranks within the brute top-k
        # must be present with the exact distance
        for rank0, (h, i) in enumerate(brute[:k]):
            if h < m_bands:
                assert got[qi].get(i) == (h, rank0 + 1), (qi, i, h, got[qi].get(i))


def test_bq_store_append_empty_batch_writes_nothing(spark, emb, tmp_path):
    """An empty batch must not commit anything (r15: the emptiness
    probe runs BEFORE the observe-instrumented write)."""
    from sqlite_vector_spark.operators.bq import bq_store_append

    dest = tmp_path / "bq_empty"
    rep = bq_store_append(
        emb.where(F.lit(False)), "embedding", 64, str(dest), id_col="vec_id"
    )
    assert rep.n_appended == 0 and rep.mean_bit_bias == 0.0
    assert not dest.exists()


def test_bq_store_append_observed_bias_equals_bq_bit_bias(spark, emb, tmp_path):
    """r15: the per-dim bit counts ride the append write as observe
    metrics; the resulting bias must be BIT-IDENTICAL to the
    mapInPandas bq_bit_bias over the same codes (exact int64 counts,
    same NumPy finish)."""
    from sqlite_vector_spark.operators.bq import bq_bit_bias, bq_encode, bq_store_append

    batch = emb.where(F.col("vec_id") % 5 == 0)
    rep = bq_store_append(batch, "embedding", 64, str(tmp_path / "bq_obs"), id_col="vec_id")
    want = bq_bit_bias(bq_encode(batch, "embedding", 64, id_col="vec_id"), 64)
    assert rep.mean_bit_bias == want
    assert rep.n_appended == batch.count()


def test_bq_band_join_driver_gates_identical(spark, emb, tmp_path, monkeypatch):
    """r15 driver-safety gates: an oversized query batch falls back to
    the in-plan query encode (bounded collect), and a probe-value set
    covering most of the band domain drops the bv IN filter — both
    arms must return exactly the driver-side-pruned results."""
    import sqlite_vector_spark.operators.bq as bq_mod
    from sqlite_vector_spark.operators.bq import bq_band_join, bq_band_store

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    dest = str(tmp_path / "bands_gates")
    bq_band_store(codes, 64, dest, band_bits=8)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    want = sorted(tuple(r) for r in bq_band_join(spark, dest, queries, 64, 5, band_bits=8).collect())
    assert len(want) == 40
    # arm 1: batch larger than the collect bound -> in-plan encode
    monkeypatch.setattr(bq_mod, "_BAND_JOIN_MAX_Q", 4)
    got_big = sorted(tuple(r) for r in bq_band_join(spark, dest, queries, 64, 5, band_bits=8).collect())
    monkeypatch.undo()
    assert got_big == want
    # arm 2: near-full domain coverage -> IN filter dropped. A 1-bit
    # band store (domain = {0, 1}, 64 bands) always crosses the 3/4
    # coverage gate, so the driver-side path keeps the LocalRelation
    # query side but must NOT add the useless filter
    dest2 = str(tmp_path / "bands_full")
    bq_band_store(codes, 64, dest2, band_bits=1)
    from sqlite_vector_spark.operators.bq import bq_knn_join

    got_full = sorted(
        tuple(r) for r in bq_band_join(spark, dest2, queries, 64, 5, band_bits=1).collect()
    )
    ref_full = sorted(
        tuple(r) for r in bq_knn_join(queries, codes, 64, 5, band_bits=1).collect()
    )
    assert got_full == ref_full
