"""Single-query kNN on small inputs stays in the JVM.

router.knn on the store tiers (exact, quantized, ivf, bq, pq, ivf_pq,
mih) at dim >= AUTO_DIM: a sized input within scale.SCAN_BYTES
is scored by the codegen folds (no Arrow UDF), the plan is built as
one SQL statement in a bounded number of py4j calls and without a
Spark job, from a fresh catalog too (store schemas come from parquet
footers), and queries that differ only in their vector reuse the
compiled classes. Inputs above the gate keep the Arrow kernel, the
schema reuse never hides a rebuilt or appended store, a ``where=``
predicate is parsed as one expression, and a replica preloaded in one
Spark job is still read from its cache.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from py4j import clientserver, protocol
from pyspark.errors import ParseException

from sqlite_vector_spark import router, scale
from sqlite_vector_spark.catalog import VectorCatalog
from sqlite_vector_spark.operators.ann import ivf_store, ivf_store_append
from sqlite_vector_spark.operators.bq import bq_band_store, bq_encode, bq_rerank_scan, bq_store
from sqlite_vector_spark.operators.pq import ivf_pq_store, ivf_pq_stored_scan, pq_fit, pq_store
from sqlite_vector_spark.operators.quantize import (
    vector_quantize,
    vector_quantize_preload,
    vector_quantize_update,
)
from sqlite_vector_spark.operators.search import full_scan
from sqlite_vector_spark.sinks import read_store
from sqlite_vector_spark.sql import route_sql
from sqlite_vector_spark.version import AUTO_DIM

N, DIM, C = 600, 64, 8
TIERS = ("exact", "quantized", "ivf", "bq", "pq", "ivf_pq", "mih")
#: the mih tier's band probes are literal (b, bv) terms, which Parquet
#: needs as literals to skip row groups and which codegen inlines, so
#: each new query compiles its scan stage
COMPILE_FREE = tuple(t for t in TIERS if t != "mih")
#: the tiers that read a store written by the library
STORE_TIERS = tuple(t for t in TIERS if t != "exact")
#: py4j commands sent to build a warm query, per tier (releases of
#: collected Python proxies not counted): one SQL statement, the store
#: read with its schema check and the size gate. Built from Column
#: calls, the same plans took 143 to 667 (README, "One statement per
#: single-query kNN").
ROUND_TRIPS = {"exact": 21, "quantized": 42, "ivf": 46, "bq": 44, "pq": 42, "ivf_pq": 46, "mih": 44}


def _write_vectors(path, ids, vecs, **cols):
    arr = pa.FixedSizeListArray.from_arrays(vecs.astype(np.float32).ravel(), vecs.shape[1])
    pq.write_table(pa.table({"id": ids, "vec": arr.cast(pa.list_(pa.float32())), **cols}), path)


@pytest.fixture(scope="module")
def tiers(spark, tmp_path_factory):
    """A 600 x 64 corpus registered as table sq_corpus with every tier
    but ivf_pq built; returns (catalog, root, vectors, centroids). The
    PQ code table is a flat pq_store; the ivf_pq tier reads its own
    catalog (see ivf_pq_catalog)."""
    root = str(tmp_path_factory.mktemp("single_query"))
    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, (C, DIM))
    vecs = centers[rng.integers(0, C, N)] + 0.3 * rng.normal(0.0, 1.0, (N, DIM))
    _write_vectors(f"{root}/corpus.parquet", np.arange(N), vecs, label=np.arange(N) % 3)
    df = spark.read.parquet(f"{root}/corpus.parquet")
    df.createOrReplaceTempView("sq_corpus")
    cat = VectorCatalog(f"{root}/catalog")
    cat.vector_init(df, "sq_corpus", "vec", f"type=FLOAT32,dimension={DIM},distance=L2")
    vector_quantize(df, "vec", f"{root}/quantized", catalog=cat, table="sq_corpus")
    ivf_store(df, "vec", centers.tolist(), f"{root}/ivf")
    cat.set_ivf_index("sq_corpus", "vec", path=f"{root}/ivf", centroids=centers.tolist())
    bq_store(df, "vec", DIM, f"{root}/bq")
    cat.set_bq_index("sq_corpus", "vec", path=f"{root}/bq")
    bq_band_store(bq_encode(df, "vec", DIM), DIM, f"{root}/mih")
    cat.set_mih_index("sq_corpus", "vec", path=f"{root}/mih")
    books = pq_fit(df, "vec", 8, 16, DIM, iters=2)
    pq_store(df, "vec", books, f"{root}/pq")
    cat.set_pq_index("sq_corpus", "vec", path=f"{root}/pq", codebooks=books)
    return cat, root, vecs, centers


@pytest.fixture(scope="module")
def ivf_pq_catalog(spark, tiers):
    """A second catalog over sq_corpus whose PQ index is an
    ivf_pq_store (codes partitioned by IVF cluster): a column has one
    PQ index, and the first catalog's serves prefer="pq" from the flat
    layout."""
    cat, root, _, centers = tiers
    df = spark.table("sq_corpus")
    cat2 = VectorCatalog(f"{root}/catalog_ivf_pq")
    cat2.vector_init(df, "sq_corpus", "vec", f"type=FLOAT32,dimension={DIM},distance=L2")
    cat2.set_ivf_index("sq_corpus", "vec", path=f"{root}/ivf", centroids=centers.tolist())
    books = cat.get("sq_corpus", "vec").pq_codebooks
    ivf_pq_store(df, "vec", centers.tolist(), books, f"{root}/ivf_pq")
    cat2.set_pq_index("sq_corpus", "vec", path=f"{root}/ivf_pq", codebooks=books)
    return cat2


@pytest.fixture
def cat(request, tiers, tier):
    """The catalog that serves ``tier``."""
    return request.getfixturevalue("ivf_pq_catalog") if tier == "ivf_pq" else tiers[0]


def _query(vecs, i):
    return (vecs[i] + 0.01).tolist()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_of(spark, group, fn):
    """fn() and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn(), list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_gate_sizes_the_fixture_small(spark, tiers):
    cat, root, _, _ = tiers
    assert DIM >= AUTO_DIM
    assert not scale.large("scan", spark.table("sq_corpus"))


@pytest.mark.parametrize("tier", TIERS)
def test_small_tier_builds_without_jobs_or_arrow(spark, tiers, tier, cat):
    """Once the catalog has read the tier's store, building the query
    starts no Spark job (no schema inference, no hidden action) and
    its plan has no Python UDF."""
    _, _, vecs, _ = tiers
    router.knn(spark, cat, "sq_corpus", "vec", _query(vecs, 0), 10, prefer=tier)
    res, jobs = _jobs_of(spark, f"sq-build-{tier}", lambda: router.knn(
        spark, cat, "sq_corpus", "vec", _query(vecs, 1), 10, prefer=tier))
    assert jobs == []
    assert "EvalPython" not in _plan(res)
    assert len(res.collect()) == 10


@pytest.mark.parametrize("tier", TIERS)
def test_build_round_trip_budget(spark, tiers, tier, cat, monkeypatch):
    """Building a warm query sends at most ROUND_TRIPS[tier] py4j
    commands: the plan is one parsed statement, not one command per
    Column call (a layer count that host load cannot move)."""
    _, _, vecs, _ = tiers
    router.knn(spark, cat, "sq_corpus", "vec", _query(vecs, 0), 10, prefer=tier)
    send, sent = clientserver.ClientServerConnection.send_command, []
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(conn, command, *args, **kwargs):
        if not command.startswith(release):
            sent.append(command)
        return send(conn, command, *args, **kwargs)

    monkeypatch.setattr(clientserver.ClientServerConnection, "send_command", counting)
    router.knn(spark, cat, "sq_corpus", "vec", _query(vecs, 1), 10, prefer=tier)
    monkeypatch.undo()
    assert len(sent) <= ROUND_TRIPS[tier]


@pytest.mark.parametrize("tier", COMPILE_FREE)
def test_steady_state_queries_compile_no_classes(spark, tiers, tier, cat):
    """Queries that differ only in their vector generate the same code:
    query values reach it as array literals by reference, never inlined,
    so five fresh queries after a warm one compile zero classes."""
    _, _, vecs, _ = tiers
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    router.knn(spark, cat, "sq_corpus", "vec", _query(vecs, 2), 10, prefer=tier).collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    for i in range(3, 8):
        router.knn(spark, cat, "sq_corpus", "vec", _query(vecs, i * 37), 10, prefer=tier).collect()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0


def test_input_above_gate_keeps_arrow(spark, tiers, tmp_path):
    """A scan Catalyst sizes above scale.SCAN_BYTES, and a BQ
    rerank whose candidates (prefilter, bounded by the frame) are that
    large, keep the Arrow kernel."""
    rng = np.random.default_rng(11)
    n = 20000
    _write_vectors(str(tmp_path / "big.parquet"), np.arange(n), rng.normal(0.0, 1.0, (n, DIM)))
    big = spark.read.parquet(str(tmp_path / "big.parquet"))
    assert scale.large("scan", big)
    q = rng.normal(0.0, 1.0, DIM).tolist()
    assert "ArrowEvalPython" in _plan(full_scan(big, "vec", q, 10))

    wide = scale.SCAN_BYTES // (8 * (DIM + 1)) + 1
    assert "ArrowEvalPython" in _plan(bq_rerank_scan(big, "vec", q, 10, wide))
    assert "ArrowEvalPython" not in _plan(bq_rerank_scan(big, "vec", q, 10, 100))
    # a prefilter wider than a small frame is bounded by the frame
    small = spark.table("sq_corpus")
    assert "ArrowEvalPython" not in _plan(bq_rerank_scan(small, "vec", q, 10, wide))


def test_rebuilt_replica_columns_are_seen(spark, tiers, tmp_path):
    """A replica rebuilt at the same path with an extra include_cols
    column is read with its new schema: the schema the catalog kept
    from the first build does not outlive the files it came from."""
    cat, _, vecs, _ = tiers
    src = spark.table("sq_corpus")
    dest = str(tmp_path / "replica")
    cat2 = VectorCatalog(str(tmp_path / "catalog"))
    cat2.vector_init(src, "sq_corpus", "vec", f"type=FLOAT32,dimension={DIM},distance=L2")
    vector_quantize(src, "vec", dest, catalog=cat2, table="sq_corpus")
    q = _query(vecs, 3)
    assert len(router.knn(spark, cat2, "sq_corpus", "vec", q, 10, prefer="quantized").collect()) == 10
    with pytest.raises(ValueError, match="cannot answer"):
        router.knn(spark, cat2, "sq_corpus", "vec", q, 10, prefer="quantized", where="label = 1")

    vector_quantize(src, "vec", dest, catalog=cat2, table="sq_corpus", include_cols=["label"])
    rows = router.knn(spark, cat2, "sq_corpus", "vec", q, 10, prefer="quantized",
                      where="label = 1").collect()
    assert len(rows) == 10 and all(r["id"] % 3 == 1 for r in rows)


def test_appended_rows_are_seen(spark, tiers, tmp_path):
    """After an append to the quantized replica and to the IVF store,
    a self-query for the appended vector returns its id."""
    cat, root, vecs, centers = tiers
    src = spark.table("sq_corpus")
    cat2 = VectorCatalog(str(tmp_path / "catalog"))
    cat2.vector_init(src, "sq_corpus", "vec", f"type=FLOAT32,dimension={DIM},distance=L2")
    params = vector_quantize(src, "vec", str(tmp_path / "quantized"), catalog=cat2, table="sq_corpus")
    ivf_store(src, "vec", centers.tolist(), str(tmp_path / "ivf"))
    cat2.set_ivf_index("sq_corpus", "vec", path=str(tmp_path / "ivf"), centroids=centers.tolist())
    new_vec = (centers[0] + 0.05).tolist()
    for tier in ("quantized", "ivf"):
        assert len(router.knn(spark, cat2, "sq_corpus", "vec", new_vec, 5, prefer=tier).collect()) == 5

    _write_vectors(str(tmp_path / "new.parquet"), np.array([N + 1]), np.array([new_vec]))
    batch = spark.read.parquet(str(tmp_path / "new.parquet"))
    vector_quantize_update(batch, "vec", str(tmp_path / "quantized"), params)
    ivf_store_append(batch, "vec", centers.tolist(), str(tmp_path / "ivf"))
    for tier in ("quantized", "ivf"):
        ids = [r["id"] for r in
               router.knn(spark, cat2, "sq_corpus", "vec", new_vec, 5, prefer=tier).collect()]
        assert N + 1 in ids, tier


@pytest.mark.parametrize("where", ["label = 1 ORDER BY id", "label = 1) OR (1 = 1"])
def test_where_is_parsed_as_one_expression(spark, tiers, tmp_path, where):
    """A predicate that is not one SQL expression raises on both tiers
    that take ``where=``; it never becomes part of the statement."""
    cat, _, vecs, _ = tiers
    src = spark.table("sq_corpus")
    cat2 = VectorCatalog(str(tmp_path / "catalog"))
    cat2.vector_init(src, "sq_corpus", "vec", f"type=FLOAT32,dimension={DIM},distance=L2")
    vector_quantize(src, "vec", str(tmp_path / "replica"), catalog=cat2, table="sq_corpus",
                    include_cols=["label"])
    q = _query(vecs, 4)
    for c, tier in ((cat, "exact"), (cat2, "quantized")):
        with pytest.raises(ParseException):
            router.knn(spark, c, "sq_corpus", "vec", q, 10, prefer=tier, where=where)
        rows = router.knn(spark, c, "sq_corpus", "vec", q, 10, prefer=tier, where="label = 1").collect()
        assert len(rows) == 10 and all(r["id"] % 3 == 1 for r in rows), tier


def _check_preload(spark, tiers, preload, group):
    """``preload()`` starts one Spark job, and the quantized tier then
    answers from the cache, query after query."""
    cat, root, vecs, _ = tiers
    _, jobs = _jobs_of(spark, group, preload)
    try:
        assert len(jobs) == 1
        for i in (5, 6):
            res = router.knn(spark, cat, "sq_corpus", "vec", _query(vecs, i), 10, prefer="quantized")
            assert "InMemoryTableScan" in _plan(res)
            assert len(res.collect()) == 10
    finally:
        read_store(spark, f"{root}/quantized").unpersist(blocking=True)


def test_preloaded_replica_is_served_from_cache(spark, tiers):
    """Reading and preloading the replica runs one Spark job, the scan
    that fills the cache. The preloaded replica answers the quantized
    tier from memory, and answering does not uncache it: the next
    query reads it too."""
    root = tiers[1]
    _check_preload(spark, tiers, lambda: vector_quantize_preload(
        read_store(spark, f"{root}/quantized")), "sq-preload-call")


def test_sql_preload_runs_one_job(spark, tiers):
    """``SELECT vector_quantize_preload(...)`` reads and caches the
    replica in one Spark job too, and the quantized tier reads it."""
    cat = tiers[0]
    _check_preload(spark, tiers, lambda: route_sql(
        spark, cat, "SELECT vector_quantize_preload('sq_corpus', 'vec')"), "sq-preload-sql")


@pytest.mark.parametrize("tier", STORE_TIERS)
def test_fresh_catalog_builds_without_jobs(spark, tiers, tier, cat):
    """A catalog opened afresh has read no store: its first query on a
    store tier reads the store's schema from a parquet footer on the
    driver, so building the plan starts no Spark job either."""
    _, _, vecs, _ = tiers
    fresh = VectorCatalog(cat.root)
    fresh.vector_init(spark.table("sq_corpus"), "sq_corpus", "vec",
                      f"type=FLOAT32,dimension={DIM},distance=L2")
    assert fresh.store_schemas == {}
    res, jobs = _jobs_of(spark, f"sq-fresh-{tier}", lambda: router.knn(
        spark, fresh, "sq_corpus", "vec", _query(vecs, 1), 10, prefer=tier))
    assert jobs == []
    assert fresh.store_schemas
    want = router.knn(spark, cat, "sq_corpus", "vec", _query(vecs, 1), 10, prefer=tier)
    assert res.collect() == want.collect()


@pytest.mark.parametrize("tier", ("ivf", "ivf_pq"))
def test_zero_probes_return_no_rows(spark, tiers, tier, cat):
    """nprobe=0 probes no cluster: the probed tiers return no rows
    (an empty ``IN ()`` list would not parse)."""
    _, root, vecs, centers = tiers
    assert router.knn(spark, cat, "sq_corpus", "vec", _query(vecs, 8), 10, prefer=tier,
                      nprobe=0).collect() == []
    if tier == "ivf_pq":
        books = cat.get("sq_corpus", "vec").pq_codebooks
        got = ivf_pq_stored_scan(spark, f"{root}/ivf_pq", _query(vecs, 8), centers.tolist(), books,
                                 10, nprobe=0, residual=True)
        assert got.collect() == []
