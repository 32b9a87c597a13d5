"""Approximate nearest neighbor at scale: IVF (inverted-file) search.

The reference deliberately has NO ANN index beyond scalar quantization
(README.md:110-121); at 100 TB brute force per query is wasteful, so
this is the scale path the north star asks for: coarse-quantize the
corpus into C clusters, store cluster id with each row (or partition
the table BY cluster id), and at query time scan only the ``nprobe``
clusters nearest to the query.

Physical story:
- ``ivf_assign`` is one broadcast-nested-loop of corpus x C centroids
  reduced map-side via a fold-argmin over a literal centroid array —
  no shuffle, no window, O(C) per row.
- Persist the assignment partitioned by ``cluster``
  (``write.partitionBy("cluster")``): the query-time filter
  ``cluster IN (probes)`` becomes **partition pruning** — Spark never
  opens the other clusters' files. That is the 100 TB win.
- ``ivf_search`` = centroid top-nprobe (driver-side, C is small) +
  pruned full_scan.

Determinism: centroid assignment uses the same IEEE-exact distance
fold with (distance, index) argmin tiebreak, so the DuckDB oracle
reproduces cluster ids bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from sqlite_vector_spark.functions.distance import EPS_SNAP, batch_matrix, distance
from sqlite_vector_spark.operators.search import full_scan
from sqlite_vector_spark.operators.topk import topk_per_key
from sqlite_vector_spark.types import Metric


def centroid_distances(vec: str | Column, centroids: Sequence[Sequence[float]], metric: str | Metric = "L2") -> Column:
    """ARRAY<DOUBLE> of distances to every centroid (map-side, one
    codegen'd expression per centroid — O(C·dim) expression size; the
    bit-exact oracle path. For large C use the arrow-numpy assignment
    backend, which keeps the plan O(1) — see _assign_backend).

    NB: do NOT build argmin as a chain of when(d < best, ...)
    otherwise(best) — each step duplicates the whole prior tree and
    the expression grows O(2^C)."""
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.array(*[distance(v, list(c), metric) for c in centroids])


def nearest_centroid_from(d_arr: Column) -> Column:
    """0-based argmin with lowest-index tiebreak: first position of
    the array minimum (mirrors row_number ORDER BY d, idx in SQL)."""
    return (F.array_position(d_arr, F.array_min(d_arr)) - 1).cast("bigint")


def _centroid_matrix(centroids: Sequence[Sequence[float]]):
    import numpy as np

    return np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)


def _pairwise_dists(mat, cm, m: Metric):
    """(B,dim) x (C,dim) -> (B,C) float64 distance matrix, vectorized.

    Gram-matrix forms for L2/SQ/DOT/COSINE (one BLAS matmul); L1 walks
    centroid blocks to bound the (B, blk, dim) broadcast at ~32 MB.
    Accumulation order differs from the sequential codegen fold —
    throughput backend, not the oracle path."""
    import numpy as np

    if m in (Metric.L2, Metric.SQUARED_L2):
        d = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ cm.T) + (cm * cm).sum(1)[None, :]
        np.maximum(d, 0.0, out=d)  # clamp FP-negative zeros from the expansion
        if m is Metric.L2:
            np.sqrt(d, out=d)
    elif m is Metric.DOT:
        d = -(mat @ cm.T)
    elif m is Metric.COSINE:
        num = mat @ cm.T
        denom = np.sqrt((mat * mat).sum(1))[:, None] * np.sqrt((cm * cm).sum(1))[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            d = np.where(denom == 0.0, 1.0, 1.0 - num / denom)
    elif m is Metric.L1:
        b, dim = mat.shape
        d = np.empty((b, cm.shape[0]), dtype=np.float64)
        blk = max(1, int(4_000_000 // max(1, b * dim)))
        for s in range(0, cm.shape[0], blk):
            d[:, s : s + blk] = np.abs(mat[:, None, :] - cm[None, s : s + blk, :]).sum(2)
    else:  # pragma: no cover
        raise ValueError(m)
    return d


def nearest_centroid_arrow_udf(centroids: Sequence[Sequence[float]], metric: str | Metric = "L2"):
    """Arrow-batched assignment kernel: ARRAY<numeric> -> BIGINT cluster.

    The centroid matrix rides in the UDF closure (one broadcast per
    stage), so the Catalyst plan stays O(1) regardless of C — the
    large-C backend the literal-expression path can't provide (C=1000 x
    dim=768 would otherwise put ~768k literals into codegen).
    np.argmin takes the first minimum, preserving the lowest-index
    tiebreak of nearest_centroid_from."""
    from pyspark.sql.functions import pandas_udf

    from sqlite_vector_spark.types import parse_metric

    m = parse_metric(metric) if isinstance(metric, str) else metric
    cm = _centroid_matrix(centroids)

    @pandas_udf("bigint")
    def _kernel(col: pd.Series) -> pd.Series:
        import numpy as np

        mat = batch_matrix(col)
        return pd.Series(_pairwise_dists(mat, cm, m).argmin(axis=1).astype("int64"))

    return _kernel


def probe_clusters_arrow_udf(centroids: Sequence[Sequence[float]], nprobe: int):
    """Arrow-batched probe selection: ARRAY<numeric> -> ARRAY<BIGINT> of
    the nprobe nearest centroid indices (L2), stable argsort so ties
    break to the lowest index like probe_clusters_col."""
    from pyspark.sql.functions import pandas_udf

    cm = _centroid_matrix(centroids)

    @pandas_udf("array<bigint>")
    def _kernel(col: pd.Series) -> pd.Series:
        import numpy as np

        mat = batch_matrix(col)
        d = _pairwise_dists(mat, cm, Metric.L2)
        idx = np.argsort(d, axis=1, kind="stable")[:, :nprobe].astype("int64")
        return pd.Series(list(idx))

    return _kernel


def _assign_backend(centroids: Sequence[Sequence[float]]) -> str:
    """Backend for centroid assignment. The scale axis here is the
    C·dim literal footprint of the codegen path (plan/codegen size),
    which has a much later crossover than the per-distance dim
    threshold — a tiny C=2 x dim=16 case is still firmly codegen
    territory (the Python round-trip dominates), so "auto" dispatches
    on AUTO_ASSIGN_LITERALS, not AUTO_DIM. The "codegen" arm is one
    distance() per centroid, and under "auto" those follow the
    per-distance dim rule: at dim >= AUTO_DIM each is an Arrow UDF, so
    the arm is the bit-exact literal fold only when "codegen" is
    pinned, as oracle-gated runs do (__spark_entry__._pinned)."""
    from sqlite_vector_spark.version import AUTO_ASSIGN_LITERALS, vector_backend

    active = vector_backend()
    if active != "auto":
        return active
    c = len(centroids)
    dim = len(centroids[0]) if c else 0
    return "arrow-numpy" if c * dim >= AUTO_ASSIGN_LITERALS else "codegen"


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    id_col: str = "id",
    metric: str | Metric = "L2",
) -> DataFrame:
    """(id, vec, cluster). Write this ``partitionBy("cluster")`` so
    probes become partition pruning.

    Backend-dispatched: codegen literal fold (bit-exact, oracle) vs
    arrow-numpy batch kernel (O(1) plan size at any C — the 100 TB
    path for realistic C≈1000, dim≈768). Both are map-side: no
    shuffle either way."""
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(vec_col).alias("vec"),
    )
    if _assign_backend(centroids) == "arrow-numpy":
        return base.withColumn("cluster", nearest_centroid_arrow_udf(centroids, metric)(F.col("vec")))
    return base.withColumn(
        "cluster", nearest_centroid_from(centroid_distances(F.col("vec"), centroids, metric))
    )


def probe_clusters(query: Sequence[float], centroids: Sequence[Sequence[float]], nprobe: int) -> list[int]:
    """Driver-side: indices of the nprobe centroids nearest the query
    (C is small — this is metadata math, not a Spark job).

    Uses the same sequential left-fold L2 in doubles as the engine and
    the SQL oracle, so probe selection is bit-reproducible."""
    import math

    def dist(c):
        acc = 0.0
        for x, y in zip(c, query):
            d = float(x) - float(y)
            acc = acc + d * d
        d = math.sqrt(acc)
        # same nearly-zero snap as the engine/oracle scans (EPS_SNAP),
        # so probe selection can't diverge on sub-epsilon ties
        return 0.0 if abs(d) <= EPS_SNAP else d

    scored = sorted((dist(c), i) for i, c in enumerate(centroids))
    return [i for _, i in scored[:nprobe]]


def kmeanspp_seeds(
    sample: Sequence[Sequence[float]], c: int, seed: int = 0
) -> list[list[float]]:
    """Classic k-means++ seeding (Arthur & Vassilvitskii 2007) over a
    bounded, already-collected sample — driver-side NumPy, O(sample*c).

    D² sampling: the first center is uniform over the sample, each
    subsequent center is drawn with probability proportional to the
    squared L2 distance to the nearest already-chosen center, so seeds
    spread across the data manifold instead of piling into the densest
    region. Deterministic given ``seed`` (np.random.default_rng).
    Points already chosen have D²=0 and can't repeat; if every residual
    D² is zero (all remaining points duplicate a chosen center) the
    rest are filled uniformly from the unchosen indices."""
    import numpy as np

    mat = np.asarray([[float(x) for x in v] for v in sample], dtype=np.float64)
    n = mat.shape[0]
    if n < c:
        raise ValueError(f"kmeanspp_seeds: sample of {n} rows cannot seed c={c} clusters")
    rng = np.random.default_rng(seed)
    chosen = [int(rng.integers(n))]
    d2 = ((mat - mat[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, c):
        total = float(d2.sum())
        if total > 0.0:
            nxt = int(rng.choice(n, p=d2 / total))
        else:
            pool = np.setdiff1d(np.arange(n), np.asarray(chosen))
            nxt = int(rng.choice(pool))
        chosen.append(nxt)
        d2 = np.minimum(d2, ((mat - mat[nxt]) ** 2).sum(axis=1))
    return [[float(x) for x in mat[i]] for i in chosen]


def kmeans_fit(
    df: DataFrame,
    vec_col: str,
    c: int,
    dim: int,
    iters: int = 5,
    id_col: str = "id",
    metric: str | Metric = "L2",
    validate: bool = False,
    init: str = "first",
    seed: int = 0,
    sample_size: int = 8192,
) -> list[list[float]]:
    """Lloyd's k-means over a vector column, DataFrame-native.

    Scale shape per iteration: one map-side assignment (the same O(C)
    fold as ivf_assign — no shuffle) + posexplode to (cluster, pos, x)
    rows and one groupBy(cluster, pos) sum/count. Partial (map-side
    combine) aggregation folds the exploded rows back to C x dim
    partials per partition before the shuffle, so shuffle volume is
    independent of row count — and unlike a groupBy with ``dim``
    per-dimension aggregate COLUMNS, the plan stays a 2-aggregate,
    3-column shape at any dimension (768-col aggregate lists choke
    codegen; this doesn't). The driver collects C x dim (cluster,
    pos, sum, n) rows — a few thousand — and holds only the C
    centroids.

    Seeding (``init``):

    - ``"first"`` (default): the C lowest-id rows. Fully deterministic
      AND SQL-expressible — with ``iters`` fixed, Lloyd unrolls into
      one CTE chain per iteration, which is exactly how the DuckDB
      oracle adjudicates ivf_kmeans_scan_l2 (oracle.ivf_kmeans_scan).
      On skewed real data, though, the first C rows usually land in
      one region and produce unbalanced clusters.
    - ``"kmeans++"``: sampled k-means++ — a deterministic hash-ordered
      sample of ``sample_size`` rows (one TakeOrdered job, bounded
      driver memory) is collected and D²-seeded driver-side
      (kmeanspp_seeds), then refined by the same distributed Lloyd
      iterations. Reproducible given ``seed`` but NOT SQL-expressible
      (the D² draws don't unroll into a CTE), so oracle-gated entries
      keep ``"first"``; pipelines on skewed corpora should use this.
      See tests/test_kmeans.py (skewed-manifold balance/SSE) and
      SCALE.md for measured balance + recall deltas.

    Assignment is IEEE-exact with lowest-index tiebreak, and the
    per-dimension sums accumulate in FIXED-POINT (round(x*1e6) summed
    in DECIMAL(38,0), the _fixed_sum recipe) so partial-agg order
    cannot perturb the centroids. The 1e-6 quantization of the means
    is irrelevant to cluster geometry. Empty clusters keep their
    previous centroid.
    """
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    # validate=True scans for ragged vectors up front (which would
    # otherwise surface as a bare KeyError deep in the partial-sum
    # reshape); it costs a full count job over the input, so it is
    # opt-in — large-corpus callers instead get the cheap in-flight
    # check folded into each iteration's aggregation below (a ragged
    # row produces a (cluster, pos >= dim) key, detected for free from
    # the already-collected partials).
    if validate:
        n_bad = base.where(F.size("vec") != dim).count()
        if n_bad:
            raise ValueError(
                f"kmeans_fit: {n_bad} row(s) in {vec_col!r} have dimension != {dim}; "
                f"vectors must be uniform-length for training"
            )
    if init == "first":
        seed_rows = base.orderBy("id").limit(c).collect()
        centroids = [[float(x) for x in r.vec] for r in seed_rows]
    elif init == "kmeans++":
        # deterministic hash-ordered sample: xxhash64(id, seed) is a
        # uniform shuffle of ids; the two-step fetch keeps per-task
        # driver results KB-sized (see pq._hash_sample)
        from sqlite_vector_spark.operators.pq import _hash_sample

        samp = _hash_sample(base, int(sample_size), int(seed))
        centroids = kmeanspp_seeds([r.vec for r in samp], c, seed=seed)
    else:
        raise ValueError(f"init must be 'first' or 'kmeans++', got {init!r}")
    for _ in range(iters):
        if _assign_backend(centroids) == "arrow-numpy":
            cluster_col = nearest_centroid_arrow_udf(centroids, metric)(F.col("vec"))
        else:
            cluster_col = nearest_centroid_from(centroid_distances(F.col("vec"), centroids, metric))
        assigned = base.select("vec", cluster_col.alias("cluster"))
        parts = (
            assigned.select("cluster", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(
                    F.round(F.col("x").cast("double") * F.lit(1_000_000.0)).cast("decimal(38,0)")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        sums: dict[tuple[int, int], float] = {}
        nvals: dict[tuple[int, int], int] = {}
        for r in parts:
            if r.cluster is None:
                # a short vector NULLs the codegen distance fold and
                # falls out of assignment with a NULL cluster
                raise ValueError(
                    f"kmeans_fit: row(s) in {vec_col!r} have dimension != {dim}; "
                    f"vectors must be uniform-length for training"
                )
            if int(r.pos) >= dim:
                raise ValueError(
                    f"kmeans_fit: row(s) in {vec_col!r} have dimension > {dim}; "
                    f"vectors must be uniform-length for training"
                )
            sums[(int(r.cluster), int(r.pos))] = float(r.s) / 1_000_000.0
            nvals[(int(r.cluster), int(r.pos))] = int(r.n)
        new = list(centroids)
        for ci in {c_ for c_, _ in nvals}:
            # a uniform-dim cluster has the same row count at every pos;
            # a missing or mismatched pos means ragged input (the free
            # in-flight replacement for the validate=True pre-scan)
            per_pos = {nvals.get((ci, p)) for p in range(dim)}
            if len(per_pos) != 1 or None in per_pos:
                raise ValueError(
                    f"kmeans_fit: row(s) in {vec_col!r} have dimension != {dim}; "
                    f"vectors must be uniform-length for training"
                )
            n = per_pos.pop()
            if n > 0:
                new[ci] = [sums[(ci, p)] / n for p in range(dim)]
        centroids = new
    return centroids


def lsh_probe_buckets(
    query: Sequence[float], planes: Sequence[Sequence[float]], hamming: int = 1
) -> list[int]:
    """Driver-side: the query's hyperplane bucket plus its Hamming-h
    multiprobe neighbors (h=1 flips each plane bit once). Same
    sequential left-fold dot in float64 as dedup.hyperplane_bucket and
    the SQL oracle — bucket selection is bit-reproducible.

    Only h in {0, 1} is implemented; larger h must raise rather than
    silently probing fewer buckets than asked (recall would quietly
    fall short of the caller's request)."""
    if hamming not in (0, 1):
        raise ValueError(f"hamming={hamming} not supported (only 0 or 1); "
                         f"2^h multiprobe beyond 1 bit flip is not implemented")
    qb = 0
    for p, plane in enumerate(planes):
        acc = 0.0
        for h, q in zip(plane, query):
            acc = acc + float(q) * float(h)
        if acc > 0.0:
            qb |= 1 << p
    probes = [qb]
    if hamming >= 1:
        probes += [qb ^ (1 << p) for p in range(len(planes))]
    return probes


def lsh_bucket_store(
    df: DataFrame,
    vec_col: str,
    planes: Sequence[Sequence[float]],
    dest: str,
    id_col: str = "id",
) -> None:
    """Materialize (id, vec, bucket) written ``partitionBy("bucket")``
    — the hash analog of the IVF partitioned store. Bucket assignment
    is one map-side projection (no shuffle); at query time the probe
    IN filter becomes planning-time partition pruning, so only
    (1 + P)/2^P of the corpus files are ever opened."""
    from sqlite_vector_spark.operators.dedup import hyperplane_bucket

    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_bucket(vec_col, planes).alias("bucket"),
    )
    from sqlite_vector_spark.sinks import write_partitioned

    write_partitioned(base, dest, "bucket")


def lsh_bucket_scan(
    spark,
    dest: str,
    query: Sequence[float],
    planes: Sequence[Sequence[float]],
    k: int,
    metric: str | Metric = "COSINE",
    hamming: int = 1,
) -> DataFrame:
    """ANN over a bucket-partitioned store: probe the query's bucket +
    Hamming-``hamming`` neighbors via an IN filter (PartitionFilters in
    the plan — tests/test_ann.py pins it), exact top-k within. A
    VERSIONED store prunes the same probes via its manifest when it is
    partitioned by bucket, and falls back to the row-level filter when
    not (r14, ADVICE r13 #1)."""
    from sqlite_vector_spark.sinks import read_store

    probes = [int(b) for b in lsh_probe_buckets(query, planes, hamming)]
    pruned = read_store(spark, dest, "bucket", probes)
    return full_scan(pruned, "vec", [float(x) for x in query], k, metric, id_col="id")


def ivf_search(
    assigned: DataFrame,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int,
    nprobe: int = 2,
    metric: str | Metric = "L2",
) -> DataFrame:
    """Approximate top-k scanning only the probed clusters.

    ``assigned`` is the (id, vec, cluster) table; when it is stored
    partitioned by cluster, the IN filter prunes partitions at
    planning time (check ``.explain``: PartitionFilters).
    """
    probes = probe_clusters(query, centroids, nprobe)
    pruned = assigned.where(F.col("cluster").isin([int(p) for p in probes]))
    return full_scan(pruned, "vec", [float(x) for x in query], k, metric, id_col="id")


def ivf_store(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    dest: str,
    id_col: str = "id",
    metric: str | Metric = "L2",
) -> None:
    """Materialize the IVF assignment ``partitionBy("cluster")`` — the
    persistent form of ivf_assign. Assignment is map-side (no
    shuffle); the write groups rows into one directory per cluster so
    a probe IN filter becomes planning-time partition pruning
    (tests/test_ann.py pins PartitionFilters). The write itself
    hash-repartitions on cluster first (sinks.write_partitioned): a
    direct partitionBy from T tasks emits up to T*C files — the
    small-file explosion that kills object-store listings at cluster
    scale — vs exactly one file per cell (measured at 1M x 768 /
    C=4096: 5.3x faster to write, 6.2x to scan; see
    write_partitioned)."""
    from sqlite_vector_spark.sinks import write_partitioned

    assigned = ivf_assign(df, vec_col, centroids, id_col=id_col, metric=metric)
    write_partitioned(assigned, dest, "cluster")


def ivf_store_append(
    new_df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    dest: str,
    id_col: str = "id",
    metric: str | Metric = "L2",
) -> None:
    """Append-mode IVF maintenance: assign ONLY the new rows against
    the frozen centroids and append into the cluster directories.

    Same map-side assignment as ivf_store, ``mode("append")`` write —
    new files land inside the existing cluster=N directories, existing
    files are never read or rewritten, and probe-time partition
    pruning is unchanged. Append == rebuild exactly (assignment
    depends only on the frozen centroids; tests prove it). The 100 TB
    daily-append path: cost scales with the delta, not the corpus.
    Centroid drift (new data far from every centroid) is the rebuild
    signal; monitor the mean assignment distance per batch if the
    ingest distribution shifts."""
    from sqlite_vector_spark.sinks import write_partitioned

    assigned = ivf_assign(new_df, vec_col, centroids, id_col=id_col, metric=metric)
    write_partitioned(assigned, dest, "cluster", mode="append")


def ivf_stored_scan(
    spark,
    dest: str,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    k: int,
    nprobe: int = 2,
    metric: str | Metric = "L2",
    schemas: dict | None = None,
) -> DataFrame:
    """Approximate top-k over an ivf_store directory: probe-cluster
    IN filter (partition pruning), exact top-k within the probes.

    The store is read through sinks.read_store, so a store migrated to
    the VERSIONED manifest layout prunes to the probed clusters by its
    manifest (no listing of the data prefix; a row-level filter for a
    store not partitioned by cluster) and swap mode stays invisible to
    the IVF tier (router contract). ``schemas``: see
    sinks.read_parquet."""
    from sqlite_vector_spark.sinks import read_store

    probes = [int(c) for c in probe_clusters([float(x) for x in query], centroids, nprobe)]
    pruned = read_store(spark, dest, "cluster", probes, schemas=schemas)
    return full_scan(pruned, "vec", [float(x) for x in query], k, metric, id_col="id")


def probe_clusters_col(vec: str | Column, centroids: Sequence[Sequence[float]], nprobe: int) -> Column:
    """In-plan probe selection: ARRAY<BIGINT> of the ``nprobe`` nearest
    centroid indices for a VECTOR COLUMN (the DataFrame-native analog
    of the driver-side probe_clusters). (distance, index) struct sort
    gives the same snapped-L2 + lowest-index order as the SQL
    row_number mirror. Backend-dispatched like ivf_assign: the
    arrow-numpy stable argsort keeps the plan O(1) at large C."""
    v = F.col(vec) if isinstance(vec, str) else vec
    if _assign_backend(centroids) == "arrow-numpy":
        return probe_clusters_arrow_udf(centroids, nprobe)(v)
    d_arr = centroid_distances(v, centroids, metric="L2")
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1)).cast("array<bigint>")
    pairs = F.arrays_zip(d_arr.alias("d"), idx.alias("i"))
    return F.transform(F.slice(F.array_sort(pairs), 1, nprobe), lambda s: s["i"])


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: Sequence[Sequence[float]],
    k: int,
    nprobe: int = 2,
    metric: str | Metric = "L2",
    q_id: str = "qid",
    q_vec: str = "qv",
    id_col: str = "id",
    vec_col: str = "vec",
    salt: int | None | str = "auto",
) -> DataFrame:
    """Approximate many-query kNN join through the IVF geometry — the
    100 TB form of the similarity join: each query scores only its
    ``nprobe`` probed clusters instead of the whole corpus.

    Shape: corpus assignment is map-side (fold-argmin, no shuffle);
    queries pick probes in-plan and explode to (query x probe) rows —
    a small broadcast side — so the join is a broadcast hash join on
    ``cluster`` with candidate volume Σ_q(probed cluster sizes),
    independent of total corpus size in the probe fraction. Top-k per
    query via an id-tiebroken rank window over candidates only.
    Results are true-domain distances; recall is governed by
    nprobe/C exactly like single-query IVF.

    ``salt``: skew bound of the per-query rank window, see
    topk.topk_per_key; "auto" sizes it from ``corpus``."""
    assigned = ivf_assign(corpus, vec_col, centroids, id_col=id_col, metric="L2")
    qx = (
        queries.select(
            F.col(q_id).cast("bigint").alias("qid"),
            F.col(q_vec).alias("_qv"),
            probe_clusters_col(q_vec, centroids, nprobe).alias("_probes"),
        )
        .select("qid", "_qv", F.explode("_probes").alias("cluster"))
    )
    scored = (
        assigned.join(F.broadcast(qx), "cluster")
        .select("qid", "id", distance(F.col("vec"), F.col("_qv"), metric).alias("distance"))
    )
    order = [F.col("distance").asc(), F.col("id").asc()]
    return topk_per_key(scored, ["qid"], order, k, salt=salt, size_from=corpus)


def ivf_assignment_stats(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    id_col: str = "id",
    metric: str | Metric = "L2",
) -> DataFrame:
    """Per-cluster assignment quality of a batch against FROZEN
    centroids: (cluster, n, mean_dist, max_dist). One aggregation
    over the map-side assignment — no extra pass.

    The monitoring half of the append-maintenance contract
    (ivf_store_append): cheap enough to run on every ingest batch."""
    assigned = ivf_assign(df, vec_col, centroids, id_col=id_col, metric=metric)
    d_arr = (
        nearest_centroid_arrow_dist_udf(centroids, metric)(F.col("vec"))
        if _assign_backend(centroids) == "arrow-numpy"
        else F.array_min(centroid_distances(F.col("vec"), centroids, metric))
    )
    return (
        assigned.select("cluster", d_arr.alias("d"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("d").alias("mean_dist"),
            F.max("d").alias("max_dist"),
        )
    )


def nearest_centroid_arrow_dist_udf(centroids: Sequence[Sequence[float]], metric: str | Metric = "L2"):
    """Arrow kernel returning the DISTANCE to the nearest centroid
    (companion to nearest_centroid_arrow_udf's index)."""
    from pyspark.sql.functions import pandas_udf

    from sqlite_vector_spark.types import parse_metric

    m = parse_metric(metric) if isinstance(metric, str) else metric
    cm = _centroid_matrix(centroids)

    @pandas_udf("double")
    def _kernel(col: pd.Series) -> pd.Series:
        import numpy as np

        mat = batch_matrix(col)
        return pd.Series(_pairwise_dists(mat, cm, m).min(axis=1))

    return _kernel


@dataclass
class IvfDriftReport:
    """Result of ivf_append_with_drift: batch assignment quality vs a
    baseline mean distance (e.g. recorded at ivf_store build time)."""

    n_appended: int
    batch_mean_dist: float
    baseline_mean_dist: float | None
    #: batch mean / baseline mean - 1 (0.0 = matches the build-time
    #: geometry; large = the ingest moved away from every centroid)
    drift: float
    rebuild_recommended: bool


def ivf_append_with_drift(
    new_df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    dest: str,
    baseline_mean_dist: float | None = None,
    id_col: str = "id",
    metric: str | Metric = "L2",
    drift_threshold: float = 0.25,
) -> IvfDriftReport:
    """ivf_store_append + the drift check in one pass over the batch:
    append the assigned rows, report how far the batch's mean
    nearest-centroid distance sits above ``baseline_mean_dist``.
    ``rebuild_recommended`` fires when the relative excess crosses
    ``drift_threshold`` — the signal to retrain centroids
    (kmeans_fit) and rebuild, mirroring vector_quantize_update's
    drift contract."""
    assigned = ivf_assign(new_df, vec_col, centroids, id_col=id_col, metric=metric)
    d_arr = (
        nearest_centroid_arrow_dist_udf(centroids, metric)(F.col("vec"))
        if _assign_backend(centroids) == "arrow-numpy"
        else F.array_min(centroid_distances(F.col("vec"), centroids, metric))
    )
    # one assignment pass per append: the drift agg and the store write
    # both read the checkpointed batch instead of re-running ivf_assign
    enriched = assigned.withColumn("_d", d_arr).localCheckpoint(eager=True)
    row = enriched.agg(
        F.count(F.lit(1)).alias("n"), F.avg("_d").alias("mean_d")
    ).collect()[0]
    n = int(row["n"])
    if n == 0:
        return IvfDriftReport(0, 0.0, baseline_mean_dist, 0.0, False)
    from sqlite_vector_spark.sinks import _relative_drift, write_partitioned

    write_partitioned(enriched.drop("_d"), dest, "cluster", mode="append")
    mean_d = float(row["mean_d"])
    drift = _relative_drift(mean_d, baseline_mean_dist)
    return IvfDriftReport(n, mean_d, baseline_mean_dist, drift, drift > drift_threshold)
