"""Product quantization (PQ) + IVF-PQ: compressed-domain ANN at scale.

The reference stops at SCALAR quantization — one affine u8/s8 code per
lane, 4x compression (README.md:110-121, sqlite-vector.c:1418-1500).
Product quantization (Jegou, Douze, Schmid, "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public) is the standard next
rung on the same ladder: split each vector into M subvectors, vector-
quantize every subspace against its own KSUB-entry codebook, and store
M small code ids per row. At dim=768 / M=16 / KSUB=256 a row shrinks
from 3072 bytes to 16 — 192x — which is the difference between an
index that fits executor memory at 100 TB and one that doesn't.

Search runs in the COMPRESSED domain via ADC (asymmetric distance
computation): the query stays full-precision; a per-query lookup table
LUT[s][j] = ||q_s - c_{s,j}||^2 is computed once driver-side (M*KSUB
doubles — metadata math, same role as probe_clusters), and each row's
approximate distance is the M-term sum LUT[s][code_s] — no per-lane
arithmetic per row at all.

Spark-first physical story:
- codebooks ride into the plan as literals (or in the Arrow kernel's
  closure at large M*KSUB) — no join, no shuffle to encode: encoding
  is a map-side projection fused into the Parquet scan;
- the ADC scan reads ONLY (id, codes) — at M=16 that is a ~24-byte
  row regardless of dim; top-k is TakeOrderedAndProject exactly like
  full_scan, so P*k rows reach the driver;
- IVF-PQ composes the coarse partition-pruned probe (operators.ann)
  with the ADC scan inside the probed clusters — the FAISS "IVFADC"
  layout, here expressed as partition pruning + a fused projection.

Determinism contract (what lets DuckDB adjudicate this): per-subspace
assignment is the same snapped sequential-fold SQUARED_L2 with
lowest-index tiebreak as ivf_assign, the LUT entries are computed with
the identical fold in driver Python, and the ADC sum is a sequential
left fold in subspace order — so codes, LUT values, and distances are
all bit-reproducible in SQL (oracle.pq_codes_q / oracle.pq_scan).
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from sqlite_vector_spark import scale
from sqlite_vector_spark.functions.distance import (
    EPS_SNAP,
    batch_matrix,
    distance_tree_sql,
    fold_sum_sql,
    in_sql,
    literal_sql,
    snap_zero_sql,
    sql_operand,
)
from sqlite_vector_spark.operators.search import readable, rerank, scan, scan_sql
from sqlite_vector_spark.operators.topk import topk_per_key
from sqlite_vector_spark.types import Metric, parse_metric

Codebooks = Sequence[Sequence[Sequence[float]]]  # [m][ksub][dsub]


def _check_codebooks(codebooks: Codebooks) -> tuple[int, int, int]:
    m = len(codebooks)
    if m == 0:
        raise ValueError("codebooks must have at least one subspace")
    ksub = len(codebooks[0])
    dsub = len(codebooks[0][0])
    for s, cb in enumerate(codebooks):
        if len(cb) != ksub or any(len(e) != dsub for e in cb):
            raise ValueError(f"codebooks ragged at subspace {s}: need uniform [m][ksub][dsub]")
    return m, ksub, dsub


def _pq_backend(codebooks: Codebooks, size_from: scale.Source = None) -> str:
    """codegen (bit-exact literal folds — the oracle path) vs
    arrow-numpy (O(1) plan size). Same dispatch contract as
    ann._assign_backend: honour a pinned backend; auto routes on the
    m*ksub FOLD count — each codebook entry is its own argmin
    expression tree, so fold count (not raw literals) drives the
    codegen cost (AUTO_PQ_FOLDS, measured in version.py). A scan whose
    input ``size_from`` is within the scale "scan" gate stays codegen
    at any fold count (see pq_scan); without one the gate is not asked."""
    from sqlite_vector_spark.version import AUTO_PQ_FOLDS, vector_backend

    active = vector_backend()
    if active != "auto":
        return active
    if size_from is not None and not scale.large("scan", size_from):
        return "codegen"
    m, ksub, _dsub = _check_codebooks(codebooks)
    return "arrow-numpy" if m * ksub >= AUTO_PQ_FOLDS else "codegen"


# ---------------------------------------------------------------- encode


def pq_encode_col(vec: str | Column, codebooks: Codebooks) -> Column:
    """ARRAY<BIGINT> of per-subspace nearest-codebook-entry ids —
    the codegen literal-fold path (snapped SQUARED_L2 per entry,
    first-minimum = lowest-index tiebreak, mirrored by the SQL
    row_number ORDER BY d, j in oracle.pq_codes_q). One F.expr per
    subspace; ``vec`` follows distance's operand rule."""
    m, ksub, dsub = _check_codebooks(codebooks)
    v = sql_operand(vec)
    cols = []
    for s in range(m):
        sub = f"slice({v}, {s * dsub + 1}, {dsub})"
        d_arr = ", ".join(
            distance_tree_sql(sub, literal_sql([float(x) for x in e]), Metric.SQUARED_L2) for e in codebooks[s]
        )
        cols.append(F.expr(f"CAST(array_position(array({d_arr}), array_min(array({d_arr}))) - 1 AS BIGINT)"))
    return F.array(*cols)


def pq_encode_arrow_udf(codebooks: Codebooks):
    """Arrow-batched encoder: ARRAY<numeric> -> ARRAY<BIGINT> codes.
    Codebooks ride in the closure, so the Catalyst plan stays O(1) at
    any M*KSUB (M=16 x KSUB=256 x dsub=48 would otherwise inline ~200k
    literals). np.argmin keeps the lowest-index tiebreak."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    m, ksub, dsub = _check_codebooks(codebooks)
    cbs = [np.asarray([[float(x) for x in e] for e in cb], dtype=np.float64) for cb in codebooks]

    @pandas_udf("array<bigint>")
    def _kernel(col: pd.Series) -> pd.Series:
        mat = batch_matrix(col)  # (B, dim)
        out = np.empty((mat.shape[0], m), dtype=np.int64)
        for s in range(m):
            sub = mat[:, s * dsub : (s + 1) * dsub]
            # (B, ksub) squared distances via the Gram expansion
            d = (
                (sub * sub).sum(1)[:, None]
                - 2.0 * (sub @ cbs[s].T)
                + (cbs[s] * cbs[s]).sum(1)[None, :]
            )
            out[:, s] = d.argmin(axis=1)
        return pd.Series(list(out))

    return _kernel


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: Codebooks,
    id_col: str = "id",
) -> DataFrame:
    """(id, codes ARRAY<BIGINT>) — the PQ code table. Map-side only
    (no shuffle at any scale); persist it as the compressed index.
    Backend-dispatched like ivf_assign."""
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    if _pq_backend(codebooks) == "arrow-numpy":
        return base.select("id", pq_encode_arrow_udf(codebooks)(F.col("vec")).alias("codes"))
    return base.select("id", pq_encode_col(F.col("vec"), codebooks).alias("codes"))


# ---------------------------------------------------------------- training


def _hash_sample(base: DataFrame, n: int, seed: int) -> list:
    """Deterministic hash-ordered sample of (id, vec) rows, collected
    driver-side in TWO bounded steps: a TakeOrdered over (hash, id)
    PAIRS (16-byte rows — per-task results stay KB-sized at any
    corpus size), then a broadcast semi-join fetch of exactly the n
    winning vectors. A single TakeOrdered over the full rows ships up
    to n FULL vectors per task to the driver, which breaks
    spark.driver.maxResultSize at 1M x 768 (measured)."""
    ids = (
        base.select("id", F.xxhash64(F.col("id"), F.lit(int(seed))).alias("_h"))
        .orderBy(F.col("_h").asc(), F.col("id").asc())
        .limit(int(n))
        .select("id")
    )
    return (
        base.join(F.broadcast(ids), "id", "left_semi")
        .withColumn("_h", F.xxhash64(F.col("id"), F.lit(int(seed))))
        .orderBy(F.col("_h").asc(), F.col("id").asc())
        .drop("_h")
        .collect()
    )


def pq_codebooks_first(
    df: DataFrame, vec_col: str, m: int, ksub: int, dim: int, id_col: str = "id"
) -> Codebooks:
    """Deterministic seed codebooks: subspace slices of the KSUB
    lowest-id rows. SQL-expressible (the oracle re-derives them as a
    WHERE id < ksub subquery) — the gate path, exactly like IVF's
    first-C centroids. Train with pq_fit for real corpora."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    rows = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec"))
        .orderBy("id")
        .limit(ksub)
        .collect()
    )
    if len(rows) < ksub:
        raise ValueError(f"pq_codebooks_first: {len(rows)} rows cannot seed ksub={ksub}")
    return [
        [[float(x) for x in r.vec[s * dsub : (s + 1) * dsub]] for r in rows]
        for s in range(m)
    ]


def pq_fit(
    df: DataFrame,
    vec_col: str,
    m: int,
    ksub: int,
    dim: int,
    iters: int = 5,
    id_col: str = "id",
    init: str = "first",
    seed: int = 0,
    sample_size: int = 8192,
    init_codebooks: Codebooks | None = None,
) -> Codebooks:
    """Per-subspace Lloyd over ALL M subspaces in one distributed
    aggregation per iteration — not M separate k-means jobs.

    Shape per iteration: one map-side encode (pq_encode_col / Arrow
    kernel — no shuffle), posexplode to (sub, code, pos-in-sub, x)
    rows, one groupBy with map-side partials. Shuffle volume is
    m*ksub*dsub partials per partition — independent of row count —
    and the driver collects m*ksub*dsub (sum, n) rows (a few hundred
    KB at M=16/KSUB=256/dim=768). Fixed-point sums (round(x*1e6) in
    DECIMAL(38,0)) make the means partial-order-independent, same
    recipe as ann.kmeans_fit. Empty codes keep their previous entry.

    init="first" seeds from the KSUB lowest-id rows (deterministic,
    SQL-expressible at iters=0); init="kmeans++" D²-seeds EVERY
    subspace from one shared hash-ordered sample (ann.kmeanspp_seeds
    per subspace slice — one TakeOrdered job total, not per subspace);
    ``init_codebooks`` WARM-STARTS from given codebooks (skips the
    sample/seed jobs entirely — the opq_fit refine path, whose
    sample-phase codebooks are already a good start).
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    if init_codebooks is not None:
        if len(init_codebooks) != m or any(len(cb) != ksub for cb in init_codebooks):
            raise ValueError(
                f"init_codebooks shape mismatch: want {m} x {ksub}, got "
                f"{len(init_codebooks)} x {[len(cb) for cb in init_codebooks]}"
            )
        codebooks = [[[float(x) for x in e] for e in cb] for cb in init_codebooks]
    elif init == "first":
        codebooks = pq_codebooks_first(df, vec_col, m, ksub, dim, id_col=id_col)
    elif init == "kmeans++":
        from sqlite_vector_spark.operators.ann import kmeanspp_seeds

        samp = _hash_sample(base, int(sample_size), int(seed))
        codebooks = [
            kmeanspp_seeds([r.vec[s * dsub : (s + 1) * dsub] for r in samp], ksub, seed=seed + s)
            for s in range(m)
        ]
    else:
        raise ValueError(f"init must be 'first' or 'kmeans++', got {init!r}")

    for _ in range(iters):
        partials = base.select("vec").mapInPandas(
            _pq_partial_sums_kernel(codebooks, m, ksub, dsub, dim),
            schema="s array<long>, n array<long>",
        ).collect()
        import numpy as np

        s_tot = np.zeros(m * ksub * dsub, dtype=np.int64)
        n_tot = np.zeros(m * ksub, dtype=np.int64)
        for r in partials:
            s_tot += np.asarray(r.s, dtype=np.int64)
            n_tot += np.asarray(r.n, dtype=np.int64)
        s_tot = s_tot.reshape(m, ksub, dsub)
        n_tot = n_tot.reshape(m, ksub)
        new = [list(cb) for cb in codebooks]
        for s in range(m):
            for j in range(ksub):
                if n_tot[s, j] > 0:
                    new[s][j] = [
                        float(x) / 1_000_000.0 / int(n_tot[s, j]) for x in s_tot[s, j]
                    ]
        codebooks = new
    return codebooks


def _pq_partial_sums_kernel(codebooks: Codebooks, m: int, ksub: int, dsub: int, dim: int):
    """mapInPandas kernel for one Lloyd iteration over ALL subspaces:
    each partition assigns its rows (vectorized Gram argmin per
    subspace) and scatter-adds FIXED-POINT per-(subspace, code, lane)
    sums + counts, yielding ONE tiny partial row (m*ksub*dsub int64
    sums ≈ a few hundred KB). No explode, no shuffle — the driver
    reduces P partials with integer addition, so the result is
    bit-independent of partitioning and row order (the same
    order-independence the DECIMAL fixed-point recipe gives
    kmeans_fit). Ragged rows surface as a ValueError here, not a
    silent mis-shape."""

    def _kernel(pdf_iter):
        import numpy as np

        cbs = [
            np.asarray([[float(x) for x in e] for e in cb], dtype=np.float64)
            for cb in codebooks
        ]
        s_acc = np.zeros((m, ksub, dsub), dtype=np.int64)
        n_acc = np.zeros((m, ksub), dtype=np.int64)
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            try:
                mat = batch_matrix(pdf["vec"])
            except ValueError as exc:
                raise ValueError(
                    f"pq_fit: ragged vector batch (vectors must all have dimension {dim})"
                ) from exc
            if mat.ndim != 2 or mat.shape[1] != dim:
                raise ValueError(
                    f"pq_fit: vectors have dimension {mat.shape[1:]} != {dim}"
                )
            fx = np.round(mat * 1_000_000.0).astype(np.int64)
            for s in range(m):
                sub = mat[:, s * dsub : (s + 1) * dsub]
                d = (
                    (sub * sub).sum(1)[:, None]
                    - 2.0 * (sub @ cbs[s].T)
                    + (cbs[s] * cbs[s]).sum(1)[None, :]
                )
                a = d.argmin(axis=1)
                np.add.at(n_acc[s], a, 1)
                np.add.at(s_acc[s], a, fx[:, s * dsub : (s + 1) * dsub])
        yield pd.DataFrame({"s": [s_acc.ravel().tolist()], "n": [n_acc.ravel().tolist()]})

    return _kernel


# ---------------------------------------------------------------- ADC scan


def _py_sq_l2(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side snapped sequential-fold SQUARED_L2 — bit-identical
    to functions.distance.distance_tree_sql (codegen) and oracle.dist_sql:
    same lane order, same IEEE double ops, same eps-snap."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc = acc + d * d
    return 0.0 if abs(acc) <= EPS_SNAP else acc


def adc_lut(query: Sequence[float], codebooks: Codebooks) -> list[list[float]]:
    """LUT[s][j] = snapped ||q_s - c_{s,j}||² — M*KSUB doubles computed
    once per query on the driver (metadata math, like probe_clusters).
    The same values fall out of the oracle's SQL fold over the same
    stored codebook rows, so ADC distances hash-match."""
    m, ksub, dsub = _check_codebooks(codebooks)
    if len(query) != m * dsub:
        raise ValueError(f"query dim {len(query)} != m*dsub = {m * dsub}")
    return [
        [_py_sq_l2(query[s * dsub : (s + 1) * dsub], e) for e in codebooks[s]]
        for s in range(m)
    ]


def adc_distance_sql(codes: str, luts: Sequence[Sequence[float]], metric: str | Metric = "L2") -> str:
    """Approximate distance from PQ codes, as SQL text: sequential left
    fold of LUT[s][code_s] in subspace order (aggregate preserves array
    order — the oracle mirrors with the same ordered fold), then
    sqrt for L2. Only L2/SQUARED_L2 decompose additively over
    subspaces; other metrics must rerank in full precision. ``codes``
    names the code column; the LUT is one array literal."""
    m = parse_metric(metric) if isinstance(metric, str) else metric
    if m not in (Metric.L2, Metric.SQUARED_L2):
        raise ValueError(f"ADC supports L2/SQUARED_L2 (additive over subspaces), got {m}")
    c = sql_operand(codes)
    lut = literal_sql([[float(v) for v in lut_s] for lut_s in luts])
    d2 = fold_sum_sql(f"zip_with({c}, {lut}, (x, y) -> element_at(y, CAST(x + 1 AS INT)))")
    return snap_zero_sql(f"sqrt({d2})" if m is Metric.L2 else d2)


def adc_distance_arrow_udf(luts: Sequence[Sequence[float]], metric: str | Metric = "L2"):
    """Arrow-batched ADC: ARRAY<BIGINT> codes -> DOUBLE. One fancy-
    index gather + row sum per batch; the LUT rides in the closure so
    the plan stays O(1) at any M*KSUB. Throughput backend (NumPy sum
    order), not the oracle path."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    m = parse_metric(metric) if isinstance(metric, str) else metric
    if m not in (Metric.L2, Metric.SQUARED_L2):
        raise ValueError(f"ADC supports L2/SQUARED_L2, got {m}")
    lut = np.asarray([[float(v) for v in row] for row in luts], dtype=np.float64)  # (M, KSUB)
    subs = list(range(lut.shape[0]))

    @pandas_udf("double")
    def _kernel(col: pd.Series) -> pd.Series:
        codes = batch_matrix(col, "int64")  # (B, M)
        d = lut[subs, codes].sum(axis=1)
        if m is Metric.L2:
            np.sqrt(d, out=d)
        d = np.where(np.abs(d) <= EPS_SNAP, 0.0, d)
        return pd.Series(d)

    return _kernel


def adc_residual_distance_arrow_udf(
    luts_by_probe: Sequence[tuple[int, Sequence[Sequence[float]]]],
    metric: str | Metric = "L2",
):
    """Arrow-batched residual ADC over MIXED probed clusters:
    (ARRAY<BIGINT> codes, BIGINT cluster) -> DOUBLE, selecting each
    row's LUT by its cluster from the per-probe LUT stack. One gather
    + row sum per batch — the single-pass arrow form of
    ivf_pq_residual_adc_scan's per-probe adc_distance_arrow_udf
    branches, with the same per-row summation order (the (B, M)
    gather rows are identical), so distances are bit-identical."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    m = parse_metric(metric) if isinstance(metric, str) else metric
    if m not in (Metric.L2, Metric.SQUARED_L2):
        raise ValueError(f"ADC supports L2/SQUARED_L2, got {m}")
    probes = [int(p) for p, _ in luts_by_probe]
    lut3 = np.stack(
        [np.asarray([[float(v) for v in row] for row in luts], dtype=np.float64)
         for _, luts in luts_by_probe]
    )  # (P, M, KSUB)
    n_sub = lut3.shape[1]

    @pandas_udf("double")
    def _kernel(col: pd.Series, cluster: pd.Series) -> pd.Series:
        codes = batch_matrix(col, "int64")  # (B, M)
        cl = cluster.to_numpy(dtype=np.int64)
        # rows are pre-filtered to the probed clusters; map each to
        # its LUT position in the stack
        idx = np.select([cl == p for p in probes], list(range(len(probes))))
        d = lut3[idx[:, None], np.arange(n_sub)[None, :], codes].sum(axis=1)
        if m is Metric.L2:
            np.sqrt(d, out=d)
        d = np.where(np.abs(d) <= EPS_SNAP, 0.0, d)
        return pd.Series(d)

    return _kernel


def pq_scan(
    codes_df: DataFrame,
    query: Sequence[float],
    codebooks: Codebooks,
    k: int,
    metric: str | Metric = "L2",
    codes_col: str = "codes",
    id_col: str = "id",
) -> DataFrame:
    """Compressed-domain top-k over a PQ code table -> (id, distance
    ascending, id tiebreak). The scan touches only the ~M-byte code
    rows; TakeOrderedAndProject keeps P*k rows leaving the executors.
    Backend-dispatched on the code table's size, then on M*KSUB: the
    codegen form is one LUT array literal, ``zip_with`` and
    ``aggregate`` at any M*KSUB, so a table Catalyst sizes within
    scale.SCAN_BYTES is scored in the JVM."""
    if k < 0:
        raise ValueError("k must be >= 0")
    return scan(codes_df, codes_col, _adc_distance(codes_df, codes_col, query, codebooks, metric),
                k, id_col)


def _adc_distance(codes_df: DataFrame, codes_col: str, query, codebooks, metric) -> str | Column:
    """pq_scan's score: the ADC fold's SQL text, or the Arrow LUT
    gather when the backend rule picks it for this code table."""
    luts = adc_lut([float(x) for x in query], codebooks)
    if _pq_backend(codebooks, codes_df) == "arrow-numpy":
        return adc_distance_arrow_udf(luts, metric)(F.col(codes_col))
    return adc_distance_sql(codes_col, luts, metric)


def pq_rerank_scan(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    codebooks: Codebooks,
    k: int,
    prefilter: int,
    metric: str | Metric = "L2",
    id_col: str = "id",
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ search: ADC prefilter to ``prefilter`` candidates
    in the compressed domain, exact rerank of only those rows in full
    precision (any metric). The compressed analog of rerank_scan_l2:
    stage 1 reads M-byte codes, stage 2 re-reads ``prefilter`` full
    vectors via a broadcast semi-join — recall ~1 at a fraction of the
    exact-scan bytes.

    Pass ``codes_df`` (a persisted pq_encode table) in production:
    without it every call re-encodes the corpus in-plan, which turns
    the cheap stage 1 into a full vector scan (measured 29s vs ~1s at
    1M x 768 — the stored-codes path is the whole point of PQ)."""
    codes = codes_df if codes_df is not None else pq_encode(df, vec_col, codebooks, id_col=id_col)
    codes, adc = readable(codes, _adc_distance(codes, "codes", query, codebooks, "L2"))
    cand = f"SELECT id FROM ({scan_sql('codes', 'codes', adc, prefilter)})"
    return rerank(df, vec_col, query, k, metric, id_col, cand, codes=codes)


def ivf_pq_scan(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
    k: int,
    nprobe: int = 2,
    metric: str | Metric = "L2",
    id_col: str = "id",
) -> DataFrame:
    """IVF-PQ (the FAISS IVFADC layout, non-residual): coarse-probe
    the nprobe nearest clusters, ADC-score only rows inside them.

    At 100 TB the corpus is stored as the ivf_store partitioned code
    table (cluster=N directories holding (id, codes)): the probe IN
    filter is planning-time partition pruning and the ADC scan reads
    ~M bytes/row of the probed fraction only — both axes of the
    reading cost cut at once (probe fraction x compression ratio)."""
    from sqlite_vector_spark.operators.ann import ivf_assign, probe_clusters

    probes = probe_clusters([float(x) for x in query], centroids, nprobe)
    assigned = ivf_assign(df, vec_col, centroids, id_col=id_col, metric="L2")
    pruned = assigned.where(F.col("cluster").isin([int(p) for p in probes]))
    codes = pq_encode(pruned, "vec", codebooks, id_col="id")
    return pq_scan(codes, query, codebooks, k, metric)


def _residual_arrow_udf(centroids: Sequence[Sequence[float]]):
    """(vec, cluster) -> vec - centroid[cluster], Arrow-batched; the
    centroid matrix rides in the closure (O(1) plan at any C)."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    cm = _centroid_matrix_np(centroids)

    @pandas_udf("array<double>")
    def _kernel(vec: pd.Series, cluster: pd.Series) -> pd.Series:
        mat = batch_matrix(vec)
        res = mat - cm[cluster.to_numpy(dtype=np.int64)]
        return pd.Series(list(res))

    return _kernel


def _centroid_matrix_np(centroids: Sequence[Sequence[float]]):
    import numpy as np

    return np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)


def _residual_col(vec: Column, cluster: Column, centroids: Sequence[Sequence[float]]) -> Column:
    """Codegen residual: vec - centroid[cluster] via a literal
    array-of-arrays lookup (small-C path; large C auto-routes to the
    Arrow kernel through _pq_backend-style dispatch in callers)."""
    cent_arr = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in centroids])
    chosen = F.element_at(cent_arr, (cluster + 1).cast("int"))
    return F.zip_with(vec, chosen, lambda x, y: x.cast("double") - y)


def ivf_residuals(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    id_col: str = "id",
) -> DataFrame:
    """(id, cluster, vec = row - its coarse centroid) — the residual
    table the IVFADC codebooks are TRAINED on (pq_fit over this
    frame's ``vec``). Map-side only; backend-dispatched on C*dim."""
    from sqlite_vector_spark.operators.ann import _assign_backend, ivf_assign

    assigned = ivf_assign(df, vec_col, centroids, id_col=id_col, metric="L2")
    if _assign_backend(centroids) == "arrow-numpy":
        res = _residual_arrow_udf(centroids)(F.col("vec"), F.col("cluster"))
    else:
        res = _residual_col(F.col("vec"), F.col("cluster"), centroids)
    return assigned.select("id", "cluster", res.alias("vec"))


def ivf_pq_store(
    df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
    dest: str,
    id_col: str = "id",
    residual: bool = False,
) -> None:
    """Materialize the IVF-PQ index: one map-side pass computes the
    coarse cluster AND the PQ codes per row, written
    ``partitionBy("cluster")`` as (id, codes) — the persistent 100 TB
    layout. A probe IN filter is planning-time partition pruning and
    the pruned files hold ~M bytes/row: probe fraction x compression
    ratio come off the scan cost together. Append-mode maintenance is
    ivf_pq_store_append (assignment and codes depend only on frozen
    centroids/codebooks, so append == rebuild; it also reports
    reconstruction-error drift as the retrain signal).

    ``residual=True`` is the classic IVFADC refinement (Jegou et al.
    2011 §IV): codes quantize ``vec - centroid[cluster]`` instead of
    the raw vector. Residuals of a cluster are centered at the origin,
    so a single shared codebook resolves much finer structure — train
    the codebooks on ivf_residuals(...) and scan with the matching
    ``residual=True``."""
    from sqlite_vector_spark.operators.ann import ivf_assign

    if residual:
        assigned = ivf_residuals(df, vec_col, centroids, id_col=id_col)
    else:
        assigned = ivf_assign(df, vec_col, centroids, id_col=id_col, metric="L2")
    if _pq_backend(codebooks) == "arrow-numpy":
        codes = pq_encode_arrow_udf(codebooks)(F.col("vec"))
    else:
        codes = pq_encode_col(F.col("vec"), codebooks)
    from sqlite_vector_spark.sinks import write_partitioned

    write_partitioned(
        assigned.select("id", codes.alias("codes"), "cluster"), dest, "cluster"
    )


# ---------------------------------------------------------------- OPQ (learned rotation)


def random_rotation(dim: int, seed: int = 0):
    """Deterministic random orthogonal matrix (seeded Gaussian + QR,
    diagonal-sign-fixed so the factorization is unique): the
    structure-agnostic rotation baseline, and the SQL-embeddable
    geometry the opq_scan gate entry pins (the matrix is a literal on
    both engines — like Q64/HYPERPLANES). Returns (dim, dim) float64;
    rows are orthonormal, applied as out = R @ v."""
    import numpy as np

    rng = np.random.default_rng(seed)
    q, r = np.linalg.qr(rng.normal(size=(dim, dim)))
    return q * np.sign(np.diag(r))


def rotate_col(vec: str | Column, rotation) -> Column:
    """JVM-exact rotated vector via higher-order functions: the
    matrix rides as ONE array-of-arrays literal and
    out[i] = aggregate(zip_with(v, R[i], *), 0.0, +) — a 0.0-init
    sequential fold per lane, the exact IEEE order the oracle's
    list_transform/list_reduce mirror replays and _rotate_py folds
    driver-side. HOFs keep the generated code O(1) in dim (a dim²
    expression tree overflows janino); large dims still route to
    rotate_arrow_udf for throughput."""
    import numpy as np

    v = F.col(vec) if isinstance(vec, str) else vec
    R = np.asarray(rotation, dtype=np.float64)
    rm = F.array(*[F.array(*[F.lit(float(x)) for x in row]) for row in R])
    return F.transform(
        rm,
        lambda row: F.aggregate(
            F.zip_with(v, row, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
    )


def rotate_arrow_udf(rotation):
    """Arrow-batched rotation: one (B, dim) x (dim, dim) matmul per
    batch; the matrix rides in the closure (O(1) plan at any dim).
    Throughput backend (NumPy sum order) — not the oracle path."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    R = np.asarray(rotation, dtype=np.float64)

    @pandas_udf("array<double>")
    def _kernel(col: pd.Series) -> pd.Series:
        mat = batch_matrix(col)
        return pd.Series(list(mat @ R.T))

    return _kernel


def _rotate_py(v: Sequence[float], rotation) -> list[float]:
    """Driver-side rotation with the exact fold order of rotate_col
    (0.0-init sequential) — used to rotate the QUERY so gate hashes
    match."""
    import numpy as np

    R = np.asarray(rotation, dtype=np.float64)
    out = []
    for i in range(R.shape[0]):
        acc = 0.0
        for j in range(R.shape[1]):
            acc = acc + float(v[j]) * float(R[i, j])
        out.append(acc)
    return out


def opq_rotate(
    df: DataFrame,
    vec_col: str,
    rotation,
    id_col: str = "id",
    backend: str | None = None,
) -> DataFrame:
    """(id, vec = R @ row) — the rotated frame every OPQ stage
    (pq_fit training, pq_encode, stores) runs on. Map-side only.
    Backend: honour an explicit/pinned choice, else route on the
    dim² literal footprint like _pq_backend."""
    import numpy as np

    from sqlite_vector_spark.version import AUTO_PQ_FOLDS, vector_backend

    R = np.asarray(rotation, dtype=np.float64)
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    if backend is None:
        backend = vector_backend()
    if backend == "auto":
        backend = "arrow-numpy" if R.shape[0] * R.shape[1] >= AUTO_PQ_FOLDS else "codegen"
    if backend == "arrow-numpy":
        return base.select("id", rotate_arrow_udf(R)(F.col("vec")).alias("vec"))
    return base.select("id", rotate_col(F.col("vec"), R).alias("vec"))


def opq_fit(
    df: DataFrame,
    vec_col: str,
    m: int,
    ksub: int,
    dim: int,
    iters: int = 10,
    id_col: str = "id",
    seed: int = 0,
    sample_size: int = 8192,
    refine_iters: int = 0,
):
    """Optimized Product Quantization, non-parametric form (Ge,
    He, Ke, Sun, "Optimized Product Quantization for Approximate
    Nearest Neighbor Search", CVPR 2013 — public): learn an
    orthogonal rotation R that balances variance across subspaces,
    then quantize R @ x. Fixes raw PQ's axis-aligned blind spot —
    when energy concentrates in a few leading dimensions, some
    subspaces carry all the error (measured in SCALE.md: raw-ADC
    recall lift at equal M/KSUB).

    Alternating minimization on a deterministic hash-ordered sample
    (same TakeOrdered sample job as pq_fit's kmeans++ init — training
    is sample-based by design, like every k-means in this engine):
    (1) one Lloyd step of per-subspace k-means on X @ R,
    (2) reconstruction Y from the codes, then the orthogonal
    Procrustes solve R = U @ Vᵀ from SVD(Xᵀ Y) — driver math on a
    dim × dim matrix.

    Returns (R, codebooks). ``refine_iters > 0`` additionally runs
    the DISTRIBUTED pq_fit over the rotated full corpus to polish the
    codebooks under the frozen learned R (the corpus-scale path).
    Persist R via catalog.set_pq_index(..., rotation=R)."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    samp = _hash_sample(base, int(sample_size), int(seed))
    if len(samp) < ksub:
        raise ValueError(f"opq_fit: sample of {len(samp)} cannot seed ksub={ksub}")
    X = np.array([list(r.vec) for r in samp], dtype=np.float64)  # (n, dim)
    rng = np.random.default_rng(seed)
    R = np.eye(dim)
    # init codebooks: ksub sample rows per subspace (deterministic draw)
    idx = rng.choice(len(X), size=ksub, replace=False)
    cbs = [X[idx, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    def _lloyd_update(sub, cb):
        """One vectorized Lloyd step on a subspace: assignment by Gram
        argmin, codebook update by scatter-add + bincount (the
        per-code masked-mean loop was the measured hot spot — 4096
        boolean masks per iteration ~ half the 1M fit cost). Empty
        codes keep their previous entry."""
        d = (
            (sub * sub).sum(1)[:, None]
            - 2.0 * (sub @ cb.T)
            + (cb * cb).sum(1)[None, :]
        )
        a = d.argmin(axis=1)
        sums = np.zeros_like(cb)
        np.add.at(sums, a, sub)
        counts = np.bincount(a, minlength=cb.shape[0])
        nz = counts > 0
        cb[nz] = sums[nz] / counts[nz, None]
        return a

    for _ in range(max(1, iters)):
        # rotation convention matches opq_rotate/rotate_col: out = R @ v,
        # i.e. row-vector form Xr = X @ Rᵀ
        Xr = X @ R.T  # (n, dim)
        Y = np.empty_like(Xr)
        for s in range(m):
            sub = Xr[:, s * dsub : (s + 1) * dsub]
            a = _lloyd_update(sub, cbs[s])
            Y[:, s * dsub : (s + 1) * dsub] = cbs[s][a]
        # Procrustes: min_S ||X S - Y||_F s.t. SᵀS = I gives S = U Vᵀ
        # from SVD(Xᵀ Y); our column-convention R is Sᵀ = V Uᵀ
        u, _sv, vt = np.linalg.svd(X.T @ Y)
        R = (u @ vt).T
    # the loop updates R AFTER the codebook step, so the codebooks are
    # trained in the PREVIOUS iteration's rotated basis — one final
    # Lloyd pass under the final R makes the returned (R, codebooks)
    # pair self-consistent without requiring refine_iters
    Xr = X @ R.T
    for s in range(m):
        _lloyd_update(Xr[:, s * dsub : (s + 1) * dsub], cbs[s])
    codebooks = [[[float(x) for x in e] for e in cb] for cb in cbs]
    if refine_iters > 0:
        # WARM-START the distributed polish from the sample-phase
        # codebooks (they are already near the optimum for the learned
        # R) instead of re-deriving a kmeans++ init — that init alone
        # cost a corpus sample job + D² seeding. The rotated frame is
        # MATERIALIZED once (localCheckpoint): re-running the rotation
        # matmul inside every Lloyd pass measured 2.2x slower at
        # 1M x 768 than paying ~15 s to write the 6 GB rotated frame
        # and reading it back per iteration (SCALE.md §OPQ cost
        # revisit; identical codebooks out — the rotation values are
        # the same either way).
        rotated = opq_rotate(df, vec_col, R, id_col=id_col).localCheckpoint(eager=True)
        codebooks = pq_fit(
            rotated, "vec", m, ksub, dim, iters=refine_iters, id_col="id",
            init_codebooks=codebooks,
        )
    return R, codebooks


def opq_encode(
    df: DataFrame,
    vec_col: str,
    rotation,
    codebooks: Codebooks,
    id_col: str = "id",
) -> DataFrame:
    """(id, codes) over the rotated frame — one fused map-side pass
    (rotate projection feeding the encode kernel; no shuffle)."""
    return pq_encode(opq_rotate(df, vec_col, rotation, id_col=id_col), "vec", codebooks, id_col="id")


def opq_scan(
    codes_df: DataFrame,
    query: Sequence[float],
    rotation,
    codebooks: Codebooks,
    k: int,
    metric: str | Metric = "L2",
    codes_col: str = "codes",
    id_col: str = "id",
) -> DataFrame:
    """ADC top-k in the ROTATED domain: the query rotates driver-side
    (exact fold — gate-reproducible), then the scan is plain pq_scan
    over the opq_encode table. Rotation is orthogonal, so rotated-
    domain L2 == true L2 and recall improves purely through better
    subspace balance."""
    return pq_scan(
        codes_df, _rotate_py([float(x) for x in query], rotation), codebooks, k,
        metric, codes_col=codes_col, id_col=id_col,
    )


def pq_recon_err_arrow_udf(codebooks: Codebooks):
    """(vec, codes) -> DOUBLE squared reconstruction error
    ||vec - concat_s codebook[s][code_s]||² — the quantization-quality
    signal for a batch against FROZEN codebooks. Arrow-batched; the
    codebooks ride in the closure (O(1) plan at any M*KSUB). In
    residual mode pass the RESIDUAL as vec (ivf_residuals output) —
    the codes quantize exactly that frame, so the same kernel
    measures the same error."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    m, ksub, dsub = _check_codebooks(codebooks)
    cbs = np.stack(
        [np.asarray([[float(x) for x in e] for e in cb], dtype=np.float64) for cb in codebooks]
    )  # (m, ksub, dsub)

    @pandas_udf("double")
    def _kernel(vec: pd.Series, codes: pd.Series) -> pd.Series:
        mat = batch_matrix(vec)  # (B, dim)
        cd = batch_matrix(codes, "int64")  # (B, m)
        err = np.zeros(len(mat), dtype=np.float64)
        for s in range(m):
            diff = mat[:, s * dsub : (s + 1) * dsub] - cbs[s][cd[:, s]]
            err += (diff * diff).sum(axis=1)
        return pd.Series(err)

    return _kernel


@dataclass
class PqAppendReport:
    """Result of pq_store_append / ivf_pq_store_append: batch
    quantization quality vs a baseline reconstruction error (e.g.
    recorded at store build time) — the PQ analog of IvfDriftReport /
    QuantUpdateReport. Reconstruction error rising means the frozen
    codebooks no longer resolve the ingest distribution: the retrain
    (pq_fit) + rebuild signal."""

    n_appended: int
    batch_mean_recon_err: float
    baseline_recon_err: float | None
    #: batch mean / baseline mean - 1 (0.0 = matches build-time
    #: quality; large = new data the codebooks can't represent)
    drift: float
    rebuild_recommended: bool


def _pq_append_report(
    n: int,
    mean_err: float,
    baseline: float | None,
    threshold: float,
) -> PqAppendReport:
    from sqlite_vector_spark.sinks import _relative_drift

    drift = _relative_drift(mean_err, baseline)
    return PqAppendReport(n, mean_err, baseline, drift, drift > threshold)


def _pq_append(
    df: DataFrame,
    codebooks: Codebooks,
    dest: str,
    baseline: float | None,
    threshold: float,
    keep: Sequence[str] = (),
    partition_col: str | None = None,
) -> PqAppendReport:
    """Encode ``df``'s (id, vec, *keep) rows and append (id, codes,
    *keep) to ``dest``, the count and the mean squared reconstruction
    error observed on the write (sinks.write_observed)."""
    from sqlite_vector_spark.sinks import write_observed

    if _pq_backend(codebooks) == "arrow-numpy":
        codes = pq_encode_arrow_udf(codebooks)(F.col("vec"))
    else:
        codes = pq_encode_col(F.col("vec"), codebooks)
    out = df.select("id", codes.alias("codes"), *keep, "vec").withColumn(
        "_err", pq_recon_err_arrow_udf(codebooks)(F.col("vec"), F.col("codes"))
    )
    got = write_observed(
        out, dest, [F.count(F.lit(1)).alias("n"), F.avg("_err").alias("e")],
        partition_col=partition_col, columns=["id", "codes", *keep],
    )
    if got is None:
        return PqAppendReport(0, 0.0, baseline, 0.0, False)
    return _pq_append_report(int(got["n"]), float(got["e"]), baseline, threshold)


def pq_store(
    df: DataFrame,
    vec_col: str,
    codebooks: Codebooks,
    dest: str,
    id_col: str = "id",
) -> None:
    """Materialize the flat PQ code table (id, codes) — the persisted
    form of pq_encode that pq_scan / pq_rerank_scan read in
    production. Map-side only; one pass."""
    pq_encode(df, vec_col, codebooks, id_col=id_col).write.mode("overwrite").parquet(dest)


def pq_store_append(
    new_df: DataFrame,
    vec_col: str,
    codebooks: Codebooks,
    dest: str,
    id_col: str = "id",
    baseline_recon_err: float | None = None,
    drift_threshold: float = 0.25,
) -> PqAppendReport:
    """Append-mode PQ maintenance: encode ONLY the new rows against
    the FROZEN codebooks and append to the flat code table. Codes
    depend only on the codebooks, so append == rebuild exactly
    (tests prove it) — same maintenance contract as ivf_store_append /
    vector_quantize_update, completing the ladder's compressed tier.

    One pass over the batch: the count and the reconstruction-error
    mean ride the write (sinks.write_observed). ``drift`` compares the
    batch's mean squared reconstruction error against
    ``baseline_recon_err`` (record it at build time via
    pq_reconstruction_error); crossing ``drift_threshold`` is the
    retrain-and-rebuild signal."""
    base = new_df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    return _pq_append(base, codebooks, dest, baseline_recon_err, drift_threshold)


def ivf_pq_store_append(
    new_df: DataFrame,
    vec_col: str,
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
    dest: str,
    id_col: str = "id",
    residual: bool = False,
    baseline_recon_err: float | None = None,
    drift_threshold: float = 0.25,
) -> PqAppendReport:
    """Append-mode IVF-PQ maintenance: coarse-assign + PQ-encode ONLY
    the new rows against the FROZEN centroids and codebooks, appended
    into the existing cluster=N directories — existing files are never
    read or rewritten, probe-time partition pruning is unchanged, and
    append == rebuild exactly (both assignment and codes depend only
    on frozen parameters; tests prove it). The 100 TB daily-append
    path for the compressed tier: cost scales with the delta.

    ``residual=True`` must match the store's build mode — codes then
    quantize (vec - centroid[cluster]) and the reconstruction error is
    measured on that same residual frame. One pass over the batch, as
    in pq_store_append."""
    if residual:
        assigned = ivf_residuals(new_df, vec_col, centroids, id_col=id_col)
    else:
        from sqlite_vector_spark.operators.ann import ivf_assign

        assigned = ivf_assign(new_df, vec_col, centroids, id_col=id_col, metric="L2")
    # _err rides the cluster shuffle: the observe reads it in the
    # write's result stage, and the files never hold it
    return _pq_append(assigned, codebooks, dest, baseline_recon_err,
                      drift_threshold, keep=["cluster"], partition_col="cluster")


def pq_reconstruction_error(
    df: DataFrame,
    vec_col: str,
    codebooks: Codebooks,
    id_col: str = "id",
) -> float:
    """Corpus mean squared reconstruction error under ``codebooks`` —
    record at build time as the ``baseline_recon_err`` for the append
    drift checks. One map-side pass + a 1-row agg."""
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    if _pq_backend(codebooks) == "arrow-numpy":
        codes = pq_encode_arrow_udf(codebooks)(F.col("vec"))
    else:
        codes = pq_encode_col(F.col("vec"), codebooks)
    scored = base.select(
        pq_recon_err_arrow_udf(codebooks)(F.col("vec"), codes).alias("_err")
    )
    row = scored.agg(F.avg("_err").alias("e")).collect()[0]
    return float(row["e"]) if row["e"] is not None else 0.0


def ivf_pq_stored_scan(
    spark,
    dest: str,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
    k: int,
    nprobe: int = 2,
    metric: str | Metric = "L2",
    residual: bool = False,
    schemas: dict | None = None,
) -> DataFrame:
    """ADC top-k over an ivf_pq_store directory: probe-cluster IN
    filter (PartitionFilters — pinned in tests/test_pq.py), LUT fold
    over the ~M-byte code rows within the probed clusters only.

    ``residual=True``: each probed cluster gets its OWN lookup table
    computed on (query - centroid[p]) — nprobe partition-pruned
    branches unioned, then one global top-k. LUT count is
    nprobe*M*KSUB driver doubles (metadata math); the per-row work is
    the same M-term fold either way. ``schemas``: see
    sinks.read_parquet."""
    q = [float(x) for x in query]
    from sqlite_vector_spark.operators.ann import probe_clusters
    from sqlite_vector_spark.sinks import read_store

    probes = [int(p) for p in probe_clusters(q, centroids, nprobe)]
    # both arms only ever read probe partitions — the residual arm's
    # per-probe cluster filters operate within this pruned set
    stored = read_store(spark, dest, "cluster", probes, schemas=schemas)
    if not residual:
        return pq_scan(stored, q, codebooks, k, metric)
    return ivf_pq_residual_adc_scan(stored, q, centroids, codebooks, k, nprobe, metric)


def ivf_pq_residual_adc_scan(
    codes_df: DataFrame,
    query: Sequence[float],
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
    k: int,
    nprobe: int = 2,
    metric: str | Metric = "L2",
) -> DataFrame:
    """Residual-IVFADC top-k over any (id, codes, cluster) code table
    whose codes quantize ``vec - centroid[cluster]`` (Jegou et al.
    2011 §IV). Each probed cluster gets its OWN lookup table computed
    on (query - centroid[p]). LUT count is nprobe*M*KSUB driver
    doubles (metadata math); per-row work stays the M-term fold.
    Works identically over an ivf_pq_store read or an in-plan
    residual encode (oracle-gated: workload.ivf_pq_residual_scan_l2).

    Plan shape (r15): the codegen backend runs ONE pass — a
    ``cluster IN (probes)`` filter (planning-time partition pruning
    on a store read; a single subtree walk for an in-plan encode
    pipeline) with a short-circuit CASE WHEN keyed on ``cluster``
    selecting the probe's LUT fold. The previous per-probe
    filter-and-union form re-walked an in-plan
    scan+assign+residual+encode subtree once PER PROBE (nprobe x the
    corpus work); per-row math is the same adc_distance_sql
    expression either way, so results are identical. The arrow-numpy
    backend is also one pass: a cluster-aware LUT-gather kernel
    (adc_residual_distance_arrow_udf) scores mixed probed clusters in
    a single ArrowEvalPython — a CASE WHEN over per-probe Python UDFs
    would hoist EVERY probe's kernel out of the conditional and score
    every row nprobe times, so the LUT selection moves inside the
    kernel instead."""
    from sqlite_vector_spark.operators.ann import probe_clusters

    q = [float(x) for x in query]
    m = parse_metric(metric) if isinstance(metric, str) else metric
    probes = probe_clusters(q, centroids, nprobe)
    luts_by_probe = []
    for p in probes:
        q_res = [qq - cc for qq, cc in zip(q, [float(x) for x in centroids[p]])]
        luts_by_probe.append((int(p), adc_lut(q_res, codebooks)))
    pruned = codes_df.where(F.expr(in_sql("cluster", probes)))
    if not luts_by_probe:  # nprobe=0 probes nothing: no row to score
        dist = "CAST(NULL AS DOUBLE)"
    elif _pq_backend(codebooks) == "arrow-numpy":
        dist = adc_residual_distance_arrow_udf(luts_by_probe, m)(
            F.col("codes"), F.col("cluster")
        )
    else:
        whens = " ".join(
            f"WHEN cluster = {p} THEN {adc_distance_sql('codes', luts, m)}" for p, luts in luts_by_probe
        )
        dist = f"CASE {whens} END"
    return scan(pruned, None, dist, k)


def pq_memory_bytes(n_rows: int, dim: int, m: int, ksub: int, bytes_per_value: int = 4) -> dict:
    """Size accounting for a PQ index vs the full-precision corpus —
    the compression headline (codes + codebooks, like
    vector_quantize_memory's estimate role)."""
    code_bytes = 1 if ksub <= 256 else (2 if ksub <= 65536 else 8)
    codes = n_rows * m * code_bytes
    books = m * ksub * (dim // m) * 8
    full = n_rows * dim * bytes_per_value
    return {
        "full_bytes": full,
        "codes_bytes": codes,
        "codebook_bytes": books,
        "compression": full / max(1, codes + books),
    }


def adc_pair_arrow_udf(
    codebooks: Codebooks,
    centroids: Sequence[Sequence[float]] | None = None,
    metric: str | Metric = "L2",
):
    """(query_vec, cluster, codes) -> DOUBLE ADC distance, Arrow-
    batched, for MULTI-QUERY scoring where a driver-side LUT per query
    is impossible (the queries are rows, not literals).

    Per batch, a LUT is built once per unique query (per unique
    (query, cluster) pair in residual mode — ``centroids`` supplied):
    dim*ksub flops per distinct query vs dim flops per row for the
    naive reconstruction, so the LUT amortizes as soon as a query
    scores more than ~ksub candidate rows — exactly the broadcast-
    join-on-cluster regime this kernel serves."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    m_, ksub, dsub = _check_codebooks(codebooks)
    met = parse_metric(metric) if isinstance(metric, str) else metric
    if met not in (Metric.L2, Metric.SQUARED_L2):
        raise ValueError(f"ADC supports L2/SQUARED_L2, got {met}")
    cbs = np.stack(
        [np.asarray([[float(x) for x in e] for e in cb], dtype=np.float64) for cb in codebooks]
    )  # (m, ksub, dsub)
    cm = _centroid_matrix_np(centroids) if centroids is not None else None

    @pandas_udf("double")
    def _kernel(qv: pd.Series, cluster: pd.Series, codes: pd.Series) -> pd.Series:
        qmat = batch_matrix(qv)  # (B, dim)
        cl = cluster.to_numpy(dtype=np.int64)
        cd = batch_matrix(codes, "int64")  # (B, m)
        if cm is not None:
            qmat = qmat - cm[cl]
            key = np.stack([_hash_rows(qmat), cl]).T
            _, inv = np.unique(key, axis=0, return_inverse=True)
        else:
            _, inv = np.unique(_hash_rows(qmat), return_inverse=True)
        d = np.empty(len(qmat), dtype=np.float64)
        for u in np.unique(inv):
            sel = inv == u
            q = qmat[np.argmax(sel)]
            qs = q.reshape(m_, dsub)  # (m, dsub)
            # SEQUENTIAL lane fold + per-entry eps-snap: bit-identical
            # to the scalar LUT (adc_lut / the oracle's per-subspace
            # snapped fold), so gate hashes match the codegen path
            lut = np.zeros((m_, ksub))
            for i in range(dsub):
                diff = qs[:, None, i] - cbs[:, :, i]
                lut += diff * diff
            lut = np.where(np.abs(lut) <= EPS_SNAP, 0.0, lut)
            acc = np.zeros(int(sel.sum()))
            sub_codes = cd[sel]
            for s in range(m_):  # sequential subspace fold (ADC order)
                acc += lut[s, sub_codes[:, s]]
            d[sel] = acc
        if met is Metric.L2:
            np.sqrt(d, out=d)
        d = np.where(np.abs(d) <= EPS_SNAP, 0.0, d)
        return pd.Series(d)

    return _kernel


def _hash_rows(mat):
    """Stable per-row content hash for batch-local dedup of query
    vectors (float64 rows viewed as bytes)."""
    import numpy as np

    v = np.ascontiguousarray(mat).view(np.uint8).reshape(mat.shape[0], -1)
    # FNV-1a over bytes, vectorized across columns
    h = np.full(mat.shape[0], np.uint64(1469598103934665603))
    for col in range(v.shape[1]):
        h = (h ^ v[:, col].astype(np.uint64)) * np.uint64(1099511628211)
    return h


def ivf_pq_knn_join(
    queries: DataFrame,
    codes_store: DataFrame,
    centroids: Sequence[Sequence[float]],
    codebooks: Codebooks,
    k: int,
    nprobe: int = 2,
    metric: str | Metric = "L2",
    q_id: str = "qid",
    q_vec: str = "qv",
    residual: bool = False,
    salt: int | None | str = "auto",
) -> DataFrame:
    """Multi-query ANN join in the COMPRESSED domain — the shape for
    "score 10M queries against 1B embedded docs": ``codes_store`` is
    the (id, codes, cluster) table from ivf_pq_store, read once at
    ~M bytes/row; each query scores only its nprobe probed clusters.

    Plan: queries pick probes in-plan (probe_clusters_col, backend-
    dispatched) and explode to a small broadcast side; broadcast hash
    join on ``cluster``; ADC scoring via the per-unique-query LUT
    kernel; id-tiebroken rank window for top-k per query. Candidate
    volume is sum over queries of probed-cluster sizes — independent
    of total corpus size in the probe fraction, with per-candidate
    bytes cut by the compression ratio on top.

    ``salt``: skew bound of the per-query rank window, see
    topk.topk_per_key; "auto" sizes it from ``codes_store``."""
    from sqlite_vector_spark.operators.ann import probe_clusters_col

    qx = (
        queries.select(
            F.col(q_id).cast("bigint").alias("qid"),
            F.col(q_vec).alias("_qv"),
            probe_clusters_col(q_vec, centroids, nprobe).alias("_probes"),
        )
        .select("qid", "_qv", F.explode("_probes").alias("cluster"))
    )
    kernel = adc_pair_arrow_udf(codebooks, centroids if residual else None, metric)
    scored = codes_store.join(F.broadcast(qx), "cluster").select(
        "qid",
        "id",
        kernel(F.col("_qv"), F.col("cluster"), F.col("codes")).alias("distance"),
    )
    order = [F.col("distance").asc(), F.col("id").asc()]
    return topk_per_key(scored, ["qid"], order, k, salt=salt, size_from=codes_store)
