"""Binary quantization: 1-bit codes + Hamming-distance scans.

The cheapest rung of the compression ladder (below the reference's
scalar u8/s8 — README.md:110-121 — and this engine's PQ): each lane
collapses to ONE bit (``v[j] > threshold[j]``), packed 64 lanes per
BIGINT word. 32x smaller than f32 storage; candidate scoring is
XOR + popcount — integer ops the JVM vectorizes inside whole-stage
codegen, no floating point at all. The standard recipe (e.g. the
sign-random-projection estimator behind SimHash, Charikar 2002) is:
Hamming prefilter over the packed bits, exact rerank of the survivors
— recall is governed by the prefilter width exactly like PQ rerank.

Thresholds default to 0.0 per lane (sign bit); real pipelines pass
per-dimension means — which `workload.embedding_dim_stats` already
computes — so the bits split each dimension at its center.

Physical story: encoding is a map-side projection (no shuffle at any
scale); the scan reads dim/8 bytes per row; top-k is
TakeOrderedAndProject. Everything is plain integer Catalyst
expressions, so the DuckDB oracle replays it bit-for-bit
(xor + bit_count exist on both engines — oracle.bq_* builders).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from sqlite_vector_spark.functions.distance import (
    array_literal,
    batch_matrix,
    literal_sql,
    sql_operand,
)
from sqlite_vector_spark.operators.search import frames_sql, rerank, scan, scan_sql
from sqlite_vector_spark.operators.topk import topk_per_key


def _n_words(dim: int) -> int:
    return (dim + 63) // 64


#: widest code for which bq_store_append folds the per-dim bit-bias
#: counts into the write job as observe metrics (dim+1 codegen
#: aggregates); wider codes keep the O(1)-plan mapInPandas pass.
#: Measured at dim 1536, 2000 rows, local[4], best of 3 after a warm
#: call, wide / observed: 1.04 / 3.22 s (Arrow encode, 1 g driver),
#: 10.04 / 11.04 s (codegen encode, 4 g driver); same bias bits.
_OBS_BIAS_MAX_DIM = 1024

#: largest query batch bq_band_join encodes DRIVER-SIDE for the
#: bv IN (...) store-scan prune; bigger batches keep the in-plan
#: query encode (bounded collect — no unbounded driver materialize)
_BAND_JOIN_MAX_Q = 4096


def _check_thresholds(dim: int, thresholds: Sequence[float] | None) -> list[float]:
    if thresholds is None:
        return [0.0] * dim
    t = [float(x) for x in thresholds]
    if len(t) != dim:
        raise ValueError(f"thresholds has {len(t)} entries, vector dim is {dim}")
    return t


def bq_encode_col(vec: str | Column, dim: int, thresholds: Sequence[float] | None = None) -> Column:
    """ARRAY<BIGINT> of packed sign bits: bit i of word w is set iff
    ``vec[w*64 + i] > thresholds[w*64 + i]``. Lane order matches the
    oracle's bit build exactly; the 64th lane of a word lands in the
    BIGINT sign bit (two's-complement addition of disjoint bits == OR,
    so the packing is still exact). One F.expr call at any dim (an
    operand per sql_operand's rule); per-lane Column calls cost a py4j
    round trip each."""
    v = sql_operand(vec)
    t = _check_thresholds(dim, thresholds)
    words = []
    for w in range(_n_words(dim)):
        words.append(" + ".join(
            f"CASE WHEN CAST(element_at({v}, {w * 64 + i + 1}) AS DOUBLE) > {literal_sql(t[w * 64 + i])} "
            f"THEN shiftleft(CAST(1 AS BIGINT), {i}) ELSE CAST(0 AS BIGINT) END"
            for i in range(min(64, dim - w * 64))
        ))
    return F.expr(f"array({', '.join(words)})")


def bq_encode_arrow_udf(dim: int, thresholds: Sequence[float] | None = None):
    """Arrow-batched encoder for large dims: ARRAY<numeric> ->
    ARRAY<BIGINT> packed words via vectorized comparisons + bit
    shifts; identical packing to the codegen column."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    t = np.asarray(_check_thresholds(dim, thresholds), dtype=np.float64)
    nw = _n_words(dim)

    @pandas_udf("array<bigint>")
    def _kernel(col: pd.Series) -> pd.Series:
        mat = batch_matrix(col)  # (B, dim)
        bits = mat > t  # (B, dim) bool
        out = np.zeros((mat.shape[0], nw), dtype=np.uint64)
        for j in range(dim):
            w, i = divmod(j, 64)
            out[:, w] |= bits[:, j].astype(np.uint64) << np.uint64(i)
        return pd.Series(list(out.astype(np.int64)))

    return _kernel


def bq_encode(
    df: DataFrame,
    vec_col: str,
    dim: int,
    thresholds: Sequence[float] | None = None,
    id_col: str = "id",
    backend: str = "codegen",
) -> DataFrame:
    """(id, bits ARRAY<BIGINT>) — the 1-bit index table (dim/8 bytes
    per row). Map-side only."""
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    if backend == "arrow-numpy":
        enc = bq_encode_arrow_udf(dim, thresholds)(F.col("vec"))
    else:
        enc = bq_encode_col(F.col("vec"), dim, thresholds)
    return base.select("id", enc.alias("bits"))


def bq_query_words(query: Sequence[float], thresholds: Sequence[float] | None = None) -> list[int]:
    """Driver-side packing of the query vector — same lane order and
    comparison as bq_encode_col, so engine and oracle agree."""
    dim = len(query)
    t = _check_thresholds(dim, thresholds)
    words = []
    for w in range(_n_words(dim)):
        acc = 0
        for i in range(min(64, dim - w * 64)):
            if float(query[w * 64 + i]) > t[w * 64 + i]:
                acc |= 1 << i
        # interpret as signed 64-bit (bit 63 set -> negative BIGINT)
        if acc >= 1 << 63:
            acc -= 1 << 64
        words.append(acc)
    return words


def hamming_sql(bits: str, query_words: Sequence[int]) -> str:
    """SQL text of the BIGINT Hamming distance between the code column
    ``bits`` and the query words: hamming_col's tree in one string."""
    q = literal_sql([int(w) for w in query_words])
    terms = f"zip_with({sql_operand(bits)}, {q}, (x, y) -> CAST(bit_count(x ^ y) AS BIGINT))"
    return f"aggregate({terms}, CAST(0 AS BIGINT), (x, y) -> x + y)"


def hamming_col(bits: str | Column, query_words: Sequence[int]) -> Column:
    """BIGINT Hamming distance: Σ_w popcount(bits[w] XOR q[w]) in word
    order — integer-exact, mirrored by the oracle's ordered fold. The
    query words ride in as ONE array literal zipped with the code
    words: a per-word ``long`` literal would be inlined into the
    generated code, so every new query would compile a new class."""
    q = [int(w) for w in query_words]
    terms = F.zip_with(F.col(bits) if isinstance(bits, str) else bits, array_literal(q), lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"))
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)


def bq_scan(
    codes_df: DataFrame,
    query: Sequence[float],
    k: int,
    thresholds: Sequence[float] | None = None,
    bits_col: str = "bits",
    id_col: str = "id",
) -> DataFrame:
    """Hamming top-k over a bq_encode table -> (id, hamming
    ascending, id tiebreak). Reads dim/8 bytes per row; scoring is
    XOR+popcount fused in codegen."""
    if k < 0:
        raise ValueError("k must be >= 0")
    qw = bq_query_words(query, thresholds)
    return scan(codes_df, bits_col, hamming_sql(bits_col, qw), k, id_col, name="hamming")


def bq_rerank_scan(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int,
    prefilter: int,
    thresholds: Sequence[float] | None = None,
    metric: str = "L2",
    id_col: str = "id",
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Two-stage binary search: Hamming prefilter to ``prefilter``
    candidates over the 1-bit table, exact rerank in full precision —
    true distances out, recall governed by the prefilter width. Pass
    a persisted ``codes_df`` in production (same contract as
    pq_rerank_scan)."""
    codes = (
        codes_df
        if codes_df is not None
        else bq_encode(df, vec_col, len(query), thresholds, id_col=id_col)
    )
    ham = hamming_sql("bits", bq_query_words(query, thresholds))
    cand = f"SELECT id FROM ({scan_sql('codes', 'bits', ham, prefilter, name='hamming')})"
    return hamming_rerank(df, vec_col, query, k, prefilter, metric, id_col, cand, codes=codes)


def hamming_rerank(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    k: int,
    prefilter: int,
    metric: str,
    id_col: str,
    candidates: str,
    **frames: DataFrame,
) -> DataFrame:
    """Exact top-k over the rows of ``df`` whose id the Hamming
    prefilter query ``candidates`` (over ``frames``, at most
    ``prefilter`` ids) returns: search.rerank, sized by the rerank's
    own input."""
    # the rerank scores at most ``prefilter`` rows (an 8-byte id and
    # dim doubles each) and at most the whole frame: two bounds on its
    # input, and the frame is sized only when the first is not already
    # within the scan gate
    bound = prefilter * 8 * (len(query) + 1)
    return rerank(df, vec_col, query, k, metric, id_col, candidates, (bound, df), **frames)


@dataclass
class BqAppendReport:
    """Result of bq_store_append: bit balance of the appended batch
    under the FROZEN thresholds. ``mean_bit_bias`` is the mean over
    dimensions of |P(bit_j = 1) - 0.5| — 0.0 means every threshold
    still splits its dimension at the center (maximum Hamming
    resolution), 0.5 means some bits went constant (the axis-aligned
    failure mode measured in SCALE.md). Rising bias under a
    distribution shift is the re-threshold (per-dim means) + rebuild
    signal — the 1-bit analog of PQ's reconstruction-error drift."""

    n_appended: int
    mean_bit_bias: float
    baseline_bit_bias: float | None
    #: absolute excess of batch bias over the baseline (0 = batch
    #: bits as balanced as at build time)
    drift: float
    rebuild_recommended: bool


def _bit_balance_kernel(dim: int):
    """mapInPandas kernel: per-partition per-dimension set-bit counts
    + row count from the PACKED words — one tiny partial row per
    partition (dim int64s), reduced driver-side. Same
    shuffle-independent partial-aggregation recipe as pq_fit."""

    def _kernel(pdf_iter):
        import numpy as np

        ones = np.zeros(dim, dtype=np.int64)
        n = 0
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            words = batch_matrix(pdf["bits"], "uint64")  # (B, nw)
            n += words.shape[0]
            for j in range(dim):
                w, i = divmod(j, 64)
                ones[j] += int(((words[:, w] >> np.uint64(i)) & np.uint64(1)).sum())
        yield pd.DataFrame({"ones": [ones.tolist()], "n": [n]})

    return _kernel


def bq_bit_bias(codes_df: DataFrame, dim: int, bits_col: str = "bits") -> float:
    """Mean per-dimension |P(bit=1) - 0.5| of a packed code table —
    record at build time as the baseline for bq_store_append."""
    import numpy as np

    partials = (
        codes_df.select(F.col(bits_col).alias("bits"))
        .mapInPandas(_bit_balance_kernel(dim), schema="ones array<long>, n long")
        .collect()
    )
    ones = np.zeros(dim, dtype=np.int64)
    n = 0
    for r in partials:
        ones += np.asarray(r.ones, dtype=np.int64)
        n += int(r.n)
    if n == 0:
        return 0.0
    return float(np.abs(ones / n - 0.5).mean())


def bq_store(
    df: DataFrame,
    vec_col: str,
    dim: int,
    dest: str,
    thresholds: Sequence[float] | None = None,
    id_col: str = "id",
    backend: str = "codegen",
) -> None:
    """Materialize the 1-bit index (id, bits) — the persisted table
    bq_scan / bq_rerank_scan read in production (dim/8 bytes per
    row). Map-side only; one pass."""
    bq_encode(df, vec_col, dim, thresholds, id_col=id_col, backend=backend).write.mode(
        "overwrite"
    ).parquet(dest)


def bq_store_append(
    new_df: DataFrame,
    vec_col: str,
    dim: int,
    dest: str,
    thresholds: Sequence[float] | None = None,
    id_col: str = "id",
    backend: str = "codegen",
    baseline_bit_bias: float | None = None,
    drift_threshold: float = 0.15,
) -> BqAppendReport:
    """Append-mode 1-bit maintenance: encode ONLY the new rows against
    the FROZEN thresholds and append. Bits depend only on the
    thresholds, so append == rebuild exactly (tests prove it) — the
    same frozen-parameter contract as ivf_store_append /
    vector_quantize_update / pq_store_append.

    One pass over the batch: the row count and the per-dim set-bit
    counts (dim+1 exact integer aggregates over the packed words) ride
    the write (sinks.write_observed), and the driver finishes the bias
    with bq_bit_bias's NumPy expression, so the value is bit-identical.
    Very wide codes (dim > ``_OBS_BIAS_MAX_DIM``) keep the O(1)-plan
    path: checkpoint the encoded batch, then one mapInPandas pass.
    ``drift`` is the batch's mean bit bias in excess of
    ``baseline_bit_bias`` (record it at build time via bq_bit_bias);
    crossing ``drift_threshold`` means the frozen per-dim thresholds
    no longer center the ingest distribution — recompute thresholds
    (embedding_dim_stats means) and rebuild."""
    import numpy as np

    from sqlite_vector_spark.sinks import write_observed

    enriched = bq_encode(new_df, vec_col, dim, thresholds, id_col=id_col, backend=backend)
    wide = dim > _OBS_BIAS_MAX_DIM
    metrics = "count(1) AS n"
    if wide:
        enriched = enriched.localCheckpoint(eager=True)
    else:
        # bit j of the packed code: (bits[w] >> i) & 1 — arithmetic
        # shift is fine, the & 1 keeps only the target bit
        metrics += "".join(
            f", sum(CAST(shiftright(element_at(bits, {j // 64 + 1}), {j % 64}) & 1 AS BIGINT)) AS b{j}"
            for j in range(dim)
        )
    got = write_observed(enriched, dest, metrics)
    if got is None:
        return BqAppendReport(0, 0.0, baseline_bit_bias, 0.0, False)
    n = int(got["n"])
    if wide:
        bias = bq_bit_bias(enriched, dim)
    else:
        ones = np.asarray([int(got[f"b{j}"]) for j in range(dim)], dtype=np.int64)
        # same NumPy expression as bq_bit_bias over the same exact
        # integer counts -> bit-identical bias
        bias = float(np.abs(ones / n - 0.5).mean())
    # no recorded baseline -> no drift claim (mirrors _pq_append_report:
    # drift is "excess over baseline", and with baseline None the bias
    # itself is still surfaced via mean_bit_bias)
    drift = 0.0 if baseline_bit_bias is None else max(bias - baseline_bit_bias, 0.0)
    rebuild = baseline_bit_bias is not None and drift > drift_threshold
    return BqAppendReport(n, bias, baseline_bit_bias, drift, rebuild)


def bq_random_planes(dim: int, p: int, seed: int = 0):
    """Deterministic Gaussian hyperplanes for projected binary codes
    (p planes -> p bits). Returns a (p, dim) float64 matrix."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.normal(size=(p, dim))


def bq_project_encode_arrow_udf(planes, center: Sequence[float] | None = None):
    """SimHash-style projected bits (Charikar 2002): bit j = 1 iff
    plane_j · (v - center) > 0, packed 64 bits/word. Decorrelates
    axis-aligned structure — the right binarization when raw lanes are
    correlated or biased (axis-aligned sign bits collapse to massive
    Hamming ties there; see SCALE.md). Arrow-only: the projection is a
    dense (B, dim) x (dim, p) matmul, which belongs in NumPy."""
    from pyspark.sql.functions import pandas_udf

    import numpy as np

    R = np.asarray(planes, dtype=np.float64)  # (p, dim)
    mu = np.zeros(R.shape[1]) if center is None else np.asarray(center, dtype=np.float64)
    p = R.shape[0]
    nw = _n_words(p)

    @pandas_udf("array<bigint>")
    def _kernel(col: pd.Series) -> pd.Series:
        mat = batch_matrix(col)
        bits = ((mat - mu) @ R.T) > 0.0  # (B, p)
        out = np.zeros((mat.shape[0], nw), dtype=np.uint64)
        for j in range(p):
            w, i = divmod(j, 64)
            out[:, w] |= bits[:, j].astype(np.uint64) << np.uint64(i)
        return pd.Series(list(out.astype(np.int64)))

    return _kernel


def bq_project_encode_col(vec: str | Column, planes, center: Sequence[float] | None = None) -> Column:
    """ARRAY<BIGINT> of packed PROJECTED sign bits via the IEEE
    sequential fold — the oracle-reproducible codegen twin of
    bq_project_encode_arrow_udf: bit j = 1 iff the 0.0-init
    left-fold of (v[i] - center[i]) * plane_j[i] is > 0 (the same
    fold order hyperplane_bucket and the DuckDB mirror replay).
    O(p * dim) expression tree — the Arrow kernel is the throughput
    path at large p * dim; this one exists so projected codes can be
    hash-gated."""
    v = F.col(vec) if isinstance(vec, str) else vec
    planes = [[float(x) for x in row] for row in planes]
    p = len(planes)
    if center is not None:
        c_lit = F.array(*[F.lit(float(x)) for x in center])
        v = F.zip_with(v, c_lit, lambda x, c: x.cast("double") - c)
    else:
        v = F.transform(v, lambda x: x.cast("double"))
    dots = []
    for row in planes:
        lit = F.array(*[F.lit(x) for x in row])
        dots.append(
            F.aggregate(
                F.zip_with(v, lit, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        )
    words = []
    for w in range(_n_words(p)):
        lanes = min(64, p - w * 64)
        bits = [
            F.when(
                dots[w * 64 + i] > F.lit(0.0),
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
            for i in range(lanes)
        ]
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        words.append(acc)
    return F.array(*words)


def bq_project_encode(
    df: DataFrame,
    vec_col: str,
    planes,
    center: Sequence[float] | None = None,
    id_col: str = "id",
    backend: str | None = "arrow-numpy",
) -> DataFrame:
    """(id, bits) over projected hyperplane signs — p/8 bytes per row
    regardless of dim. Map-side only. ``backend="codegen"`` uses the
    sequential-fold column (oracle-gateable; O(p*dim) codegen — only
    viable at small p*dim), the default Arrow kernel is the corpus
    throughput path (one matmul per batch); ``None`` routes on the
    session backend + fold count like opq_rotate."""
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("vec")
    )
    enc = _project_code_col(F.col("vec"), planes, center, backend)
    return base.select("id", enc.alias("bits"))


def _project_code_col(v: Column, planes, center, backend: str | None) -> Column:
    """Route the projected encoder: honour an explicit/pinned choice,
    else split on the p*dim fold footprint (a 256x768 plane matrix is
    a ~200k-term codegen tree — janino poison; the Arrow matmul is
    the throughput path, codegen the oracle-parity path)."""
    from sqlite_vector_spark.version import AUTO_PQ_FOLDS, vector_backend

    if backend is None:
        backend = vector_backend()
    if backend == "auto":
        folds = len(planes) * len(planes[0])
        backend = "arrow-numpy" if folds >= AUTO_PQ_FOLDS else "codegen"
    if backend == "codegen":
        return bq_project_encode_col(v, planes, center)
    return bq_project_encode_arrow_udf(planes, center)(v)


def bq_project_query_words(query: Sequence[float], planes, center: Sequence[float] | None = None) -> list[int]:
    """Driver-side projected packing of the query — the SEQUENTIAL
    0.0-init fold, bit-identical to bq_project_encode_col (and hence
    the oracle), and agreeing with the Arrow kernel everywhere a dot
    is not within an ulp of zero."""
    p = len(planes)
    dim = len(planes[0])
    q = [float(x) for x in query]
    mu = [0.0] * dim if center is None else [float(x) for x in center]
    words = []
    for w in range(_n_words(p)):
        acc_w = 0
        for i in range(min(64, p - w * 64)):
            row = planes[w * 64 + i]
            acc = 0.0
            for j in range(dim):
                acc = acc + (q[j] - mu[j]) * float(row[j])
            if acc > 0.0:
                acc_w |= 1 << i
        if acc_w >= 1 << 63:
            acc_w -= 1 << 64
        words.append(acc_w)
    return words


def bq_project_rerank_scan(
    df: DataFrame,
    vec_col: str,
    query: Sequence[float],
    planes,
    k: int,
    prefilter: int,
    center: Sequence[float] | None = None,
    metric: str = "L2",
    id_col: str = "id",
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Projected-bit Hamming prefilter + exact rerank — the
    production 1-bit recipe (recall governed by plane count p and
    prefilter width; p is the quality lever, bytes stay p/8)."""
    codes = (
        codes_df
        if codes_df is not None
        else bq_project_encode(df, vec_col, planes, center, id_col=id_col)
    )
    qw = bq_project_query_words(query, planes, center)
    cand = f"SELECT id FROM ({scan_sql('codes', None, hamming_sql('bits', qw), prefilter, name='hamming')})"
    return rerank(df, vec_col, query, k, metric, id_col, cand, codes=codes)


def hamming_pair_col(a: str | Column, b: str | Column) -> Column:
    """BIGINT Hamming distance between two PACKED-WORD columns:
    ordered fold of popcount(a[w] XOR b[w]) — the column-column form
    of hamming_col (whose query side is literal words)."""
    aa = F.col(a) if isinstance(a, str) else a
    bb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(aa, bb, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def band_value_col(word: Column, band_in_word: int, band_bits: int) -> Column:
    """Band ``band_in_word`` of a packed 64-bit word: (w >> s) & mask.
    The mask keeps bits s..s+band_bits-1 of the original word, so the
    result is identical under arithmetic or logical shift — portable
    to the SQL mirror."""
    mask = (1 << band_bits) - 1
    return F.shiftright(word, band_in_word * band_bits).bitwiseAND(F.lit(mask)).cast("bigint")


def _band_layout(dim: int, band_bits: int) -> list[tuple[int, int]]:
    if dim < 1 or 64 % band_bits:
        raise ValueError(f"need dim >= 1 and band_bits dividing 64, got dim={dim}, band_bits={band_bits}")
    nw = _n_words(dim)
    per_word = 64 // band_bits
    return [
        (w, i)
        for w in range(nw)
        for i in range(per_word)
        if w * 64 + i * band_bits < dim
    ]


def explode_bands(df: DataFrame, bits: Column, keep: list[str], dim: int, band_bits: int) -> DataFrame:
    """One row per (band index b, band value bv) of the packed code —
    the MIH band expansion shared by the in-plan join and the
    persisted band store."""
    per_word = 64 // band_bits
    arr = F.array(
        *[
            F.struct(
                F.lit(w * per_word + i).alias("b"),
                band_value_col(F.element_at(bits, w + 1), i, band_bits).alias("bv"),
            )
            for w, i in _band_layout(dim, band_bits)
        ]
    )
    return df.select(*keep, F.explode(arr).alias("x")).select(
        *keep, F.col("x.b").alias("b"), F.col("x.bv").alias("bv")
    )


def bq_knn_join(
    queries: DataFrame,
    codes_df: DataFrame,
    dim: int,
    k: int,
    band_bits: int = 16,
    thresholds: Sequence[float] | None = None,
    q_id: str = "qid",
    q_vec: str = "qv",
    bits_col: str = "bits",
    id_col: str = "id",
    planes=None,
    center: Sequence[float] | None = None,
    encode_backend: str | None = None,
) -> DataFrame:
    """Multi-query Hamming top-k over the 1-bit index via MULTI-INDEX
    HASHING (Norouzi, Punjani, Fleet, "Fast Exact Search in Hamming
    Space with Multi-Index Hashing", CVPR 2012 — public): split every
    packed code into m = ceil(dim/band_bits) disjoint bands; by
    pigeonhole, any code within Hamming distance r < m of the query
    matches it EXACTLY in at least one band, so an equi-join on
    (band, band_value) yields all close candidates without scanning
    the corpus per query. Returns (qid, id, hamming, rank) — rank by
    (hamming asc, id asc), k per query.

    Exactness contract: complete for neighbors within Hamming
    distance m-1 (dim=64 / band_bits=16 -> within 3); farther ties
    into the top-k are best-effort, exactly the LSH-bucket trade.
    Smaller ``band_bits`` = more bands = wider exact radius but
    larger buckets (at 16 bits a uniform corpus spreads each band
    over 65,536 values).

    Shape: queries encode map-side and explode to m (band, value)
    rows each — a small broadcast side; the corpus side explodes to
    m band rows in-plan (the persisted analog is an exploded table
    partitionBy(band)); candidates = band collisions only; one
    Hamming fold per collision, min-agg collapses multi-band hits,
    rank window keeps k per query (topk.topk_per_key, salt sized from
    ``codes_df``).

    ``planes``: SimHash-plane projected codes instead of raw
    axis-aligned sign bits — the fix for correlated/biased lanes,
    where threshold codes collapse into massive band ties and a band
    bucket approaches the whole corpus (measured on the sin manifold:
    ~50% band selectivity axis-aligned vs restored bucket spread
    projected — SCALE.md §MIH). When set, ``dim`` is the CODE length
    in bits (= len(planes)), ``codes_df`` must hold
    bq_project_encode codes built with the SAME planes/center, and
    ``thresholds`` is ignored.

    ``encode_backend``: the query-side projected encoder (default:
    session-routed like bq_project_encode). Pass the SAME backend the
    corpus codes were built with — a plane dot within an ulp of zero
    can flip a query bit between the Arrow matmul and the sequential
    fold, making candidates asymmetric vs the corpus code."""
    _band_layout(dim, band_bits)  # validates dim/band_bits
    if k < 1:
        raise ValueError("k must be >= 1")
    if planes is not None and len(planes) != dim:
        raise ValueError(
            f"projected join: dim must equal the plane count, got dim={dim}, p={len(planes)}"
        )
    q_code = (
        _project_code_col(F.col(q_vec), planes, center, encode_backend)
        if planes is not None
        else bq_encode_col(F.col(q_vec), dim, thresholds)
    )
    qenc = queries.where(F.col(q_vec).isNotNull()).select(
        F.col(q_id).cast("bigint").alias("qid"),
        q_code.alias("qbits"),
    )
    qx = explode_bands(qenc, F.col("qbits"), ["qid", "qbits"], dim, band_bits)
    base = codes_df.where(F.col(bits_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(bits_col).alias("bits")
    )
    cx = explode_bands(base, F.col("bits"), ["id", "bits"], dim, band_bits)
    cand = cx.join(F.broadcast(qx), ["b", "bv"]).select(
        "qid", "id", hamming_pair_col("bits", "qbits").alias("ham")
    )
    scored = cand.groupBy("qid", "id").agg(F.min("ham").alias("hamming"))
    order = [F.col("hamming").asc(), F.col("id").asc()]
    return topk_per_key(scored, ["qid"], order, k, salt="auto", size_from=codes_df)


def bq_band_store(
    codes_df: DataFrame,
    dim: int,
    dest: str,
    band_bits: int = 16,
    bits_col: str = "bits",
    id_col: str = "id",
) -> int:
    """Materialize the MIH layout: the band expansion written
    ``partitionBy("b")`` with rows SORTED by band value inside each
    band directory. A probe for (b, bv) then costs planning-time
    partition pruning on ``b`` plus parquet min/max row-group
    skipping on the sorted ``bv`` (PushedFilters) — the persisted
    form of bq_knn_join's in-plan corpus expansion, m x the code
    bytes on disk (16-64 B/row extra at dim 768). Returns the CODE
    row count, observed on the write (sinks.write_observed) as its
    band-0 rows — every code row emits exactly one — so callers that
    need it (the takedown rebuild arm reports it) pay no second read
    of the code table."""
    return _write_band_store(codes_df, dim, dest, band_bits, bits_col, id_col, "overwrite")


def bq_band_store_append(
    new_codes: DataFrame,
    dim: int,
    dest: str,
    band_bits: int = 16,
    bits_col: str = "bits",
    id_col: str = "id",
) -> int:
    """Append NEW code rows to a bq_band_store directory under the
    FROZEN band layout: the band expansion depends only on
    (dim, band_bits), so appended rows land in their existing ``b=``
    partition directories as new (bv-sorted) files and
    append == rebuild holds exactly — the MIH analog of
    bq_store_append's frozen-threshold contract (bit drift is the
    CODE store's concern; this store derives from codes). One pass
    over the batch, counted like bq_band_store's; the corpus is never
    re-read. Returns the number of appended code rows."""
    return _write_band_store(new_codes, dim, dest, band_bits, bits_col, id_col, "append")


def _write_band_store(codes_df, dim, dest, band_bits, bits_col, id_col, mode) -> int:
    from sqlite_vector_spark.sinks import write_observed

    base = codes_df.where(F.col(bits_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"), F.col(bits_col).alias("bits")
    )
    # sort_within=["bv"] keeps the min/max row-group skipping
    # bq_band_scan relies on (the writer prefixes the sort with "b",
    # the dynamic-partition requirement)
    got = write_observed(
        explode_bands(base, F.col("bits"), ["id", "bits"], dim, band_bits), dest,
        [F.count(F.when(F.col("b") == 0, 1)).alias("n")],
        mode=mode, partition_col="b", sort_within=["bv"],
    )
    return 0 if got is None else int(got["n"])


def bq_band_join(
    spark,
    dest: str,
    queries: DataFrame,
    dim: int,
    k: int,
    band_bits: int = 16,
    thresholds: Sequence[float] | None = None,
    q_id: str = "qid",
    q_vec: str = "qv",
    planes=None,
    center: Sequence[float] | None = None,
    encode_backend: str | None = None,
) -> DataFrame:
    """Multi-query Hamming top-k against the PERSISTED band store —
    bq_knn_join with the corpus-side band expansion read from disk
    instead of recomputed: the query batch encodes and explodes to
    Q x m (b, bv) probe rows (broadcast side), the store side is an
    equi-join on (b, bv) whose ``b`` key enables DYNAMIC partition
    pruning against the ``b=`` directories (plan-pinned in test_bq),
    then the same min-agg + popcount + rank-window tail (salt sized
    from the pruned store scan). Same result contract as bq_knn_join
    (complete within Hamming m-1); ``planes`` selects projected-code
    probes for a store built from bq_project_encode codes, and
    ``encode_backend`` pins the query-side projected encoder exactly
    as in bq_knn_join.

    Scan pruning (r15, axis-aligned path): the query batch is Q rows
    of metadata, so it is collected and encoded DRIVER-SIDE via
    bq_query_words (documented bit-identical to bq_encode_col). The
    probe band values then become a PUSHABLE ``bv IN (...)`` data
    filter on the store scan — parquet row-group skipping over the
    bv-sorted band files (the store is written sort_within=["bv"]) —
    and the query side becomes a LocalRelation instead of a second
    corpus scan. The filter is a SUPERSET of the join keys (values
    from all bands pooled), so the exact (b, bv) equi-join is
    unchanged and results are identical; at band_bits=16 the IN list
    covers Q*m of 65,536 values per band and skips nearly every row
    group a probe does not touch. Two driver-safety gates: batches
    over ``_BAND_JOIN_MAX_Q`` rows keep the in-plan query encode (the
    collect is bounded, §5 — the limit probe IS the query-side job
    either way), and the IN filter is skipped when the pooled values
    cover most of the 2^band_bits domain (no row group could be
    skipped; the check is free, the list is already driver-side). The
    ``planes`` path keeps the in-plan query encode: the projected
    query bits must come from the SAME backend as the corpus codes (a
    plane dot within an ulp of zero can flip a bit between backends),
    so no driver-side mirror is safe there."""
    _band_layout(dim, band_bits)
    if k < 1:
        raise ValueError("k must be >= 1")
    if planes is not None and len(planes) != dim:
        raise ValueError(
            f"projected join: dim must equal the plane count, got dim={dim}, p={len(planes)}"
        )
    probe_vals = None
    qenc = None
    if planes is None:
        qrows = (
            queries.where(F.col(q_vec).isNotNull())
            .select(F.col(q_id).cast("bigint").alias("qid"), F.col(q_vec).alias("qv"))
            .limit(_BAND_JOIN_MAX_Q + 1)
            .collect()
        )
        if len(qrows) <= _BAND_JOIN_MAX_Q:
            enc = [(int(r.qid), bq_query_words(list(r.qv), thresholds)) for r in qrows]
            qenc = spark.createDataFrame(
                [(qid, words) for qid, words in enc], "qid bigint, qbits array<bigint>"
            )
            mask = (1 << band_bits) - 1
            # Python's arbitrary-precision >> on the signed word has
            # the same low bits as the JVM's 64-bit arithmetic shift,
            # so the masked band values match band_value_col exactly
            vals = sorted(
                {
                    int((qw[w] >> (i * band_bits)) & mask)
                    for _, qw in enc
                    for w, i in _band_layout(dim, band_bits)
                }
            )
            # pooled values covering most of the band domain cannot
            # skip row groups — drop the filter, keep the equi-join
            if len(vals) < ((1 << band_bits) * 3) // 4:
                probe_vals = vals
    if qenc is None:
        q_code = (
            _project_code_col(F.col(q_vec), planes, center, encode_backend)
            if planes is not None
            else bq_encode_col(F.col(q_vec), dim, thresholds)
        )
        qenc = queries.where(F.col(q_vec).isNotNull()).select(
            F.col(q_id).cast("bigint").alias("qid"), q_code.alias("qbits")
        )
    qx = explode_bands(qenc, F.col("qbits"), ["qid", "qbits"], dim, band_bits)
    # read_store: versioned band stores resolve via manifest (r13);
    # the Q x m probe side touches every band partition, so the bv
    # row-group skip (axis-aligned) / the join's dynamic pruning
    # (projected) — not the resolver — is the cost lever either way
    from sqlite_vector_spark.sinks import read_store

    stored = read_store(spark, dest).select(
        "id", "bits", F.col("b").cast("int").alias("b"), "bv"
    )
    if probe_vals is not None:
        stored = stored.where(F.col("bv").isin(probe_vals))
    cand = stored.join(F.broadcast(qx.withColumn("b", F.col("b").cast("int"))), ["b", "bv"]).select(
        "qid", "id", hamming_pair_col("bits", "qbits").alias("ham")
    )
    scored = cand.groupBy("qid", "id").agg(F.min("ham").alias("hamming"))
    order = [F.col("hamming").asc(), F.col("id").asc()]
    return topk_per_key(scored, ["qid"], order, k, salt="auto", size_from=stored)


def bq_band_scan(
    spark,
    dest: str,
    query: Sequence[float],
    dim: int,
    k: int,
    band_bits: int = 16,
    thresholds: Sequence[float] | None = None,
    planes=None,
    center: Sequence[float] | None = None,
    schemas: dict | None = None,
) -> DataFrame:
    """Single-query Hamming top-k over a bq_band_store directory: the
    query's m (band, value) probes become a pruned disjunction —
    partition pruning on ``b``, row-group skipping on ``bv`` — then
    exact popcount over the collided candidates and an (hamming, id)
    top-k. Same result contract as bq_knn_join restricted to one
    query (complete within Hamming m-1). ``planes`` selects
    projected-code probes (sequential-fold query encode) for a store
    built from bq_project_encode codes — ``dim`` must then equal the
    plane count and ``thresholds`` is ignored. ``schemas``: see
    sinks.read_parquet."""
    from sqlite_vector_spark.sinks import read_store

    text = band_scan_sql("bands", query, dim, k, band_bits, thresholds, planes, center)
    # read_store, not read.parquet: a band store migrated to the
    # VERSIONED layout resolves through its live manifest (r13 router
    # contract). No partition_values filter here — the probe touches
    # EVERY band partition by construction (one (b, bv) term per
    # band), so the pruning lever is the bv row-group skip either way.
    return frames_sql(text, bands=read_store(spark, dest, schemas=schemas))


def band_scan_sql(
    src: str,
    query: Sequence[float],
    dim: int,
    k: int,
    band_bits: int = 16,
    thresholds: Sequence[float] | None = None,
    planes=None,
    center: Sequence[float] | None = None,
) -> str:
    """bq_band_scan's statement over the band-store relation ``src``."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if planes is not None:
        if len(planes) != dim:
            raise ValueError(
                f"projected scan: dim must equal the plane count, got dim={dim}, p={len(planes)}"
            )
        qw = bq_project_query_words(query, planes, center)
    else:
        qw = bq_query_words(query, thresholds)
    per_word = 64 // band_bits
    mask = (1 << band_bits) - 1
    probes = None
    for w, i in _band_layout(dim, band_bits):
        term = f"(b = {w * per_word + i} AND bv = {(qw[w] >> (i * band_bits)) & mask})"
        # parenthesized: the parser would balance a flat OR chain
        probes = term if probes is None else f"({probes} OR {term})"
    cand = f"(SELECT id, first(bits) AS bits FROM {src} WHERE {probes} GROUP BY id)"
    return scan_sql(cand, None, hamming_sql("bits", qw), k, name="hamming")
