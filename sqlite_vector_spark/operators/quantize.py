"""Scalar quantization: build, scan, preload, memory, cleanup.

Parity (SURVEY.md §2.1 rows 4-7, 14, 16; §2.6):
- ``vector_quantize`` (reference sqlite-vector.c:1406-1459, rebuild
  1147-1336): pass 1 computes the GLOBAL (not per-row/dim) min/max and
  sign over all non-NULL vectors (1199-1255); AUTO resolves to S8BIT
  if any value is negative else U8BIT (1258-1261); U8: scale =
  255/(max-min), offset = min; S8 (symmetric): scale =
  127/max(|min|,|max|), offset = 0 (1263-1272). Pass 2 quantizes every
  row with half-away-from-zero rounding, clamped saturation, NaN -> 0,
  +/-Inf -> bounds (q_round_u8/s8, 495-515), and writes the shadow
  table ``vector0_<table>_<column>`` (1000-1002, 1282-1327).
- ``vector_quantize_scan`` (2159-2236): quantizes the QUERY with the
  stored scale/offset (2171-2177) and runs top-k entirely in the
  quantized u8/i8 code domain — distances are returned in quantized
  units, NOT rescaled (SURVEY §2.3).
- ``vector_quantize_memory`` = Σ chunk bytes = n·(8+dim)
  (1016-1018, record stride 1161); ``preload`` = persist (1338-1404);
  ``cleanup`` = unpersist + drop (1501-1524).

Spark-first physical design:
- Pass 1 is one agg job (min/array_min, max/array_max — map-side
  partial agg, a few bytes per partition to the driver). Pass 2 is one
  write job: a narrow projection into Parquet. Two jobs ≡ the
  reference's two passes (EP2, SURVEY §3). At 100 TB each pass is an
  embarrassingly parallel scan; no shuffle at all.
- Codes are ``ARRAY<SMALLINT>`` (Spark has no unsigned byte; parquet
  dictionary/bit-packing stores the 0..255 / -128..127 domain in ~1
  byte/elem, preserving the reference's 4x compression claim,
  QUANTIZATION.md:19).
- "Preload" = ``persist(MEMORY_AND_DISK)`` of the codes table: Spark's
  in-memory columnar cache is the cluster analog of the reference's
  single malloc'd buffer.

Numeric notes: the engine computes scale/offset/codes in DOUBLE
(reference uses float32); rounding is reproduced arithmetically
(r +/- 0.5 then truncate toward zero after clamping) with only
IEEE-exact ops so the DuckDB oracle matches bitwise. max==min yields
scale=+Inf exactly like the C code; codes then saturate via the
non-finite rule (FIXTURES.md F4 "constant vectors").
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from dataclasses import dataclass

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from sqlite_vector_spark.functions.distance import distance
from sqlite_vector_spark.operators.search import full_scan, full_scan_stream
from sqlite_vector_spark.types import Metric, QType

_INF = float("inf")


@dataclass
class QuantParams:
    qtype: str  # "U8BIT" | "S8BIT" (resolved, never AUTO)
    scale: float
    offset: float
    count: int

    @property
    def lo(self) -> int:
        return 0 if self.qtype == "U8BIT" else -128

    @property
    def hi(self) -> int:
        return 255 if self.qtype == "U8BIT" else 127


def quant_params_agg(column: str) -> list[Column]:
    """The pass-1 aggregate expressions (global min / max / count)."""
    c = F.col(column)
    return [
        F.min(F.array_min(c)).alias("vmin"),
        F.max(F.array_max(c)).alias("vmax"),
        F.count(c).alias("n"),
    ]


def resolve_params(vmin: float | None, vmax: float | None, n: int, qtype: QType = QType.AUTO) -> QuantParams:
    """scale/offset/qtype from global min/max (sqlite-vector.c:1258-1272).

    Empty table: qtype resolved, scale=1, offset=0, 0 rows (1172-1178).
    """
    if n == 0 or vmin is None:
        resolved = "S8BIT" if qtype is QType.S8 else "U8BIT"
        return QuantParams(resolved, 1.0, 0.0, 0)
    vmin, vmax = float(vmin), float(vmax)
    if qtype is QType.AUTO:
        qtype = QType.S8 if vmin < 0.0 else QType.U8
    if qtype is QType.U8:
        rng = vmax - vmin
        scale = (255.0 / rng) if rng != 0.0 else _INF
        return QuantParams("U8BIT", scale, vmin, n)
    abs_max = max(abs(vmin), abs(vmax))
    scale = (127.0 / abs_max) if abs_max != 0.0 else _INF
    return QuantParams("S8BIT", scale, 0.0, n)


def compute_quant_params(
    df: DataFrame, column: str, qtype: QType = QType.AUTO, dim: int | None = None
) -> QuantParams:
    """Pass 1 as a single Spark agg job.

    When ``dim`` is declared, malformed vectors (wrong length) fail the
    build, mirroring the reference's short-blob error during quantize
    (sqlite-vector.c:1219-1225) — folded into the same agg job, no
    extra pass."""
    aggs = quant_params_agg(column)
    if dim is not None:
        aggs = aggs + [
            F.sum(F.when(F.size(F.col(column)) != dim, 1).otherwise(0)).alias("bad_dim")
        ]
    row = df.where(F.col(column).isNotNull()).agg(*aggs).collect()[0]
    if dim is not None and (row["bad_dim"] or 0) > 0:
        raise ValueError(
            f"vector_quantize: {row['bad_dim']} row(s) in {column!r} do not have "
            f"the declared dimension {dim} (reference errors on short blobs, "
            "sqlite-vector.c:1219-1225)"
        )
    return resolve_params(row["vmin"], row["vmax"], row["n"], qtype)


def _q_round(r: Column, lo: Column | int, hi: Column | int) -> Column:
    """q_round_u8/s8 (sqlite-vector.c:495-515) as a Catalyst expression.

    half-away-from-zero (r+0.5 / r-0.5) -> clamp -> truncate toward
    zero. NaN -> 0, +Inf -> hi, -Inf -> lo. Uses floor/ceil (not cast)
    for truncation so the DuckDB oracle — whose double->int CAST
    rounds instead of truncating — can mirror it exactly.
    """
    lo_c = F.lit(lo) if isinstance(lo, int) else lo
    hi_c = F.lit(hi) if isinstance(hi, int) else hi
    t = F.when(r >= 0.0, r + F.lit(0.5)).otherwise(r - F.lit(0.5))
    trunc = F.when(t >= 0.0, F.floor(t)).otherwise(-F.floor(-t))
    return (
        F.when(F.isnan(r), F.lit(0).cast("bigint"))
        .when(r == F.lit(_INF), hi_c.cast("bigint"))
        .when(r == F.lit(-_INF), lo_c.cast("bigint"))
        .when(t >= hi_c.cast("double"), hi_c.cast("bigint"))
        .when(t <= lo_c.cast("double"), lo_c.cast("bigint"))
        .otherwise(trunc)
    )


def quantize_codes_column(
    column: str | Column,
    scale: float | Column,
    offset: float | Column,
    lo: int | Column = 0,
    hi: int | Column = 255,
) -> Column:
    """ARRAY<numeric> -> ARRAY<SMALLINT> quantized codes.

    ``scale``/``offset``/``lo``/``hi`` may be Columns so quantization
    parameters can be computed IN-PLAN (a 1-row params subquery
    broadcast-cross-joined to the corpus) — one Spark action for the
    whole build + scan pipeline, no driver round-trip.
    """
    c = F.col(column) if isinstance(column, str) else column
    sc = F.lit(float(scale)) if not isinstance(scale, Column) else scale
    off = F.lit(float(offset)) if not isinstance(offset, Column) else offset
    return F.transform(c, lambda x: _q_round((x.cast("double") - off) * sc, lo, hi).cast("smallint"))


def quantize_codes_pandas_udf(scale: float, offset: float, lo: int, hi: int):
    """Arrow/NumPy encode kernel — the fast-backend twin of
    quantize_codes_column. Integer codes are backend-independent
    (trunc-after-±0.5 in float64, NaN->0, Inf->bounds — the exact
    q_round semantics, sqlite-vector.c:495-515), so unlike the
    distance kernels this path is BIT-IDENTICAL to the codegen one:
    trunc-then-clip == clamp-then-trunc for every float64 input."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, ShortType

    @pandas_udf(ArrayType(ShortType()))
    def enc(col: pd.Series) -> pd.Series:
        import numpy as np

        def one(v):
            if v is None:
                return None
            a = np.asarray(v, dtype=np.float64)
            s = (a - offset) * scale
            r = np.trunc(s + np.where(s >= 0.0, 0.5, -0.5))
            r = np.where(np.isnan(s), 0.0, r)
            return np.clip(r, lo, hi).astype(np.int16)

        return col.map(one)

    return enc


def quantize_query(query: Sequence[float], params: QuantParams) -> list[int]:
    """Driver-side query quantization (vQuantRun, sqlite-vector.c:
    2171-2177) — same q_round math in Python doubles."""

    def q_round(s: float) -> int:
        if math.isnan(s):
            return 0
        if math.isinf(s):
            return params.hi if s > 0 else params.lo
        r = s + (0.5 if s >= 0.0 else -0.5)
        if r >= float(params.hi):
            return params.hi
        if r <= float(params.lo):
            return params.lo
        return math.trunc(r)

    return [q_round((float(x) - params.offset) * params.scale) for x in query]


# ------------------------------------------------------------------ API


def shadow_name(table: str, column: str) -> str:
    """vector0_<table>_<column> (sqlite-vector.c:1000-1002)."""
    return f"vector0_{table}_{column}"


def vector_quantize(
    df: DataFrame,
    column: str,
    dest_path: str,
    id_col: str = "id",
    qtype: QType = QType.AUTO,
    catalog=None,
    table: str | None = None,
    max_memory: int | None = None,
    dim: int | None = None,
    include_cols: Sequence[str] | None = None,
) -> QuantParams:
    """Build the quantized replica (parity: vector_quantize).

    Job 1: global min/max agg. Job 2: write Parquet(id, qvec codes).
    NULL vectors are skipped (sqlite-vector.c:1214). Returns the
    resolved params (count = rows quantized, the reference's return
    value). Persists params to the catalog if given (1440-1445).

    ``max_memory`` mirrors the reference's chunking budget
    (sqlite-vector.c:1161, 1182-1186): chunk capacity =
    max_memory / (8 + dim) records, expressed here as
    ``maxRecordsPerFile`` so each output file is one readable
    "chunk" no bigger than the budget.

    ``include_cols``: payload columns copied INTO the replica —
    filtered vector search's scale path. A metadata predicate then
    pushes down into the REPLICA scan itself (PushedFilters on the
    shadow parquet), instead of forcing a corpus-scale id join or a
    fall-back to the exact tier; the reference has no filtered
    search, so this extension follows the standard vector-store
    design (attribute-filtered ANN). The catalog records the list so
    the router knows which predicates the replica can answer."""
    params = compute_quant_params(df, column, qtype, dim=dim)
    # runtime backend dispatch (init_distance_functions analog): the
    # Arrow/NumPy encode produces bit-identical integer codes ~10x
    # faster at high dims; HOF expression stays the default
    from sqlite_vector_spark.version import vector_backend

    if vector_backend() == "arrow-numpy":
        enc = quantize_codes_pandas_udf(params.scale, params.offset, params.lo, params.hi)
        code_col = enc(F.col(column).cast("array<double>"))
    else:
        code_col = quantize_codes_column(column, params.scale, params.offset, params.lo, params.hi)
    extra = [F.col(c) for c in (include_cols or [])]
    codes = (
        df.where(F.col(column).isNotNull())
        .select(F.col(id_col).cast("bigint").alias("id"), code_col.alias("qvec"), *extra)
    )
    writer = codes.write.mode("overwrite")
    if max_memory is not None and dim is not None:
        writer = writer.option("maxRecordsPerFile", max(1, int(max_memory) // (8 + int(dim))))
    writer.parquet(dest_path)
    if catalog is not None and table is not None:
        catalog.set_quant_params(
            table, column, qtype=params.qtype, scale=params.scale, offset=params.offset,
            path=dest_path, include_cols=list(include_cols) if include_cols else None,
        )
    return params


@dataclass
class QuantUpdateReport:
    """Result of an append-mode quantize update (vector_quantize_update)."""

    params: QuantParams  # the frozen params, count bumped by n_appended
    n_appended: int
    new_vmin: float | None
    new_vmax: float | None
    #: how far the new batch's value range pokes outside the frozen
    #: params' representable range, as a fraction of that range's width
    #: (0.0 = fully inside; values outside saturate to lo/hi codes)
    drift: float
    rebuild_recommended: bool


def params_value_range(params: QuantParams) -> tuple[float, float]:
    """The [vmin, vmax] value interval the frozen params represent
    without saturation (inverse of resolve_params)."""
    if params.qtype == "U8BIT":
        width = 255.0 / params.scale if params.scale not in (0.0, _INF) else 0.0
        return params.offset, params.offset + width
    abs_max = 127.0 / params.scale if params.scale not in (0.0, _INF) else 0.0
    return -abs_max, abs_max


def vector_quantize_update(
    new_df: DataFrame,
    column: str,
    dest_path: str,
    params: QuantParams,
    id_col: str = "id",
    drift_threshold: float = 0.05,
    catalog=None,
    table: str | None = None,
    include_cols: Sequence[str] | None = None,
) -> QuantUpdateReport:
    """Append-mode index maintenance: encode ONLY the new rows against
    the FROZEN params and append them to the existing replica.

    ``include_cols`` must match the columns the replica was built
    with (vector_quantize include_cols=) — appended files otherwise
    lack the payload columns and filtered scans over the store go
    schema-inconsistent. When a catalog is given and the argument is
    omitted, the registered list is used automatically, and the
    catalog marker is preserved across the append.

    The reference's only maintenance path is a full drop-and-rebuild
    (sqlite-vector.c:1418-1427); at 100 TB a daily-append pipeline
    can't re-encode the whole corpus for a 0.1% delta, so this is the
    scale path. One pass over the new rows: the drift check's
    quant_params_agg min/max/count ride the write
    (sinks.write_observed). The existing files are never read or
    rewritten.

    Frozen params mean values outside the original range SATURATE to
    the lo/hi codes. The report's ``drift`` measures how far the new
    batch's range pokes outside the representable interval (fraction
    of its width); ``rebuild_recommended`` is set when it exceeds
    ``drift_threshold`` — the signal to schedule a full
    vector_quantize rebuild. Appending with frozen params is EXACTLY
    equivalent to having had the new rows present at build time
    whenever the global min/max is unchanged (tests prove append ==
    rebuild); only the params-deciding extremes make the two differ.
    """
    from sqlite_vector_spark.sinks import write_observed
    from sqlite_vector_spark.version import vector_backend

    if vector_backend() == "arrow-numpy":
        enc = quantize_codes_pandas_udf(params.scale, params.offset, params.lo, params.hi)
        code_col = enc(F.col(column).cast("array<double>"))
    else:
        code_col = quantize_codes_column(column, params.scale, params.offset, params.lo, params.hi)
    inc = list(include_cols) if include_cols else None
    if inc is None and catalog is not None and table is not None:
        try:
            inc = catalog.get(table, column).quantized_include_cols
        except KeyError:
            inc = None
    extra = [F.col(c) for c in (inc or [])]
    row = write_observed(
        new_df.where(F.col(column).isNotNull()), dest_path, quant_params_agg(column),
        columns=[F.col(id_col).cast("bigint").alias("id"), code_col.alias("qvec"), *extra],
    )
    if row is None:
        return QuantUpdateReport(params, 0, None, None, 0.0, False)
    n_new = int(row["n"])

    new_vmin, new_vmax = float(row["vmin"]), float(row["vmax"])
    lo_v, hi_v = params_value_range(params)
    width = hi_v - lo_v
    overshoot = max(lo_v - new_vmin, new_vmax - hi_v, 0.0)
    if width > 0.0:
        drift = overshoot / width
    else:
        # degenerate params (constant corpus, scale=+Inf): any new
        # value off the constant saturates — treat as full drift
        drift = _INF if overshoot > 0.0 else 0.0
    updated = QuantParams(params.qtype, params.scale, params.offset, params.count + n_new)
    if catalog is not None and table is not None:
        catalog.set_quant_params(
            table, column, qtype=updated.qtype, scale=updated.scale,
            offset=updated.offset, path=dest_path, include_cols=inc,
        )
    return QuantUpdateReport(updated, n_new, new_vmin, new_vmax, drift, drift > drift_threshold)


def vector_quantize_scan(
    codes_df: DataFrame,
    query: Sequence[float],
    params: QuantParams,
    k: int,
    metric: str | Metric = Metric.L2,
    id_col: str = "id",
    codes_col: str = "qvec",
) -> DataFrame:
    """Approximate kNN in the quantized code domain.

    The query is quantized driver-side with the stored scale/offset;
    distances are computed u8/i8-code vs u8/i8-code and returned in
    QUANTIZED UNITS (≈ scale x true distance for L1/L2, scale² for
    SQUARED_L2) — exactly like the reference (SURVEY §2.3), never
    rescaled.
    """
    qcodes = quantize_query(query, params)
    return full_scan(codes_df, codes_col, [float(c) for c in qcodes], k, metric, id_col=id_col)


def vector_quantize_scan_stream(
    codes_df: DataFrame,
    query: Sequence[float],
    params: QuantParams,
    metric: str | Metric = Metric.L2,
    id_col: str = "id",
    codes_col: str = "qvec",
) -> DataFrame:
    """Pipelined approximate scoring of every row (no k, no sort)."""
    qcodes = quantize_query(query, params)
    return full_scan_stream(codes_df, codes_col, [float(c) for c in qcodes], metric, id_col=id_col)


def vector_quantize_memory(codes_df: DataFrame, codes_col: str = "qvec") -> int:
    """Bytes needed to preload: Σ(8 + dim) per row — the reference's
    SUM(LENGTH(data)) over [int64 rowid | uint8[dim]] records
    (sqlite-vector.c:1016-1018, 1161)."""
    row = codes_df.agg(F.sum(F.size(F.col(codes_col)) + F.lit(8)).alias("bytes")).collect()[0]
    return int(row["bytes"] or 0)


def vector_quantize_preload(codes_df: DataFrame) -> DataFrame:
    """persist + materialize (parity: vector_quantize_preload,
    sqlite-vector.c:1338-1404). The cache is filled by one job that
    scans every partition into the ``noop`` sink; ``count()`` would
    add a shuffle to a final aggregate, which adaptive execution runs
    as 3 jobs."""
    from pyspark import StorageLevel

    codes_df.persist(StorageLevel.MEMORY_AND_DISK)
    codes_df.write.format("noop").mode("overwrite").save()
    return codes_df


def vector_quantize_cleanup(codes_df: DataFrame | None = None, dest_path: str | None = None, catalog=None, table: str | None = None, column: str | None = None) -> None:
    """unpersist + drop the replica (parity: vector_quantize_cleanup,
    sqlite-vector.c:1501-1524). The replica is deleted through fsutil,
    on whatever filesystem Spark wrote it to (a missing one is a no-op)."""
    from sqlite_vector_spark import fsutil

    if codes_df is not None:
        codes_df.unpersist()
    if dest_path:
        fsutil.delete(fsutil.active_spark(), dest_path, recursive=True)
    if catalog is not None and table and column:
        ctx = catalog.get(table, column)
        ctx.qscale = ctx.qoffset = ctx.resolved_qtype = ctx.quantized_path = None
        catalog._serialize(ctx)
