"""Distance kernels as Catalyst Column expressions (+ NumPy backend).

Semantics ground truth: the reference CPU kernels (SURVEY.md §2.5;
/root/reference/src/distance-cpu.c):

- L2          sqrt(Σ(a-b)²)                distance-cpu.c:39-68
- SQUARED_L2  Σ(a-b)²                      distance-cpu.c:70-72
- COSINE      1 − dot/(‖a‖·‖b‖); zero vec → 1.0   distance-cpu.c:74-110
- DOT         −Σ a·b (negated: smaller = closer)  distance-cpu.c:112-136
- L1          Σ|a−b|                       distance-cpu.c:138-159
- every emitted distance with |d| ≤ 8·FLT_EPSILON snaps to 0.0
  (nearly_zero_float32, sqlite-vector.c:994-996)

Engine semantics: elements are cast to DOUBLE and accumulated with a
sequential left fold (``aggregate``), so results are deterministic and
bit-reproducible — the same fold the DuckDB oracle performs via
``list_reduce``. Only IEEE-exact ops (+ - * / sqrt abs) appear in the
value path, so Spark and any IEEE-754 oracle agree bitwise.

Scale notes:
- The HOF path is whole-stage-codegen'd: the distance computation runs
  fused inside the scan stage — no shuffle, no Python, columnar Parquet
  reads with pruned schema.
- ``distance_pandas_udf`` is the Arrow/NumPy batch path (the analog of
  the reference's SIMD kernels, distance-cpu.c:755-812): one Arrow
  batch in, vectorized NumPy out. The default "auto" backend picks it
  for literal-query distances at dim >= AUTO_DIM (32), except on scans
  known to read less than AUTO_SCAN_BYTES (4 MiB), where the Python
  round trip costs more than the fold; both constants and their
  measurements are in version.py.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column

from sqlite_vector_spark.types import Metric, parse_metric

#: 8 * FLT_EPSILON — reference nearly_zero_float32 (sqlite-vector.c:994-996)
EPS_SNAP = 8 * 1.1920928955078125e-07


def literal_sql(x) -> str:
    """Spark SQL text of a literal that parses back to the same value:
    a float is a DOUBLE (repr is the shortest round-trip decimal; the D
    suffix keeps it DOUBLE, a bare 0.1 parses as DECIMAL), an int a
    BIGINT, a sequence an array. NaN and ±Inf have no literal syntax
    and a cast from a string is nullable, which would make the array's
    ``containsNull`` true, so the cast sits in a coalesce with a
    non-null literal; constant folding reduces it to the same Literal."""
    if isinstance(x, float):
        if math.isnan(x):
            return "coalesce(double('NaN'), 0D)"
        if math.isinf(x):
            return f"coalesce(double('{'-' if x < 0 else ''}Infinity'), 0D)"
        return f"{x!r}D"
    if isinstance(x, int):
        return f"{x}L"
    return f"array({', '.join(map(literal_sql, x))})"


def array_literal(values: Sequence) -> Column:
    """An ARRAY literal column built in ONE JVM call (one SQL string)
    instead of one py4j call per element (64 doubles: 0.3 ms against
    33 ms). Python floats become DOUBLE, ints BIGINT, nested sequences
    nested arrays; the optimized plan equals the F.array(*[F.lit(x)])
    form's, bit for bit, with ``containsNull`` false. As an array
    Literal the values reach generated code by reference, so queries
    that differ only in these values reuse one compiled class."""
    return F.expr(literal_sql(values))


def vector_literal(values: Sequence[float]) -> Column:
    """An ARRAY<DOUBLE> literal column for a query vector.

    Query vectors ride into the plan as literals → they are broadcast
    with the serialized plan itself; no join needed for single-query
    scoring (mirrors the hidden-column argument passing of the
    reference's TVFs, sqlite-vector.c:1850-1880).
    """
    return array_literal([float(v) for v in values])


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _d(x: Column) -> Column:
    return x.cast("double")


def _fold_sum(pairs: Column) -> Column:
    # sequential left fold in DOUBLE — deterministic accumulation order,
    # mirrored by list_reduce(list_prepend(0.0, ...)) in the oracle SQL
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)


def _dot_sum(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: _d(x) * _d(y)))


def squared_l2(a: str | Column, b: str | Column) -> Column:
    a, b = _col(a), _col(b)
    return _fold_sum(F.zip_with(a, b, lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y))))


def l2(a: str | Column, b: str | Column) -> Column:
    return F.sqrt(squared_l2(a, b))


def l1(a: str | Column, b: str | Column) -> Column:
    a, b = _col(a), _col(b)
    return _fold_sum(F.zip_with(a, b, lambda x, y: F.abs(_d(x) - _d(y))))


def dot(a: str | Column, b: str | Column) -> Column:
    # negated so that smaller = more similar (distance-cpu.c:112-136)
    return -_dot_sum(_col(a), _col(b))


def _let(value: Column, body) -> Column:
    """Bind ``value`` once, reference it many times: single-element
    array + transform = a let-binding in Catalyst expression space.

    Why: a CASE whose branches repeat a subexpression (snap_zero, the
    cosine zero-norm guard) duplicates the whole fold subtree, and
    when Catalyst pushes a filter on the result into a join condition
    the fold gets inlined AGAIN — up to 4 evaluations per row pair.
    Cross-operator common-subexpression elimination doesn't exist, so
    we eliminate it by construction. Same IEEE ops, same order →
    bit-identical to the unbound form (oracle hashes unchanged)."""
    return F.transform(F.array(value), body)[0]


def cosine(a: str | Column, b: str | Column) -> Column:
    # 1 − dot/(‖a‖·‖b‖); zero-norm → 1.0 (distance-cpu.c:105-107)
    a, b = _col(a), _col(b)
    num = _dot_sum(a, b)
    denom = F.sqrt(_dot_sum(a, a)) * F.sqrt(_dot_sum(b, b))
    return _let(
        denom,
        lambda dn: F.when(dn == F.lit(0.0), F.lit(1.0)).otherwise(F.lit(1.0) - num / dn),
    )


def snap_zero(d: Column) -> Column:
    """|d| ≤ 8·FLT_EPSILON → 0.0 (sqlite-vector.c:994-996, applied to
    every emitted distance: 2099, 2143, 2217, 1927, 1959, 1985)."""
    return _let(d, lambda v: F.when(F.abs(v) <= F.lit(EPS_SNAP), F.lit(0.0)).otherwise(v))


_BUILDERS = {
    Metric.L2: l2,
    Metric.SQUARED_L2: squared_l2,
    Metric.COSINE: cosine,
    Metric.DOT: dot,
    Metric.L1: l1,
}

# The same trees as SQL text, node for node (lambda arguments are
# named x, y by position, as PySpark names them): a distance over a
# named column and a literal query is then ONE F.expr call instead of
# the ~100 py4j calls PySpark spends building the lambdas above
# (~65 ms of a single query's plan build). test_distance pins the
# optimized plans of both forms equal for every metric.

_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def sql_operand(x) -> str | None:
    """SQL text of a distance operand that has one: a plain column
    name (quoted, so a keyword still names the column), or a literal
    vector (as one DOUBLE array literal)."""
    if isinstance(x, str):
        return f"`{x}`" if _NAME.fullmatch(x) else None
    if isinstance(x, (list, tuple)):
        return literal_sql([float(v) for v in x])
    return None


def fold_sum_sql(pairs: str) -> str:
    return f"aggregate({pairs}, 0.0D, (x, y) -> x + y)"


def _dot_sum_sql(a: str, b: str) -> str:
    return fold_sum_sql(f"zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE))")


def _squared_l2_sql(a: str, b: str) -> str:
    diff = "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
    return fold_sum_sql(f"zip_with({a}, {b}, (x, y) -> {diff} * {diff})")


def let_sql(value: str, body: str) -> str:
    """_let as SQL: ``body`` refers to the bound value as ``x``."""
    return f"transform(array({value}), x -> {body})[0]"


def _cosine_sql(a: str, b: str) -> str:
    denom = f"sqrt({_dot_sum_sql(a, a)}) * sqrt({_dot_sum_sql(b, b)})"
    return let_sql(denom, f"CASE WHEN x = 0.0D THEN 1.0D ELSE 1.0D - {_dot_sum_sql(a, b)} / x END")


def snap_zero_sql(d: str) -> str:
    return let_sql(d, f"CASE WHEN abs(x) <= {literal_sql(EPS_SNAP)} THEN 0.0D ELSE x END")


_SQL_BUILDERS = {
    Metric.L2: lambda a, b: f"sqrt({_squared_l2_sql(a, b)})",
    Metric.SQUARED_L2: _squared_l2_sql,
    Metric.COSINE: _cosine_sql,
    Metric.DOT: lambda a, b: f"-({_dot_sum_sql(a, b)})",
    Metric.L1: lambda a, b: fold_sum_sql(
        f"zip_with({a}, {b}, (x, y) -> abs(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)))"
    ),
}


def distance(
    a: str | Column,
    b: str | Column | Sequence[float],
    metric: str | Metric = Metric.L2,
    size_bytes: int | None = None,
) -> Column:
    """Distance between two vector columns (or a column and a Python
    query vector), with the reference's zero-snap applied.

    This is the single entry point all operators compose; it is a pure
    Catalyst expression → fused into whole-stage codegen at the scan.
    ``size_bytes`` is what a scan knows of its input's size (see
    version.resolve_backend); None keeps the per-dim rule.
    """
    m = parse_metric(metric) if isinstance(metric, str) else metric
    if isinstance(b, (list, tuple)):
        # runtime backend dispatch, mirroring init_distance_functions
        # (reference distance-cpu.c:797-812): the Arrow/NumPy kernel
        # only exists for literal query vectors (column-vs-column stays
        # codegen). The default "auto" resolves by dim and scan size at
        # plan-build time. NB: NumPy's pairwise summation is not
        # bit-identical to the sequential fold — oracle-gated paths pin
        # "codegen" (__spark_entry__._pinned); ranks agree (test_distance).
        from sqlite_vector_spark.version import resolve_backend

        if resolve_backend(len(b), size_bytes) == "arrow-numpy":
            return distance_pandas_udf(m, b)(_col(a))
    sa, sb = sql_operand(a), sql_operand(b)
    if sa is not None and sb is not None:
        return F.expr(snap_zero_sql(_SQL_BUILDERS[m](sa, sb)))
    if isinstance(b, (list, tuple)):
        b = vector_literal(b)
    return snap_zero(_BUILDERS[m](a, b))


def batch_matrix(col, dtype="float64"):
    """(B, dim) matrix from an Arrow-batch pandas Series of
    fixed-length array rows.

    ``np.stack`` over the per-row ndarrays (what Arrow→pandas already
    hands us) is ~4.4x faster than ``np.array(col.tolist(), ...)``,
    which round-trips every element through a Python object (measured
    200k x 768 L2 scan: 4.8 s -> 1.1 s end to end, SCALE.md §backend).
    Value-exact either way: f32 -> f64 widening is the same IEEE
    conversion whether it happens per-element in Python or in the
    vectorized astype."""
    import numpy as np

    arr = col.to_numpy()
    if len(arr) == 0:
        return np.empty((0, 0), dtype=dtype)
    return np.stack(arr).astype(dtype, copy=False)


def distance_pandas_udf(metric: str | Metric, query: Sequence[float]):
    """Arrow/NumPy batch kernel: the 'SIMD' backend.

    Returns a pandas UDF ``ARRAY<FLOAT/...> -> DOUBLE`` computing the
    metric against a fixed query vector. NumPy reduces each Arrow batch
    with BLAS-grade vectorization — the Spark analog of the reference's
    AVX2/NEON kernels (distance-avx2.c, distance-neon.c). Accumulation
    order differs from the codegen path (pairwise NumPy sum), so use
    for speed, not for bit-exact oracle parity.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m = parse_metric(metric) if isinstance(metric, str) else metric
    q = np.asarray(list(query), dtype=np.float64)

    @pandas_udf("double")
    def _kernel(col: pd.Series) -> pd.Series:
        mat = batch_matrix(col)  # (batch, dim)
        if m is Metric.SQUARED_L2:
            d = ((mat - q) ** 2).sum(axis=1)
        elif m is Metric.L2:
            d = np.sqrt(((mat - q) ** 2).sum(axis=1))
        elif m is Metric.L1:
            d = np.abs(mat - q).sum(axis=1)
        elif m is Metric.DOT:
            d = -(mat @ q)
        elif m is Metric.COSINE:
            num = mat @ q
            denom = np.sqrt((mat * mat).sum(axis=1)) * np.sqrt((q * q).sum())
            with np.errstate(divide="ignore", invalid="ignore"):
                d = np.where(denom == 0.0, 1.0, 1.0 - num / denom)
        else:  # pragma: no cover
            raise ValueError(m)
        d = np.where(np.abs(d) <= EPS_SNAP, 0.0, d)
        return pd.Series(d)

    return _kernel
