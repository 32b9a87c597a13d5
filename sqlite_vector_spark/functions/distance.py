"""Distance kernels: one SQL-text tree per metric (+ NumPy backend).

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

One tree per metric: ``distance_tree_sql`` writes each metric's
snapped fold as Spark SQL text over two operand texts. ``distance()``
parses it in one F.expr call, the ``vector_distance`` macro (sql.py)
expands to it, and the PQ encoder and the dedup cosine folds are
built from its parts. No operand text sits inside a lambda whose
variable could shadow a column it reads (``lambda_var``).

Operand rule (``sql_operand``): a ``str`` names a column the way
F.col reads it; a list or tuple is a literal vector; an F.col(...) or
F.expr(...) Column is read back from its JVM node. Any other Column
(``F.slice(...)``, ``df["x"]``, a cast) raises TypeError: project it
under a name first, or write it as F.expr text.

Scale notes:
- The HOF path is whole-stage-codegen'd: the distance computation runs
  fused inside the scan stage — no shuffle, no Python, columnar Parquet
  reads with pruned schema.
- ``distance_pandas_udf`` is the Arrow/NumPy batch path (the analog of
  the reference's SIMD kernels, distance-cpu.c:755-812): one Arrow
  batch in, vectorized NumPy out. The default "auto" backend picks it
  for literal-query distances at dim >= AUTO_DIM (32), except on scans
  known to read at most scale.SCAN_BYTES (4 MiB), where the Python
  round trip costs more than the fold; the measurements are next to
  each constant (version.py, scale.py). It folds each lane in the tree's
  order, so the two backends give bit-identical distances.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column

from sqlite_vector_spark import scale
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


# one part of a column name as F.col splits it (Spark's
# UnresolvedAttribute.parseAttributeName): backtick-quoted, a doubled
# backtick inside standing for one, or bare up to the next dot
_NAME_PART = r"`((?:[^`]|``)*)`|([^.`]+)"
_NAME = re.compile(rf"(?:{_NAME_PART})(?:\.(?:{_NAME_PART}))*")


def _quote_name(parts) -> str:
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def sql_operand(x) -> str:
    """SQL text of a vector operand (the module docstring's operand
    rule): a ``str`` is a column name, read the way F.col reads it,
    each part quoted so a keyword still names the column; a list or
    tuple is a DOUBLE array literal; an F.col(...) or F.expr(...)
    Column is read back from its JVM node. Any other Column raises
    TypeError: project it under a name first and pass the name."""
    if isinstance(x, str):
        if not _NAME.fullmatch(x):
            raise ValueError(f"not a column name: {x!r}")
        return _quote_name(q.replace("``", "`") if q else p for q, p in re.findall(_NAME_PART, x))
    if isinstance(x, (list, tuple)):
        return literal_sql([float(v) for v in x])
    if isinstance(x, Column):
        node = x._jc.node()
        kind = node.getClass().getSimpleName()
        if kind == "SqlExpression":
            return node.expression()
        if kind == "UnresolvedAttribute":
            return _quote_name(node.nameParts().mkString("\0").split("\0"))
    raise TypeError(
        f"vector operand {x!r} is not a column name, F.col(...), F.expr(...) or a "
        "literal vector; project it under a name first (df.withColumn('v', ...)) "
        "and pass the name"
    )


def in_sql(x: str, values: Sequence[int]) -> str:
    """SQL text of ``x IN (values)`` over integers, ``x`` a column name
    read as sql_operand reads it. No values is ``false``: ``IN ()``
    does not parse, and an empty set keeps no row."""
    values = [str(int(v)) for v in values]
    return f"{sql_operand(x)} IN ({', '.join(values)})" if values else "false"


def lambda_var(name: str, *outer: str) -> str:
    """``name`` for a lambda variable whose body also holds the SQL
    texts ``outer``, with ``_`` prepended until no identifier in them
    reads the same: in the body the variable would shadow a column of
    its name (names resolve case-insensitively)."""
    used = {t.lower() for o in outer for t in re.findall(r"\w+", o)}
    while name.lower() in used:
        name = "_" + name
    return name


def let_sql(value: str, var: str, body: str) -> str:
    """Bind ``value`` once as ``var``, reference it many times in
    ``body``: single-element array + transform = a let-binding in
    Catalyst expression space.

    Why: a CASE whose branches repeat a subexpression (snap_zero, the
    cosine zero-norm guard) duplicates the whole fold subtree, and
    when Catalyst pushes a filter on the result into a join condition
    the fold gets inlined AGAIN — up to 4 evaluations per row pair.
    Cross-operator common-subexpression elimination doesn't exist, so
    we eliminate it by construction. Same IEEE ops, same order →
    bit-identical to the unbound form (oracle hashes unchanged)."""
    return f"transform(array({value}), {var} -> {body})[0]"


def _let(value: Column, body) -> Column:
    """let_sql for composed Columns (snap_zero)."""
    return F.transform(F.array(value), body)[0]


def snap_zero(d: Column) -> Column:
    """|d| ≤ 8·FLT_EPSILON → 0.0 (sqlite-vector.c:994-996, applied to
    every emitted distance: 2099, 2143, 2217, 1927, 1959, 1985)."""
    return _let(d, lambda v: F.when(F.abs(v) <= F.lit(EPS_SNAP), F.lit(0.0)).otherwise(v))


def snap_zero_sql(d: str) -> str:
    return let_sql(d, "v", f"CASE WHEN abs(v) <= {literal_sql(EPS_SNAP)} THEN 0.0D ELSE v END")


def fold_sum_sql(pairs: str) -> str:
    # sequential left fold in DOUBLE — deterministic accumulation order,
    # mirrored by list_reduce(list_prepend(0.0, ...)) in the oracle SQL
    return f"aggregate({pairs}, 0.0D, (acc, x) -> acc + x)"


def _zip_fold_sql(a: str, b: str, term) -> str:
    """Σ term(x, y) over the lanes of a and b in order, each lane
    widened to DOUBLE."""
    return fold_sum_sql(f"zip_with({a}, {b}, (x, y) -> {term('CAST(x AS DOUBLE)', 'CAST(y AS DOUBLE)')})")


def dot_sum_sql(a: str, b: str) -> str:
    return _zip_fold_sql(a, b, lambda x, y: f"{x} * {y}")


def norm_sql(a: str) -> str:
    """‖a‖: the square root of the sequential self-dot fold."""
    return f"sqrt({dot_sum_sql(a, a)})"


def _cosine_sql(a: str, b: str) -> str:
    # 1 − dot/(‖a‖·‖b‖); zero-norm → 1.0 (distance-cpu.c:105-107). The
    # dot fold sits in the let body, so the bound name must not shadow
    # a column the operands read.
    dn = lambda_var("dn", a, b)
    return let_sql(
        f"{norm_sql(a)} * {norm_sql(b)}",
        dn,
        f"CASE WHEN {dn} = 0.0D THEN 1.0D ELSE 1.0D - {dot_sum_sql(a, b)} / {dn} END",
    )


def _squared_l2_sql(a: str, b: str) -> str:
    return _zip_fold_sql(a, b, lambda x, y: f"({x} - {y}) * ({x} - {y})")


_TREES = {
    Metric.L2: lambda a, b: f"sqrt({_squared_l2_sql(a, b)})",
    Metric.SQUARED_L2: _squared_l2_sql,
    Metric.COSINE: _cosine_sql,
    # negated so that smaller = more similar (distance-cpu.c:112-136)
    Metric.DOT: lambda a, b: f"-({dot_sum_sql(a, b)})",
    Metric.L1: lambda a, b: _zip_fold_sql(a, b, lambda x, y: f"abs({x} - {y})"),
}


def distance_tree_sql(a: str, b: str, metric: str | Metric = Metric.L2) -> str:
    """The one distance tree: SQL text of the snapped ``metric``
    distance between the vector operand texts ``a`` and ``b``."""
    m = parse_metric(metric) if isinstance(metric, str) else metric
    return snap_zero_sql(_TREES[m](a, b))


def distance_expr(
    a: str | Column,
    b: str | Column | Sequence[float],
    metric: str | Metric = Metric.L2,
    size_from: scale.Source = None,
) -> str | Column:
    """distance()'s two arms: the SQL text of the snapped fold, or,
    for a literal query the backend rule sends to the Arrow/NumPy
    kernel, that kernel's pandas UDF Column. A scan that builds its
    plan as one SQL statement (search.scan) splices the text; a UDF
    has no SQL text. ``size_from`` is the input a scan reads (see
    version.resolve_backend)."""
    m = parse_metric(metric) if isinstance(metric, str) else metric
    sa = sql_operand(a)
    if isinstance(b, (list, tuple)):
        # runtime backend dispatch, mirroring init_distance_functions
        # (reference distance-cpu.c:797-812): the Arrow/NumPy kernel
        # only exists for literal query vectors (column-vs-column stays
        # codegen). The default "auto" resolves by dim and scan size at
        # plan-build time; both backends give bit-identical values.
        from sqlite_vector_spark.version import resolve_backend

        if resolve_backend(len(b), size_from) == "arrow-numpy":
            return distance_pandas_udf(m, b)(F.col(a) if isinstance(a, str) else a)
    return distance_tree_sql(sa, sql_operand(b), m)


def distance(
    a: str | Column,
    b: str | Column | Sequence[float],
    metric: str | Metric = Metric.L2,
    size_bytes: int | None = None,
) -> Column:
    """Distance between two vector columns (or a column and a Python
    query vector), with the reference's zero-snap applied. Operands
    follow sql_operand's rule.

    This is the single entry point all operators compose; it is a pure
    Catalyst expression → fused into whole-stage codegen at the scan.
    ``size_bytes`` is what a scan knows of its input's size (see
    version.resolve_backend); None keeps the per-dim rule.
    """
    d = distance_expr(a, b, metric, size_bytes)
    return d if isinstance(d, Column) else F.expr(d)


def batch_matrix(col, dtype="float64", lanes: bool = False):
    """(B, dim) matrix from an Arrow-batch pandas Series of
    fixed-length array rows.

    ``np.stack`` over the per-row ndarrays (what Arrow→pandas already
    hands us) is ~4.4x faster than ``np.array(col.tolist(), ...)``,
    which round-trips every element through a Python object (measured
    200k x 768 L2 scan: 4.8 s -> 1.1 s end to end, SCALE.md §backend).
    Value-exact either way: f32 -> f64 widening is the same IEEE
    conversion whether it happens per-element in Python or in the
    vectorized astype. ``lanes=True`` lays the matrix out lane-major
    (each column contiguous), the layout ``fold_distances`` reads."""
    import numpy as np

    arr = col.to_numpy()
    if len(arr) == 0:
        return np.empty((0, 0), dtype=dtype)
    if lanes:
        return np.stack(arr, axis=1).astype(dtype, copy=False).T
    return np.stack(arr).astype(dtype, copy=False)


def fold_distances(np, mat, qmat, m: Metric):
    """(B, Q) distances with SEQUENTIAL dim-order accumulation: every
    output lane folds `acc = acc + term_i` in index order — the exact
    rounding of the scalar left fold in distance_tree_sql and the
    oracle's list_reduce (per-lane terms are rounded once, like
    `(x-y)*(x-y)`). Vectorized over the B x Q block; only the dim axis
    is a Python loop (~dim array ops per batch)."""
    b, dim = mat.shape
    nq = qmat.shape[0]
    acc = np.zeros((b, nq))
    if m in (Metric.L2, Metric.SQUARED_L2):
        for i in range(dim):
            diff = mat[:, i, None] - qmat[None, :, i]
            acc += diff * diff
        return np.sqrt(acc) if m is Metric.L2 else acc
    if m is Metric.L1:
        for i in range(dim):
            acc += np.abs(mat[:, i, None] - qmat[None, :, i])
        return acc
    if m is Metric.DOT:
        for i in range(dim):
            acc += mat[:, i, None] * qmat[None, :, i]
        return -acc
    if m is Metric.COSINE:
        cn = np.zeros(b)
        qn = np.zeros(nq)
        for i in range(dim):
            acc += mat[:, i, None] * qmat[None, :, i]
            cn += mat[:, i] * mat[:, i]
            qn += qmat[:, i] * qmat[:, i]
        denom = np.sqrt(cn)[:, None] * np.sqrt(qn)[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom == 0.0, 1.0, 1.0 - acc / denom)
    raise ValueError(m)  # pragma: no cover


def distance_pandas_udf(metric: str | Metric, query: Sequence[float]):
    """Arrow/NumPy batch kernel: the 'SIMD' backend.

    Returns a pandas UDF ``ARRAY<FLOAT/...> -> DOUBLE`` computing the
    metric against a fixed query vector, one vectorized NumPy op per
    lane over each Arrow batch — the Spark analog of the reference's
    AVX2/NEON kernels (distance-avx2.c, distance-neon.c). It folds in
    the codegen tree's order (fold_distances), so its distances are
    bit-identical to the fold's and the backend choice never changes
    a value.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    m = parse_metric(metric) if isinstance(metric, str) else metric
    q = np.asarray([list(query)], dtype=np.float64)  # (1, dim)

    @pandas_udf("double")
    def _kernel(col: pd.Series) -> pd.Series:
        d = fold_distances(np, batch_matrix(col, lanes=True), q, m)[:, 0]
        return pd.Series(np.where(np.abs(d) <= EPS_SNAP, 0.0, d))

    return _kernel
