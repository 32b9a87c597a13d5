"""Exact brute-force kNN: vector_full_scan / vector_full_scan_stream.

Parity (SURVEY.md §2.1 rows 13/15):
- ``vector_full_scan(table, column, qvec, k)`` (reference module
  sqlite-vector.c:2377-2403; scan loop vFullScanRun 2071-2113; k-slot
  top-k 2022-2069): streams every row, skips NULL vectors (2093-2096),
  keeps the k smallest distances, emits ascending.
- ``vector_full_scan_stream`` (2433-2459): scores EVERY row, no k, no
  sort — a pure projection.

Spark-first physical plan:
- ``ORDER BY distance, id LIMIT k`` compiles to
  **TakeOrderedAndProject**: each partition keeps a local k-heap, the
  driver merges P×k candidates — the distributed generalization of the
  reference's k-slot arrays. No full sort, no shuffle of the corpus;
  survives 100 TB because only P×k rows ever leave the executors.
- The distance expression is whole-stage-codegen'd into the Parquet
  scan stage; only (id, vector) columns are read (column pruning), and
  the NOT NULL filter is pushed to the scan.

Determinism note: the reference breaks distance ties by first-seen row
order (strict ``<`` at 2102) — not reproducible under parallel scan,
so this engine defines tie-break = ascending id (SURVEY.md §7 "hard
parts"). Oracle comparisons use the same rule.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from py4j.java_gateway import JavaClass
from pyspark.sql import Column, DataFrame

from sqlite_vector_spark import scale
from sqlite_vector_spark.functions.distance import distance_expr, sql_operand
from sqlite_vector_spark.types import Metric

_LOGICAL = "org.apache.spark.sql.catalyst.plans.logical."
#: the column an Arrow UDF distance is read from inside a statement
_UDF_COL = "_sv_distance"


def frames_sql(text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text)`` in which each keyword names its DataFrame:
    one parse and one analysis, a handful of py4j calls. Each frame
    enters as a CTE over its analyzed plan, the relation ``WITH name
    AS (...)`` would define, and Catalyst inlines it, so the plan is
    the one DataFrame calls would build and a cached frame is still
    served from its cache. Unlike ``spark.sql(text, name=df)`` no temp
    view is registered or dropped: dropping a temp view uncaches every
    cached plan equal to its own, a preloaded replica included.

    Written against Spark 4.1 (checked on 4.1.2). It builds Catalyst
    internals over py4j, signatures that are not public API and have
    changed between minor versions; check them on any Spark upgrade:
    ``UnresolvedWith(child: LogicalPlan, cteRelations: Seq[(String,
    SubqueryAlias, Option[Int])], allowRecursion: Boolean)``,
    ``SubqueryAlias(AliasIdentifier, LogicalPlan)``,
    ``AliasIdentifier(String)`` and
    ``org.apache.spark.sql.classic.Dataset.ofRows(SparkSession,
    LogicalPlan)``. Every router.knn tier runs through here, so any
    tier test exercises them."""
    spark = next(iter(frames.values())).sparkSession
    gw = spark._jvm._gateway_client
    none = JavaClass("scala.Option", gw).empty()
    alias, ident = JavaClass(_LOGICAL + "SubqueryAlias", gw), JavaClass(
        "org.apache.spark.sql.catalyst.AliasIdentifier", gw
    )
    ctes = [
        JavaClass("scala.Tuple3", gw)(name, alias(ident(name), df._jdf.logicalPlan()), none)
        for name, df in frames.items()
    ]
    jss = spark._jsparkSession
    plan = JavaClass(_LOGICAL + "UnresolvedWith", gw)(
        jss.sessionState().sqlParser().parsePlan(text),
        JavaClass("org.apache.spark.api.python.PythonUtils", gw).toSeq(ctes),
        False,
    )
    return DataFrame(JavaClass("org.apache.spark.sql.classic.Dataset", gw).ofRows(jss, plan), spark)


def scan_sql(
    src: str,
    column: str | None,
    dist: str,
    k: int | None,
    id_col: str = "id",
    name: str = "distance",
) -> str:
    """SQL text of the one single-query scan shape over the relation
    ``src``: the rows whose ``column`` is not NULL (every row when
    None) as (id BIGINT, ``name`` = ``dist``), ordered by (``name``,
    id) and cut at ``k`` (None: every row, in no order). ``ORDER BY
    ... LIMIT`` plans as TakeOrderedAndProject."""
    text = f"SELECT CAST({sql_operand(id_col)} AS BIGINT) AS id, {dist} AS {name} FROM {src}"
    if column is not None:
        text += f" WHERE {sql_operand(column)} IS NOT NULL"
    return text if k is None else f"{text} ORDER BY {name}, id LIMIT {int(k)}"


def readable(df: DataFrame, dist: str | Column) -> tuple[DataFrame, str]:
    """``(df, text)`` such that ``text`` reads ``dist`` in a statement
    over ``df``. SQL text passes through; an Arrow UDF Column has no
    SQL text, so it is added to ``df`` as a column and read by name
    (Catalyst pushes the scan's NOT NULL filter below it)."""
    if isinstance(dist, Column):
        return df.withColumn(_UDF_COL, dist), sql_operand(_UDF_COL)
    return df, dist


def scan(
    df: DataFrame,
    column: str | None,
    dist: str | Column,
    k: int | None,
    id_col: str = "id",
    name: str = "distance",
) -> DataFrame:
    """scan_sql over ``df`` as one statement. ``dist`` is the SQL text
    of the score, or the Arrow UDF Column the size gate chose."""
    df, dist = readable(df, dist)
    return frames_sql(scan_sql("src", column, dist, k, id_col, name), src=df)


def rerank(
    df: DataFrame,
    column: str,
    query: Sequence[float],
    k: int,
    metric: str | Metric,
    id_col: str,
    candidates: str,
    size_from: scale.Source = None,
    **frames: DataFrame,
) -> DataFrame:
    """The second stage of a two-stage search: exact top-k over the
    rows of ``df`` whose id the query ``candidates`` (over ``frames``)
    returns, joined as a broadcast semi-join before any row is scored.
    One statement; an Arrow distance (``size_from`` sizes the
    backend, see distance_expr) scores the joined rows in a second."""
    dist = distance_expr("vec", [float(x) for x in query], metric, size_from=size_from)
    rows = scan_sql("src", column, sql_operand(column), None, id_col, name="vec")
    joined = f"SELECT /*+ BROADCAST(c) */ * FROM ({rows}) LEFT SEMI JOIN ({candidates}) c USING (id)"
    if isinstance(dist, Column):
        return scan(frames_sql(joined, src=df, **frames), None, dist, k)
    return frames_sql(scan_sql(f"({joined})", None, dist, k), src=df, **frames)


def full_scan(
    df: DataFrame,
    column: str,
    query: Sequence[float] | Column,
    k: int,
    metric: str | Metric = Metric.L2,
    id_col: str = "id",
) -> DataFrame:
    """Exact kNN -> DataFrame(id BIGINT, distance DOUBLE), ascending.

    k=0 -> empty (reference sqlite-vector.c:1796); k > #rows -> all
    rows (unfilled INFINITY slots trimmed, 1816-1817); NULL vectors
    skipped (2093-2096).
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    return scan(df, column, distance_expr(column, query, metric, size_from=df), k, id_col)


def full_scan_stream(
    df: DataFrame,
    column: str,
    query: Sequence[float] | Column,
    metric: str | Metric = Metric.L2,
    id_col: str = "id",
) -> DataFrame:
    """Pipelined exact scoring of every row (no k, no sort) ->
    DataFrame(id, distance). A narrow projection: zero shuffles."""
    return scan(df, column, distance_expr(column, query, metric, size_from=df), None, id_col)


def full_scan_normalized_cosine(
    df: DataFrame,
    column: str,
    query: Sequence[float],
    k: int,
    id_col: str = "id",
) -> DataFrame:
    """Cosine top-k over a column REGISTERED as normalized: ONE dot
    fold per row instead of cosine's three (a·b plus both norms).

    The reference parses vector_init's ``normalized`` flag but never
    uses it (SURVEY §1.3); here the catalog flag buys a real plan
    improvement — at 100 TB the scan stage's fold count IS the
    compute bill, and unit-norm rows make ``1 − a·q̂`` mathematically
    equal to cosine distance. The query is normalized driver-side
    (constant work); a zero-norm query falls back to the cosine
    kernel, whose zero→1 rule a dot cannot express. Zero-norm corpus
    rows agree by construction (dot 0 → distance 1 == cosine's
    zero-vector rule). Same result contract as full_scan: ascending
    (distance, id), NULL skip, k=0 empty, snap-zero on the emitted
    distance.

    Equality with the cosine kernel is mathematical, not bitwise
    (cosine divides by computed norms ≈ 1.0), so this path is routed
    only through the catalog's normalized flag — an explicit user
    declaration — and is equality-tested, not oracle-hash-gated."""
    import math

    from sqlite_vector_spark.functions.distance import snap_zero, snap_zero_sql

    if k < 0:
        raise ValueError("k must be >= 0")
    q = [float(x) for x in query]
    norm = math.sqrt(sum(x * x for x in q))
    if norm == 0.0:
        return full_scan(df, column, q, k, Metric.COSINE, id_col=id_col)
    # the DOT distance is the NEGATED dot (smaller = closer) and keeps
    # full_scan's backend dispatch (codegen fold vs Arrow matmul);
    # 1 + it == 1 − a·q̂ == cosine for unit rows
    d = distance_expr(column, [x / norm for x in q], Metric.DOT, size_from=df)
    d = snap_zero(F.lit(1.0) + d) if isinstance(d, Column) else snap_zero_sql(f"1.0D + {d}")
    return scan(df, column, d, k, id_col)


def matryoshka_scan(
    df: DataFrame,
    column: str,
    query: Sequence[float],
    k: int,
    coarse_dim: int,
    coarse_m: int,
    metric: str | Metric = Metric.L2,
    id_col: str = "id",
) -> DataFrame:
    """Two-stage exact search over Matryoshka-style embeddings: a
    coarse pass on the first ``coarse_dim`` dimensions keeps the best
    ``coarse_m`` candidates, an exact full-dimension pass reranks them
    to the final top-k (Kusupati et al., "Matryoshka Representation
    Learning" — MRL-trained prefixes preserve neighborhoods, so the
    truncated scan is a high-recall prefilter at coarse_dim/dim of the
    distance FLOPs).

    The compressed-tier shape WITHOUT a stored index: both passes are
    the k-slot TakeOrderedAndProject, the coarse pass reads the same
    parquet but folds only coarse_dim lanes, and the rerank pass
    touches ``coarse_m`` rows via a broadcast id semi-join (no shuffle
    of the corpus; survivors' ids — not vectors — are the only thing
    collected-equivalent in the plan). Complements quantize/PQ/BQ
    reranks: prefix truncation instead of codes.

    Same result contract as every scan: ascending (distance, id),
    NULL vectors skipped, ties by id.
    """
    if coarse_dim <= 0 or coarse_dim > len(query):
        raise ValueError("coarse_dim must be in 1..len(query)")
    if coarse_m < k:
        raise ValueError("coarse_m must be >= k (rerank cannot widen)")
    # both passes pick their backend by the corpus's size, as full_scan
    # does, so that a coarse_m covering the corpus gives full_scan's values
    prefix = F.expr(f"slice({sql_operand(column)}, 1, {coarse_dim})")
    coarse_src, cd = readable(
        df, distance_expr(prefix, [float(x) for x in query][:coarse_dim], metric, size_from=df)
    )
    coarse = scan_sql("coarse", column, cd, coarse_m, id_col, name="cd")
    return rerank(df, column, query, k, metric, id_col, f"SELECT id FROM ({coarse})", df,
                  coarse=coarse_src)
