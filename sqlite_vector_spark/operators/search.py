"""Exact brute-force kNN: vector_full_scan / vector_full_scan_stream.

Parity (SURVEY.md §2.1 rows 13/15):
- ``vector_full_scan(table, column, qvec, k)`` (reference module
  sqlite-vector.c:2377-2403; scan loop vFullScanRun 2071-2113; k-slot
  top-k 2022-2069): streams every row, skips NULL vectors (2093-2096),
  keeps the k smallest distances, emits ascending.
- ``vector_full_scan_stream`` (2433-2459): scores EVERY row, no k, no
  sort — a pure projection.

Spark-first physical plan:
- ``orderBy(distance, id).limit(k)`` compiles to
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
from pyspark.sql import Column, DataFrame

from sqlite_vector_spark.functions.distance import distance, sql_operand
from sqlite_vector_spark.sources import plan_size_bytes
from sqlite_vector_spark.types import Metric


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
    scored = full_scan_stream(df, column, query, metric, id_col=id_col)
    if k == 0:
        return scored.limit(0)
    return scored.orderBy(F.col("distance").asc(), F.col("id").asc()).limit(k)


def full_scan_stream(
    df: DataFrame,
    column: str,
    query: Sequence[float] | Column,
    metric: str | Metric = Metric.L2,
    id_col: str = "id",
) -> DataFrame:
    """Pipelined exact scoring of every row (no k, no sort) ->
    DataFrame(id, distance). A narrow projection: zero shuffles.

    A literal query on an input Catalyst sizes below
    version.AUTO_SCAN_BYTES is scored by the codegen fold at any dim:
    a single-query scan that small finishes sooner in the JVM than an
    Arrow UDF job's Python round trip (measurements in version.py)."""
    size = None if isinstance(query, Column) else plan_size_bytes(df)
    return (
        df.where(F.col(column).isNotNull())
        .select(
            F.col(id_col).cast("bigint").alias("id"),
            distance(column, query, metric, size_bytes=size).alias("distance"),
        )
    )


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

    from sqlite_vector_spark.functions.distance import snap_zero

    if k < 0:
        raise ValueError("k must be >= 0")
    q = [float(x) for x in query]
    norm = math.sqrt(sum(x * x for x in q))
    if norm == 0.0:
        return full_scan(df, column, q, k, Metric.COSINE, id_col=id_col)
    qn = [x / norm for x in q]
    scored = df.where(F.col(column).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"),
        # distance(DOT) is the NEGATED dot (smaller = closer) and
        # keeps full_scan's backend dispatch (codegen fold vs Arrow
        # matmul); 1 + it == 1 − a·q̂ == cosine for unit rows
        snap_zero(
            F.lit(1.0) + distance(column, qn, Metric.DOT, size_bytes=plan_size_bytes(df))
        ).alias("distance"),
    )
    if k == 0:
        return scored.limit(0)
    return scored.orderBy(F.col("distance").asc(), F.col("id").asc()).limit(k)


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
    size = plan_size_bytes(df)
    prefix = F.expr(f"slice({sql_operand(column)}, 1, {coarse_dim})")
    coarse = (
        df.where(F.col(column).isNotNull())
        .select(
            F.col(id_col).cast("bigint").alias("id"),
            distance(prefix, list(query)[:coarse_dim], metric, size_bytes=size).alias("cd"),
        )
        .orderBy(F.col("cd").asc(), F.col("id").asc())
        .limit(coarse_m)
        .select("id")
    )
    return (
        df.where(F.col(column).isNotNull())
        .join(F.broadcast(coarse), F.col(id_col).cast("bigint") == coarse["id"], "left_semi")
        .select(
            F.col(id_col).cast("bigint").alias("id"),
            distance(column, query, metric, size_bytes=size).alias("distance"),
        )
        .orderBy(F.col("distance").asc(), F.col("id").asc())
        .limit(k)
    )
