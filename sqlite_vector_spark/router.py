"""Index selection: route a top-k request to the best registered path.

SURVEY §4 flags this as the one optional optimizer extension beyond
reference parity — a rule rewriting "ORDER BY distance LIMIT k" over a
registered vector table onto the quantized replica. No Catalyst rule
is needed: the catalog already knows whether a replica exists, so the
routing decision is metadata-only at the API layer (the same place the
reference decides between vector_full_scan and vector_quantize_scan by
which TVF the user names — here the engine picks).

Distances follow the routed path's domain: exact scans return true
distances; replica scans return quantized-unit distances (SURVEY §2.3
— never rescaled). Callers that need comparable distances across paths
should rerank, e.g. ``rerank_scan`` in workload.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from sqlite_vector_spark.catalog import VectorCatalog
from sqlite_vector_spark.operators.quantize import QuantParams, vector_quantize_scan
from sqlite_vector_spark.operators.search import full_scan


def knn(
    spark: SparkSession,
    catalog: VectorCatalog,
    table: str,
    column: str,
    query: Sequence[float],
    k: int,
    metric: str | None = None,
    prefer: str = "auto",
    id_col: str = "id",
    nprobe: int = 2,
    prefilter: int | None = None,
    where: str | None = None,
) -> DataFrame:
    """Top-k over a registered vector column.

    ``where``: an optional SQL boolean predicate — FILTERED vector
    search (the reference has none; this follows the standard
    attribute-filtered-ANN design). Supported on the full-coverage
    tiers only: the exact scan filters the base table (predicate
    pushed into the parquet scan), and the quantized tier filters the
    REPLICA — which therefore must have been built with
    ``vector_quantize(include_cols=[...])`` covering the predicate's
    columns; a predicate the replica cannot answer raises (silently
    falling back to exact would silently switch the distance domain).
    Probe-limited tiers (ivf/pq/bq/mih) reject ``where``: filtering
    AFTER a recall-limited candidate cut changes result semantics
    (you get "top-k of the probed subset that match", not "top-k
    matching"), so the composition stays explicit at the API level.

    ``prefer``: "auto" picks the cheapest FULL-COVERAGE registered
    path — quantized replica > exact base scan (mirroring the
    reference's TVF cost asymmetry, sqlite-vector.c:1851 vs 2248).
    The IVF store is opt-in (``prefer="ivf"``), never auto: its probe
    limit silently drops recall below 1.0, and an engine must not
    trade answer completeness for speed without being asked. The PQ
    tiers (``prefer="pq"`` — flat ADC over the code table;
    ``prefer="ivf_pq"`` — probe-pruned ADC, residual-aware) are
    opt-in for the same reason plus their ADC distance domain. The
    1-bit tier (``prefer="bq"`` — Hamming prefilter of ``prefilter``
    candidates, default 10k, then exact rerank) returns TRUE
    distances but is opt-in because recall is governed by the
    prefilter width. "exact" forces the base scan; "quantized"/"ivf"
    require that replica (error if absent). IVF results are true-domain distances over
    probed clusters (approximate by probe coverage); quantized results
    are quantized-unit distances (SURVEY §2.3).
    """
    if prefer not in ("auto", "exact", "quantized", "ivf", "pq", "ivf_pq", "bq", "mih"):
        raise ValueError(f"prefer must be auto|exact|quantized|ivf|pq|ivf_pq|bq|mih, got {prefer!r}")
    if where is not None and prefer not in ("auto", "exact", "quantized"):
        raise ValueError(
            "filtered search (where=) is supported on the full-coverage tiers only "
            "(auto/exact/quantized); filtering a probe-limited tier's candidates "
            "changes result semantics — compose it explicitly if that is intended"
        )
    ctx = catalog.get(table, column)
    m = metric or ctx.distance
    has_replica = ctx.quantized_path is not None and ctx.qscale is not None
    has_ivf = ctx.ivf_path is not None and ctx.ivf_centroids
    has_pq = ctx.pq_path is not None and ctx.pq_codebooks
    if prefer == "quantized" and not has_replica:
        raise ValueError(f"{table}.{column} has no quantized replica — run vector_quantize first")
    if prefer == "ivf" and not has_ivf:
        raise ValueError(f"{table}.{column} has no IVF store — run ivf_store + set_ivf_index first")
    if prefer == "pq" and not has_pq:
        raise ValueError(f"{table}.{column} has no PQ code table — run pq_encode + set_pq_index first")
    if prefer == "bq" and ctx.bq_path is None:
        raise ValueError(f"{table}.{column} has no BQ code table — run bq_encode + set_bq_index first")
    if prefer == "ivf_pq" and not (has_pq and ctx.ivf_centroids):
        raise ValueError(
            f"{table}.{column} has no IVF-PQ store — run ivf_pq_store + set_pq_index + set_ivf_index first"
        )
    if prefer == "mih" and (
        ctx.mih_path is None or not (ctx.dimension or ctx.mih_planes)
    ):
        raise ValueError(
            f"{table}.{column} has no MIH band store — run bq_band_store + set_mih_index first "
            "(and vector_init with an explicit dimension, or register the projection planes)"
        )
    if prefer == "ivf":
        from sqlite_vector_spark.operators.ann import ivf_stored_scan

        return ivf_stored_scan(
            spark, ctx.ivf_path, query, ctx.ivf_centroids, k, nprobe=nprobe, metric=m,
            schemas=catalog.store_schemas,
        )
    # OPQ-aware: when the catalog holds a learned rotation
    # (set_pq_index rotation=), the PQ code tables live in the rotated
    # basis — the router rotates the QUERY with the exact driver fold
    # (orthogonal, so rotated-domain L2 == true L2) and everything
    # downstream is unchanged. Registered centroids for a rotated
    # ivf_pq store are already rotated (they were built on the
    # rotated frame).
    def _pq_query():
        if ctx.pq_rotation is not None:
            from sqlite_vector_spark.operators.pq import _rotate_py

            return _rotate_py([float(x) for x in query], ctx.pq_rotation)
        return query

    if prefer == "pq":
        # ADC distances (compressed domain, like the quantized tier's
        # quantized-unit contract): opt-in only, never auto
        from sqlite_vector_spark.operators.pq import pq_scan
        from sqlite_vector_spark.sinks import read_store

        codes = read_store(spark, ctx.pq_path, schemas=catalog.store_schemas)
        return pq_scan(codes, _pq_query(), ctx.pq_codebooks, k, m)
    if prefer == "bq":
        from sqlite_vector_spark.operators.bq import bq_rerank_scan
        from sqlite_vector_spark.sinks import read_store

        codes = read_store(spark, ctx.bq_path, schemas=catalog.store_schemas)
        return bq_rerank_scan(
            spark.table(table), column, query, k, prefilter or 10 * k,
            ctx.bq_thresholds, m, id_col=id_col, codes_df=codes,
        )
    if prefer == "mih":
        # pruned-probe Hamming prefilter from the PERSISTED band store
        # (partition pruning on the query's bands — the 1-bit tier
        # without a full code scan), exact rerank to TRUE distances
        # like prefer="bq"; same opt-in rationale (prefilter width
        # governs recall). Both stages are one statement.
        from sqlite_vector_spark.operators.bq import band_scan_sql, hamming_rerank
        from sqlite_vector_spark.sinks import read_store

        width = prefilter or 10 * k
        # projected stores (set_mih_index planes=) probe in the p-bit
        # projected layout with the registered planes; axis-aligned
        # stores probe threshold sign bits over the column dimension
        if ctx.mih_planes is not None:
            cand = band_scan_sql(
                "bands", query, len(ctx.mih_planes), width, band_bits=ctx.mih_band_bits or 16,
                planes=ctx.mih_planes, center=ctx.mih_center,
            )
        else:
            cand = band_scan_sql(
                "bands", query, int(ctx.dimension), width, band_bits=ctx.mih_band_bits or 16,
                thresholds=ctx.bq_thresholds,
            )
        bands = read_store(spark, ctx.mih_path, schemas=catalog.store_schemas)
        return hamming_rerank(
            spark.table(table), column, query, k, width, m, id_col, f"SELECT id FROM ({cand})",
            bands=bands,
        )
    if prefer == "ivf_pq":
        from sqlite_vector_spark.operators.pq import ivf_pq_stored_scan

        return ivf_pq_stored_scan(
            spark, ctx.pq_path, _pq_query(), ctx.ivf_centroids, ctx.pq_codebooks, k,
            nprobe=nprobe, metric=m, residual=ctx.pq_residual, schemas=catalog.store_schemas,
        )
    if prefer != "exact" and has_replica:
        # read_store, not read.parquet: a replica migrated to the
        # rename-free VERSIONED layout (versioned.py) resolves through
        # its live manifest here, so swap mode is invisible to the
        # routed query path — the reference's one index IS its query
        # path (sqlite-vector.c:2405-2431), and ours must not fork on
        # maintenance layout. Flat roots read as plain parquet, same
        # plan as before (one FS exists() probe decides).
        from sqlite_vector_spark.sinks import read_store

        codes = read_store(spark, ctx.quantized_path, schemas=catalog.store_schemas)
        if where is not None:
            import pyspark.sql.functions as F
            from pyspark.errors import AnalysisException, ParseException

            # the predicate is parsed alone, as one expression: text
            # that is not one (a trailing clause, unbalanced
            # parentheses) raises ParseException
            try:
                codes = codes.where(F.expr(where))
                codes.schema  # force analysis so a missing column raises HERE
            except ParseException:
                raise
            except AnalysisException as exc:
                raise ValueError(
                    f"the quantized replica for {table}.{column} cannot answer "
                    f"predicate {where!r} (replica carries include_cols="
                    f"{ctx.quantized_include_cols}); rebuild with "
                    "vector_quantize(include_cols=[...]) covering the predicate, "
                    "or pass prefer='exact' for true-domain filtered results"
                ) from exc
        params = QuantParams(ctx.resolved_qtype, float(ctx.qscale), float(ctx.qoffset), 0)
        return vector_quantize_scan(codes, query, params, k, m)
    # normalized-flag plan improvement: a column the user REGISTERED
    # as normalized answers cosine with one dot fold per row instead
    # of three (the reference parses the flag but never uses it —
    # SURVEY §1.3; here it pays). Equality-tested in test_catalog.
    from sqlite_vector_spark.types import Metric, parse_metric

    base = spark.table(table)
    if where is not None:
        import pyspark.sql.functions as F

        base = base.where(F.expr(where))  # one expression; pushes into the base scan
    mm = m if isinstance(m, Metric) else parse_metric(m)
    if mm is Metric.COSINE and ctx.normalized:
        from sqlite_vector_spark.operators.search import full_scan_normalized_cosine

        return full_scan_normalized_cosine(base, column, query, k, id_col=id_col)
    return full_scan(base, column, query, k, m, id_col=id_col)


def knn_join(
    spark: SparkSession,
    catalog: VectorCatalog,
    table: str,
    column: str,
    queries: DataFrame,
    k: int,
    metric: str | None = None,
    prefer: str = "auto",
    id_col: str = "id",
    q_id: str = "qid",
    q_vec: str = "qv",
    where: str | None = None,
) -> DataFrame:
    """Multi-query top-k over a registered vector column — the batch
    generalization of ``knn``, with the SAME ``where`` contract (r10:
    the r9 single-query filtered search generalized): the exact tier
    pushes the predicate into the base parquet scan; the quantized
    tier filters the include_cols REPLICA (a predicate the replica
    cannot answer raises — never a silent fallback that would switch
    the distance domain); probe-limited tiers reject ``where``
    outright. Returns (qid, id, distance, rank) per operators.
    knn_join.knn_join — true distances on the exact tier,
    quantized-unit distances on the replica tier (queries are encoded
    in-plan with the replica's FROZEN params, the multi-query analog
    of vQuantRun's query encode, sqlite-vector.c:2171-2177)."""
    from sqlite_vector_spark.operators.knn_join import knn_join as knn_join_op

    if prefer not in ("auto", "exact", "quantized"):
        raise ValueError(
            "knn_join routes full-coverage tiers only (auto|exact|quantized); "
            f"got {prefer!r} — probe-limited joins live in their operators "
            "(ivf_knn_join / ivf_pq_knn_join / bq_knn_join) and do not take where="
        )
    ctx = catalog.get(table, column)
    m = metric or ctx.distance
    has_replica = ctx.quantized_path is not None and ctx.qscale is not None
    if prefer == "quantized" and not has_replica:
        raise ValueError(f"{table}.{column} has no quantized replica — run vector_quantize first")
    if prefer != "exact" and has_replica:
        import pyspark.sql.functions as F
        from pyspark.errors import AnalysisException

        from sqlite_vector_spark.sinks import read_store

        # same swap-mode-agnostic resolve as knn (versioned replicas
        # route through their live manifest)
        codes = read_store(spark, ctx.quantized_path, schemas=catalog.store_schemas)
        if where is not None:
            try:
                codes = codes.where(F.expr(where))
                codes.schema  # force analysis so a missing column raises HERE
            except AnalysisException as exc:
                raise ValueError(
                    f"the quantized replica for {table}.{column} cannot answer "
                    f"predicate {where!r} (replica carries include_cols="
                    f"{ctx.quantized_include_cols}); rebuild with "
                    "vector_quantize(include_cols=[...]) covering the predicate, "
                    "or pass prefer='exact' for true-domain filtered results"
                ) from exc
        from sqlite_vector_spark.operators.quantize import quantize_codes_column

        params = QuantParams(ctx.resolved_qtype, float(ctx.qscale), float(ctx.qoffset), 0)
        qenc = queries.where(F.col(q_vec).isNotNull()).select(
            F.col(q_id).cast("bigint").alias("qid"),
            quantize_codes_column(
                q_vec, F.lit(params.scale), F.lit(params.offset),
                F.lit(params.lo), F.lit(params.hi),
            ).cast("array<double>").alias("qv"),
        )
        return knn_join_op(
            qenc, codes, k, m, query_vec="qv", corpus_vec="qvec",
            query_id="qid", corpus_id="id",
        )
    import pyspark.sql.functions as F

    base = spark.table(table)
    if where is not None:
        base = base.where(F.expr(where))  # pushes into the base scan
    return knn_join_op(
        queries, base, k, m, query_vec=q_vec, corpus_vec=column,
        query_id=q_id, corpus_id=id_col,
    )
