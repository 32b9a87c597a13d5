"""Structured Streaming operators: stream-static vector scoring and
windowed event aggregation.

The reference's "*_stream" TVFs are pipelined cursors, not event-time
streams (SURVEY.md §1.1) — the batch projections in operators/search
cover that parity. THIS module is the Spark-native extension the
north star asks for: the same scoring expressions applied to an
unbounded stream.

Because the distance kernels are pure Column expressions, they drop
into ``readStream`` unchanged — that is the payoff of keeping the
whole engine declarative. Stream-static joins against a broadcast
static dimension (e.g. the quantization params or a centroid set)
need no state store; windowed aggregates use standard watermarks.

At scale: scoring is stateless (map-only over micro-batches); the
windowed agg keeps one state row per (window, event_type) — bounded
by the watermark horizon.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sqlite_vector_spark.functions.distance import distance
from sqlite_vector_spark.types import Metric


class _LocalOps:
    """Local-filesystem walk for the state verbs — byte-identical to
    the pre-r13 os/shutil behavior (the hot path for every local
    state; no JVM round-trips)."""

    @staticmethod
    def listdir(p):
        import os

        try:
            return os.listdir(p)
        except OSError:
            return []

    @staticmethod
    def isdir(p):
        import os

        return os.path.isdir(p)

    @staticmethod
    def exists(p):
        import os

        return os.path.exists(p)

    @staticmethod
    def rename(src, dst):
        import os

        os.rename(src, dst)

    @staticmethod
    def rmtree(p):
        import shutil

        shutil.rmtree(p)

    @staticmethod
    def makedirs(p):
        import os

        os.makedirs(p)

    @staticmethod
    def du(p):
        from sqlite_vector_spark.sinks import dir_bytes

        return dir_bytes(p)


class _HadoopOps:
    """Scheme-resolved walk (fsutil / Hadoop FileSystem API): the SAME
    verbs run on hdfs:/s3a:/... state roots (r13, VERDICT r12 #2 — a
    streaming state written to an object store could previously never
    be compacted, vacuumed, or taken down there). rename on an
    S3-class store is a bounded copy of one epoch dir; the verbs run
    stream-stopped from the single-maintenance-writer seat, so rename
    atomicity is not load-bearing (fsutil docstring)."""

    def __init__(self, spark):
        self.spark = spark

    def listdir(self, p):
        from sqlite_vector_spark import fsutil

        return fsutil.list_names(self.spark, p)

    def isdir(self, p):
        from sqlite_vector_spark import fsutil

        return fsutil.is_dir(self.spark, p)

    def exists(self, p):
        from sqlite_vector_spark import fsutil

        return fsutil.exists(self.spark, p)

    def rename(self, src, dst):
        from sqlite_vector_spark import fsutil

        fsutil.rename(self.spark, src, dst)

    def rmtree(self, p):
        from sqlite_vector_spark import fsutil

        fsutil.delete(self.spark, p, recursive=True)

    def makedirs(self, p):
        from sqlite_vector_spark import fsutil

        fsutil.mkdirs(self.spark, p)

    def du(self, p):
        from sqlite_vector_spark import fsutil

        return fsutil.du_bytes(self.spark, p)


_LOCAL_OPS = _LocalOps()


def _state_ops(root: str, spark=None):
    """Pick the walk for a state root by scheme: plain paths keep the
    os fast path, scheme-carrying roots go through the Hadoop FS layer
    (resolving the active session when none is passed — raising, not
    silently walking a remote root with os.listdir and reporting an
    empty state)."""
    from sqlite_vector_spark import fsutil

    if fsutil.has_scheme(root):
        return _HadoopOps(spark if spark is not None else fsutil.active_spark())
    return _LOCAL_OPS


def _epoch_ids(root: str, below: int | None = None, spark=None) -> list[int]:
    """Sorted epoch ids under a state root (``epoch=<digits>`` dirs).

    fullmatch, not startswith+int: leftover staging/retained dirs
    (``epoch=3.tmp``, ``epoch=3__pre_delete``, ``epoch=4__compacting``)
    must be skipped, not crash every micro-batch. ``below`` bounds the
    listing exclusively (a replayed epoch must not see its own crashed
    attempt's partial output). Scheme-carrying roots list through the
    Hadoop FS layer (r13); a missing root is [] either way."""
    import re

    ops = _state_ops(root, spark)
    matches = (re.fullmatch(r"epoch=(\d+)", d) for d in ops.listdir(root))
    ids = sorted(int(m.group(1)) for m in matches if m)
    return ids if below is None else [e for e in ids if e < below]


def score_stream(
    stream: DataFrame,
    vec_col: str,
    query: Sequence[float],
    metric: str | Metric = "L2",
    id_col: str = "id",
) -> DataFrame:
    """Continuous exact scoring of a vector stream: the streaming form
    of vector_full_scan_stream. Stateless projection — one output row
    per input row, any trigger, no watermark needed."""
    return stream.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).cast("bigint").alias("id"),
        distance(vec_col, list(query), metric).alias("distance"),
    )


def score_stream_ivf_pq(
    query_stream: DataFrame,
    codes_store_path: str,
    dest: str,
    checkpoint: str,
    centroids: Sequence[Sequence[float]],
    codebooks,
    k: int,
    nprobe: int = 2,
    metric: str | Metric = "L2",
    q_id: str = "qid",
    q_vec: str = "qv",
    residual: bool = False,
    trigger_once: bool = False,
):
    """Continuous ANN scoring of a QUERY stream against the static
    IVF-PQ store at compressed cost — the streaming form of
    ivf_pq_knn_join: every micro-batch of queries probes its nprobe
    clusters and ADC-scores only those rows of the (id, codes,
    cluster) store, so per-trigger cost is probe fraction x
    compression ratio of the corpus, not a full scan.

    Runs in ``foreachBatch`` (the pattern for stream-static joins
    that need the full batch plan): each batch's top-k lands in
    ``dest/batch=<epoch_id>`` with mode("overwrite") — Spark replays
    an unacknowledged epoch after a crash with the SAME epoch id, so
    the overwrite makes the sink exactly-once (idempotent replay), and
    the checkpoint makes the source offsets restart-proof. Returns
    the started StreamingQuery."""
    from sqlite_vector_spark.operators.pq import ivf_pq_knn_join

    cents = [[float(x) for x in c] for c in centroids]

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store = batch_df.sparkSession.read.parquet(codes_store_path)
        res = ivf_pq_knn_join(
            batch_df, store, cents, codebooks, k, nprobe=nprobe, metric=metric,
            q_id=q_id, q_vec=q_vec, residual=residual,
        )
        res.write.mode("overwrite").parquet(f"{dest}/batch={epoch_id}")

    writer = (
        query_stream.writeStream.foreachBatch(handle)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def score_stream_mih(
    query_stream: DataFrame,
    band_store_path: str,
    dest: str,
    checkpoint: str,
    dim: int,
    k: int,
    band_bits: int = 16,
    thresholds: Sequence[float] | None = None,
    q_id: str = "qid",
    q_vec: str = "qv",
    planes=None,
    center: Sequence[float] | None = None,
    trigger_once: bool = False,
):
    """Continuous Hamming top-k of a QUERY stream against the static
    MIH band store — the streaming form of bq_band_join: every
    micro-batch of queries encodes to packed bits, explodes to band
    probes, and equi-joins the persisted ``b=`` layout (dynamic
    partition pruning bounds the read to the batch's collision
    bands), so per-trigger cost scales with band collisions, never a
    corpus scan. Same idempotent-epoch sink contract as
    score_stream_ivf_pq (``dest/batch=<epoch_id>`` overwrite +
    checkpointed offsets = exactly-once under crash replay).
    ``planes`` selects projected-code probes for a store built from
    bq_project_encode codes. Returns the started StreamingQuery."""
    from sqlite_vector_spark.operators.bq import bq_band_join

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = bq_band_join(
            batch_df.sparkSession, band_store_path, batch_df, dim, k,
            band_bits=band_bits, thresholds=thresholds, q_id=q_id, q_vec=q_vec,
            planes=planes, center=center,
        )
        res.write.mode("overwrite").parquet(f"{dest}/batch={epoch_id}")

    writer = (
        query_stream.writeStream.foreachBatch(handle)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def ingest_stream_ivf(
    vec_stream: DataFrame,
    dest: str,
    checkpoint: str,
    centroids: Sequence[Sequence[float]],
    vec_col: str = "vec",
    id_col: str = "id",
    baseline_mean_dist: float | None = None,
    drift_threshold: float = 0.25,
):
    """Continuous IVF index maintenance: every micro-batch of vectors
    is assigned against the FROZEN centroids (map-side, one pass via
    localCheckpoint like ivf_append_with_drift) and appended into the
    store as ``dest/epoch=<id>/cluster=<n>`` — per-epoch overwrite, so
    a crash-replayed epoch lands exactly once, and probe scans over
    ``dest`` still partition-prune on ``cluster`` (epoch is just an
    extra partition column the probe filter ignores).

    Each epoch also writes a 1-row drift report to
    ``dest/_drift/epoch=<id>`` — (n, mean_dist, drift,
    rebuild_recommended) vs ``baseline_mean_dist`` — so the retrain
    signal accumulates next to the index it monitors. Returns the
    started StreamingQuery."""
    from sqlite_vector_spark.operators.ann import (
        _assign_backend,
        centroid_distances,
        ivf_assign,
        nearest_centroid_arrow_dist_udf,
    )

    cents = [[float(x) for x in c] for c in centroids]

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        assigned = ivf_assign(batch_df, vec_col, cents, id_col=id_col)
        d_arr = (
            nearest_centroid_arrow_dist_udf(cents)(F.col("vec"))
            if _assign_backend(cents) == "arrow-numpy"
            else F.array_min(centroid_distances(F.col("vec"), cents))
        )
        enriched = assigned.withColumn("_d", d_arr).localCheckpoint(eager=True)
        row = enriched.agg(F.count(F.lit(1)).alias("n"), F.avg("_d").alias("m")).collect()[0]
        from sqlite_vector_spark.sinks import _relative_drift, write_partitioned

        write_partitioned(
            enriched.drop("_d"), f"{dest}/epoch={epoch_id}", "cluster"
        )
        mean_d = float(row["m"])
        drift = _relative_drift(mean_d, baseline_mean_dist)
        spark.createDataFrame(
            [(int(row["n"]), mean_d, drift, drift > drift_threshold)],
            "n bigint, mean_dist double, drift double, rebuild_recommended boolean",
        ).write.mode("overwrite").parquet(f"{dest}/_drift/epoch={epoch_id}")

    return (
        vec_stream.writeStream.foreachBatch(handle)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def ingest_stream_neardup(
    doc_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_min: float = 0.8,
):
    """Continuous near-dup STATE maintenance — the streaming form of
    workload.incremental_neardup_q's daily append. Every micro-batch:

    1. candidates against the persisted band index
       (incremental_dedup_pairs: batch shingles only, indexed text
       never re-shingled) — plus within-batch bucket pairs;
    2. exact Jaccard verify on candidate-bounded token sets (only
       colliding docs' text is read back from the state's doc
       mirror);
    3. verified edges merge into the stored labels via
       incremental_labels (star-compressed re-solve, untouched
       clusters byte-identical);
    4. the batch's band keys + docs append so the NEXT batch dedups
       against this one.

    Crash/replay contract (same recipe as ingest_stream_ivf): every
    write is a PER-EPOCH overwrite directory (``bands/epoch=<id>``,
    ``docs/epoch=<id>``, ``labels/epoch=<id>``), so a replayed epoch
    lands exactly once; the label merge reads the newest labels epoch
    STRICTLY BELOW the current epoch id, so a replay recomputes from
    the same inputs it saw the first time. Readers take
    ``labels/epoch=<max>`` as current; the extra ``epoch`` partition
    column on bands/docs is ignored by the probe joins. Any
    Hadoop-supported filesystem (r13: epoch discovery and the sidecar
    route through the FS layer on scheme-carrying roots; the same
    single-maintenance-writer scope as compact_store)."""
    import os

    from sqlite_vector_spark.operators.dedup import (
        _band_keys_from_mins,
        _minhash_mins,
        incremental_dedup_pairs,
        incremental_labels,
        jaccard_pairs,
    )

    bands_root = os.path.join(state_dir, "bands")
    docs_root = os.path.join(state_dir, "docs")
    labels_root = os.path.join(state_dir, "labels")
    # r11: freeze the state's pipeline params at the state root so the
    # takedown verb resolves them from the state itself instead of
    # trusting re-passed defaults (sinks.check_frozen_params raises on
    # a conflicting restart)
    from sqlite_vector_spark.sinks import check_frozen_params, write_params_sidecar

    _prm = {"id_col": id_col, "text_col": text_col, "jaccard_min": jaccard_min}
    write_params_sidecar(state_dir, {**_prm, **check_frozen_params(state_dir, _prm)})

    _epochs = _epoch_ids  # module-level lister: fullmatch digits, skip staging/retained dirs

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.select(
            F.col(id_col).cast("bigint").alias(id_col), F.col(text_col).alias(text_col)
        ).localCheckpoint(eager=True)

        # read ONLY epochs strictly below the current id: a replayed
        # epoch must not see its own crashed attempt's partial output
        band_epochs = _epochs(bands_root, epoch_id)
        if band_epochs:
            # checkpoint the bounded candidate set: jaccard_pairs fans
            # it into the id-set and both pair joins, and each branch
            # would otherwise re-run the whole multi-epoch band probe
            # (the r11 jaccard-checkpoint lesson, streaming side)
            cand = incremental_dedup_pairs(
                spark, batch,
                [f"{bands_root}/epoch={e}" for e in band_epochs],
                id_col, text_col,
            ).localCheckpoint(eager=True)
            old_docs = spark.read.parquet(
                *[f"{docs_root}/epoch={e}" for e in _epochs(docs_root, epoch_id)]
            ).select(id_col, text_col)
            union_docs = old_docs.unionByName(batch)
        else:  # first epoch: within-batch only
            from sqlite_vector_spark.operators.dedup import lsh_candidate_pairs

            cand = lsh_candidate_pairs(batch, id_col, text_col)
            union_docs = batch
        new_edges = (
            jaccard_pairs(cand, union_docs, id_col, text_col)
            .where(F.col("jaccard") >= F.lit(jaccard_min))
            .select("a", "b")
        )
        label_epochs = _epochs(labels_root, epoch_id)
        labels0 = (
            spark.read.parquet(f"{labels_root}/epoch={label_epochs[-1]}")
            if label_epochs
            else spark.createDataFrame([], "id bigint, cluster bigint")
        )
        merged = incremental_labels(labels0, new_edges)
        merged.write.mode("overwrite").parquet(f"{labels_root}/epoch={epoch_id}")
        from sqlite_vector_spark.sinks import write_partitioned

        write_partitioned(
            _band_keys_from_mins(_minhash_mins(batch, id_col, text_col)),
            f"{bands_root}/epoch={epoch_id}", "band",
        )
        batch.write.mode("overwrite").parquet(f"{docs_root}/epoch={epoch_id}")

    return (
        doc_stream.writeStream.foreachBatch(handle)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def takedown_stream_state(
    spark,
    state_dir: str,
    doc_ids,
    id_col: str | None = None,
    text_col: str | None = None,
    jaccard_min: float | None = None,
) -> dict:
    """Takedown maintenance for ingest_stream_neardup state — the
    streaming face of the r10 delete verb: remove docs from the
    per-epoch band index, doc mirror, AND the label state so the
    NEXT micro-batch neither matches against a deleted doc nor keeps
    it in any cluster. Run BETWEEN triggers (stream stopped or
    drained) — the same single-maintenance-writer contract as
    compact_store.

    In-place, not a new epoch: the stream's epoch ids are the
    checkpoint's batch ids, so appending a synthetic epoch would
    collide with the next trigger's id. Instead every existing
    ``bands/epoch=*`` and ``docs/epoch=*`` directory is rewritten via
    sinks.delete_ids (its ``__pre_delete`` leftovers are invisible to
    the stream's epoch listing, which fullmatches ``epoch=<digits>``),
    and the LATEST labels epoch is re-solved via
    operators.dedup.delete_labels over the surviving doc mirror — a
    replayed or restarted epoch then reads exactly the post-takedown
    state. Returns per-root delete report counts.

    r11: id_col/text_col/jaccard_min left at None resolve from the
    state's ``_sv_params.json`` sidecar (written by
    ingest_stream_neardup); an explicit conflicting value raises —
    re-solving the labels with a different threshold than the stream
    maintains them with would silently fork the state."""
    import os

    from sqlite_vector_spark.operators.dedup import delete_labels
    from sqlite_vector_spark.sinks import _id_batch, check_frozen_params, delete_ids

    prm = check_frozen_params(state_dir, {
        "id_col": id_col, "text_col": text_col, "jaccard_min": jaccard_min,
    })
    doc_ids = _id_batch(spark, doc_ids)  # one batch for every epoch rewrite
    id_col = prm.get("id_col", "doc_id")
    text_col = prm.get("text_col", "text")
    jaccard_min = prm.get("jaccard_min", 0.8)

    bands_root = os.path.join(state_dir, "bands")
    docs_root = os.path.join(state_dir, "docs")
    labels_root = os.path.join(state_dir, "labels")

    def _all_epochs(root):
        return _epoch_ids(root, spark=spark)

    # remote_ok: each per-epoch delete swaps ONE micro-batch epoch dir
    # (bounded copy on an object store), so the verb runs on any
    # Hadoop-supported scheme (r13, VERDICT r12 #2)
    report = {"band_rows_deleted": 0, "doc_rows_deleted": 0, "labels_rewritten": False}
    for e in _all_epochs(bands_root):
        r = delete_ids(
            spark, f"{bands_root}/epoch={e}", doc_ids, id_col="id", partition_col="band",
            remote_ok=True,
        )
        report["band_rows_deleted"] += r["deleted_rows"]
    for e in _all_epochs(docs_root):
        r = delete_ids(spark, f"{docs_root}/epoch={e}", doc_ids, id_col=id_col,
                       remote_ok=True)
        report["doc_rows_deleted"] += r["deleted_rows"]
    label_epochs = _all_epochs(labels_root)
    if label_epochs:
        # older label epochs are dead (the stream reads only the
        # latest below its epoch id) but still hold the ids — scrub
        # them with a plain row delete; only the LIVE epoch needs the
        # component re-solve
        for e in label_epochs[:-1]:
            delete_ids(spark, f"{labels_root}/epoch={e}", doc_ids, id_col="id",
                       remote_ok=True)
        latest = f"{labels_root}/epoch={label_epochs[-1]}"
        labels0 = spark.read.parquet(latest)
        doc_epochs = _all_epochs(docs_root)
        if doc_epochs:
            docs = spark.read.parquet(
                *[f"{docs_root}/epoch={e}" for e in doc_epochs]
            ).select(id_col, text_col)
        else:
            docs = spark.createDataFrame([], f"{id_col} bigint, {text_col} string")
        new_labels = delete_labels(
            labels0, docs, doc_ids, id_col=id_col, text_col=text_col,
            jaccard_t=jaccard_min,
        ).localCheckpoint(eager=True)  # materialize BEFORE overwriting its input
        new_labels.write.mode("overwrite").parquet(latest)
        report["labels_rewritten"] = True
    return report


def ingest_stream_embedding_neardup(
    vec_stream: DataFrame,
    state_dir: str,
    checkpoint: str,
    planes,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.1,
    metric: str = "COSINE",
):
    """Continuous EMBEDDING near-dup state maintenance — the embedding
    twin of ingest_stream_neardup, filling the {embedding} x
    {streaming} cell of the state-maintenance matrix (r11). Every
    micro-batch:

    1. candidates against the persisted per-epoch bucket indexes
       (incremental_embedding_pairs: the batch is hyperplane-bucketed
       once; indexed vectors are never re-bucketed) plus within-batch
       bucket pairs;
    2. exact-distance verify on candidate-bounded vector reads from
       the state's vector mirror (embedding_pair_distances — the same
       norm-precompute fold as the batch path, bit-identical);
    3. verified edges merge into the stored labels via
       incremental_labels (star-compressed re-solve);
    4. the batch's bucket keys + vectors append as new epoch dirs so
       the NEXT batch dedups against this one.

    Same crash/replay contract as the text twin: every write is a
    PER-EPOCH overwrite directory (``buckets/epoch=<id>``,
    ``vecs/epoch=<id>``, ``labels/epoch=<id>``), each epoch reads
    only epochs strictly below its id, readers take
    ``labels/epoch=<max>`` as current. The frozen plane family (+
    threshold/metric/column names) persists in the state root's
    ``_sv_params.json`` AND per bucket-epoch sidecars — a restart
    with a conflicting family raises (sinks.check_frozen_params).
    Any Hadoop-supported filesystem (r13, like the text twin)."""
    import os

    from sqlite_vector_spark.operators.dedup import (
        embedding_neardup_pairs,
        embedding_pair_distances,
        hyperplane_bucket,
        incremental_embedding_pairs,
        incremental_labels,
    )
    from sqlite_vector_spark.sinks import check_frozen_params, write_params_sidecar

    buckets_root = os.path.join(state_dir, "buckets")
    vecs_root = os.path.join(state_dir, "vecs")
    labels_root = os.path.join(state_dir, "labels")
    planes = [[float(x) for x in p] for p in planes]
    _prm = {
        "planes": planes, "threshold": float(threshold), "metric": str(metric),
        "id_col": id_col, "vec_col": vec_col,
    }
    write_params_sidecar(state_dir, {**_prm, **check_frozen_params(state_dir, _prm)})

    _epochs = _epoch_ids  # module-level lister: fullmatch digits, skip staging/retained dirs

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.where(F.col(vec_col).isNotNull()).select(
            F.col(id_col).cast("bigint").alias(id_col), F.col(vec_col).alias(vec_col)
        ).localCheckpoint(eager=True)

        bucket_epochs = _epochs(buckets_root, epoch_id)
        if bucket_epochs:
            # checkpoint the bounded candidate set BEFORE the verify:
            # embedding_pair_distances consumes it three times (id set
            # + both pair joins), and each branch would otherwise
            # re-run the whole multi-epoch bucket join — measured 3x+
            # per-batch cost growth at 1M (SCALE.md r12)
            cand = incremental_embedding_pairs(
                spark, batch,
                [f"{buckets_root}/epoch={e}" for e in bucket_epochs],
                id_col, vec_col, planes,
            ).localCheckpoint(eager=True)
            old_vecs = spark.read.parquet(
                *[f"{vecs_root}/epoch={e}" for e in _epochs(vecs_root, epoch_id)]
            ).select(id_col, vec_col)
            union_vecs = old_vecs.unionByName(batch)
            new_edges = (
                embedding_pair_distances(cand, union_vecs, id_col, vec_col, metric)
                .where(F.col("distance") < F.lit(threshold))
                .select("a", "b")
            )
        else:  # first epoch: within-batch only (verify fused in)
            new_edges = embedding_neardup_pairs(
                batch, id_col, vec_col, planes, threshold, metric
            ).select("a", "b")
        label_epochs = _epochs(labels_root, epoch_id)
        labels0 = (
            spark.read.parquet(f"{labels_root}/epoch={label_epochs[-1]}")
            if label_epochs
            else spark.createDataFrame([], "id bigint, cluster bigint")
        )
        merged = incremental_labels(labels0, new_edges)
        merged.select("id", "cluster").write.mode("overwrite").parquet(
            f"{labels_root}/epoch={epoch_id}"
        )
        epoch_buckets = f"{buckets_root}/epoch={epoch_id}"
        batch.select(
            F.col(id_col).cast("bigint").alias("id"),
            hyperplane_bucket(vec_col, planes).alias("bucket"),
        ).sortWithinPartitions("bucket").write.mode("overwrite").parquet(epoch_buckets)
        write_params_sidecar(epoch_buckets, {"planes": planes, "id_col": id_col, "vec_col": vec_col})
        batch.write.mode("overwrite").parquet(f"{vecs_root}/epoch={epoch_id}")

    return (
        vec_stream.writeStream.foreachBatch(handle)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .start()
    )


def takedown_stream_state_embedding(
    spark,
    state_dir: str,
    vec_ids,
    id_col: str | None = None,
    vec_col: str | None = None,
    threshold: float | None = None,
    metric: str | None = None,
    planes=None,
) -> dict:
    """Takedown maintenance for ingest_stream_embedding_neardup state
    — the embedding twin of takedown_stream_state, same in-place
    contract (run BETWEEN triggers; epoch ids are the checkpoint's
    batch ids, so no synthetic epochs): every ``buckets/epoch=*`` and
    ``vecs/epoch=*`` dir is rewritten via sinks.delete_ids, dead
    label epochs are row-scrubbed, and the LIVE labels epoch is
    re-solved via delete_labels_embedding over the surviving vector
    mirror. Params left at None resolve from the state root's
    sidecar; a conflicting explicit value raises."""
    import os

    from sqlite_vector_spark.operators.dedup import delete_labels_embedding
    from sqlite_vector_spark.sinks import _id_batch, check_frozen_params, delete_ids

    prm = check_frozen_params(state_dir, {
        "id_col": id_col, "vec_col": vec_col,
        "threshold": threshold, "metric": metric,
        "planes": [[float(x) for x in p] for p in planes] if planes is not None else None,
    })
    id_col = prm.get("id_col", "vec_id")
    vec_col = prm.get("vec_col", "embedding")
    threshold = prm.get("threshold")
    metric = prm.get("metric", "COSINE")
    planes = prm.get("planes")
    if planes is None or threshold is None:
        raise ValueError(
            "takedown_stream_state_embedding: no plane family/threshold — the "
            "state root carries them when written by "
            "ingest_stream_embedding_neardup; otherwise pass them explicitly"
        )
    vec_ids = _id_batch(spark, vec_ids)  # one batch for every epoch rewrite

    buckets_root = os.path.join(state_dir, "buckets")
    vecs_root = os.path.join(state_dir, "vecs")
    labels_root = os.path.join(state_dir, "labels")

    def _all_epochs(root):
        return _epoch_ids(root, spark=spark)

    # remote_ok: bounded one-epoch-dir swaps, any scheme (r13 — see
    # takedown_stream_state)
    report = {"bucket_rows_deleted": 0, "vec_rows_deleted": 0, "labels_rewritten": False}
    for e in _all_epochs(buckets_root):
        r = delete_ids(spark, f"{buckets_root}/epoch={e}", vec_ids, id_col="id",
                       sort_within=["bucket"], remote_ok=True)
        report["bucket_rows_deleted"] += r["deleted_rows"]
    for e in _all_epochs(vecs_root):
        r = delete_ids(spark, f"{vecs_root}/epoch={e}", vec_ids, id_col=id_col,
                       remote_ok=True)
        report["vec_rows_deleted"] += r["deleted_rows"]
    label_epochs = _all_epochs(labels_root)
    if label_epochs:
        for e in label_epochs[:-1]:
            delete_ids(spark, f"{labels_root}/epoch={e}", vec_ids, id_col="id",
                       remote_ok=True)
        latest = f"{labels_root}/epoch={label_epochs[-1]}"
        labels0 = spark.read.parquet(latest)
        vec_epochs = _all_epochs(vecs_root)
        if vec_epochs:
            vecs = spark.read.parquet(
                *[f"{vecs_root}/epoch={e}" for e in vec_epochs]
            ).select(id_col, vec_col)
        else:
            vecs = spark.createDataFrame([], f"{id_col} bigint, {vec_col} array<float>")
        new_labels = delete_labels_embedding(
            labels0, vecs, vec_ids, planes, threshold,
            id_col=id_col, vec_col=vec_col, metric=metric,
        ).localCheckpoint(eager=True)  # materialize BEFORE overwriting its input
        new_labels.select("id", "cluster").write.mode("overwrite").parquet(latest)
        report["labels_rewritten"] = True
    return report


def compact_stream_state(
    spark,
    state_dir: str,
    below_epoch: int | None = None,
) -> dict:
    """Fold a streaming near-dup state's per-epoch dirs below a
    watermark into ONE base epoch — the growth bound the per-epoch
    replay layout otherwise lacks. Every micro-batch of
    ingest_stream_neardup / ingest_stream_embedding_neardup plans a
    per-path read of ALL prior ``bands|buckets/epoch=*`` and
    ``docs|vecs/epoch=*`` dirs (O(#epochs) plan branches) and each
    labels epoch holds the FULL merged labeling with dead epochs
    retained forever; after thousands of micro-batches planning cost
    and state size grow without bound. This verb compacts both, and
    is the reason sinks.compact_everywhere deliberately excludes
    streaming state: per-epoch dirs are the replay unit MID-stream,
    so folding them is only legal between runs, from the maintenance
    seat — the same single-writer, stream-stopped contract as
    takedown_stream_state (reference anchor: the chunked shadow table
    is rebuilt wholesale on re-quantize, sqlite-vector.c:1418-1427 —
    this is the incremental equivalent).

    Semantics (text and embedding layouts auto-detected):

    - data roots (``bands``/``docs`` or ``buckets``/``vecs``): all
      epochs STRICTLY BELOW ``below_epoch`` are unioned (per-path
      read — partitioned and flat epoch dirs cannot share one
      multi-path scan) and rewritten as the single dir
      ``epoch=<max folded id>``, preserving each root's layout
      (bands re-partitioned by ``band``, buckets bucket-sorted with
      their plane-family sidecar carried over). Folding into the MAX
      folded id keeps every surviving reader's view identical: epoch
      N still reads exactly the data of epochs < N.
    - ``labels``: only the NEWEST epoch below the watermark is live
      (readers take ``labels/epoch=<max below current>``); older ones
      are dead full labelings and are dropped. Label epochs at or
      above the watermark are untouched.
    - superseded dirs are retained under ``<root>__pre_compact``
      (one generation, like delete/compact) together with any
      ``epoch=N__pre_delete`` leftovers of folded epochs;
      vacuum_stream_state reclaims them.

    ``below_epoch`` defaults to the max data epoch id — i.e. fold
    everything EXCEPT the newest epoch. The newest epoch is the only
    one an unclean shutdown can make Structured Streaming replay, and
    a replayed epoch must not find its own output folded into the
    base (it would candidate-match against itself). After a clean
    drain (query.stop() with no pending trigger) pass
    ``below_epoch=<max>+1`` to fold everything.

    Restart equivalence is the contract, not a hope: a stream resumed
    over the compacted state reads byte-identical inputs at every
    later epoch, so its labels match the uncompacted run exactly
    (pinned by test_compact_stream_state_resume_equivalence).

    Returns {root: {"folded": [...], "base": id} for each folded
    root, "labels_dropped": [...], "below_epoch": N, "read_paths":
    {"before": k, "after": m}}.
    """
    import os

    # scheme-resolved walk (r13): plain paths keep the os fast path,
    # hdfs:/s3a:/... roots go through the Hadoop FS layer — the same
    # verb, any supported store (os.path.join only concatenates with
    # '/', which is URI-safe)
    ops = _state_ops(state_dir, spark)
    roots = [
        d for d in ("bands", "buckets", "docs", "vecs")
        if ops.isdir(os.path.join(state_dir, d))
    ]
    labels_root = os.path.join(state_dir, "labels")
    if not roots:
        raise ValueError(
            f"compact_stream_state: {state_dir!r} has no bands/buckets/"
            "docs/vecs state roots — not a streaming near-dup state dir"
        )
    if below_epoch is None:
        data_max = max(
            (e for r in roots
             for e in _epoch_ids(os.path.join(state_dir, r), spark=spark)),
            default=None,
        )
        if data_max is None:
            return {"below_epoch": None, "labels_dropped": [],
                    "read_paths": {"before": 0, "after": 0}}
        below_epoch = data_max  # exclusive: the newest epoch stays replayable

    report: dict = {"below_epoch": below_epoch, "labels_dropped": []}
    paths_before = paths_after = 0
    for name in roots:
        root = os.path.join(state_dir, name)
        all_eps = _epoch_ids(root, spark=spark)
        folded = [e for e in all_eps if e < below_epoch]
        paths_before += len(all_eps)
        if len(folded) < 2:  # nothing to merge
            paths_after += len(all_eps)
            continue
        base = max(folded)
        parts = [os.path.join(root, f"epoch={e}") for e in folded]
        df = None
        for p in parts:  # per-path: epoch dirs must not share one scan
            d = spark.read.parquet(p)
            df = d if df is None else df.unionByName(d)
        staging = os.path.join(root, f"epoch={base}__compacting")
        if name == "bands":  # keep the band-partitioned probe layout
            (df.repartition(F.col("band"))
               .write.partitionBy("band").mode("overwrite").parquet(staging))
        elif name == "buckets":  # flat, bucket-sorted (row-group skip)
            # NO coalesce: the fold's goal is one plan branch, not
            # fewer files — collapsing k per-epoch files into one
            # under-128MB file would also collapse the next batch's
            # verify to a single read task (measured slower post-fold
            # batches at small file sizes); file count stays bounded
            # by #epochs between compactions
            (df.sortWithinPartitions("bucket")
               .write.mode("overwrite").parquet(staging))
        else:  # docs / vecs mirrors: flat (same no-coalesce rationale)
            df.write.mode("overwrite").parquet(staging)
        # retain superseded dirs (one generation), then promote staging
        retained = root + "__pre_compact"
        if ops.exists(retained):
            ops.rmtree(retained)
        ops.makedirs(retained)
        for e in folded:
            ops.rename(os.path.join(root, f"epoch={e}"), os.path.join(retained, f"epoch={e}"))
            leftover = os.path.join(root, f"epoch={e}__pre_delete")
            if ops.isdir(leftover):  # takedown retention of a folded epoch
                ops.rename(leftover, os.path.join(retained, f"epoch={e}__pre_delete"))
        if name == "buckets":  # plane-family sidecar must survive the fold
            from sqlite_vector_spark.sinks import _preserve_sidecars

            _preserve_sidecars(os.path.join(retained, f"epoch={base}"), staging)
        ops.rename(staging, os.path.join(root, f"epoch={base}"))
        spark.catalog.refreshByPath(root)
        report[name] = {"folded": folded, "base": base}
        paths_after += len(all_eps) - len(folded) + 1

    # labels: keep the newest epoch below the watermark (the live
    # labeling for every surviving reader), drop the dead ones
    label_eps = _epoch_ids(labels_root, below_epoch, spark=spark)
    if len(label_eps) > 1:
        retained = labels_root + "__pre_compact"
        if ops.exists(retained):
            ops.rmtree(retained)
        ops.makedirs(retained)
        for e in label_eps[:-1]:
            ops.rename(
                os.path.join(labels_root, f"epoch={e}"),
                os.path.join(retained, f"epoch={e}"),
            )
            leftover = os.path.join(labels_root, f"epoch={e}__pre_delete")
            if ops.isdir(leftover):
                ops.rename(leftover, os.path.join(retained, f"epoch={e}__pre_delete"))
        report["labels_dropped"] = label_eps[:-1]
        spark.catalog.refreshByPath(labels_root)
    report["read_paths"] = {"before": paths_before, "after": paths_after}
    return report


def vacuum_stream_state(state_dir: str, spark=None) -> dict:
    """Reclaim a streaming state's RETAINED superseded layouts — the
    ``<root>__pre_compact`` generations compact_stream_state keeps and
    the per-epoch ``epoch=N__pre_delete`` dirs takedown_stream_state
    leaves inside every root on every takedown (which would otherwise
    accumulate a full shadow copy of the state across repeated
    takedowns — streaming state is outside sinks.vacuum_everywhere's
    batch-tier walk, so this is its vacuum verb; the catalog-level
    vacuum_everywhere calls it for registered stream states). Same
    refuse-on-surprise posture as sinks.vacuum_store: an
    ``epoch=N__pre_delete`` whose live ``epoch=N`` dir is MISSING is
    skipped (a crashed swap may have left it the only copy), never
    removed. Run once readers have drained. Scheme-carrying roots walk
    through the Hadoop FS layer (pass ``spark`` or have an active
    session; r13). Returns
    {"removed": [...], "skipped": [...], "bytes_freed": N}."""
    import os

    ops = _state_ops(state_dir, spark)
    removed, skipped, freed = [], [], 0
    for name in ("bands", "buckets", "docs", "vecs", "labels"):
        root = os.path.join(state_dir, name)
        if not ops.isdir(root):
            continue
        live = {f"epoch={e}" for e in _epoch_ids(root, spark=spark)}
        retained = root + "__pre_compact"
        if ops.isdir(retained) and live:  # root still has a live epoch
            freed += ops.du(retained)
            ops.rmtree(retained)
            removed.append(f"{name}__pre_compact")
        for d in sorted(ops.listdir(root)):
            if not d.endswith("__pre_delete"):
                continue
            rel = os.path.join(name, d)
            if d.removesuffix("__pre_delete") in live:
                p = os.path.join(root, d)
                freed += ops.du(p)
                ops.rmtree(p)
                removed.append(rel)
            else:
                skipped.append(rel)  # live twin missing: may be the only copy
    return {"removed": removed, "skipped": skipped, "bytes_freed": freed}


def windowed_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time window counts with late-data watermark —
    the streaming form of workload.events_hourly."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), key_col, "n_events")
    )


def sessionized_event_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based session windows over an event stream — the streaming
    form of workload.sessionize, using Spark's native session_window
    (merging-window state; a session closes when the watermark passes
    its end + gap). One state row per open session per key."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )
