"""Vector column registry + persistent metadata catalog.

Mirrors the reference's two metadata layers (SURVEY.md §1.1):
- in-memory table-context registry (``vector_context``,
  sqlite-vector.c:139-142, lookup 1051-1061, add 1063-1098) →
  ``VectorCatalog._contexts`` dict;
- persistent catalog table ``_sqliteai_vector(tblname, colname, key,
  value)`` (sqlite-vector.c:114; serialize 419-449 / unserialize
  451-491) → a JSON file per (table, column) under ``root``.

``vector_init`` parity (sqlite-vector.c:2491-2543): validates that the
table/column exist and the column is an array-of-numeric type (the
BLOB-affinity sanity check, 287-305/350-373), parses the option
string, rejects re-registration with conflicting dim/type/normalized
(2521-2536), and reloads persisted quantization params.

At cluster scale the JSON store would be a Delta table's
TBLPROPERTIES or a small metastore table; the interface is the same.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType

from sqlite_vector_spark.types import Metric, QType, VectorOptions, VectorType, parse_options

_NUMERIC_ELEMS = (FloatType, DoubleType, ByteType, ShortType, IntegerType, LongType)


@dataclass
class VectorContext:
    table: str
    column: str
    type: VectorType = VectorType.F32
    dimension: int | None = None
    distance: Metric = Metric.L2
    normalized: bool = False
    max_memory: int = 30 * 1024 * 1024
    qtype: QType = QType.AUTO
    # persisted after vector_quantize (sqlite-vector.c:1440-1445)
    qscale: float | None = None
    qoffset: float | None = None
    resolved_qtype: str | None = None
    quantized_path: str | None = None
    # payload columns copied into the replica (vector_quantize
    # include_cols=) — the predicates the quantized tier can answer
    # with scan-level pushdown instead of falling back to exact
    quantized_include_cols: list | None = None
    # persisted after ivf_store: cluster-partitioned replica + its
    # centroids (C x dim — metadata-sized, rides in the catalog JSON)
    ivf_path: str | None = None
    ivf_centroids: list | None = None
    # persisted after pq_encode / ivf_pq_store: code table + codebooks
    # (m x ksub x dsub — metadata-sized) + whether codes are residual
    # + the OPQ rotation (dim x dim) when the codes live in a learned
    # rotated basis (opq_fit / opq_encode)
    pq_path: str | None = None
    pq_codebooks: list | None = None
    pq_residual: bool = False
    pq_rotation: list | None = None
    # persisted after bq_encode: 1-bit packed code table (+ per-dim
    # thresholds when not sign-bit encoding)
    bq_path: str | None = None
    bq_thresholds: list | None = None
    # persisted after bq_band_store: exploded multi-index-hashing band
    # layout (partitionBy(b), bv-sorted) — the pruned-probe replica of
    # the BQ code table
    mih_path: str | None = None
    mih_band_bits: int | None = None
    # projected band stores (bq_project_encode codes): the plane
    # matrix (p x dim) and optional center MUST ride with the store —
    # probing a p-bit projected layout with threshold sign bits over
    # ctx.dimension silently yields wrong/empty band collisions
    mih_planes: list | None = None
    mih_center: list | None = None
    # r11: near-dup STATE registration — the stores/states the
    # one-call takedown orchestrator (sinks.takedown) must maintain
    # beyond the vector tiers above. Paths only: each store/state
    # carries its own frozen pipeline params in a _sv_params.json
    # sidecar (written by lsh_band_store / embedding_bucket_store /
    # write_label_state), so the takedown re-solve can never run
    # with mismatched defaults.
    band_store_path: str | None = None
    docs_mirror_path: str | None = None
    text_labels_path: str | None = None
    bucket_store_path: str | None = None
    vectors_mirror_path: str | None = None
    embedding_labels_path: str | None = None
    stream_state_dir: str | None = None
    embedding_stream_state_dir: str | None = None
    extra: dict = field(default_factory=dict)


MAX_TABLES = 128  # reference sqlite-vector.c:72


class VectorCatalog:
    def __init__(self, root: str | None = None):
        self.root = root
        self._contexts: dict[tuple[str, str], VectorContext] = {}
        #: schemas of the stores this catalog's queries have read, so a
        #: repeated read skips Spark's inference job (sinks.read_parquet)
        self.store_schemas: dict = {}
        if root:
            os.makedirs(root, exist_ok=True)

    # -- persistence ------------------------------------------------
    def _path(self, table: str, column: str) -> str | None:
        if not self.root:
            return None
        safe = re.sub(r"[^A-Za-z0-9_.-]", "_", f"{table}__{column}")
        return os.path.join(self.root, f"{safe}.json")

    def _serialize(self, ctx: VectorContext) -> None:
        p = self._path(ctx.table, ctx.column)
        if p:
            d = asdict(ctx)
            d["type"], d["distance"], d["qtype"] = ctx.type.value, ctx.distance.value, ctx.qtype.value
            with open(p, "w") as f:
                json.dump(d, f, indent=1)

    def _unserialize(self, table: str, column: str) -> dict | None:
        p = self._path(table, column)
        if p and os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return None

    # -- API ---------------------------------------------------------
    def vector_init(self, df: DataFrame, table: str, column: str, options: str | VectorOptions | None = None) -> VectorContext:
        """Register (table, column) as a vector column (parity:
        vector_init, sqlite-vector.c:2491-2543)."""
        opts = parse_options(options) if isinstance(options, (str, type(None))) else options

        # sanity: column exists + is array-of-numeric (the BLOB check analog)
        fields = {f.name: f.dataType for f in df.schema.fields}
        if column not in fields:
            raise ValueError(f"column {column!r} not found in {table!r}")
        dt = fields[column]
        if not (isinstance(dt, ArrayType) and isinstance(dt.elementType, _NUMERIC_ELEMS)):
            raise ValueError(f"column {table}.{column} must be ARRAY of numeric, got {dt.simpleString()}")

        key = (table, column)
        if key in self._contexts:
            # conflicting re-init is an error (sqlite-vector.c:2521-2536)
            prev = self._contexts[key]
            if (opts.dimension and prev.dimension and opts.dimension != prev.dimension) or (
                opts.type is not prev.type or opts.normalized != prev.normalized
            ):
                raise ValueError(f"{table}.{column} already registered with conflicting options")
            return prev
        if len(self._contexts) >= MAX_TABLES:
            raise RuntimeError(f"too many registered vector columns (max {MAX_TABLES})")

        ctx = VectorContext(
            table=table,
            column=column,
            type=opts.type,
            dimension=opts.dimension,
            distance=opts.distance,
            normalized=opts.normalized,
            max_memory=opts.max_memory,
            qtype=opts.qtype,
        )
        persisted = self._unserialize(table, column)
        if persisted:  # reload quant params (sqlite_unserialize, 451-491)
            for k in (
                "qscale", "qoffset", "resolved_qtype", "quantized_path",
                "quantized_include_cols",
                "ivf_path", "ivf_centroids", "pq_path", "pq_codebooks", "pq_residual",
                "pq_rotation", "bq_path", "bq_thresholds",
                "mih_path", "mih_band_bits", "mih_planes", "mih_center",
                "band_store_path", "docs_mirror_path", "text_labels_path",
                "bucket_store_path", "vectors_mirror_path",
                "embedding_labels_path", "stream_state_dir",
                "embedding_stream_state_dir",
            ):
                setattr(ctx, k, persisted.get(k))
        self._contexts[key] = ctx
        self._serialize(ctx)
        return ctx

    def get(self, table: str, column: str) -> VectorContext:
        try:
            return self._contexts[(table, column)]
        except KeyError:
            raise KeyError(f"vector column {table}.{column} is not registered — call vector_init first") from None

    def set_quant_params(
        self, table: str, column: str, *, qtype: str, scale: float, offset: float,
        path: str | None = None, include_cols: list | None = None,
    ) -> None:
        ctx = self.get(table, column)
        ctx.resolved_qtype, ctx.qscale, ctx.qoffset, ctx.quantized_path = qtype, scale, offset, path
        ctx.quantized_include_cols = list(include_cols) if include_cols else None
        self._serialize(ctx)

    def set_ivf_index(self, table: str, column: str, *, path: str, centroids) -> None:
        ctx = self.get(table, column)
        ctx.ivf_path = path
        ctx.ivf_centroids = [[float(x) for x in c] for c in centroids]
        self._serialize(ctx)

    def set_pq_index(self, table: str, column: str, *, path: str, codebooks, residual: bool = False, rotation=None) -> None:
        ctx = self.get(table, column)
        ctx.pq_path = path
        ctx.pq_codebooks = [[[float(x) for x in e] for e in cb] for cb in codebooks]
        ctx.pq_residual = bool(residual)
        ctx.pq_rotation = (
            [[float(x) for x in row] for row in rotation] if rotation is not None else None
        )
        self._serialize(ctx)

    def set_bq_index(self, table: str, column: str, *, path: str, thresholds=None) -> None:
        ctx = self.get(table, column)
        ctx.bq_path = path
        ctx.bq_thresholds = [float(x) for x in thresholds] if thresholds is not None else None
        self._serialize(ctx)

    def set_mih_index(
        self, table: str, column: str, *, path: str, band_bits: int = 16,
        planes=None, center=None,
    ) -> None:
        """Register a bq_band_store directory (shares the BQ tier's
        thresholds — set_bq_index them if non-sign encoding). For a
        store built from bq_project_encode codes, pass the SAME
        ``planes`` (and ``center``) the codes were built with: the
        router must encode queries into the projected p-bit layout,
        and a projected store registered without its planes would
        silently probe with mismatched axis-aligned codes."""
        ctx = self.get(table, column)
        ctx.mih_path = path
        ctx.mih_band_bits = int(band_bits)
        ctx.mih_planes = (
            [[float(x) for x in row] for row in planes] if planes is not None else None
        )
        ctx.mih_center = [float(x) for x in center] if center is not None else None
        self._serialize(ctx)

    def set_text_neardup_state(
        self, table: str, column: str, *,
        band_store: str | None = None,
        docs_mirror: str | None = None,
        labels: str | None = None,
    ) -> None:
        """Register the TEXT near-dup state tiers for the one-call
        takedown (sinks.takedown): the persisted LSH band store
        (dedup.lsh_band_store), the docs mirror it was built from
        (the label re-solve reads surviving members' text from it),
        and the (id, cluster) label state (dedup.write_label_state —
        its params sidecar carries the frozen LSH family)."""
        ctx = self.get(table, column)
        if band_store is not None:
            ctx.band_store_path = band_store
        if docs_mirror is not None:
            ctx.docs_mirror_path = docs_mirror
        if labels is not None:
            ctx.text_labels_path = labels
        self._serialize(ctx)

    def set_embedding_neardup_state(
        self, table: str, column: str, *,
        bucket_store: str | None = None,
        vectors_mirror: str | None = None,
        labels: str | None = None,
    ) -> None:
        """Register the EMBEDDING near-dup state tiers for the
        one-call takedown: the hyperplane bucket store
        (dedup.embedding_bucket_store — planes ride in its sidecar),
        the vectors mirror the verify step reads candidate-bounded,
        and the label state (sidecar: planes/threshold/metric)."""
        ctx = self.get(table, column)
        if bucket_store is not None:
            ctx.bucket_store_path = bucket_store
        if vectors_mirror is not None:
            ctx.vectors_mirror_path = vectors_mirror
        if labels is not None:
            ctx.embedding_labels_path = labels
        self._serialize(ctx)

    def set_stream_state(
        self, table: str, column: str, *,
        state_dir: str | None = None,
        embedding_state_dir: str | None = None,
    ) -> None:
        """Register streaming near-dup state directories so the
        one-call takedown also rewrites the per-epoch streaming
        state: ``state_dir`` for ingest_stream_neardup (text),
        ``embedding_state_dir`` for ingest_stream_embedding_neardup
        (streaming.scoring.takedown_stream_state /
        takedown_stream_state_embedding)."""
        ctx = self.get(table, column)
        if state_dir is not None:
            ctx.stream_state_dir = state_dir
        if embedding_state_dir is not None:
            ctx.embedding_stream_state_dir = embedding_state_dir
        self._serialize(ctx)

    def drop(self, table: str, column: str) -> None:
        self._contexts.pop((table, column), None)
        p = self._path(table, column)
        if p and os.path.exists(p):
            os.remove(p)
