"""Rename-free versioned stores: the object-store-safe swap for the
delete/compact/takedown family (round 12, VERDICT r11 #3).

The flat maintenance verbs (sinks.delete_ids / compact_store) swap
layouts with a directory rename — atomic and cheap on a local filesystem,
impossible on an object store (S3-class stores have no rename; a
"rename" is a copy of every byte). At the 100 TB design point the
store lives on an object store, so the lifecycle verbs need a swap
built ONLY from the primitives those stores make cheap and atomic:
PUT a new object, LIST a prefix, DELETE an object. This module
generalizes operators/stats_store.py's versioned-path indirection
(vN snapshot dirs + newest-committed-wins) into a reusable scheme:

- a VERSIONED STORE is a root holding immutable data-file
  generations (``data/g{N}/...``) and a manifest per generation
  (``_sv_manifests/v{N}.json`` — the POINTER; one small object, PUT
  last, so commit is the manifest write and a crash before it leaves
  only unreferenced data files for vacuum);
- the live store is the newest manifest's file list; maintenance
  writes a NEW generation's files, then PUTs manifest N+1 — readers
  never observe a partial swap because nothing is ever renamed or
  mutated in place;
- a delete rewrites ONLY the partitions that hold the ids (same
  partition-pruned shape as the flat verb): the new manifest reuses
  the untouched partitions' files BY REFERENCE, so delete cost stays
  proportional to partitions touched even where rename doesn't exist;
- superseded generations are retained (the ``__pre_delete`` analog)
  until ``vacuum_versioned`` drops manifests older than the newest
  ``retain`` and every data file no kept manifest references.

All manifest IO goes through the Hadoop FileSystem API resolved from
the path's scheme (file:, hdfs:, s3a:, ...), and data files through
Spark writes — no ``os`` filesystem calls anywhere in this module, so
the scheme runs unchanged against any Hadoop-supported store. Local
directories work too (the tests run both swap modes over the same
lifecycle).

Partitioned layouts keep one-value-per-file by writing each
generation with ``partitionBy``; readers re-derive the partition
column per generation via ``option("basePath", <gen dir>)`` and union
across generations (bounded: compaction folds to one). The partition
value per file is carried in the manifest, so partition pruning is a
manifest filter — no listing of the data prefix on the read path.

Integration boundary: the MAINTENANCE family (delete_ids /
compact_store / vacuum_store, the takedown orchestrator and
verify_ids_absent via sinks.read_store) dispatches on the manifest
layout automatically. QUERY paths (r13, VERDICT r12 #3): swap mode is
invisible to EVERY tier's reader — the catalog router (router.knn /
knn_join), the TVF surface, and route_sql resolve the quantized / PQ
/ BQ replica through ``sinks.read_store(spark, root)``
(oracle-gated: auto_route_scan_versioned; equality-pinned:
tests/test_versioned.py routed-versioned == routed-flat), and the
partition-PRUNED tier readers (ann.ivf_stored_scan /
ann.lsh_bucket_scan / pq.ivf_pq_stored_scan / bq.bq_band_scan /
bq.bq_band_join) resolve a versioned root via
``read_versioned(partition_values=<probes>)`` — the manifest filter
gives the same probe pruning WITHOUT listing the data prefix, and an
empty probe set returns an empty frame like the flat ``.where()``
(equality-pinned: test_probe_limited_tiers_versioned_equals_flat).

Reference anchor: the reference swaps its chunked shadow table by
dropping and recreating it inside one transaction
(sqlite-vector.c:1418-1427); a transactional rename is exactly what
object stores lack, and the manifest pointer is the equivalent commit
point."""

from __future__ import annotations

import json
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_MANIFEST_RE = re.compile(r"^v(\d{6})\.json$")
_MANIFESTS = "_sv_manifests"


# ---- Hadoop FS plumbing (scheme-agnostic small-object IO) -----------
# r13: generalized into sqlite_vector_spark.fsutil so the STREAMING
# state lifecycle verbs share the same layer (VERDICT r12 #2); the
# local aliases keep this module's call sites and test imports stable.

from sqlite_vector_spark.fsutil import (  # noqa: E402
    delete as _delete,
    exists as _exists,
    fs_for as _fs,
    get_text as _get_text,
    list_names as _list_names,
    put_text as _put_text,
    walk_files as _walk_files,
)


# ---- manifests -------------------------------------------------------

def is_versioned(spark: SparkSession, root: str) -> bool:
    """A versioned store is recognized by its manifests prefix — the
    flat maintenance verbs dispatch here when they see one."""
    return _exists(spark, f"{root.rstrip('/')}/{_MANIFESTS}")


def manifest_versions(spark: SparkSession, root: str) -> list[int]:
    out = []
    for name in _list_names(spark, f"{root.rstrip('/')}/{_MANIFESTS}"):
        m = _MANIFEST_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_manifest(spark: SparkSession, root: str, version: int) -> dict:
    text = _get_text(spark, f"{root.rstrip('/')}/{_MANIFESTS}/v{version:06d}.json")
    try:
        return json.loads(text)
    except json.JSONDecodeError as e:
        raise ValueError(
            f"corrupt manifest v{version} under {root!r}: {e} — the data "
            "generations are intact; resolve from an older manifest"
        ) from e


def current_manifest(spark: SparkSession, root: str) -> tuple[int, dict]:
    vs = manifest_versions(spark, root)
    if not vs:
        raise FileNotFoundError(f"no committed manifest under {root!r}")
    return vs[-1], read_manifest(spark, root, vs[-1])


def _write_manifest(spark, root, version, partition_col, entries) -> None:
    _put_text(
        spark,
        f"{root.rstrip('/')}/{_MANIFESTS}/v{version:06d}.json",
        json.dumps({"partition_col": partition_col, "files": entries}, indent=1),
    )


def _gen_entries(spark, root: str, gen: str, partition_col: str | None) -> list[dict]:
    """Manifest entries for every data file Spark committed under a
    generation dir — relative paths plus the partition value parsed
    from the ``col=value`` path segment (percent-decoded, matching how
    Spark encoded it)."""
    from urllib.parse import unquote

    rootp = root.rstrip("/")
    files = spark.read.parquet(f"{rootp}/{gen}").inputFiles()
    entries = []
    for uri in sorted(files):
        rel = uri.split(f"/{gen}/", 1)[1]
        e: dict = {"path": f"{gen}/{rel}"}
        if partition_col is not None:
            seg = next(
                (s for s in rel.split("/") if s.startswith(f"{partition_col}=")),
                None,
            )
            if seg is None:
                raise RuntimeError(
                    f"versioned store {root!r}: file {rel!r} in generation "
                    f"{gen!r} has no {partition_col}= path segment"
                )
            e["value"] = unquote(seg.split("=", 1)[1])
        entries.append(e)
    return entries


# ---- reads -----------------------------------------------------------

def read_versioned(
    spark: SparkSession,
    root: str,
    partition_values=None,
    _manifest: dict | None = None,
    schemas: dict | None = None,
) -> DataFrame:
    """DataFrame over the LIVE generation set (newest manifest),
    optionally pruned to a set of partition values — pruning is a
    manifest filter, so the data prefix is never listed. Files are
    read per source generation with that generation as ``basePath``
    (restores the dir-derived partition column) and unioned; a
    compacted store is a single generation, so the union is bounded.

    ``partition_values`` requires a partitioned manifest: on a store
    written without ``partition_col`` no entry carries a value, so the
    filter would silently select nothing — raise instead and point the
    caller at :func:`read_versioned_pruned`, which falls back to a
    row-level filter (ADVICE r13 #1).

    ``schemas`` (see sinks.read_parquet) is used for whole-generation
    reads only: a pruned read infers the partition column's type from
    the probed values alone, so it may differ from another probe
    set's, and one entry per probe set would grow without bound."""
    from sqlite_vector_spark.sinks import read_parquet

    rootp = root.rstrip("/")
    man = _manifest if _manifest is not None else current_manifest(spark, rootp)[1]
    pcol = man["partition_col"]
    entries = man["files"]
    if partition_values is not None:
        if pcol is None:
            raise ValueError(
                f"versioned store {rootp!r} has no partition column: manifest "
                "pruning by partition_values is impossible (every probe would "
                "silently match nothing) — use read_versioned_pruned() for the "
                "row-level fallback"
            )
        want = {str(v) for v in partition_values}
        entries = [e for e in entries if e.get("value") in want]
        if not entries and man["files"]:
            # the filter matched no live partition (e.g. a probed IVF
            # cluster emptied by deletes): EMPTY result with the store
            # schema — the flat twin's .where() returns empty too, and
            # a query path must not turn pruning into an error
            e0 = man["files"][0]
            gen0 = "/".join(e0["path"].split("/")[:2])
            r = spark.read
            if pcol is not None:
                r = r.option("basePath", f"{rootp}/{gen0}")
            return r.parquet(f"{rootp}/{e0['path']}").limit(0)
    by_gen: dict[str, list[str]] = {}
    for e in entries:
        gen = "/".join(e["path"].split("/")[:2])  # "data/g000123"
        by_gen.setdefault(gen, []).append(f"{rootp}/{e['path']}")
    if partition_values is not None:
        schemas = None
    df = None
    for gen in sorted(by_gen):
        base = f"{rootp}/{gen}" if pcol is not None else None
        d = read_parquet(spark, by_gen[gen], schemas, base_path=base)
        df = d if df is None else df.unionByName(d)
    if df is None:
        raise ValueError(f"versioned store {root!r}: live manifest lists no files")
    return df


def read_versioned_pruned(
    spark: SparkSession,
    root: str,
    column: str,
    values,
    schemas: dict | None = None,
) -> DataFrame:
    """Live-set read pruned to ``values`` of ``column`` — the probe
    readers' versioned entry point (IVF clusters, LSH/BQ buckets).

    When the manifest is partitioned BY that column this is the pure
    manifest filter (one small GET selects the probe partitions' files;
    the data prefix is never listed). When the store was written
    without ``partition_col`` — ``versioned_store_init``'s default — or
    partitioned by a DIFFERENT column, fall back to reading all live
    files with a row-level ``.where(column IN values)``: same results
    as the flat twin's filter, just without planning-time pruning.
    Before this fallback a probe over such a store silently returned
    empty top-k (ADVICE r13 #1)."""
    rootp = root.rstrip("/")
    _, man = current_manifest(spark, rootp)
    if man["partition_col"] == column:
        return read_versioned(spark, rootp, partition_values=values, _manifest=man,
                              schemas=schemas)
    vals = list(values)
    return read_versioned(spark, rootp, _manifest=man, schemas=schemas).where(
        F.col(column).isin(vals)
    )


# ---- writes ----------------------------------------------------------

def _write_generation(
    df: DataFrame, root: str, version: int, partition_col: str | None,
    sort_within=None, target_partitions: int | None = None, finish=None,
) -> list[dict]:
    """Write one immutable generation dir and return its entries."""
    from sqlite_vector_spark.sinks import _write_store

    gen = f"data/g{version:06d}"
    _write_store(df, f"{root.rstrip('/')}/{gen}", "overwrite", partition_col,
                 sort_within, num_partitions=target_partitions, finish=finish)
    return _gen_entries(df.sparkSession, root, gen, partition_col)


def versioned_store_init(
    df: DataFrame,
    root: str,
    partition_col: str | None = None,
    sort_within=None,
) -> dict:
    """Create a versioned store (generation 0 + manifest v0) from a
    DataFrame — also the migration path for an existing flat store:
    ``versioned_store_init(spark.read.parquet(flat), new_root, ...)``.
    The frozen-params sidecar, when the source had one, is the
    caller's to re-write (sinks.write_params_sidecar works on any
    local root; versioned stores keep theirs beside the manifests)."""
    spark = df.sparkSession
    rootp = root.rstrip("/")
    ver = 0
    if is_versioned(spark, rootp) and manifest_versions(spark, rootp):
        # A store whose LIVE manifest lists zero files (a full-wipe
        # delete committed an empty manifest) must be repopulatable:
        # read_versioned refuses an empty manifest, so without this
        # branch every verb fails and init refuses too — permanently
        # bricked (ADVICE r12). Re-init commits the NEXT generation on
        # top; a store with live files still refuses (the maintenance
        # verbs evolve it).
        cur_ver, man = current_manifest(spark, rootp)
        if man["files"]:
            raise ValueError(
                f"versioned_store_init: {root!r} already has committed manifests; "
                "use the maintenance verbs to evolve it"
            )
        ver = cur_ver + 1
    n = max(1, min(df.sparkSession.sparkContext.defaultParallelism, 64))
    entries = _write_generation(
        df, rootp, ver, partition_col, sort_within, target_partitions=n
    )
    _write_manifest(spark, rootp, ver, partition_col, entries)
    return {"version": ver, "files": len(entries)}


def _commit(df: DataFrame, root: str, sort_within=None, append: bool = True,
            partition_col: str | None = None, finish=None) -> dict:
    """Write ``df`` as the next generation, then PUT manifest N+1
    listing it — after the live files BY REFERENCE when ``append``,
    alone otherwise. The generation reuses the manifest's layout; a
    caller's ``partition_col`` that disagrees raises rather than
    silently losing the pruning it expects (ADVICE r13 #2)."""
    spark = df.sparkSession
    rootp = root.rstrip("/")
    ver, man = current_manifest(spark, rootp)
    pcol = man["partition_col"]
    if partition_col is not None and partition_col != pcol:
        raise ValueError(
            f"partition_col={partition_col!r} does not match the versioned "
            f"store at {root!r}, whose manifest is partitioned by {pcol!r}; "
            "versioned writes reuse the manifest layout — migrate the store "
            "(or pass the manifest's partition column) instead"
        )
    n = max(1, min(spark.sparkContext.defaultParallelism, 64))
    entries = _write_generation(
        df, rootp, ver + 1, pcol, sort_within, target_partitions=n, finish=finish
    )
    _write_manifest(spark, rootp, ver + 1, pcol,
                    (man["files"] if append else []) + entries)
    return {"version": ver + 1, "files": len(entries), "partition_col": pcol}


def append_versioned(df: DataFrame, root: str, sort_within=None) -> dict:
    """Append rows to a versioned store as a NEW generation: the next
    manifest lists the old files BY REFERENCE plus the new
    generation's — the same commit shape as delete, so append is
    rename-free and crash-safe (a crash before the manifest PUT
    leaves only unreferenced files for vacuum). This is what
    ``mode="append")`` MUST become on a versioned root: a plain
    parquet append would drop files next to the generations where no
    manifest references them — invisible to every reader and
    reclaimed as orphans by the next vacuum, i.e. silent data loss
    (sinks.write_partitioned and sinks.write_observed, behind every
    append verb, dispatch here automatically). Each append widens the
    read union by one generation until compact_versioned folds it —
    the same bounded growth story as the streaming epochs."""
    rep = _commit(df, root, sort_within)
    return {"version": rep["version"], "appended_files": rep["files"],
            "partition_col": rep["partition_col"]}


def replace_versioned(df: DataFrame, root: str, sort_within=None) -> dict:
    """Replace a versioned store's CONTENT wholesale: manifest N+1
    lists ONLY the new generation — the rename-free form of the flat
    whole-store swap (tmp-write + rename). The superseded generation
    stays readable for draining readers until vacuum_versioned, same
    retention contract as delete. This is what ``mode="overwrite"``
    means on a versioned root: a plain parquet overwrite would DELETE
    the manifests along with the data (the store silently degrades to
    flat, or readers break mid-swap); the dispatching writers
    (sinks.write_partitioned, the label-state rewrite, the bucket
    store) route here instead."""
    return _commit(df, root, sort_within, append=False)


def migrate_to_versioned(
    spark: SparkSession,
    src: str,
    dest: str,
    partition_col: str | None = "auto",
    sort_within=None,
) -> dict:
    """Copy a FLAT store into a fresh VERSIONED root (generation 0 +
    manifest) — the one-call migration path for moving a derived
    store onto an object store. ``partition_col="auto"`` detects the
    directory layout from the source's ``col=value`` dirs (through
    the FS layer, so a remote source detects too); sidecars
    (``_sv_*.json``) are carried over; row-count equality is checked
    before returning. The SOURCE is left in place — remove it once
    readers have drained (the same grace contract as the swap verbs).
    For a catalog-registered tier use sinks.migrate_tier_to_versioned,
    which also flips the catalog pointer so the router serves the
    versioned replica immediately."""
    from sqlite_vector_spark.sinks import _detect_partition_col, _preserve_sidecars

    srcp, destp = src.rstrip("/"), dest.rstrip("/")
    if is_versioned(spark, srcp):
        raise ValueError(f"migrate_to_versioned: {src!r} is already a versioned store")
    if partition_col == "auto":
        partition_col = _detect_partition_col(spark, srcp)
    df = spark.read.parquet(srcp)
    n = df.count()
    rep = versioned_store_init(df, destp, partition_col=partition_col,
                               sort_within=sort_within)
    _preserve_sidecars(spark, srcp, destp)
    out = read_versioned(spark, destp).count()
    if out != n:  # manifest committed; fail loudly, source untouched
        raise RuntimeError(
            f"migrate_to_versioned row-count mismatch: source {n} rows, "
            f"versioned {out} — source {src!r} is untouched"
        )
    return {"rows": n, "partition_col": partition_col,
            "files": rep["files"], "dest": destp}


def delete_ids_versioned(
    spark: SparkSession,
    root: str,
    ids,
    id_col: str = "id",
    sort_within=None,
) -> dict:
    """Rename-free, partition-pruned hard delete: the pointer-flip
    twin of sinks.delete_ids. (1) the same executor-folded probe finds
    the affected partition values; (2) ONLY those partitions' rows are
    re-read (a manifest filter — untouched partitions are never read)
    and rewritten, anti-joined against the broadcast id batch, into a
    fresh generation; (3) manifest N+1 reuses every untouched file by
    reference and swaps in the new generation's files — the PUT of the
    manifest is the commit, no rename anywhere. The superseded
    manifest keeps the old generation set readable (``__pre_delete``
    semantics) until vacuum_versioned."""
    from sqlite_vector_spark.sinks import _id_batch

    rootp = root.rstrip("/")
    ver, man = current_manifest(spark, rootp)
    pcol = man["partition_col"]
    ids_df = _id_batch(spark, ids)
    key = F.col(id_col).cast("bigint")

    if pcol is None:
        df = read_versioned(spark, rootp)
        before = df.count()
        kept = df.join(F.broadcast(ids_df), key == F.col("_del_id"), "left_anti")
        # Count BEFORE writing: a delete that wipes every row must not
        # write a generation at all (an empty dir has no parquet files,
        # so _gen_entries' schema inference would crash mid-commit) —
        # the new manifest just lists no files, and read_versioned's
        # empty-manifest refusal names the state clearly.
        after = kept.count()
        entries = (
            [] if after == 0
            else _write_generation(kept, rootp, ver + 1, None, sort_within)
        )
        _write_manifest(spark, rootp, ver + 1, None, entries)
        return {"deleted_rows": before - after, "rows_after": after,
                "partitions_rewritten": -1, "version": ver + 1}

    hit = (
        read_versioned(spark, rootp)
        .select(key.alias("_k"), F.col(pcol))
        .join(F.broadcast(ids_df), F.col("_k") == F.col("_del_id"), "left_semi")
        .groupBy(pcol)
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    if not hit:
        return {"deleted_rows": 0, "rows_after": None,
                "partitions_rewritten": 0, "version": ver}
    affected = sorted(str(r[0]) for r in hit)
    deleted = sum(r[1] for r in hit)
    pruned = read_versioned(spark, rootp, partition_values=affected)
    before = pruned.count()
    if deleted == before:
        # the batch wipes EVERY row of every affected partition (the
        # flat twin drops those directories): no generation to write —
        # writing one would leave an empty dir whose schema inference
        # crashes _gen_entries — the manifest simply stops referencing
        # the wiped partitions' files.
        new_entries: list[dict] = []
    else:
        kept = pruned.join(
            F.broadcast(ids_df), key == F.col("_del_id"), "left_anti"
        )
        new_entries = _write_generation(
            kept, rootp, ver + 1, pcol, sort_within,
            target_partitions=len(affected),
        )
    untouched = [e for e in man["files"] if e.get("value") not in set(affected)]
    _write_manifest(spark, rootp, ver + 1, pcol, untouched + new_entries)
    return {"deleted_rows": deleted, "rows_after": before - deleted,
            "partitions_rewritten": len(affected), "version": ver + 1}


def compact_versioned(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within=None,
) -> dict:
    """Fold the live generation set into ONE fresh generation with
    files sized toward ``target_file_bytes`` — the pointer-flip twin
    of sinks.compact_store (and the generation-count bound: reads
    union per-generation, so compaction restores a single-relation
    plan)."""
    rootp = root.rstrip("/")
    ver, man = current_manifest(spark, rootp)
    pcol = man["partition_col"]
    df = read_versioned(spark, rootp)
    files_before = len(man["files"])
    rows = df.count()
    jvm = spark._jvm
    total = 0
    for e in man["files"]:
        jp, fs = _fs(spark, f"{rootp}/{e['path']}")
        if fs.exists(jp):
            total += fs.getFileStatus(jp).getLen()
    target_files = max(1, int(total // target_file_bytes) + 1)
    entries = _write_generation(
        df, rootp, ver + 1, pcol, sort_within, target_partitions=target_files
    )
    _write_manifest(spark, rootp, ver + 1, pcol, entries)
    out = read_versioned(spark, rootp)
    if out.count() != rows:  # commit already happened; fail loudly
        raise RuntimeError(
            f"compact_versioned row-count mismatch on {root!r} — manifest "
            f"v{ver + 1} is live; previous manifest v{ver} retained for recovery"
        )
    return {"files_before": files_before, "files_after": len(entries),
            "rows": rows, "version": ver + 1}


def vacuum_versioned(spark: SparkSession, root: str, retain: int = 1) -> dict:
    """Drop manifests older than the newest ``retain`` and every data
    file no kept manifest references (superseded generations, plus
    orphans from a crash between generation write and manifest PUT).
    Same role as sinks.vacuum_store's retained-layout reclaim; run
    once readers have drained past the dropped manifests."""
    rootp = root.rstrip("/")
    vs = manifest_versions(spark, rootp)
    if not vs:
        raise RuntimeError(f"vacuum_versioned: no manifests under {root!r}")
    keep_vs = vs[-max(1, retain):]
    referenced: set[str] = set()
    for v in keep_vs:
        for e in read_manifest(spark, rootp, v)["files"]:
            referenced.add(e["path"])
    removed_files, freed = [], 0
    for gen in _list_names(spark, f"{rootp}/data"):
        gen_prefix = f"data/{gen}"
        # fsutil.walk_files: os fast path on local roots — the
        # per-file py4j round-trips of the Hadoop iterator dominated
        # the r13 probe's vacuum (97 s walking a 3x4096-dir store the
        # deletes clear in <1 s; VERDICT r13 #3's real cause)
        gen_files = [
            (f"{gen_prefix}/{p.split('/' + gen_prefix + '/', 1)[1]}", sz)
            for p, sz in _walk_files(spark, f"{rootp}/{gen_prefix}")
        ]
        live = [f for f, _ in gen_files if f in referenced]
        if not live:  # whole generation superseded or orphaned
            freed += sum(sz for _, sz in gen_files)
            removed_files.extend(f for f, _ in gen_files)
            _delete(spark, f"{rootp}/{gen_prefix}", recursive=True)
        else:
            # partially-live generation (kept partially alive by
            # by-reference manifest reuse): group dead files by their
            # partition dir and recursive-delete each WHOLLY-dead dir
            # in one call, falling back to per-file deletes only for
            # dirs that still hold live files. File-by-file here cost
            # 94 s vs the flat rmtree's 5 s at the 1M/48M-row probe
            # (VERDICT r13 #3; object stores delete per-object either
            # way, so this is the local/HDFS win).
            live_dirs = {f.rsplit("/", 1)[0] for f in live}
            dead_by_dir: dict[str, list[tuple[str, int]]] = {}
            for rel, sz in gen_files:
                base = rel.rsplit("/", 1)[1]
                if rel not in referenced and not base.startswith(("_", ".")):
                    dead_by_dir.setdefault(rel.rsplit("/", 1)[0], []).append((rel, sz))
            for d, items in dead_by_dir.items():
                freed += sum(sz for _, sz in items)
                removed_files.extend(rel for rel, _ in items)
                wholly_dead = d != gen_prefix and not any(
                    ld == d or ld.startswith(d + "/") for ld in live_dirs
                )
                if wholly_dead:
                    _delete(spark, f"{rootp}/{d}", recursive=True)
                else:
                    for rel, _ in items:
                        _delete(spark, f"{rootp}/{rel}")
    removed_manifests = [v for v in vs if v not in keep_vs]
    for v in removed_manifests:
        _delete(spark, f"{rootp}/{_MANIFESTS}/v{v:06d}.json")
    return {"removed_manifests": removed_manifests,
            "removed_files": len(removed_files), "bytes_freed": freed}
