"""Versioned (rename-free) stores: the object-store-safe swap for the
delete/compact/vacuum lifecycle (round 12).

The same lifecycle runs over BOTH swap modes — the local os.rename
fast path and the manifest pointer-flip — and must produce identical
surviving contents; the versioned mode additionally pins manifest
mechanics (file reuse by reference, generation pruning, orphan
reclaim, corrupt-manifest refusal)."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest


def _frame(spark, n=2000):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 16).cast("int").alias("cluster"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("payload"),
    )


def _rows(df):
    return sorted((r.id, r.cluster, r.payload) for r in df.collect())


def _build(spark, tmp_path, mode: str, partition_col):
    """Build one store per swap mode; return (path, reader)."""
    from sqlite_vector_spark.sinks import read_store
    from sqlite_vector_spark.versioned import versioned_store_init

    df = _frame(spark)
    path = str(tmp_path / f"store_{mode}")
    if mode == "rename":
        w = df.write
        if partition_col:
            w = w.partitionBy(partition_col)
        w.parquet(path)
    else:
        versioned_store_init(df, path, partition_col=partition_col)
    return path, (lambda: read_store(spark, path))


@pytest.mark.parametrize("mode", ["rename", "pointer"])
def test_lifecycle_delete_compact_vacuum_both_swap_modes(spark, tmp_path, mode):
    """delete -> compact -> vacuum over a partitioned store, same
    surviving contents in both swap modes; the pointer mode must touch
    only the affected partitions (manifest reuse by reference) and
    never rename anything."""
    from sqlite_vector_spark.sinks import compact_store, delete_ids, vacuum_store
    from sqlite_vector_spark.versioned import current_manifest, manifest_versions

    path, read = _build(spark, tmp_path, mode, "cluster")
    victims = [5, 21, 37, 1600]  # clusters 5, 5, 5, 0 -> 2 affected
    want = _rows(_frame(spark).where(~F.col("id").isin(victims)))

    rep = delete_ids(spark, path, victims, id_col="id",
                     partition_col="cluster" if mode == "rename" else None)
    assert rep["deleted_rows"] == len(victims)
    assert rep["partitions_rewritten"] == 2  # pruned in BOTH modes
    assert _rows(read()) == want

    if mode == "pointer":
        ver, man = current_manifest(spark, path)
        assert ver == 1
        gens = {e["path"].split("/")[1] for e in man["files"]}
        # untouched partitions still served from generation 0 BY
        # REFERENCE; only the rewritten ones moved to generation 1
        assert gens == {"g000000", "g000001"}
        assert {e["value"] for e in man["files"]
                if e["path"].startswith("data/g000001/")} == {"0", "5"}

    crep = compact_store(
        spark, path, partition_col="cluster" if mode == "rename" else None
    )
    assert crep["rows"] == len(want)
    assert _rows(read()) == want

    vrep = vacuum_store(path, spark=spark)
    assert _rows(read()) == want
    if mode == "pointer":
        assert vrep["removed_manifests"] == [0, 1]
        assert manifest_versions(spark, path) == [2]
        # all files now live in the compacted generation only
        _, man = current_manifest(spark, path)
        assert {e["path"].split("/")[1] for e in man["files"]} == {"g000002"}
        assert sorted(os.listdir(os.path.join(path, "data"))) == ["g000002"]
    else:
        assert vrep["removed"]  # retained layouts reclaimed
        assert not os.path.exists(path + "__pre_delete")
        assert not os.path.exists(path + "__pre_compact")


@pytest.mark.parametrize("mode", ["rename", "pointer"])
def test_lifecycle_unpartitioned_both_swap_modes(spark, tmp_path, mode):
    """Unpartitioned stores rewrite wholesale in both modes; contents
    stay equal and the versioned report carries the new generation."""
    from sqlite_vector_spark.sinks import delete_ids

    path, read = _build(spark, tmp_path, mode, None)
    victims = list(range(0, 2000, 100))
    want = _rows(_frame(spark).where(~F.col("id").isin(victims)))
    rep = delete_ids(spark, path, victims, id_col="id")
    assert rep["deleted_rows"] == len(victims)
    assert rep["partitions_rewritten"] == -1
    assert rep["rows_after"] == len(want)
    assert _rows(read()) == want
    if mode == "pointer":
        assert rep["version"] == 1


def test_versioned_no_match_delete_is_noop(spark, tmp_path):
    from sqlite_vector_spark.sinks import delete_ids
    from sqlite_vector_spark.versioned import current_manifest

    path, read = _build(spark, tmp_path, "pointer", "cluster")
    rep = delete_ids(spark, path, [999_999], id_col="id")
    assert rep["deleted_rows"] == 0 and rep["partitions_rewritten"] == 0
    assert current_manifest(spark, path)[0] == 0  # no new generation
    assert len(_rows(read())) == 2000


def test_versioned_vacuum_reclaims_orphan_generation(spark, tmp_path):
    """A crash between writing a generation and PUTting its manifest
    leaves unreferenced data files; vacuum reclaims them (and old
    manifests past the retain window)."""
    from sqlite_vector_spark.versioned import (
        current_manifest,
        vacuum_versioned,
        versioned_store_init,
    )

    path = str(tmp_path / "vs")
    versioned_store_init(_frame(spark, 200), path, partition_col="cluster")
    # simulate the crash: generation files exist, no manifest points at them
    _frame(spark, 10).write.parquet(os.path.join(path, "data", "g000099"))
    rep = vacuum_versioned(spark, path)
    assert rep["removed_files"] > 0 and rep["bytes_freed"] > 0
    assert not os.path.exists(os.path.join(path, "data", "g000099"))
    assert current_manifest(spark, path)[0] == 0  # live generation intact
    assert len(os.listdir(os.path.join(path, "data", "g000000"))) > 0


def test_versioned_corrupt_manifest_refusal(spark, tmp_path):
    from sqlite_vector_spark.versioned import read_versioned, versioned_store_init

    path = str(tmp_path / "cm")
    versioned_store_init(_frame(spark, 50), path, partition_col=None)
    # corrupt through the same FS API (a plain open() would only trip
    # the local ChecksumFileSystem, masking the JSON refusal)
    from sqlite_vector_spark.versioned import _put_text

    _put_text(spark, os.path.join(path, "_sv_manifests", "v000000.json"),
              '{"files": [tru')
    with pytest.raises(ValueError, match="corrupt manifest"):
        read_versioned(spark, path)


@pytest.mark.slow
def test_versioned_store_in_takedown_registry(spark, tmp_path):
    """A versioned tier registered in the catalog flows through the
    one-call takedown + verify receipt: delete_ids dispatches on the
    manifest layout and verify_ids_absent reads through read_store, so
    superseded generations never count as residuals."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.sinks import takedown
    from sqlite_vector_spark.versioned import versioned_store_init

    dim = 8
    emb = spark.range(500).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda j: (F.col("id") % 7 + j).cast("float")).alias("embedding"),
    )
    emb.createOrReplaceTempView("vstore_t")
    cat = VectorCatalog(str(tmp_path / "cat"))
    cat.vector_init(emb, "vstore_t", "embedding",
                    f"type=FLOAT32,dimension={dim},distance=L2")
    codes = emb.select(F.col("vec_id").alias("id"), (F.col("vec_id") % 13).alias("code"))
    bq_path = str(tmp_path / "bq_versioned")
    versioned_store_init(codes, bq_path, partition_col=None)
    cat.set_bq_index("vstore_t", "embedding", path=bq_path)

    # a versioned MIH tier must take the (versioned) in-place arm, not
    # the rebuild-from-codes arm whose swap is os.rename
    mih = emb.select(
        F.col("vec_id").alias("id"),
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
        (F.col("vec_id") % 251).alias("bv"),
    )
    mih_path = str(tmp_path / "mih_versioned")
    versioned_store_init(mih, mih_path, partition_col="band", sort_within=["bv"])
    cat.set_mih_index("vstore_t", "embedding", path=mih_path, band_bits=8)

    rep = takedown(spark, cat, "vstore_t", "embedding", [3, 44, 210], verify=True)
    assert rep["bq"]["deleted_rows"] == 3
    assert rep["bq"]["version"] == 1  # pointer-flip arm ran
    assert rep["mih"]["strategy"] == "in_place"
    assert rep["mih"]["deleted_rows"] == 12  # 3 ids x 4 bands
    assert rep["mih"]["partitions_rewritten"] == 4
    assert rep["verified"]["bq"] == 0 and rep["verified"]["mih"] == 0


@pytest.mark.slow
def test_versioned_delete_sequence_matches_flat(spark, tmp_path):
    """Adversarial multi-round equivalence: the SAME sequence of
    delete batches (overlapping ids, already-deleted ids, no-match
    batches) applied to a flat rename-mode store and a pointer-mode
    versioned store, with a compaction thrown mid-sequence on the
    versioned side only, must keep contents identical at every step —
    the two swap implementations are interchangeable, not merely
    each-correct-once."""
    from sqlite_vector_spark.sinks import compact_store, delete_ids

    flat, read_flat = _build(spark, tmp_path, "rename", "cluster")
    vers, read_vers = _build(spark, tmp_path, "pointer", "cluster")
    alive = set(range(2000))
    batches = [
        [(i * 37 + 13) % 2000 for i in range(40)],
        [5, 5, 21, 999_999],            # dups in batch + no-match id
        [(i * 37 + 13) % 2000 for i in range(40)],  # all already deleted
        list(range(0, 2000, 7)),
    ]
    for n, ids in enumerate(batches):
        r1 = delete_ids(spark, flat, ids, id_col="id", partition_col="cluster")
        r2 = delete_ids(spark, vers, ids, id_col="id")
        hits = alive & set(ids)
        assert r1["deleted_rows"] == r2["deleted_rows"] == len(hits), (n, ids[:5])
        alive -= hits
        assert _rows(read_flat()) == _rows(read_vers())
        if n == 1:  # compact only the versioned side mid-sequence
            compact_store(spark, vers)
            assert _rows(read_flat()) == _rows(read_vers())
    assert len(_rows(read_vers())) == len(alive)


def test_versioned_delete_wipes_whole_partitions(spark, tmp_path):
    """A delete batch that removes EVERY row of the affected
    partitions must commit the pointer flip instead of crashing on an
    empty-generation write (r12 review finding: Spark emits no parquet
    files for an empty partitioned write, so schema inference on the
    new generation dir threw mid-commit). The new manifest simply
    stops referencing the wiped partitions' files — the flat twin
    drops those directories the same way."""
    from sqlite_vector_spark.versioned import (
        delete_ids_versioned,
        read_versioned,
        versioned_store_init,
    )

    path = str(tmp_path / "store")
    versioned_store_init(_frame(spark, 64), path, partition_col="cluster")
    wipe = [i for i in range(64) if i % 16 in (1, 2)]  # clusters 1+2 entirely
    rep = delete_ids_versioned(spark, path, wipe)
    assert rep["deleted_rows"] == len(wipe)
    assert rep["rows_after"] == 0  # of the rewritten subset
    left = read_versioned(spark, path)
    assert left.count() == 64 - len(wipe)
    assert left.where(F.col("cluster").isin(1, 2)).count() == 0
    # wiping everything that remains still commits; reads then refuse
    # with the clear empty-manifest error (the flat twin's empty root
    # is just as unreadable — this one at least names the state)
    rest = [i for i in range(64) if i % 16 not in (1, 2)]
    rep2 = delete_ids_versioned(spark, path, rest)
    assert rep2["deleted_rows"] == len(rest)
    with pytest.raises(ValueError, match="no files"):
        read_versioned(spark, path)


def test_versioned_unpartitioned_full_wipe(spark, tmp_path):
    """Same r12 review hole on the unpartitioned arm: deleting every
    row must not write (then fail to schema-infer) an empty
    generation. The delete also now counts the kept side directly
    instead of re-reading the store after the flip."""
    from sqlite_vector_spark.versioned import (
        delete_ids_versioned,
        read_versioned,
        versioned_store_init,
    )

    path = str(tmp_path / "flatless")
    versioned_store_init(_frame(spark, 10), path, partition_col=None)
    rep = delete_ids_versioned(spark, path, list(range(10)))
    assert rep["deleted_rows"] == 10 and rep["rows_after"] == 0
    with pytest.raises(ValueError, match="no files"):
        read_versioned(spark, path)


def test_vacuum_store_versioned_without_spark_uses_active_session(spark, tmp_path):
    """vacuum_store(path) without spark= on a versioned store once
    returned {removed: [], bytes_freed: 0} — success-shaped output
    while superseded generations accumulate (r12 review). It now
    resolves the active session and routes to the manifest-aware
    vacuum, so its report equals the one with spark= passed."""
    from sqlite_vector_spark.sinks import vacuum_store
    from sqlite_vector_spark.versioned import delete_ids_versioned, versioned_store_init

    def superseded(name):
        path = str(tmp_path / name)
        versioned_store_init(_frame(spark, 20), path, partition_col=None)
        delete_ids_versioned(spark, path, [1, 2])  # one superseded generation
        return path

    rep = vacuum_store(superseded("a"))
    assert rep["bytes_freed"] > 0
    assert rep == vacuum_store(superseded("b"), spark=spark)


def test_versioned_reader_survives_pointer_flip_until_vacuum(spark, tmp_path):
    """The __pre_delete analog, pinned: a reader that resolved the v0
    manifest BEFORE a delete keeps reading the v0 generation's files
    unchanged after the flip (the PUT of manifest v1 never touches
    them), and only vacuum past the retain window invalidates it —
    the documented drain requirement for racing readers."""
    from sqlite_vector_spark.versioned import (
        delete_ids_versioned,
        read_versioned,
        vacuum_versioned,
        versioned_store_init,
    )

    path = str(tmp_path / "rs")
    versioned_store_init(_frame(spark, 200), path, partition_col="cluster")
    old_reader = read_versioned(spark, path)  # binds v0's concrete files
    delete_ids_versioned(spark, path, [0, 1, 2, 3])
    assert read_versioned(spark, path).count() == 196  # new readers: v1
    assert old_reader.count() == 200  # pre-flip reader: still the v0 rows
    vacuum_versioned(spark, path, retain=1)  # drops v0 + superseded files
    assert read_versioned(spark, path).count() == 196
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="not exist|FileNotFound|FAILED_READ"):
        old_reader.count()  # drained window over: the old binding is gone


def test_routed_query_versioned_equals_flat(spark, emb, tmp_path):
    """VERDICT r12 #3: swap mode must be invisible to the QUERY path.
    The same canonical top-k SQL routed through the catalog returns
    identical (id, distance) rows whether the registered quantized
    replica is the flat parquet vector_quantize wrote or that replica
    migrated to the versioned manifest layout — and the versioned run
    must actually read generation files (not the flat shadow)."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.quantize import vector_quantize
    from sqlite_vector_spark.sql import route_sql
    from sqlite_vector_spark.versioned import versioned_store_init

    cat = VectorCatalog(str(tmp_path / "cat"))
    emb.createOrReplaceTempView("emb_route_ver_t")
    cat.vector_init(emb, "emb_route_ver_t", "embedding", "type=FLOAT32,dimension=64,distance=L2")
    shadow = str(tmp_path / "shadow")
    vector_quantize(emb, "embedding", shadow, id_col="vec_id", catalog=cat, table="emb_route_ver_t")

    from sqlite_vector_spark.sql import plan_route

    q = [round(0.01 * j, 4) for j in range(64)]
    arr = "array(" + ", ".join(repr(float(x)) for x in q) + ")"
    sql = (
        f"SELECT vec_id AS id, vector_distance(embedding, {arr}, 'l2') AS distance "
        "FROM emb_route_ver_t ORDER BY distance ASC LIMIT 10"
    )
    decision = plan_route(cat, sql)
    assert decision.tier == "routed" and decision.auto_target == "quantized"
    flat_df = route_sql(spark, cat, sql)
    assert any("shadow" in f for f in flat_df.inputFiles())
    flat = [(r.id, r.distance) for r in flat_df.collect()]

    ctx = cat.get("emb_route_ver_t", "embedding")
    vroot = str(tmp_path / "vstore")
    versioned_store_init(spark.read.parquet(ctx.quantized_path), vroot)
    cat.set_quant_params(
        "emb_route_ver_t", "embedding", qtype=ctx.resolved_qtype,
        scale=float(ctx.qscale), offset=float(ctx.qoffset), path=vroot,
        include_cols=ctx.quantized_include_cols,
    )
    routed = route_sql(spark, cat, sql)
    assert [(r.id, r.distance) for r in routed.collect()] == flat
    assert all("vstore/data/" in f for f in routed.inputFiles())


def test_versioned_reinit_after_full_wipe(spark, tmp_path):
    """ADVICE r12: a full-wipe delete commits an EMPTY manifest (the
    correct terminal state), but the store then had no recovery verb —
    read refuses, every maintenance verb rides the read path, and init
    refused because committed manifests exist. versioned_store_init
    now proceeds over an empty live manifest, committing the next
    generation on top; a store with live files still refuses."""
    from sqlite_vector_spark.versioned import (
        current_manifest,
        delete_ids_versioned,
        read_versioned,
        versioned_store_init,
    )

    path = str(tmp_path / "wiped")
    versioned_store_init(_frame(spark, 50), path, partition_col="cluster")
    with pytest.raises(ValueError, match="committed manifests"):
        versioned_store_init(_frame(spark, 10), path, partition_col="cluster")

    delete_ids_versioned(spark, path, list(range(50)))
    ver, man = current_manifest(spark, path)
    assert man["files"] == []
    with pytest.raises(ValueError, match="lists no files"):
        read_versioned(spark, path)

    rep = versioned_store_init(_frame(spark, 30), path, partition_col="cluster")
    assert rep["version"] == ver + 1
    assert _rows(read_versioned(spark, path)) == _rows(_frame(spark, 30))


def test_probe_limited_tiers_versioned_equals_flat(spark, tmp_path):
    """r13: the probe-limited tier readers resolve versioned roots
    too — ivf_stored_scan / lsh_bucket_scan prune the PROBED
    partitions via the manifest (never listing the data prefix),
    bq_band_scan reads through read_store — so migrating ANY derived
    store to the rename-free layout leaves every query result
    unchanged. Also pins the empty-probe edge: a manifest filter that
    matches no live partition returns an EMPTY frame with the store
    schema, like the flat .where()."""
    import numpy as np

    from sqlite_vector_spark.operators.ann import ivf_store, ivf_stored_scan
    from sqlite_vector_spark.versioned import read_versioned, versioned_store_init

    dim = 8
    rng = np.random.default_rng(7)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    cents = [[float(x) for x in rng.normal(size=dim)] for _ in range(6)]

    flat = str(tmp_path / "ivf_flat")
    ivf_store(df, "vec", cents, flat)
    ver = str(tmp_path / "ivf_ver")
    versioned_store_init(spark.read.parquet(flat), ver, partition_col="cluster")

    q = [0.3] * dim
    want = [(r.id, r.distance) for r in ivf_stored_scan(spark, flat, q, cents, 10).collect()]
    got_df = ivf_stored_scan(spark, ver, q, cents, 10)
    assert [(r.id, r.distance) for r in got_df.collect()] == want
    assert all("ivf_ver/data/" in f for f in got_df.inputFiles())
    # manifest pruning: only the probed clusters' files enter the plan
    assert len(got_df.inputFiles()) < len(spark.read.parquet(flat).inputFiles())

    # empty-probe edge: no live partition matches -> empty, same schema
    empty = read_versioned(spark, ver, partition_values=[999])
    assert empty.count() == 0
    assert set(empty.columns) == set(spark.read.parquet(flat).columns)


def test_band_scan_versioned_equals_flat(spark, tmp_path):
    """bq_band_scan over a versioned band store == the flat store
    (read_store resolve; every band partition is probed by
    construction, so the resolver is the only difference)."""
    import numpy as np

    from sqlite_vector_spark.operators.bq import bq_band_scan, bq_band_store, bq_encode
    from sqlite_vector_spark.versioned import versioned_store_init

    dim = 64
    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    codes = bq_encode(df, "vec", dim)

    flat = str(tmp_path / "band_flat")
    bq_band_store(codes, dim, flat, band_bits=16)
    ver = str(tmp_path / "band_ver")
    versioned_store_init(
        spark.read.parquet(flat), ver, partition_col="b", sort_within=["bv"]
    )

    q = [float(x) for x in rng.normal(size=dim)]
    want = [(r.id, r.hamming) for r in bq_band_scan(spark, flat, q, dim, 8).collect()]
    got_df = bq_band_scan(spark, ver, q, dim, 8)
    assert [(r.id, r.hamming) for r in got_df.collect()] == want
    assert all("band_ver/data/" in f for f in got_df.inputFiles())


def test_migrate_tier_to_versioned_one_call(spark, emb, tmp_path):
    """sinks.migrate_tier_to_versioned: flat tier -> versioned layout
    + catalog pointer flip in one call; the routed query serves the
    versioned replica immediately with identical results, sidecars
    carry over, and index metadata is re-registered unchanged."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.quantize import vector_quantize
    from sqlite_vector_spark.router import knn
    from sqlite_vector_spark.sinks import (
        migrate_tier_to_versioned,
        read_store,
        write_params_sidecar,
    )
    from sqlite_vector_spark.versioned import is_versioned

    cat = VectorCatalog(str(tmp_path / "cat"))
    emb.createOrReplaceTempView("emb_mig_t")
    cat.vector_init(emb, "emb_mig_t", "embedding", "type=FLOAT32,dimension=64,distance=L2")
    shadow = str(tmp_path / "shadow")
    vector_quantize(emb, "embedding", shadow, id_col="vec_id", catalog=cat, table="emb_mig_t")
    write_params_sidecar(shadow, {"id_col": "vec_id"})

    q = [0.02 * j for j in range(64)]
    flat = [(r.id, r.distance)
            for r in knn(spark, cat, "emb_mig_t", "embedding", q, 10).collect()]

    rep = migrate_tier_to_versioned(spark, cat, "emb_mig_t", "embedding", "quantized")
    assert rep["tier"] == "quantized" and rep["previous_path"] == shadow
    ctx = cat.get("emb_mig_t", "embedding")
    assert ctx.quantized_path == rep["dest"] != shadow
    assert is_versioned(spark, ctx.quantized_path)
    # quant params survived the flip (migration never re-fits)
    assert ctx.qscale is not None and ctx.resolved_qtype is not None
    # sidecar carried over
    from sqlite_vector_spark.sinks import read_params_sidecar

    assert read_params_sidecar(ctx.quantized_path) == {"id_col": "vec_id"}
    # routed query now serves the versioned replica, same results
    routed = knn(spark, cat, "emb_mig_t", "embedding", q, 10)
    assert [(r.id, r.distance) for r in routed.collect()] == flat
    assert all("__versioned/data/" in f for f in routed.inputFiles())
    assert read_store(spark, ctx.quantized_path).count() == emb.count()

    # unknown tier / unregistered tier refuse
    with pytest.raises(ValueError, match="tier must be"):
        migrate_tier_to_versioned(spark, cat, "emb_mig_t", "embedding", "nope")
    with pytest.raises(ValueError, match="no registered ivf"):
        migrate_tier_to_versioned(spark, cat, "emb_mig_t", "embedding", "ivf")


def test_versioned_append_generation(spark, tmp_path):
    """r13: append on a versioned root commits a NEW manifest
    generation (old files by reference + the batch) — a plain parquet
    append would strand files no manifest references, invisible to
    readers and reclaimed as orphans by vacuum (silent data loss).
    write_partitioned(mode='append') dispatches automatically;
    overwrite dispatches to replace_versioned (manifest lists ONLY
    the new content — a plain overwrite would delete the manifests
    with the data); vacuum after a compaction reclaims the superseded
    generations."""
    from sqlite_vector_spark.sinks import (
        compact_store,
        read_store,
        vacuum_store,
        write_partitioned,
    )
    from sqlite_vector_spark.versioned import current_manifest, versioned_store_init

    path = str(tmp_path / "appstore")
    versioned_store_init(_frame(spark, 100), path, partition_col="cluster")

    batch = _frame(spark, 140).where(F.col("id") >= 100)  # ids 100..139
    write_partitioned(batch, path, "cluster", mode="append")
    ver, man = current_manifest(spark, path)
    assert ver == 1
    gens = {e["path"].split("/")[1] for e in man["files"]}
    assert gens == {"g000000", "g000001"}  # old files BY REFERENCE
    assert _rows(read_store(spark, path)) == _rows(_frame(spark, 140))

    # overwrite = replace: the manifest now lists ONLY the new content
    # (the batch), the store stays versioned, superseded generations
    # retained until vacuum
    write_partitioned(batch, path, "cluster", mode="overwrite")
    ver2, man2 = current_manifest(spark, path)
    assert ver2 == 2
    assert {e["path"].split("/")[1] for e in man2["files"]} == {"g000002"}
    assert _rows(read_store(spark, path)) == _rows(batch)
    with pytest.raises(ValueError, match="no versioned form"):
        write_partitioned(batch, path, "cluster", mode="error")

    # restore the full content, then compact + vacuum keep every row
    write_partitioned(_frame(spark, 140), path, "cluster", mode="overwrite")
    compact_store(spark, path)
    vacuum_store(path, spark=spark)
    assert _rows(read_store(spark, path)) == _rows(_frame(spark, 140))


def _vec_frame(spark, lo, hi, dim=64):
    import numpy as np

    rng = np.random.default_rng(lo)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(lo, hi)]
    return spark.createDataFrame(rows, "id long, vec array<double>")


def _versioned_tier(spark, tmp_path, verb, dim=64):
    """Build verb's flat store from 100 vectors, migrate it to a
    versioned root, and return (root, append) where ``append(batch)``
    runs the verb against that root."""
    from sqlite_vector_spark.operators.bq import (
        bq_band_store,
        bq_band_store_append,
        bq_encode,
        bq_store,
        bq_store_append,
    )
    from sqlite_vector_spark.operators.pq import (
        ivf_pq_store,
        ivf_pq_store_append,
        pq_fit,
        pq_store,
        pq_store_append,
    )
    from sqlite_vector_spark.operators.quantize import vector_quantize, vector_quantize_update
    from sqlite_vector_spark.versioned import migrate_to_versioned

    df = _vec_frame(spark, 0, 100, dim)
    flat, root = str(tmp_path / f"{verb}_flat"), str(tmp_path / f"{verb}_v")
    sort_within = None
    if verb == "vector_quantize_update":
        params = vector_quantize(df, "vec", flat)
        append = lambda b: vector_quantize_update(b, "vec", root, params)
    elif verb == "bq_store_append":
        bq_store(df, "vec", dim, flat)
        append = lambda b: bq_store_append(b, "vec", dim, root)
    elif verb == "bq_band_store_append":
        bq_band_store(bq_encode(df, "vec", dim), dim, flat)
        sort_within = ["bv"]
        append = lambda b: bq_band_store_append(bq_encode(b, "vec", dim), dim, root)
    else:
        books = pq_fit(df, "vec", 4, 8, dim, iters=2)
        if verb == "pq_store_append":
            pq_store(df, "vec", books, flat)
            append = lambda b: pq_store_append(b, "vec", books, root)
        else:
            cents = [r.vec for r in df.limit(4).collect()]
            ivf_pq_store(df, "vec", cents, books, flat)
            append = lambda b: ivf_pq_store_append(b, "vec", cents, books, root)
    migrate_to_versioned(spark, flat, root, sort_within=sort_within)
    return root, append


@pytest.mark.parametrize(
    "verb", ["bq_store_append", "pq_store_append", "vector_quantize_update"]
)
def test_versioned_flat_append_verbs_dispatch(spark, tmp_path, verb):
    """The flat-layout append verbs commit a new manifest generation
    on a versioned code store: ``n_appended`` equals the growth
    ``read_store`` sees, and the rows survive vacuum. A plain parquet
    append reports the rows but strands them unreferenced at the root
    (vector_quantize_update did, until it wrote through
    sinks.write_observed)."""
    from sqlite_vector_spark.sinks import read_store, vacuum_store

    root, append = _versioned_tier(spark, tmp_path, verb)
    rep = append(_vec_frame(spark, 100, 130))
    assert rep.n_appended == 30
    assert read_store(spark, root).count() == 100 + rep.n_appended
    vacuum_store(root, spark=spark)
    assert read_store(spark, root).count() == 100 + rep.n_appended
    assert sorted(r.id for r in read_store(spark, root).select("id").collect()) == list(range(130))


@pytest.mark.parametrize(
    "verb",
    ["vector_quantize_update", "pq_store_append", "ivf_pq_store_append",
     "bq_store_append", "bq_band_store_append"],
)
def test_versioned_empty_append_commits_nothing(spark, tmp_path, verb):
    """An empty batch on a versioned root reports zero rows and
    commits no manifest: the emptiness probe runs before any write."""
    from sqlite_vector_spark.versioned import current_manifest

    root, append = _versioned_tier(spark, tmp_path, verb)
    ver, _ = current_manifest(spark, root)
    rep = append(_vec_frame(spark, 100, 130).where(F.lit(False)))
    assert (rep if verb == "bq_band_store_append" else rep.n_appended) == 0
    assert current_manifest(spark, root)[0] == ver


def test_read_versioned_pruned_unpartitioned_fallback(spark, tmp_path):
    """ADVICE r13 #1: a versioned store created WITHOUT partition_col
    (versioned_store_init's default) must still answer probe queries.
    read_versioned(partition_values=...) would match nothing (no entry
    carries a value) — it now raises; read_versioned_pruned falls back
    to the row-level filter and returns the flat twin's rows."""
    from sqlite_vector_spark.versioned import (
        read_versioned,
        read_versioned_pruned,
        versioned_store_init,
    )

    df = _frame(spark, 200)
    path = str(tmp_path / "unpart")
    versioned_store_init(df, path, partition_col=None)

    with pytest.raises(ValueError, match="no partition column"):
        read_versioned(spark, path, partition_values=[3, 5])

    got = _rows(read_versioned_pruned(spark, path, "cluster", [3, 5]))
    want = _rows(df.where(F.col("cluster").isin([3, 5])))
    assert got == want and got  # non-empty: the old path silently returned []

    # partitioned by a DIFFERENT column than the probe: same fallback
    path2 = str(tmp_path / "otherpart")
    versioned_store_init(df, path2, partition_col="payload")
    got2 = _rows(read_versioned_pruned(spark, path2, "cluster", [7]))
    assert got2 == _rows(df.where(F.col("cluster") == 7)) and got2


def test_ivf_stored_scan_versioned_unpartitioned_matches_flat(spark, emb, tmp_path):
    """End-to-end ADVICE r13 #1: ivf_stored_scan over a versioned store
    migrated without partition_col returns the SAME top-k as the flat
    cluster-partitioned twin (it used to return zero rows)."""
    from sqlite_vector_spark.operators.ann import ivf_store, ivf_stored_scan
    from sqlite_vector_spark.versioned import versioned_store_init

    cent = [list(r.embedding) for r in emb.where("vec_id < 8").orderBy("vec_id").collect()]
    flat = str(tmp_path / "ivf_flat")
    ivf_store(emb, "embedding", cent, flat, id_col="vec_id")

    vroot = str(tmp_path / "ivf_versioned_unpart")
    versioned_store_init(spark.read.parquet(flat), vroot, partition_col=None)

    q = cent[3]
    want = [(r.id, round(r.distance, 6)) for r in ivf_stored_scan(spark, flat, q, cent, 10, nprobe=2).collect()]
    got = [(r.id, round(r.distance, 6)) for r in ivf_stored_scan(spark, vroot, q, cent, 10, nprobe=2).collect()]
    assert got == want and len(got) == 10


def test_write_partitioned_versioned_rejects_mismatched_partition_col(spark, tmp_path):
    """ADVICE r13 #2: the versioned dispatch reuses the MANIFEST's
    layout; a caller writing with a different partition column must
    get an error, not a silently different layout (and silently
    absent pruning)."""
    from sqlite_vector_spark.sinks import write_partitioned
    from sqlite_vector_spark.versioned import versioned_store_init

    df = _frame(spark, 60)
    path = str(tmp_path / "vstore")
    versioned_store_init(df, path, partition_col="cluster")
    with pytest.raises(ValueError, match="partitioned by 'cluster'"):
        write_partitioned(df, path, "payload", mode="append")
    # the matching column still dispatches fine
    write_partitioned(_frame(spark, 20), path, "cluster", mode="append")


def test_vacuum_partially_live_generation_groups_dead_dirs(spark, tmp_path):
    """VERDICT r13 #3: in a partially-live generation, dead files
    grouped under a wholly-dead partition dir are reclaimed with one
    recursive delete (the dir disappears), mixed dirs per-file —
    surviving contents identical either way."""
    from sqlite_vector_spark.sinks import compact_store, delete_ids, read_store
    from sqlite_vector_spark.versioned import (
        current_manifest,
        vacuum_versioned,
        versioned_store_init,
    )

    df = _frame(spark, 320)  # clusters 0..15, 20 rows each
    path = str(tmp_path / "pl")
    versioned_store_init(df, path, partition_col="cluster")

    # delete EVERY row of clusters 3 and 7 (their g000000 dirs go
    # wholly dead) and a few rows of cluster 5 (g000000/cluster=5
    # stays... actually the rewrite supersedes the whole partition)
    victims = [i for i in range(320) if i % 16 in (3, 7)] + [5, 21]
    delete_ids(spark, path, victims, id_col="id")
    want = _rows(_frame(spark, 320).where(~F.col("id").isin(victims)))
    assert _rows(read_store(spark, path)) == want

    # generation 0 is now partially live: untouched clusters are
    # reused by reference, clusters 3/5/7's old dirs are dead
    rep = vacuum_versioned(spark, path, retain=1)
    assert rep["removed_files"] > 0
    import os

    g0 = os.path.join(path, "data", "g000000")
    gone = {"cluster=3", "cluster=5", "cluster=7"}
    assert gone.isdisjoint(set(os.listdir(g0)))
    # live-by-reference dirs survive, content identical
    assert _rows(read_store(spark, path)) == want
    _, man = current_manifest(spark, path)
    assert all(e["value"] not in {"3", "7"} for e in man["files"])


def test_versioned_lifecycle_on_scheme_root(spark, tmp_path):
    """r14: the versioned verbs on a NON-file scheme root end-to-end.
    vacuum's generation walk previously used fs.listFiles(recursive),
    which RawLocalFileSystem-derived filesystems reject off the file:
    scheme ('URI scheme is not "file"') — fsutil.walk_files' manual
    listStatus BFS fixes it; delete/compact were already
    scheme-clean."""
    from sqlite_vector_spark.sinks import compact_store, delete_ids, read_store, vacuum_store
    from sqlite_vector_spark.versioned import manifest_versions, versioned_store_init

    df = _frame(spark, 160)
    path = f"mock:{tmp_path}/vstore"
    versioned_store_init(df, path, partition_col="cluster")

    victims = [5, 21, 37]
    want = _rows(_frame(spark, 160).where(~F.col("id").isin(victims)))
    delete_ids(spark, path, victims, id_col="id")
    assert _rows(read_store(spark, path)) == want
    compact_store(spark, path)
    assert _rows(read_store(spark, path)) == want
    rep = vacuum_store(path, spark=spark)
    assert rep["bytes_freed"] > 0
    assert _rows(read_store(spark, path)) == want
    assert len(manifest_versions(spark, path)) == 1  # superseded dropped
