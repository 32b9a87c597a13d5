"""Sinks: bucketed tables must join and aggregate with no exchange."""

import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.sinks import write_bucketed, write_partitioned


def test_bucketed_join_has_no_exchange(spark, emb, tmp_path):
    write_bucketed(emb.select("vec_id", "label"), "tb_payload", "vec_id", 4, path=str(tmp_path / "b1"))
    write_bucketed(emb.select("vec_id", "embedding"), "tb_vecs", "vec_id", 4, path=str(tmp_path / "b2"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("tb_payload").join(spark.table("tb_vecs"), "vec_id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]  # co-located: zip of sorted buckets
        assert j.count() == emb.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS tb_payload")
        spark.sql("DROP TABLE IF EXISTS tb_vecs")


def test_bucketed_groupby_has_no_exchange(spark, emb, tmp_path):
    write_bucketed(emb.select("vec_id", "label"), "tb_agg", "vec_id", 4, path=str(tmp_path / "b3"))
    try:
        agg = spark.table("tb_agg").groupBy("vec_id").agg(F.count("*").alias("n"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:800]
    finally:
        spark.sql("DROP TABLE IF EXISTS tb_agg")


def test_partitioned_write_prunes(spark, emb, tmp_path):
    dest = str(tmp_path / "parted")
    write_partitioned(emb.withColumn("part", F.col("vec_id") % 4), dest, "part")
    back = spark.read.parquet(dest).where(F.col("part") == 2)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert back.count() == emb.where(F.col("vec_id") % 4 == 2).count()


def test_compact_store_partitioned(spark, emb, tmp_path):
    """Post-append maintenance: 1 build + 3 appends leave many small
    files; compaction shrinks the file count, preserves every row and
    the partition layout (pruning still plans), and retains the
    superseded layout for in-flight readers."""
    import os

    from sqlite_vector_spark.sinks import compact_store

    dest = str(tmp_path / "store")
    base = emb.withColumn("part", F.col("vec_id") % 4)
    base.write.partitionBy("part").parquet(dest)
    for i in range(3):  # appends accumulate extra files per partition
        base.withColumn("vec_id", F.col("vec_id") + (i + 1) * 1_000_000).write.mode(
            "append"
        ).partitionBy("part").parquet(dest)
    before = spark.read.parquet(dest)
    n_before_files = len(before.inputFiles())
    want = sorted((r.vec_id, r.part) for r in before.select("vec_id", "part").collect())

    report = compact_store(spark, dest, partition_col="part")
    assert report["files_before"] == n_before_files
    assert report["files_after"] < n_before_files
    assert report["rows"] == len(want)

    after = spark.read.parquet(dest)
    got = sorted((r.vec_id, r.part) for r in after.select("vec_id", "part").collect())
    assert got == want
    plan = after.where(F.col("part") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan  # pruning survives compaction
    assert os.path.exists(dest + "__pre_compact")  # reader grace copy


def test_compact_store_flat_with_sort(spark, emb, tmp_path):
    """Un-partitioned store: compaction to few files with a restored
    within-file sort (row-group min/max skipping depends on it)."""
    from sqlite_vector_spark.sinks import compact_store

    dest = str(tmp_path / "flat")
    emb.select("vec_id", "label").repartition(16).write.parquet(dest)
    report = compact_store(spark, dest, sort_within=["vec_id"])
    assert report["files_after"] < report["files_before"]
    after = spark.read.parquet(dest)
    assert after.count() == report["rows"]
    # each output file is internally sorted on vec_id
    import pyarrow.parquet as pq

    for f in after.inputFiles():
        ids = pq.read_table(f.removeprefix("file:"), columns=["vec_id"])["vec_id"].to_pylist()
        assert ids == sorted(ids)


def test_compact_store_url_encoded_partition_values(spark, emb, tmp_path):
    """String partition values with a space and a % URL-encode in the
    inputFiles() URIs but appear raw under os.walk; before the decode
    fix the salvage pass matched NOTHING against the snapshot and
    moved every pre-compaction file back in, doubling the store.
    Contract: rows preserved exactly, salvaged == 0."""
    from sqlite_vector_spark.sinks import compact_store

    dest = str(tmp_path / "enc store")  # space in the ROOT too
    base = emb.select("vec_id").withColumn(
        "part",
        F.when(F.col("vec_id") % 2 == 0, F.lit("a value")).otherwise(F.lit("b%value")),
    )
    base.write.partitionBy("part").parquet(dest)
    base.withColumn("vec_id", F.col("vec_id") + 1_000_000).write.mode(
        "append"
    ).partitionBy("part").parquet(dest)
    n_rows = spark.read.parquet(dest).count()

    report = compact_store(spark, dest, partition_col="part")
    assert report["salvaged_files"] == 0
    assert report["rows"] == n_rows
    after = spark.read.parquet(dest)
    assert after.count() == n_rows  # no duplication from a bad salvage
    assert set(r.part for r in after.select("part").distinct().collect()) == {
        "a value",
        "b%value",
    }


def test_compact_store_salvages_late_files(spark, tmp_path):
    """Files a concurrent writer commits between the snapshot listing
    and the swap end up only in the superseded layout; the salvage
    pass moves them into the new layout and leaves snapshot files
    (already compacted) alone — no duplicates, no loss."""
    import os

    from sqlite_vector_spark.sinks import _salvage_late_files

    root = tmp_path / "store"
    old = tmp_path / "store__pre_compact"
    (old / "part=1").mkdir(parents=True)
    (root / "part=1").mkdir(parents=True)
    # snapshot file: was compacted, must NOT be copied back
    (old / "part=1" / "part-0001-snap.parquet").write_bytes(b"old")
    # late file: committed after the snapshot, must move over
    (old / "part=1" / "part-0002-late.parquet").write_bytes(b"late")
    (old / "_SUCCESS").write_bytes(b"")  # marker skipped
    snap_rel = {os.path.join("part=1", "part-0001-snap.parquet")}
    n = _salvage_late_files(spark, str(root), str(old), snap_rel)
    assert n == 1
    assert (root / "part=1" / "part-0002-late.parquet").read_bytes() == b"late"
    assert not (root / "part=1" / "part-0001-snap.parquet").exists()
    assert (old / "part=1" / "part-0001-snap.parquet").exists()  # retained for readers


def test_delete_ids_flat_replica(spark, emb, tmp_path):
    """Unpartitioned quantized replica: delete_ids must equal an
    id-filter of the pre-delete store (rows rewritten whole — qvec
    codes and include_cols payload byte-identical, params frozen),
    and a follow-up quantize scan sees only surviving rows."""
    from sqlite_vector_spark.operators.quantize import vector_quantize
    from sqlite_vector_spark.sinks import delete_ids

    dest = str(tmp_path / "replica")
    vector_quantize(emb, "embedding", dest, id_col="vec_id", include_cols=["label"])
    pre = {r.id: (list(r.qvec), r.label) for r in spark.read.parquet(dest).collect()}
    victims = [i for i in pre if i % 7 == 3]
    rep = delete_ids(spark, dest, victims, id_col="id")
    assert rep["deleted_rows"] == len(victims) and rep["partitions_rewritten"] == -1
    post = {r.id: (list(r.qvec), r.label) for r in spark.read.parquet(dest).collect()}
    assert post == {i: v for i, v in pre.items() if i % 7 != 3}
    assert rep["rows_after"] == len(post)
    # superseded layout retained for draining readers
    import os
    assert os.path.isdir(dest + "__pre_delete")
    # DataFrame id input and no-hit ids are both fine
    rep2 = delete_ids(spark, dest, spark.range(0).select(F.col("id")), id_col="id")
    assert rep2["deleted_rows"] == 0


def test_delete_ids_partitioned_ivf_store(spark, emb, tmp_path):
    """IVF layout (partitionBy cluster): only the partitions holding
    the ids are rewritten — untouched partition files stay the SAME
    files on disk; a fully-deleted cluster's directory disappears;
    pruning still works afterwards."""
    import os

    from sqlite_vector_spark.sinks import delete_ids

    dest = str(tmp_path / "ivf")
    base = emb.select(
        F.col("vec_id").alias("id"), "embedding", (F.col("vec_id") % 4).alias("cluster")
    )
    base.write.partitionBy("cluster").parquet(dest)
    pre = {r.id for r in spark.read.parquet(dest).collect()}
    files_before = {
        f for f in spark.read.parquet(dest).inputFiles() if "/cluster=3/" in f
    }
    # victims: every id in cluster 1 (empties it) + two ids from cluster 0
    victims = sorted(i for i in pre if i % 4 == 1) + [0, 4]
    rep = delete_ids(spark, dest, victims, id_col="id", partition_col="cluster")
    assert rep["deleted_rows"] == len(victims)
    assert rep["partitions_rewritten"] == 2  # clusters 0 and 1 only
    post = spark.read.parquet(dest)
    assert {r.id for r in post.collect()} == pre - set(victims)
    assert not os.path.isdir(os.path.join(dest, "cluster=1"))  # emptied
    # untouched partition kept its exact files (never read or written)
    files_after = {f for f in post.inputFiles() if "/cluster=3/" in f}
    assert files_after == files_before
    pruned = post.where(F.col("cluster") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_delete_ids_band_store_sorted(spark, emb, tmp_path):
    """MIH band store: an id lives in EVERY band partition — delete
    must hit them all, preserve the bv sort inside rewritten files,
    and bq_band_scan over the post-delete store must equal a store
    rebuilt from the surviving codes."""
    from sqlite_vector_spark.operators.bq import bq_band_scan, bq_band_store, bq_encode
    from sqlite_vector_spark.sinks import delete_ids

    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    dest = str(tmp_path / "bands")
    bq_band_store(codes, 64, dest, band_bits=8)
    victims = [r.id for r in codes.where(F.col("id") % 5 == 0).collect()]
    rep = delete_ids(spark, dest, victims, id_col="id", partition_col="b", sort_within=["bv"])
    assert rep["partitions_rewritten"] == 8  # 64/8 bands, all touched
    rebuilt = str(tmp_path / "bands_rebuilt")
    bq_band_store(codes.where(F.col("id") % 5 != 0), 64, rebuilt, band_bits=8)
    q = list(emb.where(F.col("vec_id") == 7).collect()[0].embedding)
    got = [tuple(r) for r in bq_band_scan(spark, dest, q, 64, 10, band_bits=8).collect()]
    want = [tuple(r) for r in bq_band_scan(spark, rebuilt, q, 64, 10, band_bits=8).collect()]
    assert got == want and len(got) > 0  # < 10 is fine: fewer collisions survive the delete
    # within-file bv sort preserved in the rewritten partitions
    import pyarrow.parquet as pq
    import os
    bdir = os.path.join(dest, "b=0")
    fs = [os.path.join(bdir, f) for f in os.listdir(bdir) if f.endswith(".parquet")]
    for f in fs:
        bvs = pq.read_table(f, columns=["bv"]).column("bv").to_pylist()
        assert bvs == sorted(bvs)


def test_delete_ids_composes_with_compact(spark, emb, tmp_path):
    """Lifecycle composition: append-heavy store -> delete -> compact
    keeps content identical and shrinks files."""
    from sqlite_vector_spark.sinks import compact_store, delete_ids

    dest = str(tmp_path / "life")
    base = emb.select(F.col("vec_id").alias("id"), "label", (F.col("vec_id") % 3).alias("p"))
    for i in range(4):  # simulated appends -> many small files
        base.where(F.col("id") % 4 == i).write.partitionBy("p").mode("append").parquet(dest)
    delete_ids(spark, dest, [0, 1, 2, 3], id_col="id", partition_col="p")
    rep = compact_store(spark, dest, partition_col="p")
    post = {r.id for r in spark.read.parquet(dest).collect()}
    assert post == {r.id for r in base.collect()} - {0, 1, 2, 3}
    assert rep["files_after"] <= rep["files_before"]


@pytest.mark.slow
def test_delete_ids_everywhere_cascades_all_tiers(spark, emb, tmp_path):
    """Catalog cascade: one takedown call removes the ids from EVERY
    registered derived store — replica, IVF, PQ codes, BQ codes, MIH
    bands — with each store's own layout detected and preserved."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.ann import ivf_assign
    from sqlite_vector_spark.operators.bq import bq_band_store, bq_encode
    from sqlite_vector_spark.operators.pq import pq_encode_col, pq_fit
    from sqlite_vector_spark.operators.quantize import vector_quantize
    from sqlite_vector_spark.sinks import delete_ids_everywhere

    emb.createOrReplaceTempView("cas_t")
    cat = VectorCatalog(str(tmp_path / "cat"))
    cat.vector_init(emb, "cas_t", "embedding", "type=FLOAT32,dimension=64,distance=L2")
    vector_quantize(emb, "embedding", str(tmp_path / "rep"), id_col="vec_id",
                    catalog=cat, table="cas_t")
    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    ivf_assign(emb, "embedding", cents, id_col="vec_id").write.partitionBy(
        "cluster").parquet(str(tmp_path / "ivf"))
    cat.set_ivf_index("cas_t", "embedding", path=str(tmp_path / "ivf"), centroids=cents)
    books = pq_fit(emb, "embedding", m=4, ksub=4, dim=64, iters=2, id_col="vec_id", seed=1)
    emb.select(F.col("vec_id").alias("id"),
               pq_encode_col(F.col("embedding"), books).alias("codes")).write.parquet(
        str(tmp_path / "pq"))
    cat.set_pq_index("cas_t", "embedding", path=str(tmp_path / "pq"), codebooks=books)
    codes = bq_encode(emb, "embedding", 64, id_col="vec_id")
    codes.write.parquet(str(tmp_path / "bq"))
    cat.set_bq_index("cas_t", "embedding", path=str(tmp_path / "bq"))
    bq_band_store(codes, 64, str(tmp_path / "mih"), band_bits=8)
    cat.set_mih_index("cas_t", "embedding", path=str(tmp_path / "mih"), band_bits=8)

    victims = [3, 17, 42]
    reports = delete_ids_everywhere(spark, cat, "cas_t", "embedding", victims, id_col="id")
    assert set(reports) == {"quantized", "ivf", "pq", "bq", "mih"}
    for name, path in [("quantized", "rep"), ("ivf", "ivf"), ("pq", "pq"),
                       ("bq", "bq"), ("mih", "mih")]:
        left = {r.id for r in spark.read.parquet(str(tmp_path / path)).select("id").collect()}
        assert not (left & set(victims)), name
        assert len(left) > 0, name
    # layouts detected: ivf pruned per-cluster
    assert reports["ivf"]["partitions_rewritten"] >= 1
    assert reports["ivf"]["strategy"] == "in_place"
    assert reports["quantized"]["partitions_rewritten"] == -1  # flat rewrite
    # r11 cheaper arm: with the BQ code table registered, the MIH band
    # store (where an in-place delete rewrites EVERY band) is rebuilt
    # from the post-delete codes instead (measured 0.9x in-place at 1M)
    assert reports["mih"]["strategy"] == "rebuild_from_codes"
    n_left = spark.read.parquet(str(tmp_path / "bq")).count()
    assert reports["mih"]["code_rows"] == n_left
    # band expansion intact: every surviving id in all 8 bands, bv-sorted
    mih = spark.read.parquet(str(tmp_path / "mih"))
    assert mih.count() == n_left * 8
    assert mih.select("b").distinct().count() == 8


def test_delete_ids_flat_all_rows(spark, emb, tmp_path):
    """Deleting every row of a flat store must leave a readable,
    empty store (schema preserved) — the degenerate takedown."""
    from sqlite_vector_spark.sinks import delete_ids

    dest = str(tmp_path / "tiny")
    emb.limit(5).select(F.col("vec_id").alias("id"), "label").write.parquet(dest)
    ids = [r.id for r in spark.read.parquet(dest).collect()]
    rep = delete_ids(spark, dest, ids, id_col="id")
    assert rep["deleted_rows"] == 5 and rep["rows_after"] == 0
    back = spark.read.parquet(dest)
    assert back.count() == 0 and set(back.columns) == {"id", "label"}


def test_quantize_scan_after_delete_plan_has_no_query_time_filter(spark):
    """The post-delete replica scan must be a PLAIN store scan — no
    tombstone filter, no anti-join at query time: the delete already
    happened at maintenance time (PLANS.md property pin)."""
    import os

    from sqlite_vector_spark import workload as w

    sf = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
    df = w.quantize_scan_after_delete_l2(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # the only join is the broadcast of the 1-row params frame
    assert "SortMergeJoin" not in plan and "anti" not in plan.lower()


def test_ivf_scan_after_delete_plan_prunes_partitions_no_tombstone(spark):
    """The orchestrator-built post-takedown IVF probe must be a plain
    PARTITION-PRUNED scan: PartitionFilters on the probed clusters,
    no tombstone filter, no anti-join at query time (the delete
    rewrote the victim clusters at maintenance time — r11 PLANS.md
    property pin)."""
    import os

    from sqlite_vector_spark import workload as w

    sf = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
    df = w.ivf_scan_after_delete_l2(spark, sf)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "PartitionFilters: [cluster" in plan
    assert "Join" not in plan and "anti" not in plan.lower()


def test_lifecycle_delete_append_compact_compose(spark, emb, tmp_path):
    """The full store lifecycle in one chain: build -> DELETE ->
    APPEND (frozen params) -> COMPACT. Content after the chain equals
    the set arithmetic (base - deleted + appended), the appended rows
    encode with the ORIGINAL params (delete did not re-fit), and the
    store stays scannable after every verb."""
    from sqlite_vector_spark.operators.quantize import (
        vector_quantize,
        vector_quantize_update,
    )
    from sqlite_vector_spark.sinks import compact_store, delete_ids

    dest = str(tmp_path / "life2")
    old = emb.where(F.col("vec_id") < 400)
    new = emb.where(F.col("vec_id") >= 400)
    params = vector_quantize(old, "embedding", dest, id_col="vec_id")
    pre = {r.id: list(r.qvec) for r in spark.read.parquet(dest).collect()}

    victims = [i for i in pre if i % 11 == 5]
    delete_ids(spark, dest, victims, id_col="id")
    vector_quantize_update(new, "embedding", dest, params, id_col="vec_id")
    rep = compact_store(spark, dest)

    post = {r.id: list(r.qvec) for r in spark.read.parquet(dest).collect()}
    kept = {i for i in pre if i % 11 != 5}
    appended = {r.vec_id for r in new.where(F.col("embedding").isNotNull())
                .select("vec_id").collect()}
    assert set(post) == kept | appended
    # surviving originals byte-identical through delete AND compact
    assert all(post[i] == pre[i] for i in kept)
    assert rep["rows"] == len(post)


def test_delete_ids_ivf_scan_after_delete(spark, emb, tmp_path):
    """Probe-pruned scans over a post-delete IVF store must equal the
    same scan over a store rebuilt from the surviving corpus — the
    pruning path reads the rewritten partitions transparently."""
    from sqlite_vector_spark.operators.ann import ivf_assign, ivf_stored_scan
    from sqlite_vector_spark.sinks import delete_ids

    cents = [list(r.embedding)
             for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()]
    assigned = ivf_assign(emb, "embedding", cents, id_col="vec_id")
    dest = str(tmp_path / "ivf_s")
    assigned.write.partitionBy("cluster").parquet(dest)
    victims = [r.id for r in assigned.where(F.col("id") % 6 == 2).select("id").collect()]
    delete_ids(spark, dest, victims, id_col="id", partition_col="cluster")

    rebuilt = str(tmp_path / "ivf_r")
    assigned.where(~F.col("id").isin(victims)).write.partitionBy("cluster").parquet(rebuilt)
    q = list(emb.where(F.col("vec_id") == 3).collect()[0].embedding)
    got = [tuple(r) for r in ivf_stored_scan(spark, dest, q, cents, 10, nprobe=3).collect()]
    want = [tuple(r) for r in ivf_stored_scan(spark, rebuilt, q, cents, 10, nprobe=3).collect()]
    assert got == want and len(got) == 10
    assert not set(victims) & {r[0] for r in got}


def test_write_partitioned_one_file_per_value(spark, tmp_path):
    """The layout contract behind the 1M measurements (SCALE.md): a
    frame arriving in MANY input partitions still writes exactly ONE
    data file per partition value (hash-repartition first), where a
    direct write.partitionBy would emit up to tasks x values files.
    sort_within orders rows inside each value's file."""
    import os

    dest = str(tmp_path / "layout")
    df = (
        spark.range(0, 4000, 1, 16)  # 16 input partitions
        .withColumn("part", F.col("id") % 4)
        .withColumn("v", F.col("id") * 7 % 100)
    )
    write_partitioned(df, dest, "part", sort_within=["v"])
    for d in os.listdir(dest):
        if not d.startswith("part="):
            continue
        files = [f for f in os.listdir(os.path.join(dest, d))
                 if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    # secondary order held inside each value's file
    import pyarrow.parquet as pq

    part0 = os.path.join(dest, "part=0")
    f = [x for x in os.listdir(part0) if x.endswith(".parquet")][0]
    vals = pq.read_table(os.path.join(part0, f), columns=["v"])["v"].to_pylist()
    assert vals == sorted(vals)
    # num_partitions override still yields one file per value
    dest2 = str(tmp_path / "layout2")
    write_partitioned(df, dest2, "part", num_partitions=2)
    n = sum(
        1
        for d in os.listdir(dest2) if d.startswith("part=")
        for x in os.listdir(os.path.join(dest2, d)) if x.endswith(".parquet")
    )
    assert n == 4


def test_write_partitioned_max_rows_per_file_splits_hot_value(spark, tmp_path):
    """ADVICE r12: the one-file-per-value layout funnels each value
    through a single writer task, so a hot value became one
    arbitrarily large file. max_rows_per_file bounds it: the hot value
    splits into ceil(rows/cap) files, cold values keep exactly one —
    never back to the T*C explosion."""
    import os

    import pyspark.sql.functions as F

    from sqlite_vector_spark.sinks import write_partitioned

    df = spark.range(1030).select(
        F.col("id"),
        F.when(F.col("id") < 1000, F.lit(0)).otherwise(F.lit(1)).alias("cell"),
    )
    path = str(tmp_path / "capped")
    write_partitioned(df, path, "cell", max_rows_per_file=300)

    def files(v):
        d = os.path.join(path, f"cell={v}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files(0)) == 4  # ceil(1000/300)
    assert len(files(1)) == 1  # cold value: still one file
    assert spark.read.parquet(path).count() == 1030


def test_write_partitioned_tasks_per_value_parallelizes_hot_value(spark, tmp_path):
    """tasks_per_value > 1 salts the shuffle key so a hot value's
    write spreads over up to k tasks (k files), trading bounded
    fan-out for writer-time parallelism; contents and the partition
    layout are unchanged, and the salt is deterministic (two writes
    of the same frame produce the same file count)."""
    import os

    import pyspark.sql.functions as F

    from sqlite_vector_spark.sinks import write_partitioned

    df = spark.range(4000).select(
        F.col("id"),
        F.when(F.col("id") < 3900, F.lit(0)).otherwise(F.lit(1)).alias("cell"),
    )

    def files(path, v):
        d = os.path.join(path, f"cell={v}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    p1 = str(tmp_path / "salted")
    write_partitioned(df, p1, "cell", tasks_per_value=4)
    assert 2 <= len(files(p1, 0)) <= 4  # hot value parallelized
    assert len(files(p1, 1)) <= 4
    got = spark.read.parquet(p1)
    assert got.count() == 4000
    assert got.where(F.col("cell") == 0).count() == 3900

    p2 = str(tmp_path / "salted2")
    write_partitioned(df, p2, "cell", tasks_per_value=4)
    assert len(files(p2, 0)) == len(files(p1, 0))  # deterministic salt

    p3 = str(tmp_path / "unsalted")
    write_partitioned(df, p3, "cell")
    assert len(files(p3, 0)) == 1  # default keeps one file per value


def _jobs_of(spark, group, fn):
    """fn() and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn(), list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_read_parquet_schema_from_footer(spark, emb, tmp_path):
    """read_parquet's schema equals the one spark.read.parquet infers,
    for every kind of store the library writes, and comes from a
    footer without a Spark job; a directory written by another parquet
    writer has no Spark schema in its footers and is inferred."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from sqlite_vector_spark.operators.ann import ivf_store
    from sqlite_vector_spark.operators.quantize import vector_quantize
    from sqlite_vector_spark.sinks import read_parquet, read_store
    from sqlite_vector_spark.versioned import versioned_store_init

    base = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), "label")
    base.write.parquet(str(tmp_path / "flat"))
    centers = [r.vec for r in base.limit(4).collect()]
    ivf_store(base, "vec", centers, str(tmp_path / "ivf"))
    versioned_store_init(base.withColumn("cluster", F.col("id") % 4), str(tmp_path / "versioned"),
                         partition_col="cluster")
    vector_quantize(emb, "embedding", str(tmp_path / "replica"), id_col="vec_id",
                    include_cols=["label"])
    for name in ("flat", "ivf", "versioned", "replica"):
        path = str(tmp_path / name)
        want = spark.read.parquet(path).schema
        got, jobs = _jobs_of(spark, f"footer-{name}", lambda: read_parquet(spark, [path]))
        assert got.schema == want, name
        assert jobs == [], name
        assert read_store(spark, path).schema == want, name
    assert "cluster" in spark.read.parquet(str(tmp_path / "ivf")).columns
    path = str(tmp_path / "arrow")
    os.makedirs(path)
    papq.write_table(pa.table({"id": [1, 2], "x": [0.5, 1.5]}), f"{path}/part-0.parquet")
    got, jobs = _jobs_of(spark, "footer-arrow", lambda: read_parquet(spark, [path]))
    assert got.schema == spark.read.parquet(path).schema
    assert len(jobs) >= 1  # the inference fallback


def _vectors(spark, lo, hi, dim=16):
    import numpy as np

    rng = np.random.default_rng(lo)
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(lo, hi)]
    return spark.createDataFrame(rows, "id long, vec array<double>")


def _write_plans(spark, fn):
    """Run ``fn``; return its result and the executed plan text of
    every SQL execution it ran that wrote files (the status store keeps
    them with the UI off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    ex = store.executionsList()
    # by execution id, not list position: the store keeps only the
    # newest spark.sql.ui.retainedExecutions, so positions shift
    last = ex.apply(ex.size() - 1).executionId() if ex.size() else -1
    out = fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ex = store.executionsList()
    plans = []
    i = ex.size() - 1
    while i >= 0 and ex.apply(i).executionId() > last:
        plans.insert(0, ex.apply(i).physicalPlanDescription())
        i -= 1
    return out, [p for p in plans if "WriteFiles" in p]


def _exchange_between_write_and_observe(plan: str) -> bool:
    """True when, in any plan tree of ``plan`` (final and initial), an
    Exchange sits between WriteFiles and the CollectMetrics below it."""
    tree = plan.split("\n\n")[0].splitlines()
    starts = [i for i, line in enumerate(tree) if "WriteFiles" in line]
    assert starts, plan
    for i in starts:
        j = next(k for k in range(i, len(tree)) if "CollectMetrics" in tree[k])
        if any("Exchange" in line for line in tree[i:j]):
            return True
    return False


def test_observed_write_counts_in_result_stage(spark, tmp_path):
    """ADVICE r15 #1: write_observed observes the frame the writer
    writes, after the layout shuffle, so the metrics are counted in
    the write's result stage (a re-run map stage cannot count a row
    twice). Pinned on the partitioned writers — the band store, its
    append, the IVF-PQ append — on a versioned-root append, whose
    generation write repartitions too, and on delete_ids' receipts
    over a flat and a directory-partitioned store."""
    from sqlite_vector_spark.operators.bq import bq_band_store, bq_band_store_append, bq_encode
    from sqlite_vector_spark.operators.pq import (
        ivf_pq_store,
        ivf_pq_store_append,
        pq_fit,
        pq_store,
        pq_store_append,
    )
    from sqlite_vector_spark.sinks import delete_ids
    from sqlite_vector_spark.versioned import migrate_to_versioned

    dim = 16
    df, batch = _vectors(spark, 0, 200, dim), _vectors(spark, 200, 250, dim)
    books = pq_fit(df, "vec", 4, 8, dim, iters=2)
    cents = [r.vec for r in df.limit(4).collect()]
    mih, ivfpq = str(tmp_path / "mih"), str(tmp_path / "ivfpq")
    ivf_pq_store(df, "vec", cents, books, ivfpq)
    pq_store(df, "vec", books, str(tmp_path / "pq"))
    migrate_to_versioned(spark, str(tmp_path / "pq"), str(tmp_path / "pq_v"))
    flat, parted = str(tmp_path / "flat"), str(tmp_path / "parted")
    df.write.parquet(flat)
    df.withColumn("part", F.col("id") % 4).write.partitionBy("part").parquet(parted)
    calls = [
        ("bq_band_store", 200,
         lambda: bq_band_store(bq_encode(df, "vec", dim), dim, mih)),
        ("bq_band_store_append", 50,
         lambda: bq_band_store_append(bq_encode(batch, "vec", dim), dim, mih)),
        ("ivf_pq_store_append", 50,
         lambda: ivf_pq_store_append(batch, "vec", cents, books, ivfpq).n_appended),
        ("pq_store_append (versioned)", 50,
         lambda: pq_store_append(batch, "vec", books, str(tmp_path / "pq_v")).n_appended),
        ("delete_ids (flat)",
         {"deleted_rows": 4, "rows_after": 196, "partitions_rewritten": -1},
         lambda: delete_ids(spark, flat, [1, 2, 3, 5, 5])),
        ("delete_ids (partitioned)",
         {"deleted_rows": 4, "rows_after": 146, "partitions_rewritten": 3},
         lambda: delete_ids(spark, parted, [1, 2, 3, 5, 5], partition_col="part")),
    ]
    for name, want, fn in calls:
        got, plans = _write_plans(spark, fn)
        assert got == want, name
        assert len(plans) == 1 and "CollectMetrics" in plans[0], (name, plans)
        assert not _exchange_between_write_and_observe(plans[0]), (name, plans[0][:3000])


_RETRY_SCRIPT = r"""
import json, os, sys

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from sqlite_vector_spark.operators.bq import bq_band_store, bq_band_store_append, bq_encode
from sqlite_vector_spark.operators.pq import (
    ivf_pq_store, ivf_pq_store_append, pq_fit, pq_store, pq_store_append,
)
from sqlite_vector_spark.sinks import read_store

root = sys.argv[1]
spark = (SparkSession.builder.master("local[4,2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
spark.sparkContext.setLogLevel("OFF")
dim = 16
rng = np.random.default_rng(0)
rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(1000)]
df = spark.createDataFrame(rows[:600], "id long, vec array<double>")
new = spark.createDataFrame(rows[600:], "id long, vec array<double>").repartition(2)


def failing(verb):
    # each verb's write fails one task once, mid-partition, after
    # earlier rows of the task have already streamed through
    marker = os.path.join(root, verb + ".failed")

    @F.udf("array<double>")
    def fail_once(i, v):
        if i % 200 == 150 and not os.path.exists(marker):
            open(marker, "w").close()
            raise RuntimeError("injected task failure")
        return v

    return new.select("id", fail_once("id", "vec").alias("vec"))


books = pq_fit(df, "vec", 4, 8, dim, iters=2)
cents = [r.vec for r in df.limit(4).collect()]
pq_store(df, "vec", books, f"{root}/pq")
ivf_pq_store(df, "vec", cents, books, f"{root}/ivfpq")
bq_band_store(bq_encode(df, "vec", dim), dim, f"{root}/mih")
out = {
    "pq_store_append": pq_store_append(
        failing("pq"), "vec", books, f"{root}/pq").n_appended,
    "ivf_pq_store_append": ivf_pq_store_append(
        failing("ivfpq"), "vec", cents, books, f"{root}/ivfpq").n_appended,
    "bq_band_store_append": bq_band_store_append(
        bq_encode(failing("mih"), "vec", dim), dim, f"{root}/mih"),
}
written = {
    "pq_store_append": read_store(spark, f"{root}/pq").count() - 600,
    "ivf_pq_store_append": read_store(spark, f"{root}/ivfpq").count() - 600,
    "bq_band_store_append": read_store(spark, f"{root}/mih").where("b = 0").count() - 600,
}
failed = sorted(f for f in os.listdir(root) if f.endswith(".failed"))
print(json.dumps({"reported": out, "written": written, "failed": failed}))
spark.stop()
"""


def test_observed_counts_exact_under_task_retry(tmp_path):
    """A write task that fails once and is retried (``local[4,2]``:
    up to 2 attempts per task) must not count its rows twice: each
    append's reported count equals the rows it wrote. Runs in its own
    Spark process because the session fixture's master allows no
    retries."""
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["failed"] == ["ivfpq.failed", "mih.failed", "pq.failed"]
    assert got["reported"] == got["written"] == {
        "pq_store_append": 400, "ivf_pq_store_append": 400, "bq_band_store_append": 400,
    }
