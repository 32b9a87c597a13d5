"""fsutil: the scheme-agnostic FS layer under the maintenance verbs
(r13). Pure-python helpers tested directly; the Hadoop-side ops
tested over BOTH the local scheme and the test-only mock: scheme
(conftest wires MockFileSystem), since every lifecycle verb routes
through them on scheme-carrying roots."""

from __future__ import annotations

import os

import pytest

from sqlite_vector_spark import fsutil


def test_scheme_predicates():
    assert fsutil.has_scheme("s3a://bucket/x")
    assert fsutil.has_scheme("mock:/tmp/x")
    assert fsutil.has_scheme("file:/tmp/x")
    assert not fsutil.has_scheme("/tmp/x")
    assert not fsutil.has_scheme("relative/path")
    assert fsutil.is_remote("s3a://bucket/x")
    assert fsutil.is_remote("mock:/tmp/x")
    assert not fsutil.is_remote("file:/tmp/x")  # file: is local
    assert not fsutil.is_remote("/tmp/x")


def test_norm_root_never_abspaths_a_uri():
    # os.path.abspath would corrupt a URI by prefixing the cwd — the
    # exact bug class norm_root exists to prevent
    assert fsutil.norm_root("mock:/tmp/x/") == "mock:/tmp/x"
    assert fsutil.norm_root("s3a://b/k/") == "s3a://b/k"
    assert fsutil.norm_root("/tmp/x/") == "/tmp/x"
    rel = fsutil.norm_root("some/rel")
    assert os.path.isabs(rel) and rel.endswith("/some/rel")


@pytest.mark.parametrize("scheme", ["local", "mock"])
def test_fs_ops_roundtrip(spark, tmp_path, scheme):
    root = str(tmp_path / "fsops") if scheme == "local" else f"mock:{tmp_path}/fsops"
    fsutil.mkdirs(spark, f"{root}/a")
    fsutil.put_text(spark, f"{root}/a/x.json", '{"k": 1}')
    assert fsutil.exists(spark, f"{root}/a/x.json")
    assert fsutil.is_dir(spark, f"{root}/a")
    assert not fsutil.is_dir(spark, f"{root}/a/x.json")
    assert fsutil.get_text(spark, f"{root}/a/x.json") == '{"k": 1}'
    assert fsutil.list_names(spark, root) == ["a"]
    assert fsutil.list_names(spark, f"{root}/a", "*.json") == ["x.json"]
    assert fsutil.list_names(spark, f"{root}/a", "*.txt") == []
    assert fsutil.list_names(spark, f"{root}/missing") == []
    assert fsutil.du_bytes(spark, f"{root}/a") > 0
    fsutil.rename(spark, f"{root}/a", f"{root}/b")
    assert not fsutil.exists(spark, f"{root}/a")
    assert fsutil.get_text(spark, f"{root}/b/x.json") == '{"k": 1}'
    fsutil.delete(spark, f"{root}/b", recursive=True)
    assert not fsutil.exists(spark, f"{root}/b")


def test_rename_is_checked(spark, tmp_path):
    """Hadoop's rename returns False on a missing source; the checked
    wrapper must raise — a swap that silently no-ops corrupts the
    maintenance verbs' accounting."""
    with pytest.raises(OSError, match="rename failed"):
        fsutil.rename(spark, str(tmp_path / "nope"), str(tmp_path / "dst"))


def test_active_spark_resolves_on_foreach_batch_thread(spark, tmp_path):
    """getActiveSession() is thread-local and None on Structured
    Streaming's foreachBatch threads — exactly where the ingest
    handlers resolve the FS layer for scheme-carrying state roots
    (found by the r13 1M mock-scheme probe). active_spark must
    resolve there via the process-wide fallback."""
    import threading

    seen = {}

    def worker():
        try:
            seen["spark"] = fsutil.active_spark()
        except Exception as e:  # noqa: BLE001
            seen["error"] = e

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert "error" not in seen
    assert seen["spark"] is not None


@pytest.mark.parametrize("scheme", ["local", "mock"])
def test_put_text_atomic_overwrite(spark, tmp_path, scheme):
    """ADVICE r13 #4: overwriting a LIVE small object must never
    truncate-then-write at the final name — write .tmp, swap via
    rename, leave no .tmp behind on success."""
    root = str(tmp_path / "atom") if scheme == "local" else f"mock:{tmp_path}/atom"
    p = f"{root}/_sv_params.json"
    fsutil.mkdirs(spark, root)
    fsutil.put_text_atomic(spark, p, '{"v": 1}')
    assert fsutil.get_text(spark, p) == '{"v": 1}'
    fsutil.put_text_atomic(spark, p, '{"v": 2}')  # the overwrite case
    assert fsutil.get_text(spark, p) == '{"v": 2}'
    assert not fsutil.exists(spark, f"{p}.tmp")


def test_params_sidecar_scheme_root_roundtrip(spark, tmp_path):
    """write_params_sidecar on a scheme-carrying root goes through the
    atomic tmp+rename path and reads back intact."""
    from sqlite_vector_spark.sinks import read_params_sidecar, write_params_sidecar

    root = f"mock:{tmp_path}/store"
    fsutil.mkdirs(spark, root)
    write_params_sidecar(root, {"dim": 8, "qtype": "U8"})
    write_params_sidecar(root, {"dim": 8, "qtype": "S8"})  # overwrite
    assert read_params_sidecar(root) == {"dim": 8, "qtype": "S8"}


def test_is_remote_schemeless_follows_default_fs(spark, tmp_path):
    """ADVICE r13 #3: a SCHEME-LESS path on a deployment whose
    fs.defaultFS is an object store is remote — the rename-swap verbs'
    remote_ok refusal must not be bypassable by omitting the scheme."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("fs.defaultFS", "file:///")
    assert not fsutil.is_remote("/tmp/x", spark=spark)  # local default
    hconf.set("fs.defaultFS", "mock:///")
    try:
        assert fsutil.is_remote("/tmp/x", spark=spark)
        assert not fsutil.is_remote("file:/tmp/x", spark=spark)  # scheme wins
        # and the delete_ids refusal actually fires on a plain path
        import pyspark.sql.functions as F

        from sqlite_vector_spark.sinks import delete_ids

        dest = str(tmp_path / "flatstore")
        spark.range(20).select(
            F.col("id"), (F.col("id") % 4).alias("part")
        ).write.parquet(dest)
        with pytest.raises(ValueError, match="remote filesystem"):
            delete_ids(spark, dest, [1, 2], id_col="id")
    finally:
        hconf.set("fs.defaultFS", prev)


def test_schemeless_paths_follow_default_fs(spark, tmp_path):
    """A SCHEME-LESS store or state root resolves through fs.defaultFS,
    as Spark's own data files do: with the default filesystem set to
    the recording mock:, the sidecar verbs, the stream-epoch lister
    behind verify_ids_absent, vector_quantize_cleanup and walk_files
    must each show their metadata ops in the mock's log. An os.*
    walk here would look at the driver's local disk instead — on an
    object-store deployment it finds nothing, and a takedown receipt
    reads clean while the ids are still stored."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.quantize import vector_quantize_cleanup
    from sqlite_vector_spark.sinks import (
        read_params_sidecar,
        verify_ids_absent,
        write_params_sidecar,
    )

    jfs = spark._jvm.MockFileSystem

    def ops_of(fn):
        jfs.startRecording()
        try:
            fn()
        finally:
            raw = jfs.stopRecording()
        return [tuple(line.split(" ", 1)) for line in raw.splitlines() if line]

    vecs = spark.range(6).select(
        F.col("id").alias("vec_id"), F.array(F.col("id").cast("float"), F.lit(1.0)).alias("vec"))
    cat = VectorCatalog(str(tmp_path / "cat"))  # catalog JSON stays driver-local
    cat.vector_init(vecs, "fs_default", "vec", "type=FLOAT32,dimension=2,distance=L2")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev = hconf.get("fs.defaultFS", "file:///")
    hconf.set("fs.defaultFS", "mock:///")
    try:
        side = str(tmp_path / "side")
        ops = ops_of(lambda: write_params_sidecar(side, {"dim": 2}))
        assert ("create", f"{side}/_sv_params.json.tmp") in ops
        got = {}
        ops = ops_of(lambda: got.update(p=read_params_sidecar(side)))
        assert got["p"] == {"dim": 2}
        assert ("open", f"{side}/_sv_params.json") in ops

        state = str(tmp_path / "sstate")
        write_params_sidecar(state, {"id_col": "doc_id"})
        spark.createDataFrame([(1, "a"), (2, "b")], "doc_id bigint, text string").write.parquet(
            f"{state}/docs/epoch=0")
        spark.createDataFrame([(1, 1), (2, 1)], "id bigint, cluster bigint").write.parquet(
            f"{state}/labels/epoch=0")
        cat.set_stream_state("fs_default", "vec", state_dir=state)
        ops = ops_of(lambda: got.update(
            r=verify_ids_absent(spark, cat, "fs_default", "vec", [1])))
        assert got["r"]["stream_state"] == 2  # doc 1 in docs/ and labels/
        assert ("list", f"{state}/docs") in ops and ("list", f"{state}/labels") in ops

        replica = str(tmp_path / "replica")
        vecs.write.parquet(replica)
        ops = ops_of(lambda: vector_quantize_cleanup(dest_path=replica))
        assert ("delete", replica) in ops
        assert not fsutil.exists(spark, replica)

        ops = ops_of(lambda: got.update(w=fsutil.walk_files(spark, state)))
        assert any(p.endswith(".parquet") for p, _ in got["w"])
        assert ("list", state) in ops
    finally:
        hconf.set("fs.defaultFS", prev)


@pytest.mark.parametrize("scheme", ["local", "mock"])
def test_walk_files_both_schemes(spark, tmp_path, scheme):
    """walk_files: same (path, size) listing from the os fast path and
    the Hadoop iterator — vacuum's generation walk depends on it."""
    root = str(tmp_path / "wf") if scheme == "local" else f"mock:{tmp_path}/wf"
    for d, name, body in [("a", "x.bin", "12345"), ("a/b", "y.bin", "7"), ("c", "z.bin", "999")]:
        fsutil.mkdirs(spark, f"{root}/{d}")
        fsutil.put_text(spark, f"{root}/{d}/{name}", body)
    got = sorted(fsutil.walk_files(spark, root))
    names = [(p.rsplit("/wf/", 1)[1], sz) for p, sz in got]
    assert names == [("a/b/y.bin", 1), ("a/x.bin", 5), ("c/z.bin", 3)]
    assert fsutil.walk_files(spark, f"{root}/missing") == []
