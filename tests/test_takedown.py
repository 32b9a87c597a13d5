"""r11: the one-call takedown orchestrator (sinks.takedown), the
frozen-params sidecars that feed it, the MIH rebuild-from-codes delete
arm, and vacuum_store.

The completeness contract under test: after `takedown(spark, cat, t,
c, ids)`, NO catalog-registered tier — vector stores, band/bucket
stores, mirrors, label states, streaming state — still holds a deleted
id, and every label re-solve ran with the family the state was built
with (read from its sidecar, never re-passed defaults).
"""

import os

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_SMOKE

JACCARD_T = 0.55
NEARDUP_T = 0.65
DIM = 64
PLANES = [[((p * DIM + j) * 37 % 101) / 101.0 - 0.5 for j in range(DIM)] for p in range(4)]


@pytest.fixture(scope="module")
def _full_state_template(spark, emb, docs, tmp_path_factory):
    """Every tier the catalog can register, built over the smoke data:
    vector tiers (quantized/IVF/BQ/MIH), text near-dup state (band
    store + docs mirror + labels), embedding near-dup state (bucket
    store + vectors mirror + labels). Built ONCE per module (the
    Spark build is ~8 s and every takedown test MUTATES its state, so
    full_state hands each test a cheap file copy of this template with
    the catalog JSON re-pointed — same stores, ~50 s off the suite)."""
    tmp_path = tmp_path_factory.mktemp("td_template")
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.ann import ivf_assign
    from sqlite_vector_spark.operators.bq import bq_band_store, bq_encode
    from sqlite_vector_spark.operators.dedup import (
        connected_components_min_label,
        embedding_bucket_store,
        embedding_neardup_pairs,
        jaccard_pairs,
        lsh_band_store,
        lsh_candidate_pairs,
        write_label_state,
    )
    from sqlite_vector_spark.operators.quantize import vector_quantize

    emb.createOrReplaceTempView("td_t")
    cat = VectorCatalog(str(tmp_path / "cat"))
    cat.vector_init(emb, "td_t", "embedding", f"type=FLOAT32,dimension={DIM},distance=L2")

    # vector tiers
    vector_quantize(emb, "embedding", str(tmp_path / "rep"), id_col="vec_id",
                    catalog=cat, table="td_t")
    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    ivf_assign(emb, "embedding", cents, id_col="vec_id").write.partitionBy(
        "cluster").parquet(str(tmp_path / "ivf"))
    cat.set_ivf_index("td_t", "embedding", path=str(tmp_path / "ivf"), centroids=cents)
    codes = bq_encode(emb, "embedding", DIM, id_col="vec_id")
    codes.write.parquet(str(tmp_path / "bq"))
    cat.set_bq_index("td_t", "embedding", path=str(tmp_path / "bq"))
    bq_band_store(codes, DIM, str(tmp_path / "mih"), band_bits=8)
    cat.set_mih_index("td_t", "embedding", path=str(tmp_path / "mih"), band_bits=8)

    # text near-dup state
    lsh_band_store(docs, "doc_id", "text", str(tmp_path / "bands"))
    docs.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text").write.parquet(
        str(tmp_path / "docsmirror"))
    tedges = (
        jaccard_pairs(lsh_candidate_pairs(docs, "doc_id", "text"), docs, "doc_id", "text")
        .where(F.col("jaccard") >= F.lit(JACCARD_T)).select("a", "b")
    )
    write_label_state(
        connected_components_min_label(tedges), str(tmp_path / "tlabels"),
        {"jaccard_t": JACCARD_T, "num_hashes": 8, "bands": 4, "rows_per_band": 2,
         "shingle_n": 3, "id_col": "doc_id", "text_col": "text"},
    )
    cat.set_text_neardup_state(
        "td_t", "embedding", band_store=str(tmp_path / "bands"),
        docs_mirror=str(tmp_path / "docsmirror"), labels=str(tmp_path / "tlabels"),
    )

    # embedding near-dup state
    embedding_bucket_store(emb, "vec_id", "embedding", PLANES, str(tmp_path / "buckets"))
    emb.select(F.col("vec_id").cast("bigint").alias("vec_id"), "embedding").write.parquet(
        str(tmp_path / "vecmirror"))
    eedges = embedding_neardup_pairs(emb, "vec_id", "embedding", PLANES, NEARDUP_T).select("a", "b")
    write_label_state(
        connected_components_min_label(eedges), str(tmp_path / "elabels"),
        {"planes": PLANES, "threshold": NEARDUP_T, "metric": "COSINE",
         "id_col": "vec_id", "vec_col": "embedding"},
    )
    cat.set_embedding_neardup_state(
        "td_t", "embedding", bucket_store=str(tmp_path / "buckets"),
        vectors_mirror=str(tmp_path / "vecmirror"), labels=str(tmp_path / "elabels"),
    )
    return tmp_path


@pytest.fixture()
def full_state(spark, emb, tmp_path, _full_state_template):
    """A per-test MUTABLE copy of the template state (copytree + the
    catalog JSON re-pointed at the copy). Identical contents to the
    old per-test Spark build; the temp view is re-asserted because a
    prior test in the session may have replaced it."""
    import shutil

    from sqlite_vector_spark.catalog import VectorCatalog

    emb.createOrReplaceTempView("td_t")
    # copy INTO tmp_path itself so every store sits at the exact
    # tmp_path/<name> layout the per-test build used (test bodies
    # read e.g. tmp_path/"tlabels" directly)
    shutil.copytree(str(_full_state_template), str(tmp_path), dirs_exist_ok=True)
    for f in (tmp_path / "cat").glob("*.json"):
        f.write_text(f.read_text().replace(str(_full_state_template), str(tmp_path)))
    cat = VectorCatalog(str(tmp_path / "cat"))
    # same restart flow production uses: vector_init on a fresh
    # catalog instance rehydrates every persisted tier path
    cat.vector_init(emb, "td_t", "embedding", f"type=FLOAT32,dimension={DIM},distance=L2")
    return cat


@pytest.mark.slow
def test_takedown_no_registered_tier_holds_a_deleted_id(spark, emb, docs, tmp_path, full_state):
    """The r11 gate property: ONE call, and a deleted id is queryable
    through NO registered tier. Runs with max_parallel=4 — the
    concurrent-chain scheduler must satisfy the exact same content
    assertions as the serial path (which the receipt test covers)."""
    from sqlite_vector_spark.sinks import takedown

    victims = [3, 17, 42, 99]
    reports = takedown(spark, full_state, "td_t", "embedding", victims, max_parallel=4)
    assert {"quantized", "ivf", "bq", "mih", "band_store", "docs_mirror",
            "text_labels", "bucket_store", "vectors_mirror",
            "embedding_labels"} <= set(reports)
    vset = set(victims)
    for name, path, col in [
        ("quantized", "rep", "id"), ("ivf", "ivf", "id"), ("bq", "bq", "id"),
        ("mih", "mih", "id"), ("band_store", "bands", "id"),
        ("docs_mirror", "docsmirror", "doc_id"),
        ("bucket_store", "buckets", "id"), ("vectors_mirror", "vecmirror", "vec_id"),
        ("text_labels", "tlabels", "id"), ("embedding_labels", "elabels", "id"),
    ]:
        left = {r[0] for r in spark.read.parquet(str(tmp_path / path)).select(col).collect()}
        assert not (left & vset), f"{name} still holds a deleted id"
        if not name.endswith("labels"):  # label states are members-only (may be empty)
            assert len(left) > 0, name


@pytest.mark.slow
def test_takedown_verify_receipt_and_leak_detection(spark, emb, docs, tmp_path, full_state):
    """verify=True returns an all-zero residual report (the compliance
    receipt) over every registered tier; a leftover file planted into
    a store afterwards is CAUGHT by verify_ids_absent — the check is a
    real scan, not bookkeeping."""
    from sqlite_vector_spark.sinks import takedown, verify_ids_absent

    import json

    victims = [3, 17, 42]
    reports = takedown(spark, full_state, "td_t", "embedding", victims, verify=True,
                       audit_dir=str(tmp_path / "audit"))
    receipt = reports["verified"]
    assert receipt and all(v == 0 for v in receipt.values())
    # audit record: one line, counts only — NEVER the ids themselves
    with open(tmp_path / "audit" / "takedown_audit.jsonl") as f:
        lines = [json.loads(x) for x in f]
    assert len(lines) == 1 and lines[0]["n_ids"] == 3
    assert lines[0]["verified"] == receipt
    assert "ids" not in lines[0]  # counts only — never the ids themselves
    assert {"quantized", "ivf", "bq", "mih", "band_store", "docs_mirror",
            "bucket_store", "vectors_mirror"} <= set(receipt)
    # plant a leftover: append a victim row back into the bucket store
    spark.createDataFrame([(17, 0)], "id bigint, bucket bigint").write.mode(
        "append").parquet(str(tmp_path / "buckets"))
    residuals = verify_ids_absent(spark, full_state, "td_t", "embedding", victims)
    assert residuals["bucket_store"] == 1
    assert sum(v for k, v in residuals.items() if k != "bucket_store") == 0


@pytest.mark.slow
def test_takedown_label_states_equal_rebuild_over_survivors(spark, emb, docs, tmp_path, full_state):
    """The orchestrator's label re-solve (params from sidecar) equals
    a from-scratch rebuild over the surviving corpus — the same
    delete == rebuild proof the r10 gate twins pin, but through the
    one-call surface."""
    from sqlite_vector_spark.operators.dedup import (
        connected_components_min_label,
        embedding_neardup_pairs,
        jaccard_pairs,
        lsh_candidate_pairs,
    )
    from sqlite_vector_spark.sinks import takedown

    victims = [r.doc_id for r in docs.where(F.col("doc_id") % 9 == 4).select("doc_id").collect()]
    takedown(spark, full_state, "td_t", "embedding", victims)

    sdocs = docs.where(~F.col("doc_id").isin(victims))
    texp = connected_components_min_label(
        jaccard_pairs(lsh_candidate_pairs(sdocs, "doc_id", "text"), sdocs, "doc_id", "text")
        .where(F.col("jaccard") >= F.lit(JACCARD_T)).select("a", "b")
    )
    tgot = spark.read.parquet(str(tmp_path / "tlabels"))
    assert (sorted(map(tuple, tgot.select("id", "cluster").collect()))
            == sorted(map(tuple, texp.select("id", "cluster").collect())))

    semb = emb.where(~F.col("vec_id").isin(victims))
    eexp = connected_components_min_label(
        embedding_neardup_pairs(semb, "vec_id", "embedding", PLANES, NEARDUP_T).select("a", "b")
    )
    egot = spark.read.parquet(str(tmp_path / "elabels"))
    assert (sorted(map(tuple, egot.select("id", "cluster").collect()))
            == sorted(map(tuple, eexp.select("id", "cluster").collect())))


def test_takedown_requires_mirror_for_label_state(spark, emb, tmp_path):
    """A label state registered WITHOUT its corpus mirror must refuse
    up front — a re-solve without the survivors' text would silently
    drop every affected component."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.dedup import write_label_state
    from sqlite_vector_spark.sinks import takedown

    emb.createOrReplaceTempView("td_nomirror")
    cat = VectorCatalog(str(tmp_path / "cat2"))
    cat.vector_init(emb, "td_nomirror", "embedding", f"type=FLOAT32,dimension={DIM},distance=L2")
    write_label_state(
        spark.createDataFrame([(1, 1), (2, 1)], "id bigint, cluster bigint"),
        str(tmp_path / "lonelabels"),
        {"jaccard_t": 0.8, "id_col": "doc_id", "text_col": "text"},
    )
    cat.set_text_neardup_state("td_nomirror", "embedding", labels=str(tmp_path / "lonelabels"))
    with pytest.raises(ValueError, match="docs mirror"):
        takedown(spark, cat, "td_nomirror", "embedding", [1])


@pytest.mark.slow
def test_mih_rebuild_arm_equals_in_place_delete(spark, emb, tmp_path):
    """The cheaper-arm pin: rebuilding the band store from post-delete
    codes yields EXACTLY the rows an in-place delete_ids leaves (the
    band expansion depends only on the frozen (dim, band_bits))."""
    from sqlite_vector_spark.operators.bq import bq_band_store, bq_encode
    from sqlite_vector_spark.sinks import delete_ids

    codes = bq_encode(emb, "embedding", DIM, id_col="vec_id").localCheckpoint(eager=True)
    victims = [3, 17, 42]
    a, b = str(tmp_path / "inplace"), str(tmp_path / "rebuilt")
    bq_band_store(codes, DIM, a, band_bits=8)
    delete_ids(spark, a, victims, id_col="id", partition_col="b", sort_within=["bv"])
    bq_band_store(codes.where(~F.col("id").isin(victims)), DIM, b, band_bits=8)
    left = sorted(tuple(r) for r in spark.read.parquet(a).select("id", "b", "bv").collect())
    right = sorted(tuple(r) for r in spark.read.parquet(b).select("id", "b", "bv").collect())
    assert left == right


def test_projected_mih_store_falls_back_to_in_place(spark, emb, tmp_path):
    """A PROJECTED band store (mih_planes registered) must NOT rebuild
    from the axis-aligned bq_path codes — its codes live in plane
    space; the cascade falls back to the in-place delete."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.bq import (
        bq_band_store,
        bq_encode,
        bq_project_encode,
        bq_random_planes,
    )
    from sqlite_vector_spark.sinks import delete_ids_everywhere

    emb.createOrReplaceTempView("td_proj")
    cat = VectorCatalog(str(tmp_path / "cat3"))
    cat.vector_init(emb, "td_proj", "embedding", f"type=FLOAT32,dimension={DIM},distance=L2")
    bq_encode(emb, "embedding", DIM, id_col="vec_id").write.parquet(str(tmp_path / "bq3"))
    cat.set_bq_index("td_proj", "embedding", path=str(tmp_path / "bq3"))
    planes = bq_random_planes(DIM, 16, seed=7)
    pcodes = bq_project_encode(emb, "embedding", planes, id_col="vec_id")
    bq_band_store(pcodes, 16, str(tmp_path / "mih3"), band_bits=8)
    cat.set_mih_index("td_proj", "embedding", path=str(tmp_path / "mih3"),
                      band_bits=8, planes=planes)
    reports = delete_ids_everywhere(spark, cat, "td_proj", "embedding", [3, 17])
    assert reports["mih"]["strategy"] == "in_place"
    left = {r.id for r in spark.read.parquet(str(tmp_path / "mih3")).select("id").collect()}
    assert not (left & {3, 17}) and left


def test_params_sidecar_atomic_write_and_corruption_refusal(tmp_path):
    """The sidecar is written temp-then-os.replace so a crash cannot
    leave truncated JSON; if a sidecar IS corrupt (external cause),
    reading it raises a clear ValueError naming the file instead of a
    bare JSONDecodeError that bricks maintenance opaquely (advisor
    r11)."""
    import pytest

    from sqlite_vector_spark.sinks import (
        _SIDECAR,
        read_params_sidecar,
        write_params_sidecar,
    )

    store = str(tmp_path / "s")
    write_params_sidecar(store, {"planes": 16})
    assert read_params_sidecar(store) == {"planes": 16}
    # no temp residue from the atomic-write path
    assert os.listdir(store) == [_SIDECAR]
    # overwrite keeps the file valid (replace, not append/truncate)
    write_params_sidecar(store, {"planes": 16, "seed": 7})
    assert read_params_sidecar(store)["seed"] == 7
    with open(os.path.join(store, _SIDECAR), "w") as f:
        f.write('{"planes": 16, "se')  # simulated torn write
    with pytest.raises(ValueError, match="corrupt frozen-params sidecar"):
        read_params_sidecar(store)


def test_frozen_params_sidecar_raises_on_conflict(spark, docs, tmp_path):
    """The enforced frozen-family contract: maintenance with an
    explicitly conflicting param RAISES; None resolves from the
    sidecar (r10 judge What's-wrong #2)."""
    from sqlite_vector_spark.operators.dedup import (
        delete_labels_state,
        incremental_dedup_pairs,
        lsh_band_store,
        write_label_state,
    )
    from sqlite_vector_spark.sinks import read_params_sidecar

    store = str(tmp_path / "bands_nd")
    lsh_band_store(docs, "doc_id", "text", store, num_hashes=6, bands=3, rows_per_band=2)
    assert read_params_sidecar(store)["num_hashes"] == 6
    # append with a conflicting family: refused
    with pytest.raises(ValueError, match="frozen-params conflict"):
        lsh_band_store(docs.limit(5), "doc_id", "text", store, num_hashes=8, mode="append")
    # incremental probe with conflicting bands: refused
    with pytest.raises(ValueError, match="frozen-params conflict"):
        incremental_dedup_pairs(spark, docs.limit(5), store, "doc_id", "text", bands=4).count()
    # None params resolve from the sidecar: the batch keys join works
    n = incremental_dedup_pairs(spark, docs.limit(5), store, "doc_id", "text").count()
    assert n >= 0

    labels = str(tmp_path / "lab_nd")
    write_label_state(
        spark.createDataFrame([(1, 1)], "id bigint, cluster bigint"), labels,
        {"jaccard_t": 0.7, "num_hashes": 6, "bands": 3, "rows_per_band": 2,
         "shingle_n": 3, "id_col": "doc_id", "text_col": "text"},
    )
    with pytest.raises(ValueError, match="frozen-params conflict"):
        delete_labels_state(spark, labels, docs, [1], jaccard_t=0.9)


def test_bucket_store_sidecar_and_plane_resolution(spark, emb, tmp_path):
    """Embedding side: planes ride in the bucket store's sidecar;
    incremental_embedding_pairs(planes=None) reads them, a foreign
    matrix raises, and sidecar-resolved candidates == explicit-planes
    candidates."""
    from sqlite_vector_spark.operators.dedup import (
        embedding_bucket_store,
        incremental_embedding_pairs,
    )

    store = str(tmp_path / "buckets_nd")
    old = emb.where(F.col("vec_id") % 5 != 0)
    batch = emb.where(F.col("vec_id") % 5 == 0)
    embedding_bucket_store(old, "vec_id", "embedding", PLANES, store)
    explicit = incremental_embedding_pairs(spark, batch, store, "vec_id", "embedding", PLANES)
    implicit = incremental_embedding_pairs(spark, batch, store, "vec_id", "embedding")
    assert sorted(map(tuple, explicit.collect())) == sorted(map(tuple, implicit.collect()))
    foreign = [[x + 1.0 for x in p] for p in PLANES]
    with pytest.raises(ValueError, match="frozen-params conflict"):
        incremental_embedding_pairs(spark, batch, store, "vec_id", "embedding", foreign).count()


def test_delete_ids_preserves_sidecar_on_flat_swap(spark, emb, tmp_path):
    """Unpartitioned delete swaps the whole directory — the params
    sidecar must survive into the new layout (losing it downgrades
    every later maintenance call to unchecked defaults)."""
    from sqlite_vector_spark.operators.dedup import embedding_bucket_store
    from sqlite_vector_spark.sinks import delete_ids, read_params_sidecar

    store = str(tmp_path / "buckets_swap")
    embedding_bucket_store(emb, "vec_id", "embedding", PLANES, store)
    before = read_params_sidecar(store)
    delete_ids(spark, store, [3, 17], id_col="id", sort_within=["bucket"])
    assert read_params_sidecar(store) == before


def test_vacuum_store_reclaims_retained_layouts(spark, emb, tmp_path):
    """vacuum_store drops __pre_delete/__pre_compact, refuses when the
    live store is gone, and never touches in-flight staging dirs."""
    from sqlite_vector_spark.sinks import compact_store, delete_ids, vacuum_store

    dest = str(tmp_path / "vac")
    emb.select(F.col("vec_id").alias("id"), "label").write.parquet(dest)
    delete_ids(spark, dest, [1, 2], id_col="id")
    compact_store(spark, dest)
    assert os.path.isdir(dest + "__pre_delete") and os.path.isdir(dest + "__pre_compact")
    os.makedirs(dest + "__deleting")  # simulated in-flight writer
    rep = vacuum_store(dest)
    assert sorted(rep["removed"]) == [
        os.path.basename(dest) + "__pre_compact", os.path.basename(dest) + "__pre_delete"]
    assert rep["bytes_freed"] > 0
    assert not os.path.exists(dest + "__pre_delete")
    assert not os.path.exists(dest + "__pre_compact")
    assert os.path.isdir(dest + "__deleting")  # untouched
    assert spark.read.parquet(dest).count() > 0
    with pytest.raises(RuntimeError, match="refusing"):
        vacuum_store(str(tmp_path / "never_existed"))


def test_takedown_reaches_registered_stream_state(spark, emb, docs, tmp_path):
    """A catalog-registered streaming state is part of the one-call
    cascade: takedown() rewrites its per-epoch docs and labels too."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.sinks import takedown, write_params_sidecar

    emb.createOrReplaceTempView("td_stream")
    cat = VectorCatalog(str(tmp_path / "cat4"))
    cat.vector_init(emb, "td_stream", "embedding", f"type=FLOAT32,dimension={DIM},distance=L2")
    state = str(tmp_path / "sstate")
    os.makedirs(state)
    write_params_sidecar(state, {"id_col": "doc_id", "text_col": "text", "jaccard_min": 0.6})
    docs.limit(20).select(F.col("doc_id").cast("bigint").alias("doc_id"), "text").write.parquet(
        f"{state}/docs/epoch=0")
    spark.createDataFrame([(1, 1), (2, 1)], "id bigint, cluster bigint").write.parquet(
        f"{state}/labels/epoch=0")
    cat.set_stream_state("td_stream", "embedding", state_dir=state)
    reports = takedown(spark, cat, "td_stream", "embedding", [1])
    assert "stream_state" in reports and reports["stream_state"]["labels_rewritten"]
    assert 1 not in {r.id for r in spark.read.parquet(f"{state}/labels/epoch=0").collect()}
    assert 1 not in {r.doc_id for r in spark.read.parquet(f"{state}/docs/epoch=0").collect()}


@pytest.mark.slow
def test_repeated_takedown_batches_compose(spark, emb, docs, tmp_path, full_state):
    """Three successive takedown batches (worst case for the retained
    __pre_delete generations, sidecar survival, and label-state
    swaps): after every batch the cumulative victim set is absent
    from every tier, the receipt stays all-zero, and sidecars keep
    resolving. A no-member batch short-circuits the label re-solves
    (skipped report) instead of rewriting."""
    from sqlite_vector_spark.sinks import read_params_sidecar, takedown

    batches = [[3, 17], [42, 99, 123], [8]]
    seen: list = []
    for b in batches:
        seen += b
        reports = takedown(spark, full_state, "td_t", "embedding", b, verify=True)
        assert all(v == 0 for v in reports["verified"].values())
        # cumulative: earlier victims stay gone
        left = {r.id for r in spark.read.parquet(str(tmp_path / "rep")).select("id").collect()}
        assert not (left & set(seen))
    assert read_params_sidecar(str(tmp_path / "buckets"))["planes"]  # sidecar survived 3 swaps
    # a batch matching nothing: label re-solves short-circuit
    rep = takedown(spark, full_state, "td_t", "embedding", [10_000_001])
    for k in ("text_labels", "embedding_labels"):
        if k in rep:
            assert rep[k].get("skipped") == "no_member_match", rep[k]


@pytest.mark.slow
def test_compact_and_vacuum_everywhere(spark, emb, docs, tmp_path, full_state):
    """The registry-walking maintenance twins: compact_everywhere
    bin-packs every registered tier (content preserved, file counts
    never grow), and vacuum_everywhere reclaims the retained layouts
    a takedown + compact cycle leaves behind."""
    from sqlite_vector_spark.sinks import (
        compact_everywhere,
        takedown,
        vacuum_everywhere,
    )

    # fragment two stores with small appends (frozen-family contract:
    # bucket store appends go through embedding_bucket_store)
    from sqlite_vector_spark.operators.dedup import embedding_bucket_store

    for i in range(3):
        embedding_bucket_store(
            emb.where(F.col("vec_id") % 17 == i), "vec_id", "embedding",
            PLANES, str(tmp_path / "buckets"), mode="append",
        )
    pre_rows = spark.read.parquet(str(tmp_path / "buckets")).count()

    reports = compact_everywhere(spark, full_state, "td_t", "embedding",
                                 target_file_bytes=64 * 1024 * 1024)
    assert {"quantized", "ivf", "bq", "mih", "band_store", "bucket_store",
            "docs_mirror", "vectors_mirror", "text_labels",
            "embedding_labels"} <= set(reports)
    for name, rep in reports.items():
        assert rep["files_after"] <= rep["files_before"], name
    assert spark.read.parquet(str(tmp_path / "buckets")).count() == pre_rows
    # MIH bv sort restored — probe the report store stayed scannable
    assert spark.read.parquet(str(tmp_path / "mih")).count() > 0

    takedown(spark, full_state, "td_t", "embedding", [3, 17])
    vac = vacuum_everywhere(spark, full_state, "td_t", "embedding")
    assert set(vac) == set(reports)
    assert any(v["removed"] for v in vac.values())
    for p in ("rep", "ivf", "bq", "mih", "bands", "buckets",
              "docsmirror", "vecmirror", "tlabels", "elabels"):
        assert not os.path.exists(str(tmp_path / p) + "__pre_delete"), p
        assert not os.path.exists(str(tmp_path / p) + "__pre_compact"), p
        assert spark.read.parquet(str(tmp_path / p)).columns  # still readable


def test_takedown_stream_state_reads_sidecar_params(spark, docs, tmp_path):
    """The streaming state's sidecar (written at stream setup) feeds
    takedown_stream_state; a conflicting explicit threshold raises."""
    from sqlite_vector_spark.sinks import read_params_sidecar, write_params_sidecar
    from sqlite_vector_spark.streaming.scoring import takedown_stream_state

    state = str(tmp_path / "stream_state")
    os.makedirs(state)
    write_params_sidecar(state, {"id_col": "doc_id", "text_col": "text", "jaccard_min": 0.6})
    # minimal state: one docs epoch + one labels epoch, no bands
    docs.limit(20).select(F.col("doc_id").cast("bigint").alias("doc_id"), "text").write.parquet(
        f"{state}/docs/epoch=0")
    spark.createDataFrame([(1, 1), (2, 1)], "id bigint, cluster bigint").write.parquet(
        f"{state}/labels/epoch=0")
    with pytest.raises(ValueError, match="frozen-params conflict"):
        takedown_stream_state(spark, state, [1], jaccard_min=0.9)
    rep = takedown_stream_state(spark, state, [1])
    assert rep["labels_rewritten"]
    left = {r.id for r in spark.read.parquet(f"{state}/labels/epoch=0").collect()}
    assert 1 not in left
    assert read_params_sidecar(state)["jaccard_min"] == 0.6


@pytest.mark.slow
def test_label_state_swap_on_scheme_root(spark, docs, tmp_path):
    """r13: the label-state re-solve swap (_label_state_takedown) goes
    through the FS layer, so a label state rooted at a non-file
    scheme swaps too — same delete == rebuild result, retained
    ``__pre_delete`` layout, sidecar preserved."""
    from sqlite_vector_spark import fsutil
    from sqlite_vector_spark.operators.dedup import (
        connected_components_min_label,
        delete_labels_state,
        jaccard_pairs,
        lsh_candidate_pairs,
        write_label_state,
    )
    from sqlite_vector_spark.sinks import read_params_sidecar

    t = 0.8
    labels0 = connected_components_min_label(
        jaccard_pairs(lsh_candidate_pairs(docs, "doc_id", "text"), docs, "doc_id", "text")
        .where(F.col("jaccard") >= F.lit(t)).select("a", "b")
    )
    path = f"mock:{tmp_path}/labels"
    params = {"jaccard_t": t, "num_hashes": 8, "bands": 4, "rows_per_band": 2,
              "shingle_n": 3, "id_col": "doc_id", "text_col": "text"}
    write_label_state(labels0, path, params)
    assert read_params_sidecar(path)["jaccard_t"] == t

    victims = [r.id for r in labels0.limit(2).collect()]
    sdocs = docs.where(~F.col("doc_id").isin(victims))
    rep = delete_labels_state(spark, path, sdocs, victims)
    assert rep["labels_after"] < rep["labels_before"]
    want = connected_components_min_label(
        jaccard_pairs(lsh_candidate_pairs(sdocs, "doc_id", "text"), sdocs, "doc_id", "text")
        .where(F.col("jaccard") >= F.lit(t)).select("a", "b")
    )
    got = spark.read.parquet(path)
    assert (sorted(map(tuple, got.select("id", "cluster").collect()))
            == sorted(map(tuple, want.select("id", "cluster").collect())))
    assert fsutil.exists(spark, path + "__pre_delete")  # retained layout
    assert read_params_sidecar(path)["jaccard_t"] == t  # sidecar preserved


@pytest.mark.slow
def test_takedown_over_fully_versioned_registry(spark, emb, docs, tmp_path, full_state):
    """r13: migrate EVERY state tier the registry walks (band store,
    bucket store, both mirrors, both label states) to the versioned
    layout through migrate_tier_to_versioned, then run the one-call
    takedown with verify=True — delete_ids dispatches on the manifest
    layout, the label re-solves read via the live manifest and
    replace as a new generation, and the receipt is all-zero. The
    migrated stores stay VERSIONED afterwards (no verb silently
    downgrades the layout)."""
    from sqlite_vector_spark.sinks import (
        migrate_tier_to_versioned,
        read_store,
        takedown,
    )
    from sqlite_vector_spark.versioned import is_versioned

    tiers = ["band_store", "bucket_store", "docs_mirror",
             "vectors_mirror", "text_labels", "embedding_labels"]
    for tier in tiers:
        rep = migrate_tier_to_versioned(spark, full_state, "td_t", "embedding", tier)
        assert rep["tier"] == tier

    ctx = full_state.get("td_t", "embedding")
    victims = [r.doc_id for r in docs.where(F.col("doc_id") % 11 == 3)
               .select("doc_id").collect()]
    reports = takedown(spark, full_state, "td_t", "embedding", victims, verify=True)
    assert all(v == 0 for v in reports["verified"].values())
    # a migrated tier stayed versioned through its takedown rewrite
    for p in (ctx.band_store_path, ctx.bucket_store_path,
              ctx.text_labels_path, ctx.embedding_labels_path):
        assert p.endswith("__versioned") and is_versioned(spark, p)
    # and the surviving mirrors hold no victim rows
    assert read_store(spark, ctx.docs_mirror_path).where(
        F.col("doc_id").isin(victims)).count() == 0


@pytest.fixture()
def vector_tiers(spark, emb, tmp_path):
    """Quantized, IVF (4 cells), PQ and BQ tiers over the smoke
    embeddings, registered in a fresh catalog."""
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.ann import ivf_store
    from sqlite_vector_spark.operators.bq import bq_store
    from sqlite_vector_spark.operators.pq import pq_fit, pq_store
    from sqlite_vector_spark.operators.quantize import vector_quantize

    emb.createOrReplaceTempView("td_jobs")
    cat = VectorCatalog(str(tmp_path / "cat"))
    cat.vector_init(emb, "td_jobs", "embedding", f"type=FLOAT32,dimension={DIM},distance=L2")
    vector_quantize(emb, "embedding", str(tmp_path / "rep"), id_col="vec_id",
                    catalog=cat, table="td_jobs")
    cents = [list(r.embedding) for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()]
    ivf_store(emb, "embedding", cents, str(tmp_path / "ivf"), id_col="vec_id")
    cat.set_ivf_index("td_jobs", "embedding", path=str(tmp_path / "ivf"), centroids=cents)
    books = pq_fit(emb, "embedding", 8, 16, DIM, iters=2, id_col="vec_id")
    pq_store(emb, "embedding", books, str(tmp_path / "pq"), id_col="vec_id")
    cat.set_pq_index("td_jobs", "embedding", path=str(tmp_path / "pq"), codebooks=books)
    bq_store(emb, "embedding", DIM, str(tmp_path / "bq"), id_col="vec_id")
    cat.set_bq_index("td_jobs", "embedding", path=str(tmp_path / "bq"))
    return cat


def test_takedown_job_count_and_receipts(spark, vector_tiers):
    """A four-tier takedown with verify runs in a handful of Spark
    jobs: the id batch is built once, the receipts are counted on the
    rewrites, every store read takes its schema from a parquet footer
    or the catalog instead of an inference job, and the verify is one
    job over every tier."""
    from sqlite_vector_spark.sinks import takedown

    sc = spark.sparkContext
    victims = [3, 17, 42, 99, 250, 498, 42]
    sc.setJobGroup("td-jobs", "takedown")
    try:
        rep = takedown(spark, vector_tiers, "td_jobs", "embedding", victims, verify=True)
        jobs = list(sc.statusTracker().getJobIdsForGroup("td-jobs"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    flat = {"deleted_rows": 6, "rows_after": 494, "partitions_rewritten": -1,
            "strategy": "in_place"}
    assert rep["quantized"] == rep["pq"] == rep["bq"] == flat
    assert rep["ivf"] == {"deleted_rows": 6, "rows_after": 214, "partitions_rewritten": 2,
                          "strategy": "in_place"}
    assert rep["verified"] == {"quantized": 0, "ivf": 0, "pq": 0, "bq": 0}
    assert len(jobs) <= 14, len(jobs)


def test_mih_rebuild_refuses_remote_flat_band_store(spark, emb, tmp_path, monkeypatch):
    """The MIH rebuild arm swaps a FLAT band store by rename, so on a
    remote filesystem it refuses with the in-place arm's ValueError
    before writing anything — it neither mangles the URI into a path
    under the working directory nor leaves a staged rebuild behind."""
    from sqlite_vector_spark import fsutil
    from sqlite_vector_spark.catalog import VectorCatalog
    from sqlite_vector_spark.operators.bq import bq_band_store, bq_encode
    from sqlite_vector_spark.sinks import takedown
    from sqlite_vector_spark.versioned import versioned_store_init

    monkeypatch.chdir(tmp_path)
    emb.createOrReplaceTempView("td_mock")
    cat = VectorCatalog(str(tmp_path / "cat"))
    cat.vector_init(emb, "td_mock", "embedding", f"type=FLOAT32,dimension={DIM},distance=L2")
    codes = bq_encode(emb, "embedding", DIM, id_col="vec_id")
    versioned_store_init(codes, str(tmp_path / "bq"))
    cat.set_bq_index("td_mock", "embedding", path=str(tmp_path / "bq"))
    mih = f"mock:{tmp_path}/mih"
    bq_band_store(codes, DIM, mih, band_bits=8)
    cat.set_mih_index("td_mock", "embedding", path=mih, band_bits=8)
    with pytest.raises(ValueError, match="remote filesystem"):
        takedown(spark, cat, "td_mock", "embedding", [1, 2, 3], verify=True)
    assert not any(p.name.startswith("mock:") for p in tmp_path.iterdir())
    assert not fsutil.exists(spark, mih + "__deleting")
    assert not fsutil.exists(spark, mih + "__pre_delete")
