"""Dedup + text analysis operators."""

import pyspark.sql.functions as F
import pytest

from sqlite_vector_spark.functions.text import (
    HASH_B,
    HASH_P,
    fingerprint,
    lang_id,
    polyhash,
    quality_score,
    shingles,
    token_count,
    words,
)
from sqlite_vector_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
)


def _tdf(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_polyhash_matches_python(spark):
    def py_hash(s):
        h = 0
        for ch in s:
            h = (h * HASH_B + ord(ch)) % HASH_P
        return h

    df = spark.createDataFrame([(1, "hello world"), (2, ""), (3, "a")], "id long, s string")
    rows = {r.id: r.h for r in df.select("id", polyhash("s").alias("h")).collect()}
    assert rows[1] == py_hash("hello world")
    assert rows[3] == py_hash("a")


def test_token_count_multispace(spark):
    df = _tdf(spark, [(1, "a  b   c"), (2, "one"), (3, "x y z w")])
    got = {r.doc_id: r.n for r in df.select("doc_id", token_count("text").alias("n")).collect()}
    assert got == {1: 3, 2: 1, 3: 4}


def test_shingles(spark):
    df = _tdf(spark, [(1, "a b c d"), (2, "a b")])
    got = {r.doc_id: list(r.s) for r in df.select("doc_id", shingles("text", 3).alias("s")).collect()}
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == []


def test_exact_dedup_keeps_min_id(spark):
    df = _tdf(spark, [(5, "same"), (2, "same"), (9, "other")])
    got = {r.text: (r.dup_count, r.keeper_id) for r in exact_dedup(df, ["text"], "doc_id").collect()}
    assert got == {"same": (2, 2), "other": (1, 9)}


def test_duplicate_docs_share_minhash_and_collide_in_lsh(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _tdf(spark, [(1, base), (2, base), (3, "completely different words entirely here now forever and always")])
    sig = minhash_signatures(df, "doc_id", "text")
    s1 = sorted((r.j, r.minhash) for r in sig.where("id = 1").collect())
    s2 = sorted((r.j, r.minhash) for r in sig.where("id = 2").collect())
    assert s1 == s2
    pairs = {(r.a, r.b) for r in lsh_candidate_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_identical_is_one(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = _tdf(spark, [(1, base), (2, base)])
    cand = lsh_candidate_pairs(df, "doc_id", "text")
    jp = jaccard_pairs(cand, df, "doc_id", "text").collect()
    assert len(jp) == 1 and jp[0].jaccard == 1.0


def test_simhash_identical_docs_equal(spark):
    df = _tdf(spark, [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "nothing shared at all")])
    got = {r.id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_embedding_neardup_finds_identical_vectors(spark):
    planes = [[0.5, -0.25, 0.125, 0.4], [-0.3, 0.2, 0.7, -0.1]]
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.0]), (3, [-4.0, 3.0, -2.0, 1.0])],
        "id long, v array<float>",
    )
    pairs = embedding_neardup_pairs(df, "id", "v", planes, threshold=0.01).collect()
    assert [(p.a, p.b, p.distance) for p in pairs] == [(1, 2, 0.0)]
    # the metric as an enum takes the same norm-precomputed cosine plan
    from sqlite_vector_spark.plans import normalized_plan
    from sqlite_vector_spark.types import Metric

    enum = embedding_neardup_pairs(df, "id", "v", planes, threshold=0.01, metric=Metric.COSINE)
    assert normalized_plan(enum) == normalized_plan(embedding_neardup_pairs(df, "id", "v", planes, threshold=0.01))


def test_embedding_neardup_prefilter_gate_identical(spark, emb, monkeypatch):
    """The r15 size-gated collision prefilter must be invisible in
    the results: forcing the prefilter ON (threshold 0) and OFF
    (threshold huge) returns the same pair set on real vectors —
    singleton buckets can produce no (a < b) pair, so dropping them
    before the self-join only removes rows the join would discard."""
    from sqlite_vector_spark import scale
    from sqlite_vector_spark import workload as w

    planes, t = w.HYPERPLANES, w.NEARDUP_T  # known non-empty at sf0.001

    def pairs(budget):
        monkeypatch.setattr(scale, "BUDGET_BYTES", budget)
        got = embedding_neardup_pairs(emb, "vec_id", "embedding", planes, t)
        return sorted((r.a, r.b, r.distance) for r in got.collect())

    on = pairs(0)  # always prefilter
    off = pairs(1 << 60)  # never prefilter
    assert on == off and len(on) > 0


def test_edit_distance_pairs_pull_gate_identical(spark, docs, monkeypatch):
    """The r15 size-gated candidate text pull must be invisible in
    the results: the direct two-scan attach (below threshold) and the
    checkpointed semi-join pull (above) return identical rows."""
    from sqlite_vector_spark import scale
    from sqlite_vector_spark.operators.dedup import edit_distance_pairs, lsh_candidate_pairs

    cand = lsh_candidate_pairs(docs, "doc_id", "text")
    monkeypatch.setattr(scale, "BUDGET_BYTES", 1 << 60)  # force the direct shape
    direct = sorted(map(tuple, edit_distance_pairs(cand, docs).collect()))
    monkeypatch.setattr(scale, "BUDGET_BYTES", 0)  # force the candidate-bounded pull
    pulled = sorted(map(tuple, edit_distance_pairs(cand, docs).collect()))
    assert direct == pulled and len(direct) > 0


def test_quality_and_lang(spark, docs):
    out = docs.select("doc_id", quality_score(F.col("text")).alias("q"), lang_id(F.col("text")).alias("lang")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in out)
    assert all(r.lang in ("de", "en", "es", "fr", "zh", "und") for r in out)


def test_connected_components_chain_collapses(spark):
    """A~B~C with no direct A~C edge must collapse to ONE component
    labeled min(id) — the under-merge the one-hop min-neighbor
    shortcut gets wrong (VERDICT r2 #4)."""
    from sqlite_vector_spark.operators.dedup import connected_components_min_label

    edges = spark.createDataFrame([(2, 3), (3, 4)], "a long, b long")
    # both engines: driver union-find (default) and the distributed
    # min-label loop (fast_path_max=0 forces it)
    for fpm in (1_000_000, 0):
        got = {r.id: r.cluster
               for r in connected_components_min_label(edges, fast_path_max=fpm).collect()}
        assert got == {2: 2, 3: 2, 4: 2}, fpm


def test_connected_components_long_chain_and_islands(spark):
    """A 6-node path needs several propagation rounds (diameter 5);
    separate components keep separate labels."""
    from sqlite_vector_spark.operators.dedup import connected_components_min_label

    path = [(i, i + 1) for i in range(10, 15)]  # 10-11-12-13-14-15
    island = [(100, 101)]
    edges = spark.createDataFrame(path + island, "a long, b long")
    for fpm in (1_000_000, 0):
        got = {r.id: r.cluster
               for r in connected_components_min_label(edges, fast_path_max=fpm).collect()}
        assert all(got[i] == 10 for i in range(10, 16)), fpm
        assert got[100] == 100 and got[101] == 100, fpm


def test_dedup_ops_stay_jvm_side(spark, docs):
    from sqlite_vector_spark.plans import assert_not_in_plan

    assert_not_in_plan(minhash_signatures(docs, "doc_id", "text"), "BatchEvalPython", "ArrowEvalPython")
    assert_not_in_plan(simhash(docs, "doc_id", "text"), "BatchEvalPython", "ArrowEvalPython")


def test_incremental_dedup_equals_full_rebuild(spark, docs, tmp_path):
    """The daily-ingest contract: banding only the new batch against
    the persisted band store yields EXACTLY the candidate pairs a full
    re-run over the union finds, minus pairs internal to the old
    corpus (already adjudicated yesterday)."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.dedup import (
        incremental_dedup_pairs,
        lsh_band_store,
        lsh_candidate_pairs,
    )

    old = docs.where(F.col("doc_id") % 3 != 0)
    new = docs.where(F.col("doc_id") % 3 == 0)
    store = str(tmp_path / "bands")
    lsh_band_store(old, "doc_id", "text", store)

    got = {(r.a, r.b) for r in incremental_dedup_pairs(spark, new, store, "doc_id", "text").collect()}
    full = {(r.a, r.b) for r in lsh_candidate_pairs(docs, "doc_id", "text").collect()}
    old_only = {(r.a, r.b) for r in lsh_candidate_pairs(old, "doc_id", "text").collect()}
    assert got == full - old_only
    # every pair touches the new batch
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b in got)

    # append today's keys -> tomorrow's store covers the union
    lsh_band_store(new, "doc_id", "text", store, mode="append")
    empty = new.limit(0)
    got2 = {(r.a, r.b) for r in incremental_dedup_pairs(spark, empty, store, "doc_id", "text").collect()}
    assert got2 == set()


def test_lsh_pipeline_with_jvm_hash_finds_planted_dups(spark):
    """hash_fn=F.xxhash64 (the production backend) must still surface
    planted near-duplicates through the full minhash -> LSH path;
    candidate SETS can differ from polyhash (different permutation
    inputs), but a 0.95-Jaccard pair may not be missed."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.dedup import lsh_candidate_pairs

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    rows = [(1, base.strip()), (2, (base + "extra").strip())] + [
        (i, " ".join(f"w{i}x{j}" for j in range(40))) for i in range(3, 40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.a, r.b) for r in lsh_candidate_pairs(docs, "doc_id", "text", hash_fn=F.xxhash64).collect()}
    assert (1, 2) in pairs
    # unrelated random-vocabulary docs don't flood the candidate set
    assert len(pairs) < 20


# ---------------------------------------------------------------- passage-level dedup


def test_repeated_passage_strip_cross_doc(spark):
    """A verbatim passage shared by two docs at DIFFERENT alignments
    is cut from both; unique text survives untouched."""
    from sqlite_vector_spark.operators.dedup import repeated_passage_strip

    passage = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"intro one two {passage} outro eight nine"),
            (2, f"{passage} completely different tail words here"),
            (3, "totally unrelated document with its own words only"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_passage_strip(docs, width=6, min_df=2).collect()}
    assert out[1].clean_text == "intro one two outro eight nine"
    assert out[2].clean_text == "completely different tail words here"
    assert out[3].clean_text == "totally unrelated document with its own words only"
    assert out[1].n_removed == 6 and out[1].n_spans == 1
    assert out[3].n_removed == 0 and out[3].n_spans == 0


def test_repeated_passage_strip_within_doc(spark):
    """Within-doc repetition counts toward min_df: a doc that repeats
    its own passage loses BOTH copies (training-data repetition)."""
    from sqlite_vector_spark.operators.dedup import repeated_passage_strip

    p = "one two three four"
    docs = spark.createDataFrame(
        [(1, f"{p} middle filler words {p} tail"), (2, "unrelated other doc entirely")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_passage_strip(docs, width=4, min_df=2).collect()}
    assert out[1].clean_text == "middle filler words tail"
    assert out[1].n_removed == 8 and out[1].n_spans == 2


def test_repeated_passage_strip_overlapping_windows_merge(spark):
    """A shared passage LONGER than the window flags overlapping
    windows that must merge into ONE maximal span (span count 1, the
    whole passage removed, nothing else)."""
    from sqlite_vector_spark.operators.dedup import repeated_passage_strip

    passage = "p1 p2 p3 p4 p5 p6 p7 p8"  # 8 tokens, window 4 -> 5 flagged windows
    docs = spark.createDataFrame(
        [(1, f"head {passage} tail"), (2, f"{passage} other unique stuff")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repeated_passage_strip(docs, width=4, min_df=2).collect()}
    assert out[1].clean_text == "head tail"
    assert out[1].n_removed == 8 and out[1].n_spans == 1


def test_repeated_passage_strip_short_and_empty_docs(spark):
    from sqlite_vector_spark.operators.dedup import repeated_passage_strip

    docs = spark.createDataFrame(
        [(1, "short doc"), (2, "short doc"), (3, "")],
        "doc_id long, text string",
    )
    # width 5 > doc length: no windows anywhere, everything untouched
    out = {r.doc_id: r for r in repeated_passage_strip(docs, width=5, min_df=2).collect()}
    assert out[1].clean_text == "short doc" and out[1].n_removed == 0
    assert out[3].clean_text == "" and out[3].n_tokens == 0


def test_repeated_passage_strip_no_broadcast_on_flag_join(spark):
    """The flagged-hash join must NOT broadcast (the repeated-passage
    set is unbounded at corpus scale, unlike the boilerplate set)."""
    from sqlite_vector_spark.operators.dedup import repeated_passage_strip

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f x y")], "doc_id long, text string"
    )
    df = repeated_passage_strip(docs, width=4, min_df=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan.split("LeftSemi")[0] or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_repeated_passage_frozen_index_equals_batch_on_indexed_corpus(spark, tmp_path):
    """Strip against a persisted hash index == the self-derived batch
    strip when the index was built on the same corpus; a passage that
    repeats only WITHIN the new batch is NOT stripped by the frozen
    index (the incremental horizon contract)."""
    from sqlite_vector_spark.operators.dedup import (
        repeated_passage_hashes,
        repeated_passage_strip,
        repeated_passage_strip_frozen,
    )

    passage = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"intro one two {passage} outro eight nine"),
            (2, f"{passage} completely different tail words here"),
            (3, "totally unrelated document with its own words only"),
        ],
        "doc_id long, text string",
    )
    idx_dir = str(tmp_path / "passage_idx")
    repeated_passage_hashes(docs, width=6, min_df=2).write.parquet(idx_dir)
    idx = spark.read.parquet(idx_dir)

    frozen = {
        r.doc_id: (r.n_removed, r.n_spans, r.clean_text)
        for r in repeated_passage_strip_frozen(docs, idx, width=6).collect()
    }
    batch = {
        r.doc_id: (r.n_removed, r.n_spans, r.clean_text)
        for r in repeated_passage_strip(docs, width=6, min_df=2).collect()
    }
    assert frozen == batch

    # new-batch-only repeats are invisible to the frozen index
    newp = "eta theta iota kappa lam mu"
    new_batch = spark.createDataFrame(
        [(10, f"{newp} fresh tail one"), (11, f"{newp} fresh tail two"),
         (12, f"start bit {passage} known end")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_removed, r.clean_text)
        for r in repeated_passage_strip_frozen(new_batch, idx, width=6).collect()
    }
    assert got[10] == (0, f"{newp} fresh tail one")      # batch-local repeat kept
    assert got[12] == (6, "start bit known end")          # indexed passage stripped


def test_repeated_passage_strip_randomized_invariants(spark):
    """Seeded randomized invariants over a tiny vocabulary (which
    forces genuine repeats): token accounting balances, every maximal
    span removes at least width tokens, kept text is a subsequence of
    the original, and an unreachable min_df is the identity."""
    import random

    from sqlite_vector_spark.operators.dedup import repeated_passage_strip

    rng = random.Random(17)
    W = 4
    vocab = [f"t{i}" for i in range(6)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repeated_passage_strip(docs, width=W, min_df=2).collect()}
    orig = {i: t.split() for i, t in rows if t}
    orig.update({i: [] for i, t in rows if not t})
    for i, r in out.items():
        kept = r.clean_text.split() if r.clean_text else []
        assert r.n_tokens == len(orig[i])
        assert r.n_removed + len(kept) == r.n_tokens, i
        assert (r.n_spans > 0) == (r.n_removed > 0), i
        assert r.n_removed >= r.n_spans * W, i  # every span >= width tokens
        # kept tokens form a subsequence of the original
        it = iter(orig[i])
        assert all(any(tok == o for o in it) for tok in kept), i

    # min_df beyond any possible occurrence count -> identity
    out2 = repeated_passage_strip(docs, width=W, min_df=10_000_000).collect()
    assert all(r.n_removed == 0 and r.n_spans == 0 for r in out2)


def test_neardup_keep_best_planted(spark):
    """Quality-aware keeper: in a planted near-dup cluster the LONGEST
    member is kept (not the min id), every other member maps to it,
    and non-duplicate docs keep themselves."""
    import tempfile

    from sqlite_vector_spark import workload as w

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # near-dup cluster: same shingles, doc 2 is the longest
        (0, base),
        (1, base + " lambda"),
        (2, base + " lambda mu"),
        # unrelated singleton
        (3, "completely different text with its own unique words here"),
    ]
    # pad with distinct filler docs so LSH banding has a corpus
    for i in range(4, 24):
        rows.append((i, f"filler{i} " + " ".join(f"tok{i}_{j}" for j in range(12))))
    sf_dir = tempfile.mkdtemp(prefix="svspark_keepbest_")
    spark.createDataFrame(rows, "doc_id long, text string").write.mode("overwrite").parquet(
        f"{sf_dir}/documents.parquet"
    )
    out = {r.doc_id: (r.keeper_id, r.is_dup) for r in w.neardup_keep_best_q(spark, sf_dir).collect()}
    assert out[0] == (2, True) and out[1] == (2, True)  # longest member keeps
    assert out[2] == (2, False)
    assert out[3] == (3, False)  # singleton keeps itself
    assert all(out[i] == (i, False) for i in range(4, 24))


@pytest.mark.slow
def test_incremental_labels_matches_rebuild(spark):
    """Daily-ingest label maintenance: merging a batch of new verified
    edges into stored labels equals a full CC rebuild over the union
    graph — including the hard cases: a new doc BRIDGING two old
    clusters, a deep old chain (star compression must preserve its
    membership), a new-only component, and untouched clusters passing
    through byte-identical."""
    import random

    from sqlite_vector_spark.operators.dedup import (
        connected_components_min_label,
        incremental_labels,
    )

    def df_edges(pairs):
        return spark.createDataFrame(pairs, "a long, b long")

    old = [(1, 2), (3, 4), (6, 7), (20, 21), (21, 22), (22, 23)]
    new = [(2, 5), (5, 3),      # bridge: merges {1,2} and {3,4} via new doc 5
           (10, 11),            # new-only component
           (23, 30)]            # extends the deep chain with a new doc
    labels0 = connected_components_min_label(df_edges(old))
    want = {(r.id, r.cluster) for r in connected_components_min_label(df_edges(old + new)).collect()}
    # BOTH merge arms must hit the same fixed point: the driver
    # union-find fast path (default) and the distributed min-label
    # loop seeded with the stored labels (fast_path_max=0 forces it)
    for fpm in (1_000_000, 0):
        got = {(r.id, r.cluster) for r in incremental_labels(labels0, df_edges(new), fast_path_max=fpm).collect()}
        assert got == want, fpm
        # untouched cluster {6,7} kept its labels
        assert (6, 6) in got and (7, 6) in got

    # randomized: seeded graphs split into two batches, incremental == rebuild
    rng = random.Random(9)
    nodes = list(range(100))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(60)]
    edges = [(a, b) for a, b in edges if a != b]
    cut = len(edges) // 2
    l0 = connected_components_min_label(df_edges(edges[:cut]))
    want = {(r.id, r.cluster) for r in connected_components_min_label(df_edges(edges)).collect()}
    for fpm in (1_000_000, 0):
        got = {(r.id, r.cluster) for r in incremental_labels(l0, df_edges(edges[cut:]), fast_path_max=fpm).collect()}
        assert got == want, fpm

    # empty batch: labels unchanged
    same = {(r.id, r.cluster) for r in incremental_labels(l0, df_edges([]).limit(0)).collect()}
    assert same == {(r.id, r.cluster) for r in l0.collect()}


@pytest.mark.slow
def test_delete_labels_matches_rebuild(spark):
    """Takedown counterpart of incremental_labels: removing docs from
    a near-dup labeling must equal the full pipeline rebuilt over the
    surviving corpus — including the hard cases: deleting a BRIDGE
    doc splits its component, deleting the MIN-id doc renames it,
    deleting a whole component erases it, and survivors left with no
    verified edge drop out; untouched clusters pass through
    byte-identical."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.dedup import (
        connected_components_min_label,
        delete_labels,
        jaccard_pairs,
        lsh_candidate_pairs,
    )

    T = [f"tok{i}" for i in range(40)]

    def txt(idx):
        return " ".join(T[i] for i in idx)

    rows = [
        # chain 0~1~2 (ends dissimilar): deleting bridge 1 must SPLIT
        (0, txt(range(0, 20))),
        (1, txt(range(2, 22))),
        (2, txt(range(4, 24))),
        # clique 10,11,12 (1-token variants): deleting min 10 RENAMES
        (10, txt(range(20, 40))[:-1] + " xq10"),
        (11, txt(range(20, 40))[:-1] + " xq11"),
        (12, txt(range(20, 40))[:-1] + " xq12"),
        # untouched pair
        (20, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (21, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
        # whole-component delete
        (30, "one two three four five six seven eight nine ten"),
        (31, "one two three four five six seven eight nine eleven"),
    ] + [(40 + i, " ".join(f"f{i}_{j}" for j in range(12))) for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pipeline(d):
        edges = (
            jaccard_pairs(lsh_candidate_pairs(d, "doc_id", "text"), d, "doc_id", "text")
            .where(F.col("jaccard") >= 0.8)
            .select("a", "b")
        )
        return connected_components_min_label(edges)

    labels0 = pipeline(docs).localCheckpoint(eager=True)
    base = {(r.id, r.cluster) for r in labels0.collect()}
    # sanity on the planted structure before deleting
    by0 = dict(base)
    assert by0[0] == by0[1] == by0[2] == 0          # chain is one component
    assert by0[10] == by0[11] == by0[12] == 10      # clique
    assert by0[20] == by0[21] == 20 and by0[30] == 30

    deleted = [1, 10, 30, 31]
    survivors = docs.where(~F.col("doc_id").isin(deleted))
    want = {(r.id, r.cluster) for r in pipeline(survivors).collect()}
    # BOTH re-solve arms pinned to the same fixed point: the driver
    # union-find fast path (default) and the distributed min-label
    # loop (fast_path_max=0 forces it)
    for fpm in (1_000_000, 0):
        got = {
            (r.id, r.cluster)
            for r in delete_labels(labels0, docs, deleted, jaccard_t=0.8,
                                   fast_path_max=fpm).collect()
        }
        assert got == want, fpm
    by = dict(got)
    assert 0 not in by and 2 not in by              # split: both ends edgeless now
    assert by[11] == 11 and by[12] == 11            # renamed to the new min
    assert by[20] == 20 and by[21] == 20            # untouched, byte-identical
    assert 30 not in by and 31 not in by            # component erased
    # DataFrame-typed id input too
    got2 = {
        (r.id, r.cluster)
        for r in delete_labels(
            labels0, docs, spark.createDataFrame([(i,) for i in deleted], "x long"),
            jaccard_t=0.8,
        ).collect()
    }
    assert got2 == want


def test_incremental_embedding_pairs_equals_full_rebuild(spark, emb):
    """Embedding-side daily-ingest contract (the twin of
    test_incremental_dedup_equals_full_rebuild): bucketing only the
    new batch against the persisted hyperplane index yields exactly
    the full corpus's bucket-collision pairs minus pairs internal to
    the old corpus; appending the batch's keys closes the store for
    tomorrow; verified distances are bit-identical to the full-scan
    path's."""
    import tempfile

    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.dedup import (
        embedding_bucket_store,
        embedding_neardup_pairs,
        embedding_pair_distances,
        hyperplane_bucket,
        incremental_embedding_pairs,
    )
    from sqlite_vector_spark.workload import HYPERPLANES, NEARDUP_T

    old = emb.where(F.col("vec_id") % 3 != 0)
    new = emb.where(F.col("vec_id") % 3 == 0)
    store = tempfile.mkdtemp() + "/buckets"
    embedding_bucket_store(old, "vec_id", "embedding", HYPERPLANES, store)

    got = {(r.a, r.b) for r in incremental_embedding_pairs(
        spark, new, store, "vec_id", "embedding", HYPERPLANES).collect()}

    def coll_pairs(d):
        keys = d.where(F.col("embedding").isNotNull()).select(
            F.col("vec_id").cast("bigint").alias("id"),
            hyperplane_bucket("embedding", HYPERPLANES).alias("bucket"),
        )
        x = keys.select(F.col("id").alias("a"), "bucket")
        y = keys.select(F.col("id").alias("b"), "bucket")
        return {(r.a, r.b) for r in x.join(y, "bucket")
                .where(F.col("a") < F.col("b")).distinct().collect()}

    full, old_only = coll_pairs(emb), coll_pairs(old)
    assert got == full - old_only and got

    # verified distances: incremental verify == full-scan pairs
    cand = spark.createDataFrame(sorted(got), "a long, b long")
    inc_edges = {
        (r.a, r.b, r.distance)
        for r in embedding_pair_distances(cand, emb, "vec_id", "embedding")
        .where(F.col("distance") < NEARDUP_T).collect()
    }
    full_edges = {
        (r.a, r.b, r.distance)
        for r in embedding_neardup_pairs(emb, "vec_id", "embedding", HYPERPLANES, NEARDUP_T)
        .collect()
    }
    new_ids = {r.vec_id for r in new.select("vec_id").collect()}
    assert inc_edges == {e for e in full_edges if e[0] in new_ids or e[1] in new_ids}

    # append today's keys -> empty batch finds nothing tomorrow
    embedding_bucket_store(new, "vec_id", "embedding", HYPERPLANES, store, mode="append")
    got2 = {(r.a, r.b) for r in incremental_embedding_pairs(
        spark, new.limit(0), store, "vec_id", "embedding", HYPERPLANES).collect()}
    assert got2 == set()


def test_delete_labels_embedding_matches_rebuild(spark, emb):
    """Embedding label takedown == full pipeline rebuild over the
    surviving vectors, both solve engines — the embedding twin of
    test_delete_labels_matches_rebuild on real fixture data (cluster
    members chosen from the actual verified pair set so deletions
    genuinely force component re-solves)."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.dedup import (
        connected_components_min_label,
        delete_labels_embedding,
        embedding_neardup_pairs,
    )
    from sqlite_vector_spark.workload import HYPERPLANES, NEARDUP_T

    def labels_of(d):
        edges = embedding_neardup_pairs(
            d, "vec_id", "embedding", HYPERPLANES, NEARDUP_T
        ).select("a", "b")
        return connected_components_min_label(edges)

    labels0 = labels_of(emb).localCheckpoint(eager=True)
    members = sorted(r.id for r in labels0.collect())
    assert len(members) >= 4
    deleted = members[::3][:5]  # real cluster members -> re-solves
    survivors = emb.where(~F.col("vec_id").isin(deleted))
    want = {(r.id, r.cluster) for r in labels_of(survivors).collect()}
    for fpm in (1_000_000, 0):
        got = {
            (r.id, r.cluster)
            for r in delete_labels_embedding(
                labels0, emb, deleted, HYPERPLANES, NEARDUP_T,
                fast_path_max=fpm,
            ).collect()
        }
        assert got == want, fpm
    assert not set(deleted) & {i for i, _ in want}


def test_hyperplane_bucket_backends_agree(spark, emb):
    """arrow-numpy hyperplane_bucket ≡ codegen fold on real fixture
    vectors (sign bits only disagree when a plane dot lands within
    accumulation-order rounding of 0.0 — probability ~0 for a Gaussian
    family over continuous data), and the auto dispatch honors the
    pinned-backend gate contract exactly like the distance kernels."""
    import pyspark.sql.functions as F

    from sqlite_vector_spark.operators.dedup import (
        hyperplane_bucket,
        random_hyperplanes,
    )
    from sqlite_vector_spark.version import set_backend

    planes = random_hyperplanes(16, 64, seed=7)
    base = emb.where(F.col("embedding").isNotNull()).select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    rows = (
        base.select(
            "id",
            hyperplane_bucket("v", planes, backend="codegen").alias("fold"),
            hyperplane_bucket("v", planes, backend="arrow-numpy").alias("mat"),
        )
        .collect()
    )
    assert rows and all(r.fold == r.mat for r in rows)

    # auto under the oracle gate's pinned codegen == the exact fold plan
    set_backend("codegen")
    pinned = hyperplane_bucket("v", planes)
    assert "aggregate" in base.select(pinned.alias("b"))._jdf.queryExecution().analyzed().toString().lower()
    # auto at dim >= AUTO_DIM routes to the Arrow kernel (the _kernel UDF)
    set_backend("auto")
    routed = base.select(hyperplane_bucket("v", planes).alias("b"))
    assert "_kernel(" in routed._jdf.queryExecution().analyzed().toString()

    import pytest

    with pytest.raises(ValueError):
        hyperplane_bucket("v", planes, backend="simd")


def test_hyperplane_bucket_arrow_null_matches_fold(spark):
    """NULL vectors bucket to 0 on BOTH backends (the fold's
    when(NULL > 0) -> otherwise(0) per bit), so an unfiltered caller
    gets identical bucketing either way instead of a kernel crash."""
    from sqlite_vector_spark.operators.dedup import (
        hyperplane_bucket,
        random_hyperplanes,
    )

    planes = random_hyperplanes(8, 4, seed=1)
    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 1.0, 2.0]), (2, None), (3, [-1.0, 0.75, -0.5, 0.25])],
        "id long, v array<double>",
    )
    rows = df.select(
        "id",
        hyperplane_bucket("v", planes, backend="codegen").alias("fold"),
        hyperplane_bucket("v", planes, backend="arrow-numpy").alias("mat"),
    ).collect()
    assert all(r.fold == r.mat for r in rows)
    assert next(r.fold for r in rows if r.id == 2) == 0
