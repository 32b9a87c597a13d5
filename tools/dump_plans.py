"""Regenerate PLANS.md: condensed physical plans of headline operators.

The plan-shape tests (tests/test_plan_shapes.py) assert these
properties; this artifact shows the actual plans for review.
Usage: python tools/dump_plans.py [sf_dir] > PLANS.md

``--plans-dir DIR`` instead writes the optimized logical plan of every
``__spark_entry__.queries()`` entry to ``DIR/<name>.txt``, normalized
(expression ids, plan ids, lambda-variable names, temp paths erased)
so that two trees' dumps diff clean when their plans are the same:

    python tools/dump_plans.py --plans-dir /tmp/plans_a   # in tree A
    python tools/dump_plans.py --plans-dir /tmp/plans_b   # in tree B
    diff -r /tmp/plans_a /tmp/plans_b

It exits non-zero when any entry fails to build, so an identical
failure in both trees cannot pass for an identical plan.

``--formatted DIR TAG query...`` writes ``.explain('formatted')`` of
each named ``sqlite_vector_spark.workload`` function to
``DIR/<query>_<TAG>.txt`` (a trailing ``_q`` dropped from the file
name) and prints its Exchange / Scan / Python-eval counts — the
before/after dumps under ``plans/`` were made this way:

    python tools/dump_plans.py /root/testdata/sf0.1 --formatted plans/r15 after \
        ivf_recall_curve_q bq_band_join_q

Explain only, no execution, so fixture builds are limited to what plan
construction itself needs (centroid collects, cached stores).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PLANS_DIR = None
if "--plans-dir" in sys.argv:
    _i = sys.argv.index("--plans-dir")
    PLANS_DIR = sys.argv[_i + 1]
    del sys.argv[_i : _i + 2]
FORMATTED = None
if "--formatted" in sys.argv:
    _i = sys.argv.index("--formatted")
    FORMATTED = sys.argv[_i + 1 :]
    del sys.argv[_i:]
    if len(FORMATTED) < 3:
        sys.exit("usage: dump_plans.py [sf_dir] --formatted DIR TAG query...")
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def dump_query_plans(spark, sf: str, out_dir: str) -> int:
    """Write every entry's normalized plan; return how many entries
    failed to build (each written as one ERROR line, which would diff
    clean against the same failure in the other tree)."""
    from __spark_entry__ import queries
    from sqlite_vector_spark.plans import normalized_plan

    os.makedirs(out_dir, exist_ok=True)
    errors = 0
    for name, fn in queries().items():
        try:
            text = normalized_plan(fn(spark, sf))
        except Exception as e:
            errors += 1
            text = f"ERROR {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
            print(f"{name}: {text}", file=sys.stderr)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(text + "\n")
    return errors


def dump_formatted(spark, sf: str, out_dir: str, tag: str, names) -> None:
    """Write each named workload function's formatted physical plan to
    ``out_dir/<name>_<tag>.txt``; an explain failure is written in its
    place."""
    import io
    from contextlib import redirect_stdout

    from sqlite_vector_spark import workload as w

    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            buf = io.StringIO()
            with redirect_stdout(buf):
                getattr(w, name)(spark, sf).explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
        path = os.path.join(out_dir, f"{name.removesuffix('_q')}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_py = plan.count("EvalPython") + plan.count("MapInArrow")
        print(f"{name.removesuffix('_q')}: {len(plan.splitlines())} lines, "
              f"Exchange x{plan.count('Exchange')}, Scan x{plan.count('Scan parquet')}, "
              f"PythonEval x{n_py} -> {path}")


def condense(plan: str, max_lines: int = 40) -> str:
    """Keep the operator tree + scan details; drop the per-node I/O
    dumps and huge literal arrays."""
    out = []
    for line in plan.splitlines():
        line = re.sub(r"\[[-0-9.,Ee ]{60,}\]", "[<vector literal>]", line)
        if re.match(r"^\s*(Output|Input|Arguments|Functions|Aggregate Attributes|Results|Keys|Join condition|Condition|Location)\b", line.strip()):
            continue
        if len(line) > 160:
            line = line[:157] + "..."
        out.append(line)
        if len(out) >= max_lines:
            out.append("  ... (truncated)")
            break
    return "\n".join(out)


def main():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    if FORMATTED:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        dump_formatted(spark, SF, FORMATTED[0], FORMATTED[1], FORMATTED[2:])
        spark.stop()
        return
    if PLANS_DIR:
        errors = dump_query_plans(spark, SF, PLANS_DIR)
        spark.stop()
        print(f"{errors} entries failed to build", file=sys.stderr)
        sys.exit(1 if errors else 0)

    from sqlite_vector_spark import workload as w

    SHOW = [
        ("full_scan_l2", "exact kNN: codegen fold + TakeOrderedAndProject, pruned scan", w.full_scan_l2),
        ("quantize_scan_l2", "approximate kNN in code space: params cross-joined in-plan, no corpus shuffle", w.quantize_scan_l2),
        ("knn_join_l2", "kNN join: broadcast queries, window top-k", w.knn_join_l2),
        ("region_volume", "Q5 shape: one fact shuffle, four broadcast dims", w.region_volume),
        ("sessionize", "gap sessions: single user_id exchange for both windows + agg", w.sessionize),
        ("embedding_neardup", "LSH bucket join: no cartesian product", w.embedding_neardup_q),
        ("ivf_scan_l2", "IVF probe: cluster IN-filter above the assignment", w.ivf_scan_l2),
        ("lsh_scan_cosine", "LSH-bucketed ANN: bucket IN-filter, exact cosine within probes", w.lsh_scan_cosine),
        ("sample_mix", "deterministic mix sampler: map-only hash-bucket filter", w.sample_mix_q),
        ("asof_join_events", "as-of join: union + one user_id exchange + carry-forward window, no join node", w.asof_join_events_q),
        ("contamination_check", "benchmark overlap: corpus never shuffled on shingle, bench set broadcast", w.contamination_check_q),
        ("repetition_scores", "repetition filters: map-only HOFs, no hash shuffle", w.repetition_scores_q),
        ("chunk_dedup", "sub-document dedup: exchanges carry (id, hash) pairs, never chunk text", w.chunk_dedup_q),
        ("ivf_knn_join_l2", "multi-query ANN join: broadcast query x probe side, join on cluster", w.ivf_knn_join_l2_q),
        # round-5 additions
        ("purchase_session_join", "bucketed range join: equi-join on (user_id, bucket), no nested loop", w.purchase_session_join_q),
        ("token_doc_freq", "vocab build: distinct-per-doc explode, ONE token exchange with partials", w.token_doc_freq_q),
        ("embedding_dim_stats", "per-lane stats: posexplode + single groupBy(pos), width independent of dim", w.embedding_dim_stats_q),
        ("approx_quantile_audit", "sketch audit: tiny approx side broadcast back over events", w.approx_quantile_audit_q),
        ("balanced_sample", "exact-quota draw: one lang exchange, WindowGroupLimit under the sort", w.balanced_sample_q),
        ("doc_split_assign", "content-hash split: map-only projection, no shuffle", w.doc_split_assign_q),
        # round-6 additions
        ("pq_scan_l2", "PQ ADC scan: LUT-literal fold over 8-code rows, TakeOrderedAndProject", w.pq_scan_l2),
        ("pq_rerank_scan_l2", "two-stage PQ: ADC prefilter + broadcast semi-join exact rerank", w.pq_rerank_scan_l2),
        ("ivf_pq_scan_l2", "IVF-PQ: cluster IN-filter above assignment, ADC scoring within probes", w.ivf_pq_scan_l2),
        ("bq_scan_hamming", "1-bit Hamming scan: XOR+popcount fused in codegen, integer domain", w.bq_scan_hamming),
        ("lm_doc_scores", "LM scoring: broadcast count joins, per-doc fixed-point aggregate", w.lm_doc_scores_q),
        ("doc_chunk_overlap", "sliding-window chunking: map-only HOF explode, no shuffle", w.doc_chunk_overlap_q),
        ("temperature_mix", "temperature mixing: tiny count agg broadcast back, map-side bucket cut", w.temperature_mix_q),
        # round-6c additions
        ("bm25_topk", "BM25: no token explode — per-row tf filters, 1-row stats broadcast, TakeOrdered", w.bm25_topk_q),
        ("hybrid_rrf", "hybrid fusion: two k-row arms, driver-scale full-outer join", w.hybrid_rrf_q),
        ("matryoshka_rerank_l2", "prefix-dim coarse scan + broadcast-semi-join exact rerank", w.matryoshka_rerank_l2),
        ("cohort_retention", "cohort matrix: (user,week) dedup + user-min + matrix agg, two key shuffles", w.cohort_retention_q),
        ("event_funnel", "ordered funnel: user-keyed agg/join chain, AQE co-located", w.event_funnel_q),
        ("semantic_dedup", "SemDeDup: map-side assign, cluster-keyed equi pair join, anti drop-back", w.semantic_dedup_q),
        # round-6d additions
        ("boilerplate_strip", "boilerplate strip: hash-only df exchange, broadcast anti-join, one re-agg", w.boilerplate_strip_q),
        ("gopher_quality", "Gopher rules: map-only HOF arithmetic, zero exchanges", w.gopher_quality_q),
        ("user_rolling", "rolling features: prefix-difference union, one user_id exchange, no RANGE frame", w.user_rolling_q),
        ("user_decay", "decay scores: 1-row max broadcast, integer-shift weights, one user agg", w.user_decay_q),
        ("embedding_outliers", "outlier flag: posexplode 2-agg centroid, 1-row broadcast, rank window", w.embedding_outliers_q),
        ("source_overlap", "overlap matrix: one distinct shuffle, in-row HOF pair expansion, no self-join", w.source_overlap_q),
        ("pack_sequences", "sequence packing: single shard exchange feeding the prefix-sum window", w.pack_sequences_q),
        ("bm25_batch_topk", "batched BM25: one scan, term-union tf columns, Q projection scores, rank window", w.bm25_batch_topk_q),
        ("events_resample", "dense time grid: 1-row span broadcast, exploded sequence, LEFT join to rollup", w.events_resample_q),
        ("session_incident_overlap", "interval overlap: bucket explode both sides, equi-join, first-bucket rule", w.session_incident_overlap_q),
        # round-7 additions
        ("opq_scan_l2", "OPQ: HOF rotation fused into the scan projection, ADC fold over rotated codes", w.opq_scan_l2),
        ("ivf_pq_residual_scan_l2", "residual IVFADC: per-probe cluster filters + per-probe LUT branches, one union top-k", w.ivf_pq_residual_scan_l2),
        ("passage_dedup", "passage dedup: hash-only df shuffle, hash-keyed flag join (no COLLECTED broadcast — repeated set stays a DataFrame; AQE may broadcast it at this toy sf, degrading to SMJ at scale), per-doc HOF strip", w.passage_dedup_q),
        ("bq_knn_join_hamming", "MIH Hamming join: band-collision broadcast equi-join, WindowGroupLimit top-k", w.bq_knn_join_hamming_q),
        ("hybrid_rrf_batch", "batched hybrid fusion: two Qxk arms, per-qid windows, (qid,id) full-outer join", w.hybrid_rrf_batch_q),
        # round-8 additions
        ("bq_band_scan", "persisted MIH scan: partition pruning on b, pushed bv filter, popcount top-k", w.bq_band_scan_q),
        ("passage_strip_frozen", "frozen passage strip: batch window pass + hash semi-join against the stored index, no corpus rescan", w.passage_strip_frozen_q),
        ("bq_knn_join_projected", "projected MIH join: plane-fold encode map-side, same band-collision join", w.bq_knn_join_projected_q),
        # round-8b additions (SQL surface)
        ("sql_macro_scan", "macro-expanded SQL: HOF fold codegen'd at the scan, pushed filters, TakeOrdered — identical plan class to the Column build", w.sql_macro_scan_q),
        ("auto_route_scan", "auto-routed SQL: canonical text rewritten onto the quantized replica scan (Arrow kernel under backend=auto; the oracle gate pins codegen)", w.auto_route_scan_q),
        # round-13 addition (versioned tier on the query path)
        ("auto_route_scan_versioned", "auto-routed SQL over a VERSIONED replica: read_store resolves the live manifest, one generation -> same single-scan plan class as the flat route (no union while compacted)", w.auto_route_scan_versioned_q),
        ("token_cooccurrence", "co-occurrence lift: broadcast df-banded vocab, doc_id co-partitioned pair join, partial-agg counts", w.token_cooccurrence_q),
        ("tvf_ep1_join_back", "EP1 composed SQL: embedded quantize-scan TVF as temp-view subquery, broadcast join-back", w.tvf_ep1_join_back_q),
        ("neardup_keep_best", "quality keeper: rank window over the member set only, corpus map-only with broadcast joins", w.neardup_keep_best_q),
        # round-9 additions
        ("bq_band_join", "persisted MIH multi-query join: broadcast Qxm probe side against the partitionBy(b) store (dynamic partition pruning on b), min-agg + popcount + WindowGroupLimit", w.bq_band_join_q),
        ("incremental_neardup", "append-path labeling: batch bands vs frozen index, candidate-bounded verify, star-compressed label merge — corpus text never re-shingled", w.incremental_neardup_q),
        ("filtered_full_scan_l2", "filtered exact search: predicate pushed into the base parquet scan, k-slot TakeOrdered over matching rows only", w.filtered_full_scan_l2),
        ("filtered_quantize_scan_l2", "filtered quantized search: predicate pushed into the include_cols REPLICA scan — no id join, smaller scan than unfiltered", w.filtered_quantize_scan_l2),
        # round-10 additions
        ("quantize_scan_after_delete_l2", "post-delete replica scan: plain parquet scan of the rewritten store — no tombstone filter, no anti-join at query time; the delete already happened at maintenance time", w.quantize_scan_after_delete_l2),
        ("filtered_knn_join_l2", "filtered multi-query join: predicate pushed into the corpus scan, broadcast query side, salted/windowed top-k per query", w.filtered_knn_join_l2),
        ("neardup_after_delete", "label takedown: affected components re-solved from surviving members only (candidate-bounded), untouched labels pass through; merge is a driver union-find, zero CC rounds", w.neardup_after_delete_q),
        ("incremental_embedding_neardup", "embedding append path: batch bucketed against the frozen ~16-byte index, exact-cosine verify candidate-bounded, label merge — corpus vectors never re-bucketed", w.incremental_embedding_neardup_q),
    ]

    print("# PLANS — physical plans of headline operators (sf0.001, AQE on)")
    print()
    print("Generated by `python tools/dump_plans.py`; properties pinned in")
    print("tests/test_plan_shapes.py. Long literals and per-node I/O lists")
    print("are elided.")
    for name, why, fn in SHOW:
        df = fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        print(f"\n## {name}\n\n{why}\n\n```\n{condense(plan)}\n```")
    spark.stop()


if __name__ == "__main__":
    main()
