"""Per-call and per-layer numbers of a traced run.

Joins the harness's spans with the event-log totals of their job
groups (``pb<span>.<phase>``). ``per_call`` gives, for every public
call name, the median of each measure over its calls; ``per_layer``
picks the declared ``<call>.<measure>`` metrics out of that table and
adds the ratios that span several calls.

The declared calls follow the library's layers: ``router`` driver plan
construction and Catalyst planning (``router.knn.<tier>``), the
distance kernels (executor CPU of the exact and quantized scans), the
index builders (``quantize``/``ann``/``bq``/``pq``), the top-k joins,
``dedup`` and the store writes of ``sinks`` (appends and takedown).
A call a workload does not make reads 0.
"""

from __future__ import annotations

from statistics import median

TIERS = ("exact", "quantized", "ivf", "bq", "pq")
INDEX = ("quantize.vector_quantize", "ann.ivf_store", "bq.bq_store", "pq.pq_fit",
         "pq.pq_store")
TOPK = ("router.knn_join.exact", "router.knn_join.quantized", "ann.ivf_knn_join",
        "bq.bq_knn_join")
DEDUP = ("dedup.lsh_candidate_pairs", "dedup.jaccard_pairs",
         "dedup.connected_components_min_label", "dedup.embedding_neardup_pairs")
SINKS = ("quantize.vector_quantize_update", "ann.ivf_store_append", "bq.bq_store_append",
         "pq.pq_store_append", "sinks.takedown")

#: the declared (call, measure) pairs, layer by layer
DECLARED = (
    [(f"router.knn.{t}", m) for t in TIERS for m in ("build_ms", "hidden_jobs", "plan_ms")]
    + [(c, "cpu_ms") for c in ("router.knn.exact", "router.knn_join.exact",
                               "router.knn_join.quantized")]
    + [(c, m) for c in INDEX for m in ("exec_ms", "cpu_ms", "jobs")]
    + [(c, m) for c in TOPK for m in ("shuffle_kb", "skew")]
    + [(c, m) for c in DEDUP for m in ("exec_ms", "jobs")]
    + [(c, m) for c in SINKS for m in ("exec_ms", "jobs")]
)
MEASURE_UNITS = {"build_ms": "ms", "hidden_jobs": "count", "plan_ms": "ms", "exec_ms": "ms",
                 "cpu_ms": "ms", "jobs": "count", "shuffle_kb": "kb", "skew": "ratio"}

#: name -> unit, in BENCHMARK.json order
UNITS = {
    **{f"{c}.{m}": MEASURE_UNITS[m] for c, m in DECLARED},
    "topk.rows_into_topk_per_result": "ratio",
    "dedup.candidate_pairs_per_true_pair": "ratio",
    "sinks.bytes_written_per_input_byte": "ratio",
    "trace.instrument_ms_per_op": "ms",
    "trace.unlabelled_jobs": "count",
}


def measures(span, groups: dict) -> dict:
    """One call's layer split, from its phases and their job groups."""
    tot = {p: groups.get(f"pb{span.id}.{p}", {}) for p in ("build", "plan", "exec")}

    def total(key):
        return sum(t.get(key, 0.0) for t in tot.values())

    skews = [x for t in tot.values() for x in t.get("skews", [])]
    return {
        "build_ms": span.phases.get("build", 0.0) * 1000.0,
        "hidden_jobs": tot["build"].get("jobs", 0.0),
        "plan_ms": span.phases.get("plan", 0.0) * 1000.0,
        "exec_ms": span.phases.get("exec", 0.0) * 1000.0,
        "jobs": total("jobs"),
        "stages": total("stages"),
        "tasks": total("tasks"),
        "cpu_ms": total("cpu_ns") / 1e6,
        "shuffle_kb": total("shuffle_write_bytes") / 1024.0,
        "spill_kb": total("spill_bytes") / 1024.0,
        "skew": max(skews) if skews else 1.0,
        "join_rows": total("join_rows"),
        "exchange_rows": total("exchange_rows"),
        "window_rows": total("window_rows"),
        "written_bytes": total("written_bytes"),
        "job_ids": sorted(j for t in tot.values() for j in t.get("job_ids", [])),
    }


def per_call(spans, groups: dict) -> dict[str, dict]:
    """{call name: median of each measure, plus ``calls``}. The median
    is over the name's successful timed calls, or over all its
    successful calls when none is timed (set-up and untimed builds)."""
    by_name: dict[str, list] = {}
    for s in spans:
        if s.ok and s.phases:
            by_name.setdefault(s.name, []).append(s)
    out = {}
    for name, ss in sorted(by_name.items()):
        ms = [measures(s, groups) for s in [s for s in ss if s.attrs.get("timed")] or ss]
        row = {k: median(m[k] for m in ms) for k in ms[0] if k != "job_ids"}
        row["calls"] = len(ms)
        out[name] = row
    return out


def per_layer(spans, groups: dict, instrument_s: float, dim: int,
              candidate_pairs_per_true_pair: float) -> dict[str, float]:
    calls = [s for s in spans if s.ok and s.phases]
    m = {s.id: measures(s, groups) for s in calls}
    table = per_call(spans, groups)
    topk = [s for s in calls if s.attrs.get("timed") and s.name in TOPK]
    sinks = [s for s in calls if s.name in SINKS]
    results = sum(s.attrs.get("results", 0) for s in topk)
    in_bytes = sum(s.attrs.get("rows", 0) * dim * 4 for s in sinks)
    timed = sum(1 for s in calls if s.attrs.get("timed"))
    return {
        **{f"{c}.{k}": table.get(c, {}).get(k, 0.0) for c, k in DECLARED},
        "topk.rows_into_topk_per_result": sum(m[s.id]["join_rows"] for s in topk)
        / max(results, 1),
        "dedup.candidate_pairs_per_true_pair": candidate_pairs_per_true_pair,
        "sinks.bytes_written_per_input_byte": sum(m[s.id]["written_bytes"] for s in sinks)
        / max(in_bytes, 1),
        "trace.instrument_ms_per_op": instrument_s * 1000.0 / max(timed, 1),
        "trace.unlabelled_jobs": groups.get(None, {}).get("jobs", 0.0),
    }
