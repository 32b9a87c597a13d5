"""perfbench: the repository's end-to-end and per-layer benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload interactive_search --seed 1 --seconds 15 --trace 0

It generates its inputs from ``--seed``, starts a local Spark session
(``local[N]``, N from ``SPARK_GRAFT_CPUS``, else the CPUs this process
may use), runs one workload through the library's public entry points
for ``--seconds``, checks every output, and prints a report followed
by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
spans, Spark job groups and the Spark event log, and reports the
per-layer metrics plus a per-call layer table. All scratch files live
in ``.perfbench/`` under the checkout and are removed at exit, except
the small result and trace records in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent

#: end-to-end metric -> unit, in BENCHMARK.json order
E2E_UNITS = {
    "setup_s": "s",
    "request_p50_ms": "ms",
    "recall": "fraction",
    "store_bytes_per_vector": "bytes",
}


def _isolate(tmp: Path) -> list[str]:
    """Point every scratch location at ``tmp``, put the checkout on the
    Python workers' import path, and drop SPARK_GRAFT_* gate overrides
    so the default arms are measured. Returns the dropped names."""
    dropped = [k for k in os.environ if k.startswith("SPARK_GRAFT_") and k != "SPARK_GRAFT_CPUS"]
    for k in dropped:
        del os.environ[k]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")  # wins over spark.local.dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = str(tmp)
    return dropped


def _start_spark(tmp: Path, cpus: int, traced: bool):
    from sqlite_vector_spark.session import make_session

    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(tmp / "spark-local"),
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": str(traced).lower(),
    }
    if traced:
        (tmp / "events").mkdir()
        conf.update({"spark.eventLog.dir": str(tmp / "events"),
                     "spark.eventLog.compress": "false"})
    spark = make_session("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers
    it owns) to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _e2e(res) -> dict[str, float]:
    return {
        "setup_s": median(res.setup_s),
        "request_p50_ms": median(res.requests) * 1000.0 if res.requests else 0.0,
        "recall": sum(res.recall) / len(res.recall) if res.recall else 0.0,
        "store_bytes_per_vector": res.store_bytes_per_vector,
    }


def _print_table(title: str, rows: dict[str, tuple[float, str]]) -> None:
    print(title)
    for name, (value, unit) in rows.items():
        print(f"  {name:40s} {value:14.4f} {unit}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("interactive_search", "batch_pipeline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs for the smoke test")
    args = ap.parse_args(argv)

    if not (ROOT / "sqlite_vector_spark" / "__init__.py").is_file():
        print(f"perfbench: no sqlite_vector_spark package under {ROOT}; "
              "run it from the root of a checkout of the repository", file=sys.stderr)
        return 2
    tmp = ROOT / ".perfbench" / f"run-{os.getpid()}"
    tmp.mkdir(parents=True)
    try:
        return _run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, tmp: Path) -> int:
    dropped = _isolate(tmp)
    sys.path.insert(0, str(ROOT))
    import eventlog
    import layers
    from harness import Harness
    from workloads import SIZES, TINY, WORKLOADS, Context

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    size = dict(SIZES[args.workload], **(TINY if args.size == "tiny" else {}))
    size = {k: v for k, v in size.items() if k in SIZES[args.workload]}
    traced = bool(args.trace)
    t_start = time.perf_counter()
    spark = _start_spark(tmp, cpus, traced)
    try:
        h = Harness(spark.sparkContext, traced)
        res = WORKLOADS[args.workload](Context(spark, h, args.seed, str(tmp), size),
                                       args.seconds)
    finally:
        _stop_spark(spark)
    wall = time.perf_counter() - t_start

    e2e = _e2e(res)
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} master=local[{cpus}] wall={wall:.1f}s")
    print("inputs:", json.dumps(res.props, sort_keys=True))
    print("notes: closed loop, one client; no SPARK_GRAFT_* gate overrides, so the "
          "library's default arms run (at these sizes the 256 MB salting and "
          "prefilter arms stay off)"
          + (f"; removed from the environment: {', '.join(dropped)}" if dropped else ""))
    print("setup runs (s):", " ".join(f"{x:.3f}" for x in res.setup_s))
    n_calls = sum(len(v) for v in res.ops.values())
    _print_table(f"end-to-end ({len(res.requests)} requests, {n_calls} timed calls):",
                 {k: (v, E2E_UNITS[k]) for k, v in e2e.items()})
    _print_table("workload metrics:", dict(res.named, failed_op_ratio=(
        h.failed / max(h.attempted, 1), f"fraction ({h.failed}/{h.attempted})")))

    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    record = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    if traced:
        groups = eventlog.totals_by_group(str(tmp / "events"))
        calls = layers.per_call(h.spans, groups)
        cand = res.named.get("candidate_pairs_per_true_pair", (0.0, ""))[0]
        metrics = layers.per_layer(h.spans, groups, h.instrument_s, size["dim"], cand)
        units = layers.UNITS
        cols = ("calls", "build_ms", "hidden_jobs", "plan_ms", "exec_ms", "jobs", "tasks",
                "cpu_ms", "shuffle_kb", "skew", "join_rows", "window_rows")
        print("per-call layers (median per call):")
        print("  " + f"{'call':36s}" + "".join(f"{c:>12s}" for c in cols))
        for name, row in calls.items():
            print("  " + f"{name:36s}" + "".join(f"{row[c]:12.1f}" for c in cols))
        _print_table("per-layer:", {k: (v, units[k]) for k, v in metrics.items()})
        untraced = record.with_name(f"{args.workload}-seed{args.seed}-trace0.json")
        base = untraced.is_file() and json.loads(untraced.read_text())["e2e"].get(
            "request_p50_ms")
        if base:
            print(f"tracing overhead: request_p50_ms {e2e['request_p50_ms']:.1f} traced vs "
                  f"{base:.1f} untraced ({(e2e['request_p50_ms'] / base - 1) * 100:+.1f}%)")
        spans = [dict(vars(s), job_ids=layers.measures(s, groups)["job_ids"]) for s in h.spans]
        record.write_text(json.dumps({"e2e": e2e, "per_call": calls, "per_layer": metrics,
                                      "spans": spans}, default=str))
    else:
        metrics, units = e2e, E2E_UNITS
        record.write_text(json.dumps({"e2e": e2e, "named": res.named, "props": res.props,
                                      "spans": [vars(s) for s in h.spans]}))
    print(json.dumps({
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
