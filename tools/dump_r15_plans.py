"""Dump .explain('formatted') for the round-15 optimization targets.

Usage: python tools/dump_r15_plans.py <before|after> [query ...]

Writes plans/r15/<query>_<tag>.txt for each named workload query (all
targets when none named). Explain only — no execution — so fixture
builds are limited to what plan construction itself needs (centroid
collects, cached stores). Mirrors tools/dump_r14_plans.py; the
"before" tag for queries already rewritten by the inherited commit
e93c867 is produced from a detached worktree at a77932b.

The *_salted_after.txt dumps (the two-phase top-k shape of
ivf_knn_join_l2 / ivf_pq_knn_join_l2 / bq_knn_join_hamming /
bq_band_join) force the salt gate with a 1 KiB partition budget
(SPARK_GRAFT_PARTITION_BYTES=1024); the DEFAULT sf0.1 plans
are byte-identical to the pre-change tree (verified by worktree
diff), which is why no plain _after dumps are committed for them.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TARGETS = [
    # e93c867 (inherited r15 commit): adaptive gates + salted tier window
    "embedding_neardup_q",
    "edit_distance_pairs_q",
    "ivf_recall_curve_q",
    # this session's targets
    "ivf_pq_residual_scan_l2",
    "bq_knn_join_hamming_q",
    "bq_band_join_q",
    "boilerplate_strip_q",
    # VERDICT r14 #9: gated single-pass recall harness. The default
    # (sf0.1) plan is the two-scan arm == the pre-change plan; dump
    # the scale arm with SPARK_GRAFT_PARTITION_BYTES=1 and tag
    # single_pass_after.
    "recall_at_k",
]


def main():
    tag = sys.argv[1]
    names = sys.argv[2:] or TARGETS
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sqlite_vector_spark import workload as w

    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15"
    )
    outdir = os.environ.get("SPARK_GRAFT_PLAN_DIR", outdir)
    os.makedirs(outdir, exist_ok=True)
    for name in names:
        fn = getattr(w, name)
        try:
            df = fn(spark, SF)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {type(exc).__name__}: {exc}\n"
        short = name[:-2] if name.endswith("_q") else name
        path = os.path.join(outdir, f"{short}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        n_py = plan.count("EvalPython") + plan.count("MapInArrow")
        n_scan = plan.count("Scan parquet")
        print(
            f"{short}: {len(plan.splitlines())} lines, Exchange x{n_ex}, "
            f"Scan x{n_scan}, PythonEval x{n_py} -> {path}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
