"""Salted two-phase top-k at probe scale: ivf_knn_join with the r15
auto-salted rank window vs the plain single window (VERDICT r14 #3's
pattern extended to the ANN join family).

Synthesizes an N x D float32 embeddings table (deterministic
id-seeded pseudo-noise) big enough that Catalyst's estimate crosses
the partition budget (scale.BUDGET_BYTES, env
SPARK_GRAFT_PARTITION_BYTES), then times both window forms interleaved
(min-of-R) in ONE session and checks the collected top-k rows are
equal. The salted form's claim is a SCALE property (bounded reduce
partitions per query on a real cluster); locally the expectation is
parity — this probe exists to show the salted plan costs nothing at
the largest size the sandbox holds, not to show a local win.

Usage: python tools/salted_topk_probe.py [n_rows] [dim] [runs]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 1_500_000
DIM = int(sys.argv[2]) if len(sys.argv) > 2 else 128
RUNS = int(sys.argv[3]) if len(sys.argv) > 3 else 3
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
NQ, K, C, NPROBE = 8, 10, 16, 2


def main():
    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(max(int(CPUS), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sqlite_vector_spark import scale
    from sqlite_vector_spark.operators.ann import ivf_knn_join

    root = tempfile.mkdtemp(prefix="salt_probe_")
    try:
        dims = ",".join(
            f"cast(cast(xxhash64(id, {j}) as double) / 9.223372036854776e18 as float)"
            for j in range(DIM)
        )
        dest = os.path.join(root, "embeddings.parquet")
        (
            spark.range(N)
            .selectExpr("id as vec_id", f"array({dims}) as embedding")
            .write.mode("overwrite")
            .parquet(dest)
        )
        emb = spark.read.parquet(dest)
        est = scale.size(emb)
        cent = [list(r.embedding) for r in emb.orderBy("vec_id").limit(C).collect()]
        queries = emb.where(F.col("vec_id") < NQ).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        )

        def build():
            return ivf_knn_join(
                queries, emb, cent, K, nprobe=NPROBE, id_col="vec_id", vec_col="embedding"
            )

        auto_salt = scale.salt(emb)
        spark.sparkContext.setJobDescription("salted_topk_probe warmup")
        build().count()
        res = {"plain": [], "salted": []}
        rows = {}
        orig = scale.BUDGET_BYTES
        for r in range(RUNS):
            for arm, budget in (("plain", 1 << 60), ("salted", orig)):
                scale.BUDGET_BYTES = budget
                spark.sparkContext.setJobDescription(f"ivf_knn_join {arm} run{r}")
                t0 = time.time()
                got = sorted(map(tuple, build().collect()))
                res[arm].append(round(time.time() - t0, 3))
                rows[arm] = got
        scale.BUDGET_BYTES = orig
        print(json.dumps({
            "n": N, "dim": DIM, "cpus": int(CPUS),
            "size_bytes": est, "auto_salt": auto_salt,
            "plain_s": res["plain"], "salted_s": res["salted"],
            "plain_min": min(res["plain"]), "salted_min": min(res["salted"]),
            "rows_equal": rows["plain"] == rows["salted"],
        }))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
