"""Table sources for the driver's testdata layout (TESTDATA.md).

At cluster scale these would be catalog tables (Hive/Unity/Glue) or
direct Parquet/Delta paths; the engine only assumes "a DataFrame with
an id column and an ARRAY<FLOAT> column", so any Spark source works.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def ingest_json_vectors(
    df: DataFrame,
    json_col: str,
    vtype: str = "FLOAT32",
    dim: int | None = None,
    out_col: str = "embedding",
) -> DataFrame:
    """The reference's primary ingest path as a batch transform:
    ``INSERT ... VALUES(vector_as_f32('[...]'))`` (README.md:79-83,
    vector_from_json sqlite-vector.c:1528-1653) — a string column of
    JSON number arrays becomes a typed vector column, with the
    declared-dimension check (mismatches -> NULL, 1646-1649).

    Works on any source DataFrame (json/csv/parquet/jdbc reads alike):
    ingest is a map-only projection, no shuffle.
    """
    from sqlite_vector_spark.codec import from_json_vector
    from sqlite_vector_spark.types import parse_type

    return df.withColumn(out_col, from_json_vector(json_col, parse_type(vtype), dim))


def widen(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster's parallelism when the
    scan yields fewer partitions than cores.

    Why: Parquet scans parallelize by file split (maxPartitionBytes =
    128 MB), so a small input reads as 1-3 partitions and any CPU-heavy
    map stage above it (shingling, hashing, distance folds) runs nearly
    serial. At 100 TB splits >> cores and this is a no-op; at the small
    end the one tiny shuffle buys full-width execution. Call it below
    explode/hash pipelines, never above a groupBy/join that reshuffles
    anyway.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    # fast path: inputFiles() is plan metadata (no RDD lineage). A
    # scan over >= target files always yields >= target splits, so the
    # widen is a no-op — the 100 TB case never touches df.rdd. Fewer
    # files than cores can still mean many splits (big files), so fall
    # back to the precise partition count before paying a shuffle.
    if len(df.inputFiles()) >= target:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    for n in names:
        table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_vectors_csv(
    spark: SparkSession,
    path: str,
    vec_col: str,
    vtype: str = "FLOAT32",
    dim: int | None = None,
    **options,
) -> DataFrame:
    """CSV vector source: the vector column holds a JSON-array string
    (the reference's TEXT ingest form, README.md:79-83). Header on by
    default; pass schema=... to skip the inference scan — mandatory at
    real scale, where inference would read the data twice."""
    opts = {"header": "true", **{k: str(v) for k, v in options.items()}}
    df = spark.read.options(**opts).csv(path)
    return ingest_json_vectors(df, vec_col, vtype, dim, out_col=vec_col)


def read_vectors_jsonl(
    spark: SparkSession,
    path: str,
    vec_col: str = "embedding",
    dim: int | None = None,
    schema: str | None = None,
) -> DataFrame:
    """JSON-lines vector source: one object per line with a numeric
    array field. Spark's json reader parallelizes by line split, so
    this scales like any text source. Pass ``schema`` (DDL string) to
    skip inference at scale; the declared-dimension check mirrors
    vector_from_json (sqlite-vector.c:1646-1649): mismatch -> NULL."""
    import pyspark.sql.functions as F

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    vec = F.col(vec_col).cast("array<float>")
    if dim is not None:
        vec = F.when(F.size(F.col(vec_col)) == dim, vec)
    return df.withColumn(vec_col, vec)
