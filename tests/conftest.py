import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
#: local[N] cores follow SPARK_GRAFT_CPUS; 8 when unset
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("sqlite-vector-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        # "mock:" scheme -> RawLocalFileSystem semantics under a
        # NON-file URI (tests/javalib/src/MockFileSystem.java): the
        # object-store-path tests run the maintenance verbs against a
        # root where any leftover os.*/shutil call breaks loudly
        # (os.path.isdir("mock:/...") is False) instead of silently
        # passing because the test root happened to be local
        .config("spark.hadoop.fs.mock.impl", "MockFileSystem")
        .config(
            "spark.driver.extraClassPath",
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "javalib", "classes"),
        )
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def restore_backend():
    """Every test ends on the distance backend it started on, so a test
    that pins one (set_backend) cannot leak it into later tests."""
    from sqlite_vector_spark.version import set_backend, vector_backend

    prev = vector_backend()
    yield
    set_backend(prev)


@pytest.fixture(scope="session")
def emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="session")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
