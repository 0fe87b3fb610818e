import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from henbun_spark.sources import PYTHON_WORKER_CONF

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("henbun_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", "/tmp/henbun_test_warehouse")
        .config("spark.ui.enabled", "false")
        # the production Python worker path: the same daemon as get_spark
        .config(map=PYTHON_WORKER_CONF)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(autouse=True)
def _release_scaffold_caches():
    """Drop anything registered in the scaffold-cache registry after
    each test — usually a no-op (the prefix/rank primitives are
    in-plan; since r9 `text.shingle_tfidf_cosine_topk` registers its
    postings persist), and it keeps hand-registered test
    caches and any future pinned cache from leaking across the
    session-scoped JVM."""
    yield
    from henbun_spark.operators import relational

    relational.release_scaffold_caches()
