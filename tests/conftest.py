import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from asakusafw_spark_spark.session import engine_builder  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # the engine's 16g driver default suits a production driver; on a
    # test host the heap grows past the machine's memory before a full
    # GC and the JVM is OOM-killed mid-suite (4g holds the suite at ~5 GB RSS)
    memory = os.environ.get("SPARK_DRIVER_MEMORY", "4g")
    spark = (
        engine_builder(
            app_name="tests",
            master="local[4]",
            shuffle_partitions=4,
            extra_conf={"spark.driver.memory": memory},
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf, name):
    return spark.read.parquet(f"{sf}/{name}.parquet")
