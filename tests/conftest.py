from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_database_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Task threads follow the host's core count when the runner exports
    # it (local[8] on a 4-core host oversubscribes every stage), else
    # the test override. Partition counts stay at 8 on every host: the
    # seeded generators draw `rand(seed)` per partition, so fixture
    # data depends on the default parallelism, not on the thread count.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.environ.get(
        "SPARK_GRAFT_TEST_CPUS", "8"
    )
    s = get_spark(
        app_name="vds-tests",
        master=f"local[{cpus}]",
        shuffle_partitions=8,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": "8g",
            "spark.default.parallelism": "8",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")
