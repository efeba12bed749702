import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_data_anonymizer_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # a constant: the tier-1 time budget was measured at local[4]
    s = get_spark("mda-tests", master="local[4]")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def customer(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/customer.parquet")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    from mysql_data_anonymizer_spark.sources import files

    return files.read_table(spark, f"{sf_dir}/events.parquet", table_name="events")
