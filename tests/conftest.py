import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from peerdb_spark.session import get_spark

    s = get_spark("peerdb_spark_tests")  # SPARK_GRAFT_CPUS, 8 when unset
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    from peerdb_spark.session import load_tables

    return load_tables(spark, SF_DIR)
