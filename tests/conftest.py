import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from etl_edi_data_scrapper_spark import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def built_plans(spark, sf_dir):
    """Every registered query built ONCE against sf_dir — name → DataFrame
    (analysis forced). Plan construction of all 50 queries costs tens of
    seconds; the plan-shape and schema lints and the entry smoke share
    this one build instead of each repeating it."""
    from etl_edi_data_scrapper_spark.suite import QUERIES

    plans = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf_dir)
        _ = df.schema  # forces analysis
        plans[name] = df
    return plans
