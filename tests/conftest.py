from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from fs2_kinesis_firehose_spark.session import get_spark


def pytest_configure(config):
    # print the slowest tests after every run, so a slow suite can be
    # told apart from a slow host; an explicit --durations still wins
    if config.option.durations is None:
        config.option.durations = 25


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fs2-kinesis-firehose-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def smoke_catalog(spark, sf_smoke) -> dict[str, DataFrame]:
    """Every registered query built once at smoke scale, for the tests that
    sweep the whole catalog."""
    import fs2_kinesis_firehose_spark.queries as q

    q.load_all()
    return {name: fn(spark, sf_smoke) for name, fn in q.QUERIES.items()}
