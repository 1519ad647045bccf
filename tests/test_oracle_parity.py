"""Mirror of the driver's t2 gate: every query with an oracle must match the
DuckDB result at sf0.01 (row count + schema + order-insensitive values)."""

from __future__ import annotations

import pytest

import fs2_kinesis_firehose_spark.queries as q
from fs2_kinesis_firehose_spark.oracle import compare_query

q.load_all()


@pytest.mark.parametrize("name", sorted(q.ORACLES))
def test_oracle_parity(spark, name):
    result = compare_query(spark, name)
    assert result.match, str(result)


def test_every_query_runs_at_smoke_scale(smoke_catalog):
    """Queries without oracles still must execute and return a stable schema."""
    for name, df in smoke_catalog.items():
        assert df.columns, name
        assert df.count() >= 0, name
