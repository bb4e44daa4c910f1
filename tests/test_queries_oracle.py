"""Every registered query vs its DuckDB oracle at sf0.001 (fast smoke;
the driver runs the same comparison at sf0.01). Shares the comparison
logic with scripts/check_oracles.py.
"""

from __future__ import annotations

import duckdb
import pytest

from scripts.check_oracles import TABLES, compare
from data_lake_construction_and_querying_with_pyspark_spark.registry import (
    all_oracles,
    all_queries,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    return con


QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_SMOKE).toPandas()
    if name not in ORACLES:
        assert sdf is not None  # rows-only contract
        return
    odf = duck.execute(ORACLES[name]).fetchdf()
    problems = compare(name, sdf, odf)
    assert not problems, problems

