"""Driver-style correctness gate, run locally: every queries() entry with an
oracle_sql() must match DuckDB on row count + columns + values (SURVEY §5.2.2).
"""

import pytest

import __spark_entry__ as entry_mod
from tests.parity import compare

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    compare(df, duck, ORACLES[name], name=name)


def test_every_query_has_an_oracle():
    assert set(QUERIES) == set(ORACLES)


@pytest.mark.parametrize("sql", [None, "", "  \n"])
def test_register_requires_an_oracle(sql):
    from migdar_data_pipelines_spark.plans.queries import register

    with pytest.raises(ValueError, match="'x'"):
        register("x", sql=sql)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
