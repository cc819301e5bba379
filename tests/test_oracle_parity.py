"""Every oracle-paired query must match DuckDB exactly (SURVEY.md §5.1).

This mirrors the driver's t2 correctness gate, run at sf0.001 for speed in
the default suite; set SDT_PARITY_SF=/root/testdata/sf0.01 to run the same
scale the driver uses.
"""

from __future__ import annotations

import os

import pytest

from synthetic_data_transfer_to_relational_database_spark import registry

from .oracle_harness import compare, duck_connection

SF = os.environ.get("SDT_PARITY_SF", "/root/testdata/sf0.001")

_QUERIES = registry.all_queries()
_ORACLES = registry.all_oracles()


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_ORACLES.keys()))
def test_oracle_parity(spark, duck, name):
    df = _QUERIES[name](spark, SF)
    compare(df, duck, _ORACLES[name], name=name)


def _fk_closure(n_rows: int, key: str, parent_cols: list[str]):
    """Exact property of a generated FK fact joined back to its parent:
    ``n_rows`` rows, ``key`` unique, and every parent-side column non-null
    (each sampled FK found an existing parent row)."""

    def check(df):
        from pyspark.sql import functions as F

        got = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(key).alias("distinct"),
            *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in parent_cols],
        ).first()
        assert got["n"] == n_rows and got["distinct"] == n_rows, got
        assert all(got[c] == 0 for c in parent_cols), got

    return check


# rows-only keys whose output has an exact property instead of an oracle
_PROPERTIES = {
    "gen_synthetic_orders": _fk_closure(1000, "Id", ["MusteriId", "Unvan"]),
    "fk_sample_join": _fk_closure(2000, "fact_id", ["n_name"]),
}


@pytest.mark.parametrize("name", sorted(_PROPERTIES))
def test_property_checked_queries(spark, name):
    _PROPERTIES[name](_QUERIES[name](spark, SF))


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - set(_ORACLES) - set(_PROPERTIES)))
def test_rows_only_queries_run(spark, name):
    df = _QUERIES[name](spark, SF)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0
