"""Generator-engine operators exposed through the driver contract.

These have no DuckDB oracle: referential sampling is deterministic for
our engine but not SQL-reproducible — exactly the "non-SQL-expressible"
category the driver records with a weaker rows-only check (SURVEY.md
§2.3 fk_sample_join row). The test suite checks each exactly by property
instead: row count, a unique key, and FK closure (no NULL parent-side
column after the join back to the parent;
tests/test_oracle_parity.py::test_property_checked_queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.executor import GenerationPlan
from ..plans.model import ColumnSpec, FKSpec, TableSpec, wire_fk_rules
from ..sources.tables import table
from ._registry import make_registry

QUERIES, ORACLE, q = make_registry()


def fk_sample_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 against real data: generate a synthetic fact table whose FK
    samples existing ``nation`` keys (the reference's ID-cache sampling,
    run_engine.py:156-162), then validate closure with a broadcast join.

    Output: one row per generated row with its sampled key and the joined
    parent name — count == generated rows and zero null n_name proves
    referential integrity held.

    The parent cardinality enters the plan as a LAZY 1-row broadcast
    aggregate (no eager count() job at query construction — the same
    rule as text_tfidf_top's corpus count), so at scale the parent scan
    runs once inside the single job instead of once per construction.
    """
    nation = table(spark, sf_dir, "nation")
    n = nation.agg(F.count(F.lit(1)).alias("__n_parent"))
    ids = spark.range(0, 2000).withColumnRenamed("id", "__id")
    pick = F.pmod(
        F.xxhash64(F.col("__id"), F.lit(42), F.lit("fact.nationkey")), F.col("__n_parent")
    )
    fact = ids.crossJoin(F.broadcast(n)).select(
        F.col("__id").alias("fact_id"),
        pick.cast("int").alias("n_nationkey"),
        F.round(
            F.pmod(F.xxhash64(F.col("__id"), F.lit(42), F.lit("fact.amount")), F.lit(1 << 30))
            / F.lit(float(1 << 30))
            * 1000,
            2,
        ).alias("amount"),
    )
    return fact.join(F.broadcast(nation), "n_nationkey", "left").select(
        "fact_id", "n_nationkey", "n_name", "amount"
    )


QUERIES["fk_sample_join"] = fk_sample_join


def _demo_schema() -> dict[str, TableSpec]:
    """Three-level schema exercising FK chain + self-reference."""
    tables = {
        "Musteri": TableSpec(
            name="Musteri",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("Unvan", "string", nullable=False, length=100),
                ColumnSpec("Eposta", "string", nullable=True, length=100),
                ColumnSpec("AnaMusteriId", "uuid", nullable=True, length=36),
            ],
            pk=["Id"],
            fks=[FKSpec(["AnaMusteriId"], "Musteri", ["Id"])],
        ),
        "Siparis": TableSpec(
            name="Siparis",
            columns=[
                ColumnSpec("Id", "uuid", nullable=False, length=36),
                ColumnSpec("MusteriId", "uuid", nullable=False, length=36),
                ColumnSpec("Tutar", "decimal(25,6)", nullable=True, precision=25, scale=6),
                ColumnSpec("Tarih", "date", nullable=False),
            ],
            pk=["Id"],
            fks=[FKSpec(["MusteriId"], "Musteri", ["Id"])],
        ),
    }
    wire_fk_rules(tables)
    return tables


def gen_synthetic_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end generator run (rule inference → toposort → projection →
    FK sampling) validated by joining child to parent: every row carries
    its parent's Unvan (non-null ⇔ closure holds)."""
    plan = GenerationPlan(spark, _demo_schema(), seed=42, row_counts={"Musteri": 200, "Siparis": 1000})
    built = plan.run(materialize=True)
    m = built["Musteri"].select(F.col("Id").alias("MusteriId"), "Unvan")
    return built["Siparis"].join(F.broadcast(m), "MusteriId", "left").select(
        "Id", "MusteriId", "Unvan", "Tutar", "Tarih"
    )


QUERIES["gen_synthetic_orders"] = gen_synthetic_orders
