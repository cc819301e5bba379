"""End-to-end pipeline: the full path a reference user migrates onto.

script.sql DDL (or the census stand-in, tests/full_schema.py) → TableSpecs → rule inference → distributed generation →
TenantId-partitioned parquet dataset (SCALE.md §6 layout) → analytic
queries over the dataset with partition pruning. Every stage is the
production path, no shortcuts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from synthetic_data_transfer_to_relational_database_spark.plans.executor import GenerationPlan
from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
    write_partitioned,
)
from synthetic_data_transfer_to_relational_database_spark.sources.ddl import parse_schema_script

from .full_schema import full_schema_script


def test_ddl_to_partitioned_dataset_to_query(spark, tmp_path):
    tables = parse_schema_script(full_schema_script())
    # a connected slice: customer master + its transactions
    subset = {k: v for k, v in tables.items() if k in ("CariHesap", "CariHareket")}
    assert set(subset) == {"CariHesap", "CariHareket"}
    # drop FK edges that point outside the slice (their parents aren't built)
    for t in subset.values():
        t.fks = [fk for fk in t.fks if fk.parent_table in subset]
        for c in t.columns:
            if c.fk_parent and c.fk_parent.split(".")[0] not in subset:
                c.fk_parent = None
                c.rule = None

    plan = GenerationPlan(
        spark, subset, seed=21, row_counts={"CariHesap": 50, "CariHareket": 2000}
    )
    built = plan.run(materialize=True)

    # multi-tenant layout: partition the fact by TenantId (SCALE.md §6)
    path = str(tmp_path / "carihareket")
    write_partitioned(built["CariHareket"], path, ["TenantId"])

    back = spark.read.parquet(path)
    assert back.count() == 2000

    # partition pruning: filtering one tenant reads one directory
    one_tenant = back.select("TenantId").first()["TenantId"]
    pruned = back.filter(F.col("TenantId") == one_tenant)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()

    # and the analytic surface runs on the generated dataset: per-tenant
    # money aggregation with the engine's decimal discipline, over the
    # first decimal column (Tutar, numeric(25,6), on the reference schema)
    amount = next(
        c.name for c in subset["CariHareket"].generated_columns if c.dtype.startswith("decimal")
    )
    agg = (
        back.groupBy("TenantId")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(amount)).alias("toplam_tutar"),
        )
        .orderBy(F.desc("n_rows"))
    )
    rows = agg.collect()
    assert sum(r["n_rows"] for r in rows) == 2000
    # the amount is numeric: sums must stay decimal, not drift to double
    assert dict(agg.dtypes)["toplam_tutar"].startswith("decimal")

    # FK closure survived the parquet round trip: every CariHareket row
    # joins a CariHesap master (CariHesapId FK within the slice)
    hesap = built["CariHesap"].select(F.col("Id").alias("HesapId"))
    fk_cols = [c.name for c in subset["CariHareket"].columns if c.fk_parent == "CariHesap.Id"]
    if fk_cols:
        dangling = back.join(
            hesap, back[fk_cols[0]] == F.col("HesapId"), "left_anti"
        ).filter(F.col(fk_cols[0]).isNotNull())
        assert dangling.count() == 0
