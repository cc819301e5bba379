"""Physical-layout proofs: these tests assert on PLANS, not just results —
partition pruning actually prunes, bucketed joins actually skip the
shuffle, salted joins spread keys without changing the result.
"""

from __future__ import annotations

import io
import contextlib
import os

import pytest

from pyspark.sql import functions as F

from synthetic_data_transfer_to_relational_database_spark.operators.skew import salted_join
from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
    read_bucketed,
    write_bucketed,
    write_partitioned,
)
from synthetic_data_transfer_to_relational_database_spark.sources.tables import table

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partition_pruning(spark, tmp_path):
    o = table(spark, SF_DIR, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned(o, path, ["order_year"])

    back = spark.read.parquet(path).filter(F.col("order_year") == 1996)
    plan = _plan(back)
    # pruned scan: the partition filter appears as PartitionFilters, and
    # the actual partition count read is 1
    assert "PartitionFilters" in plan
    n_total = spark.read.parquet(path).select("order_year").distinct().count()
    assert n_total > 1
    assert back.select("order_year").distinct().count() == 1


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        o = table(spark, SF_DIR, "orders")
        li = table(spark, SF_DIR, "lineitem")
        write_bucketed(
            o, "t_orders_b", ["o_orderkey"], 4, sort_cols=["o_orderkey"],
            path=str(tmp_path / "ob"),
        )
        write_bucketed(
            li, "t_lineitem_b", ["l_orderkey"], 4, sort_cols=["l_orderkey"],
            path=str(tmp_path / "lb"),
        )
        j = read_bucketed(spark, "t_lineitem_b").join(
            read_bucketed(spark, "t_orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = _plan(j.select("l_orderkey", "o_orderdate"))
        assert "Exchange" not in plan, plan
        # same result as the plain-path join
        plain = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert j.count() == plain
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_join_matches_plain_join(spark):
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderdate").withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    salted = salted_join(li, o, "l_orderkey", n_salts=8)
    plain = li.join(o, "l_orderkey")
    assert salted.count() == plain.count()
    # spot-check aggregate equality (order-insensitive)
    a = salted.groupBy("l_orderkey").count().orderBy("l_orderkey").collect()
    b = plain.groupBy("l_orderkey").count().orderBy("l_orderkey").collect()
    assert a == b


def _zorder_selectivity(out: str) -> int:
    """Count output files whose x-range spans at most half the domain —
    the row-group-skipping property a z-ordered layout must produce."""
    import glob as _glob

    import pyarrow.parquet as pq

    selective = 0
    for f in _glob.glob(out + "/part-*.parquet"):
        meta = pq.read_metadata(f)
        stats = meta.row_group(0).column(1).statistics  # column x
        if stats.max - stats.min <= 141 // 2:
            selective += 1
    return selective


def _zorder_fixture(spark):
    return spark.range(0, 20_000).selectExpr(
        "id", "cast(id % 141 as long) as x", "cast((id * 7919) % 151 as long) as y"
    )


def test_zorder_clusters_row_groups(spark, tmp_path):
    """Z-ordered layout (sampled default): rows filtered by EITHER
    dimension concentrate in few files, so parquet min/max stats prune
    most of the dataset — the property that makes the layout worth a
    write-once job."""
    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        write_zordered,
    )

    out = str(tmp_path / "zorder")
    write_zordered(_zorder_fixture(spark), out, ["x", "y"], n_files=8)

    back = spark.read.parquet(out)
    assert back.count() == 20_000
    selective = _zorder_selectivity(out)
    # at least half the files cover at most half the x-range
    assert selective >= 4, f"z-order produced only {selective} selective files"


def test_zorder_exact_path_clusters_too(spark, tmp_path):
    """The exact percent_rank form (sampled=False) — retained for
    rank-faithful small layout jobs — must produce the same clustering
    property."""
    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        write_zordered,
    )

    out = str(tmp_path / "zorder_exact")
    write_zordered(_zorder_fixture(spark), out, ["x", "y"], n_files=8, sampled=False)
    assert spark.read.parquet(out).count() == 20_000
    selective = _zorder_selectivity(out)
    assert selective >= 4, f"exact z-order produced only {selective} selective files"


def test_zorder_sampled_survives_inf_and_nan(spark):
    """A z-order column containing ±inf/NaN must not crash the sampled
    quantizer: inf cutpoints would collide with Bucketizer's sentinel
    split endpoints and NaN poisons cutpoint ordering. Rows themselves
    still bucket (inf clamps to the end buckets, NaN to the invalid
    bucket) and every finite row keeps a valid z-value."""
    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        with_zorder_sampled,
    )

    df = spark.range(0, 4000).selectExpr(
        "id",
        # ~25% inf, a few -inf and NaN, rest finite
        "case when id % 4 = 0 then cast('Infinity' as double)"
        "     when id % 997 = 1 then cast('-Infinity' as double)"
        "     when id % 997 = 2 then cast('NaN' as double)"
        "     else cast(id % 141 as double) end as x",
        "cast((id * 7919) % 151 as double) as y",
    )
    z = with_zorder_sampled(df, ["x", "y"])
    out = z.select("id", "x", "__z").collect()
    assert len(out) == 4000
    assert all(r["__z"] is not None for r in out)
    # inf rows all clamp into the same top x-level: identical x-bit
    # pattern, so they cluster together (the property the layout needs)
    inf_z = {r["__z"] for r in out if r["x"] == float("inf")}
    finite_top = max(r["__z"] for r in out if r["x"] is not None and r["x"] < 100)
    assert inf_z, "inf rows lost"
    assert max(inf_z) >= finite_top, "inf rows should rank at the top of x"


def test_zorder_sampled_has_no_global_window(spark):
    """The sampled quantization must keep the scale-safe plan shape: no
    Window operator anywhere (the exact form's global percent_rank sorts
    every column through ONE task — the single-partition collapse this
    path exists to avoid), and bucketing stays a plain projection."""
    import contextlib
    import io

    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        with_zorder_sampled,
        zorder_value,
    )

    df = _zorder_fixture(spark)
    z = with_zorder_sampled(df, ["x", "y"])

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        z.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Exchange" not in plan  # projection only: no shuffle at all

    # the exact form DOES window — the contrast this test locks in
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.withColumn("__z", zorder_value(["x", "y"])).explain("formatted")
    assert "Window" in buf.getvalue()

    # both quantizations agree on the clustering, not just file stats:
    # z-rank order must be strongly concordant between the two forms
    rows = (
        z.join(
            df.withColumn("__z_exact", zorder_value(["x", "y"])).select("id", "__z_exact"),
            "id",
        )
        .select("__z", "__z_exact")
        .collect()
    )
    import random

    rng = random.Random(7)
    pairs = [(r["__z"], r["__z_exact"]) for r in rows]
    sample = rng.sample(pairs, 2000)
    concordant = sum(
        1
        for (a1, b1), (a2, b2) in zip(sample[::2], sample[1::2])
        if (a1 - a2) * (b1 - b2) > 0 or (a1 == a2 and b1 == b2)
    )
    assert concordant / (len(sample) // 2) > 0.9


def test_readme_catalog_counts_match_registry():
    """The README's registered/oracle-paired counts are the catalog's
    public face and went stale twice (r13: 136; r16: 154) — pin them to
    the import (r16 verdict #5: 'the counts line should be generated or
    verified against the import count')."""
    import re

    from synthetic_data_transfer_to_relational_database_spark import registry

    n_q = len(registry.all_queries())
    n_o = len([k for k in registry.all_queries() if k in registry.all_oracles()])
    readme = open("README.md", encoding="utf-8").read()
    m = re.search(r"(\d+) registered queries", readme)
    assert m, "README must state the registered-query count"
    assert int(m.group(1)) == n_q, (
        f"README says {m.group(1)} registered queries, registry has {n_q}"
    )
    m2 = re.search(r"(\d+) are\s+value-checked", readme)
    assert m2, "README must state the oracle-paired count"
    assert int(m2.group(1)) == n_o, (
        f"README says {m2.group(1)} oracle-paired, registry has {n_o}"
    )


def test_package_reads_no_session_knobs():
    """Catalog thresholds and geometry are module constants, not session
    confs: a query built on a driver's own SparkSession must plan exactly
    as its oracle was checked, whatever that session carries."""
    from pathlib import Path

    import synthetic_data_transfer_to_relational_database_spark as pkg

    hits = [
        f"{p}:{i}"
        for p in sorted(Path(pkg.__file__).parent.rglob("*.py"))
        for i, line in enumerate(p.read_text(encoding="utf-8").splitlines(), 1)
        if "spark.sdt." in line
    ]
    assert hits == [], f"session knobs read in the package: {hits}"


def test_bench_hardware_yardsticks_shape():
    """The drift-adjudication method reads these fields from every
    official bench line (SCALE.md bench-method, r16 verdict #3) — a
    silent shape change would strand the next drift wave without
    recorded machine state. No Spark needed; the probe is pure OS."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    hw = bench._hardware_yardsticks()
    assert isinstance(hw["loadavg_1_5_15"], list) and len(hw["loadavg_1_5_15"]) == 3
    # each yardstick either measured or reported failed — never absent
    assert "fsync_ms_median" in hw or "fsync_err" in hw
    assert "steal_pct" in hw or "proc_stat_err" in hw
    assert "cpu_scale_n" in hw or "cpu_scale_err" in hw
    if "fsync_ms_median" in hw:
        # >= 0: on tmpfs-class filesystems a ~us fsync rounds to 0.0
        assert 0 <= hw["fsync_ms_median"] < 10_000
        assert hw["fsync_ms_p90"] >= hw["fsync_ms_median"]
    if "cpu_scale_n" in hw:
        # one spin per usable CPU
        assert hw["cpu_scale_k"] == len(os.sched_getaffinity(0))
        assert hw["cpu_scale_n"] > 0


def test_bench_settledness_gate_scales_loadavg_by_cores():
    """The launch gate reads the 1-min and the 15-min loadavg against a
    per-core band. The drifted 4-core launch [6.68, 3.0, 2.15] (under the
    old absolute 15-min band of 4.0) is unsettled; a quiet one is not."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("bench", "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    quiet = {"fsync_ms_p90": 0.15, "steal_pct": 0.0, "cpu_scale_k": 4, "cpu_scale_n": 1.01}
    reasons = bench._unsettled_reasons({**quiet, "loadavg_1_5_15": [6.68, 3.0, 2.15]})
    assert [r.split("=")[0] for r in reasons] == ["loadavg_1", "loadavg_15"], reasons
    assert bench._unsettled_reasons({**quiet, "loadavg_1_5_15": [0.4, 0.3, 0.2]}) == []
    # the same 15-min reading is quiet on 32 cores
    assert bench._unsettled_reasons(
        {**quiet, "cpu_scale_k": 32, "loadavg_1_5_15": [6.68, 3.0, 2.15]}
    ) == []
