"""Parquet dataset layout: partitioning + bucketing for the 100 TB plan.

Implements SCALE.md §6 as code rather than advice:

- ``write_partitioned``: date/tenant partition directories so equality and
  range predicates become partition pruning (directories never read).
- ``write_bucketed``: hash-bucketed + sorted table registered in the
  catalog; two tables bucketed the same way equi-join with ZERO exchange
  (verified by tests/test_layout.py asserting no Exchange in the plan).

Both writers repartition on their layout columns first
(``write_partitioned`` at its default ``target_files_per_partition``), so
a write's file count follows its directories or buckets, not the shuffle
partition count: that avoids the many-small-files failure mode.

Bucketing goes through ``saveAsTable`` because bucket metadata lives in
the catalog (Spark cannot express it path-only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    target_files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Directory-partitioned parquet. Repartitions by the partition columns
    first so each directory is written by few tasks (bounded file counts);
    AQE coalescing keeps small partitions together."""
    out = df.repartition(*partition_cols) if target_files_per_partition == 1 else df
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) catalog table. Matching bucket
    spec on both sides of an equi-join removes the shuffle entirely; the
    sort removes the sort step of sort-merge-join too.

    Every write produces at most ``n_buckets`` files, whatever
    ``spark.sql.shuffle.partitions`` or the input's partitioning is: the
    frame is hash-repartitioned on ``bucket_cols`` into ``n_buckets``
    first. Spark assigns a row's bucket with the same
    ``pmod(murmur3(bucket_cols), n_buckets)`` the hash partitioner uses,
    so each write task holds exactly one bucket and writes one file.
    Without it every task writes one file per bucket it holds, and an
    appended table gains up to tasks × buckets files per append."""
    writer = (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    """Catalog read preserving bucket metadata (plain parquet-path reads
    lose it)."""
    return spark.table(table_name)


def _spread_bits(q: "Column", bits: int, n: int, i: int) -> "Column":
    """Morton bit-spread: bit j of ``q`` lands at position j*n + i
    (unrolled: shift amounts must be Python ints for
    shiftleft/shiftrightunsigned)."""
    from pyspark.sql import functions as F

    import functools

    return functools.reduce(
        lambda a, b: a.bitwiseOR(b),
        [
            F.shiftleft(F.shiftrightunsigned(q, j).bitwiseAND(F.lit(1)), j * n + i)
            for j in range(bits)
        ],
    )


def zorder_value(cols: list[str], bits: int = 16) -> "Column":
    """Z-order (Morton) key over numeric columns: rank each column into
    ``bits`` levels, interleave the bits. Rows close in EVERY dimension
    get close z-values, so sorting by z clusters multi-dimensional
    neighborhoods into the same parquet row groups — min/max skipping
    then prunes on ANY of the columns, not just the leading sort key.
    Pure expression (percent_rank window per column + bit arithmetic) —
    exact ranks, but the unpartitioned window sorts each column through
    ONE task: use ``with_zorder_sampled`` for any dataset that doesn't
    fit a single executor's sort buffer."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    n = len(cols)
    # the interleaved key must fit in 64 bits: JVM shiftleft wraps shift
    # amounts mod 64, which would silently collide z-values beyond that
    bits = min(bits, 64 // n)
    interleaved = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        # quantize to [0, 2^bits): percent_rank is order-preserving and
        # scale-free, so columns of any numeric range interleave fairly
        q = F.floor(F.percent_rank().over(Window.orderBy(c)) * ((1 << bits) - 1)).cast("long")
        interleaved = interleaved.bitwiseOR(_spread_bits(q, bits, n, i))
    return interleaved


def with_zorder_sampled(
    df: DataFrame,
    cols: list[str],
    out_col: str = "__z",
    bits: int = 16,
    rel_err: float | None = None,
) -> DataFrame:
    """The 100 TB form of ``zorder_value``: identical Morton semantics,
    but each column's rank quantization comes from ``approxQuantile``
    cutpoints (one distributed Greenwald-Khanna sketch pass over all
    columns — NO global window, NO single-task sort) applied with
    ``ml.feature.Bucketizer`` (a broadcast binary search, JVM-side).
    The returned frame carries ``out_col``; every other column is
    untouched.

    Quantization granularity is capped at 12 bits (4096 levels per
    dimension): parquet row groups are ~128 MB, so 4096^n z-cells is
    already far finer than any file/row-group boundary the key needs to
    separate, and it keeps the cutpoint fetch (2^bits quantiles per
    column) trivially driver-sized. Ties/skew collapse duplicate
    cutpoints — same behavior as percent_rank ties. Nulls land in the
    top bucket (clamped), vs rank 0 under the exact form: either way all
    nulls cluster into the same z-neighborhood, which is the property
    row-group skipping needs.

    ``rel_err`` defaults to a quarter of the quantile spacing
    (1 / 2^(bits+2) after the bit clamp) so the sketch's rank error is
    finer than the levels it feeds — a coarser error would turn the
    bottom bits of every dimension into noise and silently degrade the
    granularity the bit budget was chosen for."""
    from pyspark.ml.feature import Bucketizer
    from pyspark.sql import functions as F

    n = len(cols)
    bits = min(bits, 64 // n, 12)
    if rel_err is None:
        rel_err = 1.0 / (1 << (bits + 2))
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    cast_cols = [f"__zin_{i}" for i in range(n)]
    work = df
    for c, cc in zip(cols, cast_cols):
        work = work.withColumn(cc, F.col(c).cast("double"))
    cuts = work.stat.approxQuantile(cast_cols, probs, rel_err)
    # Bucketizer demands strictly increasing splits: dedupe the cutpoints
    # AND drop non-finite ones — a column with ±inf values yields ±inf
    # cutpoints that collide with the sentinel endpoints, and NaN (which
    # set() can't dedupe, NaN != NaN) would poison the ordering. Rows
    # with such values still bucket fine: ±inf clamps into the end
    # buckets, NaN goes to handleInvalid's extra bucket.
    import math

    finite = [sorted({v for v in c if math.isfinite(v)}) for c in cuts]
    splits = [[float("-inf"), *c, float("inf")] for c in finite]
    buck_cols = [f"__zq_{i}" for i in range(n)]
    work = Bucketizer(
        inputCols=cast_cols,
        outputCols=buck_cols,
        splitsArray=splits,
        handleInvalid="keep",  # nulls/NaN -> extra top bucket, clamped below
    ).transform(work)
    z = F.lit(0).cast("long")
    for i, bc in enumerate(buck_cols):
        # rescale the bucket index across the FULL 2^bits range (what
        # percent_rank * (2^bits - 1) does in the exact form): with fewer
        # populated levels than 2^bits, raw indices would crowd the low
        # bits and the z-curve's high-bit splits would be lopsided —
        # measurably worse file clustering
        n_levels = len(splits[i]) - 1  # buckets 0..n_levels-1 (+ invalid)
        scaled = F.floor(
            F.col(bc).cast("long") * F.lit((1 << bits) - 1) / F.lit(max(n_levels - 1, 1))
        ).cast("long")
        q = F.least(scaled, F.lit((1 << bits) - 1))
        z = z.bitwiseOR(_spread_bits(q, bits, n, i))
    return work.withColumn(out_col, z).drop(*cast_cols, *buck_cols)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
    sampled: bool = True,
) -> None:
    """Write parquet clustered by z-order over ``zorder_cols``:
    range-repartition by the z-value (ordered files), sort within
    partitions, write. Readers filtering on ANY z-order column skip row
    groups via parquet min/max stats — the data-skipping layout Delta's
    OPTIMIZE ZORDER produces, expressed with open Spark primitives.

    ``sampled`` (the default, and the only form that survives 100 TB)
    quantizes via ``with_zorder_sampled`` — one approxQuantile sketch
    pass, no global window. ``sampled=False`` keeps the exact
    percent_rank quantization: rank-faithful, but each column sorts
    through a single task — small/medium layout jobs only."""
    from pyspark.sql import functions as F

    z = (
        with_zorder_sampled(df, zorder_cols)
        if sampled
        else df.withColumn("__z", zorder_value(zorder_cols))
    )
    (
        z.repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
