"""foreachBatch sink: stream → arbitrary batch writers with exactly-once
bookkeeping.

The production pattern for sinks Structured Streaming lacks natively
(JDBC upserts, partitioned parquet with custom layout): each micro-batch
arrives as a plain DataFrame plus a monotonically increasing batch_id.
Spark guarantees at-least-once delivery per batch_id after recovery, so
idempotence = skip batch_ids already recorded. The ledger is a directory
of zero-byte marker files ``<path>/_batch_ledger/<id>.committed`` —
existence IS the commit, written and listed through the Hadoop
FileSystem API (works on any cluster filesystem; a 0-byte create+close
is visible-atomically on local/HDFS, and a single PUT on object stores).

The r18 ingest phase split (SCALE.md, "r18 re-baseline") measured the
original single-row-parquet-per-batch ledger at ~0.5-0.9 s per commit
(one Spark job + the FileOutputCommitter's temporary-dir/rename dance
for FOUR BYTES of payload) plus ~0.15 s per replay-guard read (a
parquet scan job per micro-batch) — pure per-trigger fixed cost, the
term that never amortizes no matter the batch size (guide §1.2/§2: the
fix is removing passes, and these two were whole Spark jobs carrying no
data). Driver-side FS calls are ~ms. Ledgers written by earlier
versions (parquet rows) are still honored: the reader unions legacy
parquet content with the marker files, so a resumed corpus never
re-ingests.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def _ledger_path(path: str) -> str:
    return os.path.join(path, "_batch_ledger")


def _ledger_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for the ledger dir. py4j handles —
    driver-side metadata calls only, never data movement."""
    jvm = spark._sc._jvm  # noqa: SLF001 — Hadoop FS API lives JVM-side
    hpath = jvm.org.apache.hadoop.fs.Path(_ledger_path(path))
    fs = hpath.getFileSystem(spark._sc._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, hpath, jvm


def committed_batch_ids(spark: SparkSession, path: str) -> set[int]:
    """Set of committed batch ids: one FS listing (no Spark job).
    Errors other than directory-absent PROPAGATE — treating a transient
    read failure as "no batches committed" would re-append everything."""
    fs, hpath, _ = _ledger_fs(spark, path)
    if not fs.exists(hpath):  # first run: ledger doesn't exist yet
        return set()
    ids: set[int] = set()
    legacy = False
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if name.endswith(".committed"):
            # ADVICE r18 #1: only all-digit stems are ledger markers — a
            # stray file or subdirectory named like "tmp.committed" must
            # not ValueError-wedge every subsequent trigger. Genuine FS
            # errors still propagate (the listStatus above).
            stem = name[: -len(".committed")]
            if stem.isdigit():
                ids.add(int(stem))
        elif name.endswith(".parquet"):
            legacy = True
    if legacy:  # ledger written by the pre-r18 single-row-parquet format
        # pathGlobFilter: the directory may ALSO hold new-format zero-byte
        # .committed markers (a pre-r18 corpus resumed post-upgrade), and a
        # bare parquet read over the mixed directory dies on them
        # ("length is too low: 0") — which would wedge every later trigger
        ids.update(
            r[0]
            for r in spark.read.option("pathGlobFilter", "*.parquet")
            .parquet(_ledger_path(path))
            .select("batch_id")
            .collect()
        )
    return ids


def drain_if_committed(spark: SparkSession, batch_df: DataFrame, path: str, batch_id: int) -> bool:
    """Replay guard shared by every ledgered foreachBatch sink: True when
    ``batch_id`` is already in the ledger, after draining the batch
    through the noop sink (Spark 4 validates that foreachBatch processes
    every partition — STATE_STORE_COMMIT_VALIDATION — so an early return
    without the drain would fail the query)."""
    if batch_id in committed_batch_ids(spark, path):
        batch_df.write.format("noop").mode("overwrite").save()
        return True
    return False


def mark_batch_committed(spark: SparkSession, path: str, batch_id: int) -> None:
    """Record ``batch_id`` in the sink ledger — the LAST step of a
    ledgered batch commit (everything before it must be idempotent
    under replay; everything after it is skipped by drain_if_committed).
    A zero-byte ``<id>.committed`` marker created through the Hadoop FS
    API: no Spark job, no output-committer rename dance (see module
    docstring for the measured cost this replaced)."""
    fs, hpath, jvm = _ledger_fs(spark, path)
    marker = jvm.org.apache.hadoop.fs.Path(
        os.path.join(_ledger_path(path), f"{int(batch_id)}.committed")
    )
    # overwrite=True: a replayed commit (crash between data write and a
    # prior attempt's marker landing) is a no-op rewrite of 0 bytes
    fs.create(marker, True).close()


def write_stream_to_parquet(
    sdf: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    available_now: bool = True,
    output_mode: str = "update",
) -> StreamingQuery:
    """Drain/attach a stream into a partitioned parquet dataset via
    foreachBatch, idempotent across batch replays. Default update mode:
    each batch delivers changed rows (aggregations without watermark are
    legal); map-only streams can use append."""
    spark = sdf.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if drain_if_committed(spark, batch_df, path, batch_id):
            return
        # Each batch OVERWRITES its own batch_id-scoped subdirectory: a
        # crash after the data write but before the ledger append replays
        # into the same directory instead of double-appending, so
        # data-write + ledger-append need not be atomic together.
        writer = batch_df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(os.path.join(path, "data", f"batch_id={batch_id}"))
        mark_batch_committed(spark, path, batch_id)

    writer = sdf.writeStream.outputMode(output_mode).foreachBatch(write_batch)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_sink(spark: SparkSession, path: str) -> DataFrame:
    # batch_id is the per-batch directory key, not part of the row schema.
    return spark.read.parquet(os.path.join(path, "data")).drop("batch_id")


def write_stream_to_jdbc(
    sdf: DataFrame,
    target,
    table: str,
    checkpoint_dir: str,
    available_now: bool = True,
    output_mode: str = "complete",
    batchsize: int = 1000,
    num_partitions: int | None = None,
) -> StreamingQuery:
    """Stream → relational database, exactly-once per batch_id: the
    reference's whole purpose (bulk load into a live DB,
    run_engine.py:255-266) driven from a Structured Stream.

    Per micro-batch:

    1. the batch bulk-appends (partition-parallel JDBC, sinks/jdbc
       ``write_table``) into a batch_id-scoped STAGING table — replayed
       batches overwrite the same staging table, so this step is
       harmlessly re-runnable;
    2. ONE transaction (``execute_transaction``) publishes staging →
       target AND records batch_id in a DB-resident ledger table —
       target and ledger move atomically, so a crash anywhere leaves at
       worst an orphan staging table, never duplicated target rows
       (the replay path reaps the orphan with a best-effort DROP);
    3. batch_ids already in the ledger drain through the noop sink
       (Spark 4 validates every partition is processed). The membership
       probe is a single-row driver-side SELECT (``query_values``), not
       a Spark scan of the whole ledger per batch.

    The ledger lives IN the target database (``<table>_LEDGER``) — the
    parquet-ledger recipe above cannot protect a sink whose commit point
    is a DB transaction.

    ``checkpoint_dir`` is REQUIRED, and the guarantee is only as durable
    as it is: the ledger de-duplicates by batch_id, and batch_ids are
    monotonic only within one checkpoint lineage. Discard the checkpoint
    while the ledger persists and a NEW batch restarts at id 0, collides
    with the committed row, and is silently skipped — i.e. dropped data,
    not duplicated data. (Replaying identical source data against a
    fresh checkpoint — the recovery drill the test exercises — is safe
    precisely because the colliding batch carries the same rows.)

    Default complete mode: each batch republishes the full aggregate;
    the publish transaction therefore DELETEs the target first
    (same-transaction, still atomic). For append-mode map-only streams
    pass ``output_mode="append"`` — the DELETE is skipped and batches
    accumulate."""
    from ..sinks.jdbc import (
        execute_statements,
        execute_transaction,
        query_values,
        write_table,
    )

    spark = sdf.sparkSession
    ledger = f"{table}_LEDGER"
    execute_statements(
        spark,
        target,
        [f"CREATE TABLE {ledger} (BATCH_ID BIGINT NOT NULL PRIMARY KEY)"],
        continue_on_error=True,  # exists-already is fine (no portable IF NOT EXISTS)
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        committed = query_values(
            spark,
            target,
            f"SELECT BATCH_ID FROM {ledger} WHERE BATCH_ID = {int(batch_id)}",
        )
        if committed:
            # a crash BETWEEN the publish transaction and DROP TABLE
            # leaves this batch's staging table orphaned; the replay
            # path is the natural reaper (best-effort — absent is fine)
            execute_statements(
                spark,
                target,
                [f"DROP TABLE {table}_STG_{batch_id}"],
                continue_on_error=True,
            )
            batch_df.write.format("noop").mode("overwrite").save()
            return
        staging = f"{table}_STG_{batch_id}"
        # ensure the target exists before INSERT..SELECT (JDBC append
        # auto-creates from the df schema; a 0-row append is a no-op on
        # an existing table)
        write_table(batch_df.limit(0), target, table)
        write_table(
            batch_df,
            target,
            staging,
            mode="overwrite",
            batchsize=batchsize,
            num_partitions=num_partitions,
        )
        publish = [f"DELETE FROM {table}"] if output_mode == "complete" else []
        execute_transaction(
            spark,
            target,
            [
                *publish,
                f"INSERT INTO {table} SELECT * FROM {staging}",
                f"INSERT INTO {ledger} (BATCH_ID) VALUES ({int(batch_id)})",
            ],
        )
        execute_statements(spark, target, [f"DROP TABLE {staging}"])

    writer = (
        sdf.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
