"""Streaming corpus ingest with incremental near-dup rejection: the
daily-crawl shape — every arriving micro-batch of documents is deduped
against the ENTIRE previously-accepted corpus (via the persisted
bucketed LSH index) and against itself, survivors land in the corpus
parquet AND their signatures extend the index, so batch N+1 dedups
against batches 1..N without ever re-signing or re-shuffling them.

Composes existing primitives: ``dedup.build_lsh_index`` /
``dedup.dedup_incremental`` / ``dedup.connected_components``
(operators/dedup.py) and the idempotent batch-ledger recipe
(streaming/batch_sink.py). The index side of the join never shuffles
(bucketed by (band, band_sig) — plan-locked in tests/test_llm_ops.py);
each batch's signatures are computed exactly ONCE and reused for the
in-batch join, the cross-corpus join, and the index append.

In-batch semantics are CLUSTER dedup (the dedup_cluster/SemDeDup rule,
not greedy pairwise): near-dup pairs form connected components and the
LOWEST doc_id of each component survives. Greedy pairwise rejection is
order-dependent and wrong under transitivity — with B a dup of both A
and C (but A~C below threshold), pairwise drops B *and* C while the
component rule keeps {A}, C having been reachable from A through B.
The cross-corpus check then applies to the component survivors.

Replay semantics: committed batch_ids drain through the noop sink. A
crash between the survivor write and the ledger append replays the
batch; the survivor write is batch-id-scoped overwrite (harmless), the
index append however re-appends signatures — duplicate index rows cost
space, never correctness (candidate pairs are dropDuplicates'd and a
doc already in the corpus rejects its replayed twin anyway).
``compact_index`` removes the accumulated twins offline (one
dropDuplicates pass, bucketed rewrite in place); pass
``compact_every=N`` to ``write_stream_dedup_ingest`` to run it every N
committed batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..operators.dedup import build_lsh_index, connected_components, dedup_incremental
from ..sinks.parquet_layout import read_bucketed, write_bucketed
from .batch_sink import drain_if_committed, mark_batch_committed

_N_BUCKETS = 4


def stream_documents(spark: SparkSession, path: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a directory of documents parquet files
    (schema pinned from the files present at start — the
    ``stream_events`` contract). ``max_files_per_trigger=1`` makes each
    arriving file its own micro-batch, the unit the dedup ingest
    reasons about."""
    schema = spark.read.parquet(path).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(path)
    )


def bootstrap_index(docs: DataFrame, index_table: str, path: str) -> None:
    """Create the corpus LSH index table (possibly from an empty seed
    corpus) bucketed by (band, band_sig) so every later ingest batch
    joins against it shuffle-free."""
    write_bucketed(
        build_lsh_index(docs), index_table, ["band", "band_sig"], _N_BUCKETS, path=path
    )


def ensure_index(
    spark: SparkSession,
    index_table: str,
    path: str,
    docs_src: "str | DataFrame | None" = None,
) -> str:
    """Make ``index_table`` resolvable in THIS session's catalog without
    destroying prior state. The index's bucket metadata lives in Spark's
    catalog — in-memory and per-process here (no Hive metastore) — while
    the index DATA outlives the process at ``path``. A fresh process
    resuming a daily-crawl ingest must therefore re-REGISTER the
    existing files, never re-bootstrap over them: bootstrapping
    unconditionally would overwrite the index with an empty table and
    every near-dup of the prior crawls would be silently re-accepted.

    Resolution order:

    1. already in the catalog → no-op (``"exists"``);
    2. ``path`` holds previously-written index files → re-register the
       external table over them with the same (band, band_sig) bucket
       spec, so ingest joins stay shuffle-free (``"registered"``);
    3. nothing anywhere → bootstrap a fresh index (``"bootstrapped"``);
       ``docs_src`` seeds it — a documents DataFrame (possibly a real
       seed corpus to sign), or a parquet directory whose schema makes
       the empty frame, or None → ``ValueError`` (a maintenance command
       pointed at a missing index must fail loudly, not invent one).

    With a persistent metastore configured this degrades to the
    ``"exists"`` fast path after the first call.
    """
    from pyspark.errors import AnalysisException

    if spark.catalog.tableExists(index_table):
        return "exists"
    # normalize relative local paths: CREATE TABLE LOCATION and
    # saveAsTable(option("path")) would otherwise anchor them differently
    loc = path if "://" in path else os.path.abspath(path)
    try:
        existing = spark.read.parquet(loc)
    except AnalysisException:  # path absent, or no schema-bearing files
        existing = None
    if existing is not None:
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in existing.schema.fields
        )
        spark.sql(
            f"CREATE TABLE `{index_table}` ({cols}) USING PARQUET "
            f"CLUSTERED BY (band, band_sig) INTO {_N_BUCKETS} BUCKETS "
            f"LOCATION '{loc}'"
        )
        return "registered"
    if docs_src is None:
        raise ValueError(
            f"index table {index_table!r} is not in the catalog and {loc!r} "
            "holds no index files — run ingest first (or pass docs_src to "
            "bootstrap a fresh index)"
        )
    docs = (
        docs_src
        if isinstance(docs_src, DataFrame)
        else spark.createDataFrame([], spark.read.parquet(docs_src).schema)
    )
    bootstrap_index(docs, index_table, loc)
    return "bootstrapped"


def _table_location(spark: SparkSession, table_name: str) -> str | None:
    """Storage location of a catalog table (None for managed tables whose
    location Spark should keep choosing itself)."""
    for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_name}").collect():
        if r.col_name == "Location":
            return r.data_type
    return None


def compact_index(spark: SparkSession, index_table: str) -> int:
    """Offline compaction of the corpus LSH index: crash-replays of an
    ingest batch re-append that batch's signatures (see module
    docstring), so the index accumulates exact twin rows — a space cost,
    never a correctness one. This rewrites the table to one row per
    (doc_id, band), the clean ``build_lsh_index`` invariant, preserving
    the table's location and its (band, band_sig) bucketing so every
    later ingest join stays shuffle-free.

    The compacted rows are pinned via ``checkpoint_pinned(eager=True)``
    BEFORE the overwrite: the rewrite must not read the files it is
    replacing (Spark rejects self-overwrite at analysis time), and a
    cut lineage fails loudly rather than recomputing mid-write. With
    ``sc.setCheckpointDir`` configured the pin survives executor loss;
    if the driver dies mid-overwrite the index is rebuildable from the
    corpus parquet (``bootstrap_index`` — the index is derived state,
    a cache of signatures, never the only copy of anything).

    Returns the number of duplicate rows removed.
    """
    from ..operators.skew import checkpoint_pinned

    idx = read_bucketed(spark, index_table)
    # cheap no-op detection FIRST (ONE aggregation job, no checkpoint):
    # the common case — a crash-free ingest with compact_every set — must
    # not pay an O(index) checkpoint materialization every Nth batch just
    # to discover there is nothing to remove
    total, distinct = idx.agg(
        F.count(F.lit(1)), F.count_distinct("doc_id", "band")
    ).first()
    removed = total - distinct
    if not removed:
        return 0
    loc = _table_location(spark, index_table)
    compacted = checkpoint_pinned(
        idx.dropDuplicates(["doc_id", "band"]), eager=True
    )
    write_bucketed(
        compacted, index_table, ["band", "band_sig"], _N_BUCKETS, path=loc
    )
    return removed


def compact_corpus(
    spark: SparkSession,
    out_path: str,
    target_file_bytes: int = 128 << 20,
    n_files: int | None = None,
) -> dict:
    """Small-files maintenance for the ingest corpus: every micro-batch
    writes its own ``batch_id=N`` directory (the unit of idempotent
    replay and takedown pruning), so a long-running daily crawl
    accumulates one tiny parquet file per batch — the many-small-files
    failure mode ``sinks/parquet_layout.py`` exists to prevent. This
    merges every ledger-COMMITTED batch directory (plus any previous
    base) into one ``batch_id=-1`` base partition with ~one file per
    ``target_file_bytes`` of input, then removes the merged
    directories. Streaming batch ids are nonnegative and increasing, so
    the base id can never collide with a future batch.

    Safety contract (run in a maintenance window, stream stopped, like
    the other maintenance helpers):

    - only committed batches merge — a crash-orphan directory (written,
      never committed) will be OVERWRITTEN by its replay and must keep
      its identity;
    - the batch ledger is untouched, so replays of merged batches still
      drain through ``drain_if_committed`` without touching data;
    - rows dedupe by doc_id during the merge, making the operation
      self-healing: a crash between the base write and the directory
      removals leaves duplicate rows visible until ``compact_corpus``
      runs again, at which point they collapse (doc_id uniqueness is
      the invariant the dedup pipeline maintains);
    - ``forget_documents`` keeps working afterwards: the base is just
      another batch partition to it.

    Returns {"batches_merged", "rows", "files_before", "files_after"}.
    """
    from ..operators.skew import checkpoint_pinned
    from .batch_sink import committed_batch_ids

    data = os.path.join(out_path, "data")
    jvm = spark._sc._jvm  # noqa: SLF001 — Hadoop FS API lives JVM-side
    hpath = jvm.org.apache.hadoop.fs.Path(data)
    fs = hpath.getFileSystem(spark._sc._jsc.hadoopConfiguration())  # noqa: SLF001
    committed = committed_batch_ids(spark, out_path)
    to_merge, total_bytes, files_before = [], 0, 0
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.startswith("batch_id="):
            continue
        b = int(name.split("=", 1)[1])
        if b >= 0 and b not in committed:
            continue  # crash orphan: its replay owns this directory
        parts = [
            f for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        ]
        to_merge.append(b)
        total_bytes += sum(f.getLen() for f in parts)
        files_before += len(parts)
    if len(to_merge) < 2:
        return {
            "batches_merged": 0, "rows": 0,
            "files_before": files_before, "files_after": files_before,
        }
    if n_files is None:
        n_files = max(1, round(total_bytes / target_file_bytes))
    merged = checkpoint_pinned(
        spark.read.option("basePath", data)
        .parquet(*[os.path.join(data, f"batch_id={b}") for b in to_merge])
        .drop("batch_id")
        .dropDuplicates(["doc_id"]),
        eager=True,
    )
    rows = merged.count()
    merged.repartition(n_files).write.mode("overwrite").parquet(
        os.path.join(data, "batch_id=-1")
    )
    for b in to_merge:
        if b != -1:
            fs.delete(jvm.org.apache.hadoop.fs.Path(
                os.path.join(data, f"batch_id={b}")
            ), True)
    files_after = sum(
        1 for f in fs.listStatus(jvm.org.apache.hadoop.fs.Path(
            os.path.join(data, "batch_id=-1")
        )) if f.getPath().getName().endswith(".parquet")
    )
    return {
        "batches_merged": len(to_merge), "rows": rows,
        "files_before": files_before, "files_after": files_after,
    }


def forget_documents(
    spark: SparkSession,
    index_table: str,
    out_path: str,
    doc_ids,
) -> dict:
    """Right-to-be-forgotten / takedown over the ingested corpus: remove
    ``doc_ids`` consistently from BOTH the corpus parquet and the LSH
    index, so the documents are gone from every downstream read AND
    future near-copies of them are accepted again (a forgotten document
    must not keep rejecting its own resubmission through leftover
    signatures — that would be remembering it).

    ``doc_ids`` is an iterable of ids or a one-column DataFrame.

    Scale shape: takedown lists are small (broadcast); only the batch
    partitions that actually CONTAIN a target are rewritten — the
    ``batch_id=N`` directory layout the ingest writes is the pruning
    unit, every other batch's files are untouched bytes. The index
    rewrite is one linear anti-join pass that also dedups replay twins
    (a takedown doubles as a compaction — same recipe as
    ``compact_index``). At 100 TB batch takedown requests and run this
    periodically, not per-request; the batch ledger is NOT touched
    (the batches stay committed — replays of them would re-dedup their
    survivors and re-reject nothing that matters, since the forgotten
    doc's signatures are gone from the index by then).

    Returns {"docs_removed", "index_rows_removed", "batches_rewritten"}.
    """
    from ..operators.skew import checkpoint_pinned

    if not isinstance(doc_ids, DataFrame):
        doc_ids = spark.createDataFrame(
            [(int(i),) for i in doc_ids], "doc_id bigint"
        )
    ids = F.broadcast(
        doc_ids.select(F.col(doc_ids.columns[0]).alias("doc_id")).distinct()
    )

    data = spark.read.option("basePath", os.path.join(out_path, "data")).parquet(
        os.path.join(out_path, "data")
    )
    # one job finds the hit partitions AND the per-batch removal counts —
    # the rewrite loop below must not rescan a partition just to count
    hits = {
        r["batch_id"]: r["count"]
        for r in data.join(ids, "doc_id", "left_semi")
        .groupBy("batch_id")
        .count()
        .collect()
    }
    docs_removed = sum(hits.values())
    for b in sorted(hits):
        path = os.path.join(out_path, "data", f"batch_id={b}")
        batch = spark.read.parquet(path)
        kept = checkpoint_pinned(batch.join(ids, "doc_id", "left_anti"), eager=True)
        # a fully-emptied partition still writes a schema-bearing empty
        # part file (Spark 4 FileFormatWriter), so later corpus reads
        # keep working — locked by
        # tests/test_streaming.py::test_forget_all_documents_keeps_corpus_readable;
        # rebalance sizes the rewritten files by bytes, as the ingest does
        kept.hint("rebalance").write.mode("overwrite").parquet(path)

    idx = read_bucketed(spark, index_table)
    idx_total = idx.count()
    scrubbed = checkpoint_pinned(
        idx.join(ids, "doc_id", "left_anti").dropDuplicates(["doc_id", "band"]),
        eager=True,
    )
    index_rows_removed = idx_total - scrubbed.count()
    if index_rows_removed:
        write_bucketed(
            scrubbed,
            index_table,
            ["band", "band_sig"],
            _N_BUCKETS,
            path=_table_location(spark, index_table),
        )
    return {
        "docs_removed": docs_removed,
        "index_rows_removed": index_rows_removed,
        "batches_rewritten": len(hits),
    }


def verify_index(spark: SparkSession, index_table: str, out_path: str) -> dict:
    """Maintenance audit closing the ingest loop: the persisted LSH
    index must equal ``build_lsh_index`` of the current corpus as a
    (doc_id, band, band_sig) SET — same signatures, no stale rows for
    forgotten docs, no missing rows for accepted ones. Twin rows from
    un-compacted crash replays are tolerated (they are a space matter;
    ``compact_index`` removes them) but any row signature-mismatched or
    present on one side only is a real inconsistency: run after
    ``forget_documents``/``compact_index`` in a maintenance window, and
    rebuild with ``bootstrap_index`` when it reports drift.

    Scale shape: ONE re-sign pass over the corpus (map-side, the same
    cost as one ingest batch per unit of corpus) and ONE full-outer join
    of the two per-key-grouped sides, keyed by (doc_id, band, band_sig)
    — linear, no quadratics. (Pre-r18 this was two separate anti-join
    count jobs sharing the uncached ``expected`` frame, so the corpus
    re-sign — the expensive map work — ran TWICE; guide §1.2, don't
    compute things twice. Counting semantics are unchanged:
    ``expected`` is one row per (doc_id, band) by build_lsh_index
    construction, so grouping it cannot collapse rows, and the stale
    count sums the ACTUAL side's per-key multiplicity so un-compacted
    replay twins of a genuinely-stale key still count each row, exactly
    as the left_anti count did.)

    Returns {"ok", "missing_from_index", "stale_in_index"}.
    """
    keys = ["doc_id", "band", "band_sig"]
    expected = (
        build_lsh_index(
            spark.read.parquet(os.path.join(out_path, "data")).drop("batch_id")
        )
        .select(*keys)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__e_cnt"))
    )
    actual = (
        read_bucketed(spark, index_table)
        .select(*keys)
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__a_cnt"))
    )
    row = (
        expected.join(actual, keys, "full_outer")
        .agg(
            F.sum(
                F.when(F.col("__a_cnt").isNull(), F.col("__e_cnt")).otherwise(F.lit(0))
            ).alias("missing"),
            F.sum(
                F.when(F.col("__e_cnt").isNull(), F.col("__a_cnt")).otherwise(F.lit(0))
            ).alias("stale"),
        )
        .first()
    )
    missing = int(row["missing"] or 0)
    stale = int(row["stale"] or 0)
    return {
        "ok": missing == 0 and stale == 0,
        "missing_from_index": missing,
        "stale_in_index": stale,
    }


def write_stream_dedup_ingest(
    docs: DataFrame,
    index_table: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Drain a documents stream through incremental near-dup rejection.

    Per micro-batch:

    1. rows sharing a doc_id collapse to one (deterministically: lowest
       text) — exact same-key duplicates within a crawl file must not
       double-land in the corpus;
    2. in-batch: near-dup pairs (bucket join of the batch's banded
       signatures against themselves, est_jaccard >= ``threshold``)
       form connected components; the lowest doc_id per component
       survives (see module docstring for why pairwise is wrong);
    3. cross-corpus: the in-batch survivors' signatures join the
       persisted index; any hit rejects the doc;
    4. survivors append to ``<out_path>/data/batch_id=N`` (idempotent
       batch-scoped overwrite) and their signatures (reused, not
       recomputed) append to the bucketed index table, so subsequent
       batches dedup against them. File counts follow bytes and
       buckets, never ``spark.sql.shuffle.partitions``: the survivor
       write is a ``rebalance`` whose files AQE sizes by bytes (one file
       per directory at trigger scale), and the index append writes at
       most ``_N_BUCKETS`` files (``write_bucketed``), so a trigger's
       cost does not grow with the number of triggers before it;
    5. with ``compact_every=N``, every Nth committed batch runs
       ``compact_index`` so crash-replay signature twins never
       accumulate unboundedly (runs AFTER the ledger commit — a crash
       during compaction replays nothing).
    """
    spark = docs.sparkSession

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if drain_if_committed(spark, batch_df, out_path, batch_id):
            return
        one_per_id = Window.partitionBy("doc_id").orderBy("text")
        batch = (
            batch_df.withColumn("__rn", F.row_number().over(one_per_id))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .persist()
        )
        banded = build_lsh_index(batch).persist()
        survivors = None
        try:
            # 2. in-batch component dedup (signatures from `banded`)
            edges = (
                dedup_incremental(None, banded, new_index=banded)
                .filter(F.col("est_jaccard") >= threshold)
                .filter(F.col("new_doc_id") < F.col("corpus_doc_id"))
                .select(
                    F.col("new_doc_id").alias("src"),
                    F.col("corpus_doc_id").alias("dst"),
                )
            )
            comp = connected_components(edges).select(
                F.col("node").alias("doc_id"), F.col("label").alias("__rep")
            )
            reps = (
                batch.select("doc_id")
                .join(comp, "doc_id", "left")
                .filter(
                    F.coalesce(F.col("__rep"), F.col("doc_id")) == F.col("doc_id")
                )
                .select("doc_id")
            )
            rep_banded = banded.join(reps, "doc_id", "left_semi")
            # 3. cross-corpus rejection of the component survivors
            corpus_dupes = (
                dedup_incremental(
                    None, read_bucketed(spark, index_table), new_index=rep_banded
                )
                .filter(F.col("est_jaccard") >= threshold)
                .select(F.col("new_doc_id").alias("doc_id"))
                .distinct()
            )
            survivor_ids = reps.join(corpus_dupes, "doc_id", "left_anti")
            survivors = batch.join(survivor_ids, "doc_id", "left_semi").persist()
            # rebalance: AQE sizes the files by bytes (one at trigger
            # scale), not one per shuffle partition
            survivors.hint("rebalance").write.mode("overwrite").parquet(
                os.path.join(out_path, "data", f"batch_id={batch_id}")
            )
            # 4. index append reuses the cached signatures
            write_bucketed(
                banded.join(
                    survivors.select("doc_id"), "doc_id", "left_semi"
                ),
                index_table,
                ["band", "band_sig"],
                _N_BUCKETS,
                mode="append",
            )
            mark_batch_committed(spark, out_path, batch_id)
            if compact_every and (batch_id + 1) % compact_every == 0:
                compact_index(spark, index_table)
        finally:
            if survivors is not None:
                survivors.unpersist()
            banded.unpersist()
            batch.unpersist()

    writer = (
        docs.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
