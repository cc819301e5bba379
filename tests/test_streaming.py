"""Structured-Streaming parity + watermark semantics.

Parity rule: a run-to-completion stream over the same file must equal the
batch operator's result row-for-row (the streaming plan reuses the batch
expressions — streaming/events_stream.py).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from synthetic_data_transfer_to_relational_database_spark.operators import events as batch_events
from synthetic_data_transfer_to_relational_database_spark.streaming.events_stream import (
    run_to_completion,
    session_agg,
    sliding_agg,
    stream_events,
    tumbling_agg,
)
from synthetic_data_transfer_to_relational_database_spark.streaming.stateful import (
    user_profile_stream,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stream_tumbling_matches_batch(spark):
    got = run_to_completion(tumbling_agg(stream_events(spark, SF_DIR)), "complete")
    want = batch_events.QUERIES["events_tumbling"](spark, SF_DIR)
    assert _rows(got) == _rows(want)


def test_stream_sliding_matches_batch(spark):
    got = run_to_completion(sliding_agg(stream_events(spark, SF_DIR)), "complete")
    want = batch_events.QUERIES["events_sliding"](spark, SF_DIR)
    assert _rows(got) == _rows(want)


def test_stream_session_matches_batch(spark):
    got = run_to_completion(session_agg(stream_events(spark, SF_DIR)), "complete")
    want = batch_events.QUERIES["events_session"](spark, SF_DIR)
    assert _rows(got) == _rows(want)


def test_stream_append_watermark_drops_open_windows(spark):
    """Append mode emits only windows the watermark has closed: with a
    finite stream the trailing window(s) stay open — emitted rows must be
    a strict subset of the batch result, all with win_start strictly
    before the final watermark cut."""
    got = run_to_completion(
        tumbling_agg(stream_events(spark, SF_DIR), watermark="0 seconds"), "append"
    )
    want = batch_events.QUERIES["events_tumbling"](spark, SF_DIR)
    got_rows, want_rows = set(_rows(got)), set(_rows(want))
    assert got_rows <= want_rows
    assert len(got_rows) < len(want_rows)  # open windows withheld
    # every batch row missing from the stream belongs to the un-closed tail
    max_emitted = max(r[0] for r in got_rows)
    missing = want_rows - got_rows
    assert all(r[0] > max_emitted for r in missing)


def test_stateful_user_profile(spark):
    got = run_to_completion(user_profile_stream(stream_events(spark, SF_DIR)), "update")
    # single micro-batch -> exactly one emission per user; totals must
    # equal the batch groupBy
    from synthetic_data_transfer_to_relational_database_spark.sources.tables import table

    e = table(spark, SF_DIR, "events")
    want = (
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )
    assert _rows(got.select("user_id", "n_events", "value_cents", "first_ts", "last_ts")) == _rows(
        want
    )


def test_stream_stream_join_matches_batch(spark):
    """Stream-stream interval join (both sides watermarked) must produce
    exactly the batch interval-join result when run to completion."""
    from synthetic_data_transfer_to_relational_database_spark.sources.tables import table
    from synthetic_data_transfer_to_relational_database_spark.streaming.joins import (
        clicks_views_within,
    )

    got = run_to_completion(
        clicks_views_within(stream_events(spark, SF_DIR), minutes=30), "append"
    )

    e = table(spark, SF_DIR, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    want = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("c_user", "click_id", "click_ts", "view_id", "view_ts")

    assert _rows(got) == _rows(want)


def test_foreachbatch_parquet_sink_idempotent(spark, tmp_path):
    """foreachBatch sink writes partitioned parquet once per batch_id;
    replaying the same stream (fresh checkpoint, same data => same batch
    ids) must not duplicate rows."""
    from synthetic_data_transfer_to_relational_database_spark.sources.tables import table
    from synthetic_data_transfer_to_relational_database_spark.streaming.batch_sink import (
        read_sink,
        write_stream_to_parquet,
    )

    out = str(tmp_path / "events_sink")
    agg = tumbling_agg(stream_events(spark, SF_DIR))

    q = write_stream_to_parquet(agg.withColumn("event_type", F.col("event_type")), out)
    q.awaitTermination()
    n1 = read_sink(spark, out).count()

    # same source, fresh checkpoint -> batch 0 replays; ledger must skip it
    q2 = write_stream_to_parquet(tumbling_agg(stream_events(spark, SF_DIR)), out)
    q2.awaitTermination()
    n2 = read_sink(spark, out).count()

    assert n1 > 0
    assert n2 == n1  # no duplicates
    want = batch_events.QUERIES["events_tumbling"](spark, SF_DIR)
    assert n1 == want.count()


def test_foreachbatch_jdbc_sink_exactly_once(spark, tmp_path):
    """Streaming ingest into the relational target — the reference's bulk
    load driven from a stream: tumbling agg → foreachBatch → staging
    table → ONE transaction publishing staging + ledger row (Derby).
    Replaying the stream (fresh checkpoint, same data ⇒ same batch_ids)
    must hit the DB ledger and not duplicate target rows."""
    from synthetic_data_transfer_to_relational_database_spark.sinks.jdbc import (
        JdbcTarget,
        read_table,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.batch_sink import (
        write_stream_to_jdbc,
    )

    db = tmp_path / "derby_stream"
    target = JdbcTarget(url=f"jdbc:derby:{db};create=true", dialect="derby")

    q = write_stream_to_jdbc(
        tumbling_agg(stream_events(spark, SF_DIR)), target, "EventAgg",
        checkpoint_dir=str(tmp_path / "cp1"), num_partitions=2,
    )
    q.awaitTermination()
    got = read_table(spark, target, "EventAgg")
    want = batch_events.QUERIES["events_tumbling"](spark, SF_DIR)
    assert _rows(got) == _rows(want)

    # lost checkpoint + identical source replay → batch 0 recurs; the DB
    # ledger must skip it (safe ONLY because the data is identical — see
    # the sink docstring's durability contract)
    q2 = write_stream_to_jdbc(
        tumbling_agg(stream_events(spark, SF_DIR)), target, "EventAgg",
        checkpoint_dir=str(tmp_path / "cp2"), num_partitions=2,
    )
    q2.awaitTermination()
    assert _rows(read_table(spark, target, "EventAgg")) == _rows(want)

    # proper restart (same checkpoint, no new files) → no batch at all
    q3 = write_stream_to_jdbc(
        tumbling_agg(stream_events(spark, SF_DIR)), target, "EventAgg",
        checkpoint_dir=str(tmp_path / "cp1"), num_partitions=2,
    )
    q3.awaitTermination()
    assert _rows(read_table(spark, target, "EventAgg")) == _rows(want)


def test_stream_jdbc_exactly_once_registry_entry_matches_batch(spark):
    """The driver-facing stream_jdbc_exactly_once entry (run → restart
    drill → JDBC read-back) must reproduce the batch events_tumbling
    result row-for-row — the sink protocol adds durability, never rows."""
    from synthetic_data_transfer_to_relational_database_spark.operators.streaming_ops import (
        QUERIES as STREAM_QUERIES,
    )

    got = STREAM_QUERIES["stream_jdbc_exactly_once"](spark, SF_DIR)
    want = batch_events.QUERIES["events_tumbling"](spark, SF_DIR)
    assert _rows(got) == _rows(want)


def test_stream_dedup_ingest_rejects_cross_and_in_batch_dups(spark, tmp_path):
    """Streaming ingest with incremental near-dup rejection: batch 1
    seeds the corpus; batch 2 carries an exact copy of a batch-1 doc
    (must be rejected via the persisted index), an in-batch duplicate
    pair (higher doc_id rejected), and fresh docs (must survive).
    A restart against the same checkpoint must add nothing."""
    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        bootstrap_index,
        stream_documents,
        write_stream_dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()

    def mk(doc_id, text):
        return {"doc_id": doc_id, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    base = "the quick brown fox jumps over the lazy dog again and again today"
    b1 = pd.DataFrame([mk(1, base), mk(2, "completely different words about spark engines")])
    b1.to_parquet(src / "b1.parquet", index=False)

    index_table = "t_ingest_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
    bootstrap_index(empty, index_table, str(tmp_path / "idx"))

    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    def run():
        write_stream_dedup_ingest(
            stream_documents(spark, str(src)), index_table, out, ckpt
        ).awaitTermination()

    run()
    first = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert first == {1, 2}

    b2 = pd.DataFrame(
        [
            mk(10, base),  # near-copy of doc 1 -> rejected via index
            mk(11, "fresh unique content nothing like anything previous"),
            mk(12, "identical twin sentence appearing twice in this batch"),
            mk(13, "identical twin sentence appearing twice in this batch"),
        ]
    )
    b2.to_parquet(src / "b2.parquet", index=False)
    run()
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs == {1, 2, 11, 12}, docs  # 10 cross-dup, 13 in-batch dup

    run()  # restart drill: no new files -> nothing changes
    again = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert again == docs
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_stream_dedup_ingest_cluster_semantics_and_id_collapse(spark, tmp_path):
    """The in-batch rule is CLUSTER dedup: all near-dup pairs form
    components and only the component-minimum doc survives (three
    mutually-similar variants -> one survivor, regardless of which
    pairs the bands happened to surface). Rows sharing a doc_id
    collapse to a single row before any of it."""
    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        bootstrap_index,
        stream_documents,
        write_stream_dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()

    def mk(doc_id, text):
        return {"doc_id": doc_id, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    base = [f"tok{i:02d}" for i in range(12)]
    a = " ".join(base)
    b = " ".join(base[:-1] + ["varb"])  # one token differs from a
    c = " ".join(["varc"] + base[1:])   # one token differs from a
    batch = pd.DataFrame(
        [
            mk(1, a), mk(2, b), mk(3, c),
            mk(7, "same id twice this row and the next one"),
            mk(7, "same id twice this row and the next one"),
        ]
    )
    batch.to_parquet(src / "b1.parquet", index=False)

    index_table = "t_ingest_cluster_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
    bootstrap_index(empty, index_table, str(tmp_path / "idx"))

    out = str(tmp_path / "corpus")
    write_stream_dedup_ingest(
        stream_documents(spark, str(src)), index_table, out,
        str(tmp_path / "ckpt"), threshold=0.5,
    ).awaitTermination()

    rows = spark.read.parquet(f"{out}/data").collect()
    ids = sorted(r.doc_id for r in rows)
    # {1,2,3} one component -> survivor 1; 7 collapses to one row
    assert ids == [1, 7], ids
    assert len(rows) == 2
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_ensure_index_survives_process_restart(spark, tmp_path):
    """ensure_index (streaming/ingest.py): the catalog here is in-memory
    and per-process, so a fresh CLI invocation forgets the index TABLE
    while its FILES persist. ensure_index must re-REGISTER those files —
    the regression it guards: an unconditional bootstrap would overwrite
    the index with an empty table and every near-dup of prior crawls
    would be silently re-accepted — and the re-registered table must
    keep the (band, band_sig) bucket spec that makes ingest joins
    shuffle-free."""
    import shutil

    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        bootstrap_index,
        ensure_index,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
            (2, "completely different words about spark engines", "en", "s", 46),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    )
    table = "t_ensure_idx"
    path = str(tmp_path / "idx")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    bootstrap_index(docs, table, path)
    before = sorted(map(tuple, spark.table(table).collect()))
    assert before  # a non-empty index is what the overwrite bug destroys

    assert ensure_index(spark, table, path) == "exists"
    spark.sql(f"DROP TABLE {table}")  # external table: files persist —
    # exactly what a process restart does to the in-memory catalog
    assert ensure_index(spark, table, path) == "registered"
    assert sorted(map(tuple, spark.table(table).collect())) == before
    desc = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    assert desc.get("Num Buckets") == "4", desc
    assert "band" in desc.get("Bucket Columns", ""), desc

    # nothing in the catalog AND nothing on disk: maintenance must fail
    # loudly, ingest (docs_src given) bootstraps fresh
    spark.sql(f"DROP TABLE {table}")
    shutil.rmtree(path)
    with pytest.raises(ValueError, match="no index files"):
        ensure_index(spark, table, path)
    assert ensure_index(spark, table, path, docs_src=docs.limit(0)) == "bootstrapped"
    assert spark.table(table).count() == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_corpus_merges_committed_batches(spark, tmp_path):
    """compact_corpus (streaming/ingest.py): committed batch_id dirs
    merge into one batch_id=-1 base (rows intact), a crash-orphan dir
    (written, never committed — its replay owns it) is untouched, the
    ledger keeps draining replays, and a crash between the base write
    and the dir removals self-heals on re-run via doc_id dedup."""
    import os

    from synthetic_data_transfer_to_relational_database_spark.streaming.batch_sink import (
        mark_batch_committed,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        compact_corpus,
    )

    out = str(tmp_path / "corpus")
    schema = "doc_id bigint, text string"

    def write_batch(b, committed=True):
        spark.createDataFrame(
            [(b * 10 + i, f"doc {b} {i}") for i in range(3)], schema
        ).write.mode("overwrite").parquet(
            os.path.join(out, "data", f"batch_id={b}")
        )
        if committed:
            mark_batch_committed(spark, out, b)

    for b in range(3):
        write_batch(b)
    write_batch(3, committed=False)  # crash orphan

    stats = compact_corpus(spark, out)
    assert stats["batches_merged"] == 3 and stats["rows"] == 9
    assert stats["files_after"] < stats["files_before"]
    data = spark.read.parquet(os.path.join(out, "data"))
    assert {r.batch_id for r in data.select("batch_id").distinct().collect()} == {-1, 3}
    assert data.count() == 12  # 9 merged + 3 orphan, nothing lost

    # only the base + the (still uncommitted) orphan remain -> no-op
    assert compact_corpus(spark, out)["batches_merged"] == 0

    # crash drill: deletion died after the base write — batch 2's rows
    # exist in BOTH the base and a leftover dir; re-running collapses them
    write_batch(2, committed=False)  # id 2 is already in the ledger
    again = compact_corpus(spark, out)
    assert again["batches_merged"] == 2  # base + resurrected dir
    assert again["rows"] == 9
    merged = spark.read.parquet(os.path.join(out, "data", "batch_id=-1"))
    assert merged.count() == 9

    # once the orphan's id commits (its replay finished), it merges too
    mark_batch_committed(spark, out, 3)
    final = compact_corpus(spark, out)
    assert final["batches_merged"] == 2 and final["rows"] == 12


def test_compact_index_restores_no_crash_rowcount(spark, tmp_path):
    """compact_index (streaming/ingest.py): a crash between the survivor
    write and the ledger append replays the batch's index append, so the
    index accumulates exact twin signature rows. Compaction must restore
    the no-crash row count (one row per (doc_id, band)), keep the table
    at its location with its (band, band_sig) bucketing, and be a no-op
    on an already-clean index."""
    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.operators.dedup import (
        build_lsh_index,
    )
    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        write_bucketed,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        _N_BUCKETS,
        bootstrap_index,
        compact_index,
        stream_documents,
        write_stream_dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()

    def mk(doc_id, text):
        return {"doc_id": doc_id, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    docs = pd.DataFrame(
        [
            mk(1, "the quick brown fox jumps over the lazy dog once"),
            mk(2, "completely different words about spark engines here"),
        ]
    )
    docs.to_parquet(src / "b1.parquet", index=False)

    index_table = "t_compact_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
    bootstrap_index(empty, index_table, str(tmp_path / "idx"))

    write_stream_dedup_ingest(
        stream_documents(spark, str(src)), index_table,
        str(tmp_path / "corpus"), str(tmp_path / "ckpt"),
    ).awaitTermination()
    clean = spark.table(index_table).count()
    assert clean > 0

    # clean index -> compaction is a pure no-op (zero removed, no rewrite)
    assert compact_index(spark, index_table) == 0
    assert spark.table(index_table).count() == clean

    # simulate the crash-replay: step 4's index append runs again
    replayed = build_lsh_index(
        spark.read.parquet(str(tmp_path / "corpus" / "data"))
    )
    write_bucketed(
        replayed, index_table, ["band", "band_sig"], _N_BUCKETS, mode="append"
    )
    assert spark.table(index_table).count() == 2 * clean

    assert compact_index(spark, index_table) == clean
    assert spark.table(index_table).count() == clean
    # bucketing metadata survives the rewrite (the shuffle-free-join
    # contract) and so does the external location
    detail = {
        r.col_name: r.data_type
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {index_table}").collect()
    }
    assert detail.get("Num Buckets") == str(_N_BUCKETS)
    assert "band" in detail.get("Bucket Columns", "")
    assert str(tmp_path / "idx") in detail.get("Location", "")
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_compact_every_wires_into_ingest(spark, tmp_path):
    """write_stream_dedup_ingest(compact_every=1) must leave the index
    clean (one row per (doc_id, band)) after every committed batch and
    not change WHAT is accepted — dedup results identical to the
    uncompacted run."""
    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        bootstrap_index,
        compact_index,
        stream_documents,
        write_stream_dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()

    def mk(doc_id, text):
        return {"doc_id": doc_id, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    base = "the quick brown fox jumps over the lazy dog again and again today"
    pd.DataFrame(
        [mk(1, base), mk(2, "completely different words about spark engines")]
    ).to_parquet(src / "b1.parquet", index=False)
    pd.DataFrame(
        [mk(10, base), mk(11, "fresh unique content nothing like the rest")]
    ).to_parquet(src / "b2.parquet", index=False)

    index_table = "t_compact_wire_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
    bootstrap_index(empty, index_table, str(tmp_path / "idx"))

    out = str(tmp_path / "corpus")
    write_stream_dedup_ingest(
        stream_documents(spark, str(src)), index_table, out,
        str(tmp_path / "ckpt"), compact_every=1,
    ).awaitTermination()

    ids = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert ids == {1, 2, 11}, ids  # 10 is the cross-batch near-dup
    # index already compact after the wired runs
    assert compact_index(spark, index_table) == 0
    idx = spark.table(index_table)
    assert idx.count() == idx.select("doc_id", "band").distinct().count()
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_forget_documents_scrubs_corpus_and_index(spark, tmp_path):
    """forget_documents (takedown / right-to-be-forgotten): the target
    doc disappears from the corpus parquet AND the LSH index, only the
    batch partitions containing it are rewritten, and — the defining
    invariant — a resubmitted near-copy of the forgotten document is
    ACCEPTED afterwards (leftover signatures must not keep rejecting
    it; that would be remembering the forgotten text)."""
    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        bootstrap_index,
        forget_documents,
        stream_documents,
        write_stream_dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()

    def mk(doc_id, text):
        return {"doc_id": doc_id, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    secret = "the secret recipe tokens appear only in this takedown doc"
    pd.DataFrame(
        [mk(1, secret), mk(2, "completely different words about spark engines")]
    ).to_parquet(src / "b1.parquet", index=False)
    pd.DataFrame(
        [mk(10, "fresh unique content nothing like anything previous")]
    ).to_parquet(src / "b2.parquet", index=False)

    index_table = "t_forget_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
    bootstrap_index(empty, index_table, str(tmp_path / "idx"))

    out = str(tmp_path / "corpus")

    def run():
        write_stream_dedup_ingest(
            stream_documents(spark, str(src)), index_table, out,
            str(tmp_path / "ckpt"),
        ).awaitTermination()

    run()
    assert {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()} == {1, 2, 10}
    # a near-copy of doc 1 is rejected while doc 1 is remembered
    pd.DataFrame([mk(20, secret)]).to_parquet(src / "b3.parquet", index=False)
    run()
    assert {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()} == {1, 2, 10}

    stats = forget_documents(spark, index_table, out, [1, 20])
    assert stats["docs_removed"] == 1          # 20 never landed
    assert stats["batches_rewritten"] == 1     # only doc 1's batch dir
    assert stats["index_rows_removed"] > 0
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs == {2, 10}
    assert spark.table(index_table).filter(F.col("doc_id") == 1).count() == 0
    # other docs' signatures intact
    assert spark.table(index_table).filter(F.col("doc_id") == 2).count() > 0

    # the forgotten text, resubmitted with a new id, is now ACCEPTED
    pd.DataFrame([mk(30, secret)]).to_parquet(src / "b4.parquet", index=False)
    run()
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs == {2, 10, 30}, docs
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_verify_index_detects_drift(spark, tmp_path):
    """verify_index: green on a healthy ingest, green after a takedown
    (forget_documents scrubs both sides), tolerant of crash-replay twin
    rows, and red with the offending counts when the index holds stale
    rows the corpus no longer backs."""
    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.operators.dedup import (
        build_lsh_index,
    )
    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        write_bucketed,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        _N_BUCKETS,
        bootstrap_index,
        forget_documents,
        stream_documents,
        verify_index,
        write_stream_dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()

    def mk(doc_id, text):
        return {"doc_id": doc_id, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    pd.DataFrame(
        [
            mk(1, "the quick brown fox jumps over the lazy dog once"),
            mk(2, "completely different words about spark engines here"),
        ]
    ).to_parquet(src / "b1.parquet", index=False)

    index_table = "t_verify_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
    bootstrap_index(empty, index_table, str(tmp_path / "idx"))
    out = str(tmp_path / "corpus")
    write_stream_dedup_ingest(
        stream_documents(spark, str(src)), index_table, out,
        str(tmp_path / "ckpt"),
    ).awaitTermination()

    assert verify_index(spark, index_table, out)["ok"]

    # crash-replay twins are a space matter, not drift
    corpus = spark.read.parquet(f"{out}/data").drop("batch_id")
    write_bucketed(
        build_lsh_index(corpus), index_table, ["band", "band_sig"],
        _N_BUCKETS, mode="append",
    )
    assert verify_index(spark, index_table, out)["ok"]

    # takedown keeps both sides consistent
    forget_documents(spark, index_table, out, [1])
    report = verify_index(spark, index_table, out)
    assert report["ok"], report

    # genuine drift: signatures for a doc the corpus never held
    fake = build_lsh_index(
        spark.createDataFrame([mk(99, "rows the corpus does not back")])
    )
    write_bucketed(
        fake, index_table, ["band", "band_sig"], _N_BUCKETS, mode="append"
    )
    report = verify_index(spark, index_table, out)
    assert not report["ok"]
    assert report["stale_in_index"] > 0
    assert report["missing_from_index"] == 0
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_compact_index_under_reliable_checkpoint_dir(spark, tmp_path):
    """compact_index's rewrite pins rows via checkpoint_pinned, which
    switches to RELIABLE checkpoints when sc.setCheckpointDir is
    configured (the cluster-scale setting — executor-resident blocks die
    with an executor mid-rewrite). Same compaction result, files under
    the configured dir."""
    import os as _os

    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.operators.dedup import (
        build_lsh_index,
    )
    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        write_bucketed,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        _N_BUCKETS,
        bootstrap_index,
        compact_index,
        stream_documents,
        write_stream_dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        [
            {"doc_id": 1, "text": "the quick brown fox leaps again",
             "lang": "en", "source": "s", "n_chars": 31},
            {"doc_id": 2, "text": "completely different spark words",
             "lang": "en", "source": "s", "n_chars": 32},
        ]
    ).to_parquet(src / "b1.parquet", index=False)

    index_table = "t_compact_reliable_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
    bootstrap_index(empty, index_table, str(tmp_path / "idx"))
    out = str(tmp_path / "corpus")
    write_stream_dedup_ingest(
        stream_documents(spark, str(src)), index_table, out,
        str(tmp_path / "ckpt"),
    ).awaitTermination()
    clean = spark.table(index_table).count()
    # replay twins
    write_bucketed(
        build_lsh_index(spark.read.parquet(f"{out}/data").drop("batch_id")),
        index_table, ["band", "band_sig"], _N_BUCKETS, mode="append",
    )

    ckpt = str(tmp_path / "reliable_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    try:
        assert compact_index(spark, index_table) == clean
        assert any(files for _, _, files in _os.walk(ckpt)), (
            "compaction did not use the reliable checkpoint dir"
        )
    finally:
        spark.sparkContext.setCheckpointDir(None)
    assert spark.table(index_table).count() == clean
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_ingest_files_are_bucketed_and_bounded_per_write(spark, tmp_path):
    """Every index part file holds only the rows of the bucket its name
    carries — ``pmod(hash(band, band_sig), n)``, the id Spark's
    bucketing assigns — after the trigger appends, a forget_documents
    rewrite and a compact_index rewrite: the catalog's bucket metadata
    is what lets the index join skip its shuffle, so a file holding a
    foreign bucket's rows would silently lose matches. And the file
    fan-out is set by buckets and bytes, never by the shuffle partition
    count: each trigger adds at most ``_N_BUCKETS`` index files and one
    file to its ``batch_id=N`` directory at this scale."""
    import glob
    import os as _os
    import random
    import re

    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.operators.dedup import (
        build_lsh_index,
    )
    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        write_bucketed,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        _N_BUCKETS,
        bootstrap_index,
        compact_index,
        forget_documents,
        stream_documents,
        verify_index,
        write_stream_dedup_ingest,
    )

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(500)]

    def mk(doc_id):
        text = " ".join(rng.choice(vocab) for _ in range(30))
        return {"doc_id": doc_id, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    src, idx, out = tmp_path / "src", tmp_path / "idx", tmp_path / "corpus"
    src.mkdir()

    def index_files():
        return sorted(glob.glob(str(idx / "*.parquet")))

    def assert_bucketed():
        rows = 0
        for f in index_files():
            bucket = int(re.match(r".*_(\d+)(?:\..*)?$", _os.path.basename(f)).group(1))
            got = spark.read.parquet(f).groupBy(
                F.expr(f"pmod(hash(band, band_sig), {_N_BUCKETS})").alias("b")
            ).count().collect()
            assert {r["b"] for r in got} <= {bucket}, (f, got)
            rows += sum(r["count"] for r in got)
        assert rows == spark.table(index_table).count() > 0

    index_table = "t_bucket_files_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    for b in range(3):
        pd.DataFrame([mk(100 * b + i) for i in range(12)]).to_parquet(
            src / f"b{b}.parquet", index=False
        )
        if b == 0:
            empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
            bootstrap_index(empty, index_table, str(idx))
        before = len(index_files())
        write_stream_dedup_ingest(
            stream_documents(spark, str(src)), index_table, str(out),
            str(tmp_path / "ckpt"),
        ).awaitTermination()
        assert len(index_files()) - before <= _N_BUCKETS
        assert len(glob.glob(str(out / "data" / f"batch_id={b}" / "*.parquet"))) == 1
    assert_bucketed()

    assert forget_documents(spark, index_table, str(out), [101])["index_rows_removed"] > 0
    assert len(index_files()) <= _N_BUCKETS
    assert_bucketed()

    # replay twins, so compact_index rewrites the table
    write_bucketed(
        build_lsh_index(spark.read.parquet(str(out / "data" / "batch_id=2"))),
        index_table, ["band", "band_sig"], _N_BUCKETS, mode="append",
    )
    assert compact_index(spark, index_table) > 0
    assert len(index_files()) <= _N_BUCKETS
    assert_bucketed()
    assert verify_index(spark, index_table, str(out))["ok"]
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


def test_forget_all_documents_keeps_corpus_readable(spark, tmp_path):
    """Takedown of EVERY document must leave the corpus readable (Spark
    writes a schema-bearing empty part file per emptied partition) —
    subsequent reads, verify_index, and further forget calls see an
    empty corpus, not an 'unable to infer schema' error."""
    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        bootstrap_index,
        forget_documents,
        stream_documents,
        verify_index,
        write_stream_dedup_ingest,
    )

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame(
        [
            {"doc_id": 1, "text": "the quick brown fox leaps once more",
             "lang": "en", "source": "s", "n_chars": 35},
            {"doc_id": 2, "text": "completely different spark engine words",
             "lang": "en", "source": "s", "n_chars": 39},
        ]
    ).to_parquet(src / "b1.parquet", index=False)

    index_table = "t_forget_all_idx"
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")
    empty = spark.createDataFrame([], spark.read.parquet(str(src)).schema)
    bootstrap_index(empty, index_table, str(tmp_path / "idx"))
    out = str(tmp_path / "corpus")
    write_stream_dedup_ingest(
        stream_documents(spark, str(src)), index_table, out,
        str(tmp_path / "ckpt"),
    ).awaitTermination()

    stats = forget_documents(spark, index_table, out, [1, 2])
    assert stats["docs_removed"] == 2
    assert spark.read.parquet(f"{out}/data").count() == 0
    assert spark.table(index_table).count() == 0
    report = verify_index(spark, index_table, out)
    assert report["ok"], report
    # a second takedown over the emptied corpus is a clean no-op
    again = forget_documents(spark, index_table, out, [1])
    assert again == {"docs_removed": 0, "index_rows_removed": 0,
                     "batches_rewritten": 0}
    spark.sql(f"DROP TABLE IF EXISTS {index_table}")


# ---------------------------------------------------------------------------
# Late-data drill: out-of-order replay across micro-batch boundaries.
# A multi-file source drained with maxFilesPerTrigger=1 makes the watermark
# advance BETWEEN files, so later files' rows are genuinely late rather than
# same-batch out-of-order. The pinned semantics (measured on this engine,
# and what these tests exist to catch regressions of):
#   - a late row MERGES into its window as long as the window's state is
#     still live — including arriving in the very batch whose watermark
#     finalizes that window (finalization+eviction happen at batch END);
#   - once a window has been finalized and evicted, an even-later row for
#     it is DROPPED: it is not recounted, produces NO duplicate emission
#     of the window, and does not advance the watermark;
#   - append mode emits a window exactly once, in the first batch whose
#     watermark ≥ window end; the trailing open window is withheld.
# ---------------------------------------------------------------------------


def _late_replay_source(spark, tmp_path, batches):
    """Write each batch as one parquet file with strictly increasing
    mtimes (FileStreamSource orders by modification time), return a
    1-file-per-trigger streaming reader over the directory."""
    import os
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()
    schema = "ts timestamp, user_id bigint, event_type string, value double"
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema=schema)
        stage = tmp_path / f"stage{i}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        dest = src / f"b{i}.parquet"
        part.rename(dest)
        t = _time.time() + i * 10  # widely spaced, order-proof mtimes
        os.utime(dest, (t, t))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )


def _dt(hhmm):
    import datetime

    h, m = divmod(hhmm, 100)
    return datetime.datetime(2026, 1, 1, h, m)


def test_tumbling_late_event_dropped_vs_merged(spark, tmp_path):
    """Batch 0 (10:05, 10:20, 11:55) leaves the watermark at 11:45.
    Batch 1 (13:10) runs WITH wm 11:45: window 10:00 is finalized and
    emitted at its end, wm moves to 13:00, finalizing window 11:00 next.
    Batch 2 (10:30) is then late for an evicted window → dropped: not
    recounted, no duplicate 10:00 emission, wm stays 13:00. Batch 3
    (15:00) closes 13:00; window 15:00 is withheld (open tail)."""
    events = _late_replay_source(
        spark,
        tmp_path,
        [
            [(_dt(1005), 1, "a", 1.0), (_dt(1020), 1, "a", 1.0), (_dt(1155), 1, "a", 1.0)],
            [(_dt(1310), 1, "a", 1.0)],
            [(_dt(1030), 1, "a", 1.0)],
            [(_dt(1500), 1, "a", 1.0)],
        ],
    )
    got = run_to_completion(tumbling_agg(events, watermark="10 minutes"), "append")
    rows = [(r["win_start"], r["n_events"]) for r in got.collect()]
    assert len(rows) == len(set(r[0] for r in rows)), "duplicate window emission"
    assert dict(rows) == {_dt(1000): 2, _dt(1100): 1, _dt(1300): 1}


def test_tumbling_late_event_merges_while_window_state_live(spark, tmp_path):
    """The merge side of the policy: batch 1's 10:30 is below the
    watermark (11:45) but window 10:00 has not been finalized yet —
    finalization happens at the END of the batch — so the row merges
    and the single emission of window 10:00 counts it. This is the
    semantics boundary a 'drop strictly below watermark' rewrite would
    silently change."""
    events = _late_replay_source(
        spark,
        tmp_path,
        [
            [(_dt(1005), 1, "a", 1.0), (_dt(1020), 1, "a", 1.0), (_dt(1155), 1, "a", 1.0)],
            [(_dt(1030), 1, "a", 1.0), (_dt(1310), 1, "a", 1.0)],
            [(_dt(1500), 1, "a", 1.0)],
        ],
    )
    got = run_to_completion(tumbling_agg(events, watermark="10 minutes"), "append")
    by_window = {r["win_start"]: r["n_events"] for r in got.collect()}
    assert by_window == {_dt(1000): 3, _dt(1100): 1, _dt(1300): 1}


def test_session_late_event_dropped_vs_merged(spark, tmp_path):
    """Same drill for session windows (30-min gap): batch 0 builds a
    2-event session 10:00–10:40 and a singleton at 12:00 (wm → 11:50);
    batch 1 (13:30) finalizes the first session and moves wm to 13:20;
    batch 2's 10:20 — which would have EXTENDED the first session —
    arrives after its eviction → dropped, no third count, no duplicate
    or shifted session emission; batch 3 (15:00) closes the rest.
    Expected: (10:00–10:40, 2), (12:00–12:30, 1), (13:30–14:00, 1)."""
    events = _late_replay_source(
        spark,
        tmp_path,
        [
            [(_dt(1000), 1, "a", 1.0), (_dt(1010), 1, "a", 1.0), (_dt(1200), 1, "a", 1.0)],
            [(_dt(1330), 1, "a", 1.0)],
            [(_dt(1020), 1, "a", 1.0)],
            [(_dt(1500), 1, "a", 1.0)],
        ],
    )
    got = run_to_completion(session_agg(events, watermark="10 minutes"), "append")
    rows = {
        (r["session_start"], r["session_end"], r["n_events"]) for r in got.collect()
    }
    assert rows == {
        (_dt(1000), _dt(1040), 2),
        (_dt(1200), _dt(1230), 1),
        (_dt(1330), _dt(1400), 1),
    }


def test_late_drill_batch_face_parity(spark, tmp_path):
    """Closes the loop between the two faces (r10 verdict item 6): the
    BATCH aggregation over the same out-of-order files equals the
    streaming run-to-completion result exactly where the policy says it
    must — and differs by exactly the policy where it says it may.

    - Merge drill (no evicted-window arrivals): batch == streaming plus
      the withheld open-tail window (append emits a window only once its
      watermark passes; batch has no watermark so the tail is present).
    - Drop drill (one arrival after eviction): batch counts the dropped
      row, streaming doesn't — the delta is exactly that one row in
      exactly that window, nothing else."""
    # merge drill files (test_tumbling_late_event_merges_while_window_state_live)
    merge_batches = [
        [(_dt(1005), 1, "a", 1.0), (_dt(1020), 1, "a", 1.0), (_dt(1155), 1, "a", 1.0)],
        [(_dt(1030), 1, "a", 1.0), (_dt(1310), 1, "a", 1.0)],
        [(_dt(1500), 1, "a", 1.0)],
    ]
    events = _late_replay_source(spark, tmp_path, merge_batches)
    stream_rows = {
        r["win_start"]: r["n_events"]
        for r in run_to_completion(tumbling_agg(events, watermark="10 minutes"), "append").collect()
    }
    batch_df = spark.read.parquet(str(tmp_path / "late_src"))
    batch_rows = {r["win_start"]: r["n_events"] for r in tumbling_agg(batch_df).collect()}
    open_tail = {_dt(1500): 1}
    assert batch_rows == {**stream_rows, **open_tail}

    # drop drill files (test_tumbling_late_event_dropped_vs_merged), fresh dir
    drop_dir = tmp_path / "drop"
    drop_dir.mkdir()
    drop_batches = [
        [(_dt(1005), 1, "a", 1.0), (_dt(1020), 1, "a", 1.0), (_dt(1155), 1, "a", 1.0)],
        [(_dt(1310), 1, "a", 1.0)],
        [(_dt(1030), 1, "a", 1.0)],
        [(_dt(1500), 1, "a", 1.0)],
    ]
    events = _late_replay_source(spark, drop_dir, drop_batches)
    stream_rows = {
        r["win_start"]: r["n_events"]
        for r in run_to_completion(tumbling_agg(events, watermark="10 minutes"), "append").collect()
    }
    batch_df = spark.read.parquet(str(drop_dir / "late_src"))
    batch_rows = {r["win_start"]: r["n_events"] for r in tumbling_agg(batch_df).collect()}
    # batch sees the 10:30 row the stream evicted-and-dropped: +1 in the
    # 10:00 window, open tail present, everything else identical
    assert batch_rows == {
        **stream_rows,
        _dt(1000): stream_rows[_dt(1000)] + 1,
        **{_dt(1500): 1},
    }


def test_late_drill_batch_face_parity_session(spark, tmp_path):
    """Same two-face assertion for session windows: batch over the drop
    drill's files re-extends the session the stream evicted (10:20
    bridges 10:00–10:40 into 10:00–10:50), so the delta is exactly one
    reshaped session plus the open tail."""
    drop_batches = [
        [(_dt(1000), 1, "a", 1.0), (_dt(1010), 1, "a", 1.0), (_dt(1200), 1, "a", 1.0)],
        [(_dt(1330), 1, "a", 1.0)],
        [(_dt(1020), 1, "a", 1.0)],
        [(_dt(1500), 1, "a", 1.0)],
    ]
    events = _late_replay_source(spark, tmp_path, drop_batches)
    stream_rows = {
        (r["session_start"], r["session_end"], r["n_events"])
        for r in run_to_completion(session_agg(events, watermark="10 minutes"), "append").collect()
    }
    batch_df = spark.read.parquet(str(tmp_path / "late_src"))
    batch_rows = {
        (r["session_start"], r["session_end"], r["n_events"])
        for r in session_agg(batch_df).collect()
    }
    assert stream_rows == {
        (_dt(1000), _dt(1040), 2),
        (_dt(1200), _dt(1230), 1),
        (_dt(1330), _dt(1400), 1),
    }
    assert batch_rows == {
        (_dt(1000), _dt(1050), 3),  # dropped 10:20 re-extends the session in batch
        (_dt(1200), _dt(1230), 1),
        (_dt(1330), _dt(1400), 1),
        (_dt(1500), _dt(1530), 1),  # open tail, withheld by append mode
    }


def test_stream_vector_refresh_restart_and_replay_heal(spark, tmp_path):
    """r12 stretch: the vector index's streaming face. Drill ladder:
    (1) a stream of embedding files refreshes the index per micro-batch
    and the result equals the SAME batches applied as plain batch
    refreshes in order (counters, drift mass, verify);
    (2) a restart against the same checkpoint with no new files changes
    nothing; a new file is picked up alone;
    (3) replaying a committed batch_id returns the stored report with
    replayed=True and touches nothing (the meta ledger);
    (4) a simulated crash (cells written, meta fold lost) heals on
    replay — the batch-scoped dynamic overwrite re-owns its directories
    and the counters fold exactly once."""
    from pyspark.sql import functions as F

    from synthetic_data_transfer_to_relational_database_spark.operators.vector_index import (
        _assign,
        _write_cells,
        build_vector_index,
        read_meta,
        refresh_vector_index,
        verify_vector_index,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.vector_ingest import (
        stream_vectors,
        write_stream_vector_refresh,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter("vec_id < 300")
    batches = [
        e.filter(f"vec_id >= {300 + 50 * i} and vec_id < {350 + 50 * i}")
        for i in range(3)
    ]
    src = tmp_path / "src"
    src.mkdir()

    def land(df, name):
        # the file source wants FLAT files: stage the single part file
        # and copy it in under a stable name (ordered mtimes = ordered
        # batches, the late-data drill recipe)
        import glob as _glob
        import shutil as _shutil

        stage = tmp_path / f"_stage_{name}"
        df.coalesce(1).write.parquet(str(stage))
        _shutil.copy(_glob.glob(f"{stage}/part-*.parquet")[0], str(src / name))

    for i, b in enumerate(batches):
        land(b, f"b{i}.parquet")

    # clean batch-face twin: same batches, plain refreshes, in order
    twin = str(tmp_path / "vidx_twin")
    build_vector_index(spark, base, twin, centroids="by_label")
    for b in batches:
        refresh_vector_index(spark, b, twin)

    idx = str(tmp_path / "vidx")
    build_vector_index(spark, base, idx, centroids="by_label")
    ckpt = str(tmp_path / "ckpt")

    def run():
        write_stream_vector_refresh(
            stream_vectors(spark, str(src)), idx, ckpt
        ).awaitTermination()

    run()
    meta, tmeta = read_meta(idx), read_meta(twin)
    # (1) stream == batch twin on every counter the contract cares about
    for k in ("n_vectors", "refresh_n", "refresh_d2_milli", "cells"):
        assert meta[k] == tmeta[k], k
    assert sorted(meta["stream_batches"]) == ["0", "1", "2"]
    assert verify_vector_index(spark, idx)["ok"]

    # (2) restart: no new files -> nothing changes; one new file -> +50
    run()
    assert read_meta(idx) == meta
    land(e.filter("vec_id >= 450 and vec_id < 500"), "b3.parquet")
    run()
    meta2 = read_meta(idx)
    assert meta2["n_vectors"] == meta["n_vectors"] + 50
    assert sorted(meta2["stream_batches"]) == ["0", "1", "2", "3"]
    assert verify_vector_index(spark, idx)["ok"]

    # (3) replay of a committed batch_id: stored report, nothing touched
    replay = refresh_vector_index(spark, batches[1], idx, stream_batch_id=1)
    assert replay["replayed"] and replay["n_added"] == 50
    assert read_meta(idx) == meta2

    # (4) crash drill: write batch 9's cells WITHOUT the meta fold (the
    # crash window), then deliver batch 9 properly — the dynamic
    # overwrite re-owns ingest_batch=s9 and the counters fold once
    crash_batch = e.filter("vec_id < 20").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "label", "embedding"
    )
    cents = [(int(c["cell_id"]), c["cv"]) for c in meta2["centroids"]]
    _write_cells(_assign(spark, crash_batch, cents), idx, "s9")
    assert not verify_vector_index(spark, idx)["ok"]  # detectably torn
    rep = refresh_vector_index(spark, crash_batch, idx, stream_batch_id=9)
    assert not rep.get("replayed") and rep["n_added"] == 20
    v = verify_vector_index(spark, idx)
    assert v["ok"] and v["n_data"] == meta2["n_vectors"] + 20


def test_stream_vector_refresh_compact_every(spark, tmp_path):
    """``compact_every=N`` on the vector stream face: every Nth
    committed batch folds the accumulated refresh scopes into one
    compaction generation inside the (sequential, hence single-writer)
    foreachBatch — so a long-running stream never re-grows the
    small-files curve. Counters must equal the plain batch twin, replay
    of a merged batch must still drain on the ledger, and the on-disk
    scopes must be exactly {build, generation, post-compaction
    batches}."""
    import glob as _glob
    import shutil as _shutil

    from synthetic_data_transfer_to_relational_database_spark.operators.vector_index import (
        build_vector_index,
        read_meta,
        refresh_vector_index,
        verify_vector_index,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.vector_ingest import (
        stream_vectors,
        write_stream_vector_refresh,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = e.filter("vec_id < 300")
    batches = [
        e.filter(f"vec_id >= {300 + 50 * i} and vec_id < {350 + 50 * i}")
        for i in range(4)
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, b in enumerate(batches):
        stage = tmp_path / f"_stage_{i}"
        b.coalesce(1).write.parquet(str(stage))
        _shutil.copy(
            _glob.glob(f"{stage}/part-*.parquet")[0], str(src / f"b{i}.parquet")
        )

    twin = str(tmp_path / "vidx_twin")
    build_vector_index(spark, base, twin, centroids="by_label")
    for b in batches:
        refresh_vector_index(spark, b, twin)

    idx = str(tmp_path / "vidx")
    build_vector_index(spark, base, idx, centroids="by_label")
    write_stream_vector_refresh(
        stream_vectors(spark, str(src)), idx, str(tmp_path / "ckpt"), compact_every=2
    ).awaitTermination()

    meta, tmeta = read_meta(idx), read_meta(twin)
    for k in ("n_vectors", "refresh_n", "refresh_d2_milli", "cells"):
        assert meta[k] == tmeta[k], k
    # compaction fired at batch 2: s0/s1/s2 merged into c1, s3 landed after
    assert meta["compact_seq"] == 1 and meta["compacted_through_mark"] == 2
    scopes = {
        p.rsplit("=", 1)[1]
        for p in _glob.glob(f"{idx}/cells/cell_id=*/ingest_batch=*")
    }
    assert scopes == {"build", "c1", "s3"}, scopes
    assert verify_vector_index(spark, idx)["ok"]
    # replay of a merged batch still drains on the untouched ledger
    rep = refresh_vector_index(spark, batches[1], idx, stream_batch_id=1)
    assert rep["replayed"] and read_meta(idx)["n_vectors"] == meta["n_vectors"]


def test_ledger_mixed_legacy_and_marker_formats(spark, tmp_path):
    """r18 review: a pre-r18 corpus resumed after the marker-file ledger
    landed holds BOTH single-row parquet ledger files and zero-byte
    .committed markers in _batch_ledger/. The reader must union both
    (the migration promise: a resumed corpus never re-ingests) — a bare
    parquet read over the mixed dir dies on the 0-byte markers."""
    import os

    from synthetic_data_transfer_to_relational_database_spark.streaming.batch_sink import (
        committed_batch_ids,
        mark_batch_committed,
    )

    out = str(tmp_path / "corpus")
    # legacy format: what pre-r18 mark_batch_committed wrote
    spark.createDataFrame([(0,), (1,)], "batch_id long").write.mode(
        "append"
    ).parquet(os.path.join(out, "_batch_ledger"))
    # new format on top
    mark_batch_committed(spark, out, 2)
    assert committed_batch_ids(spark, out) == {0, 1, 2}
