"""Persisted IVF vector index with a day-2 refresh story — the vector
mirror of the LSH corpus index (streaming/ingest.py): build once, absorb
daily embedding batches in O(batch), verify invariants, re-cluster only
when measured drift says so.

The oracle-paired ``embedding_index_refresh`` query (similarity.py) is
the SEMANTICS CONTRACT for the refresh: built in ``centroids="by_label"``
mode over the same hash split, ``refresh_vector_index`` must reproduce
that query's per-cell (n_added, n_label_match, sum_d2_milli) EXACTLY
(tests/test_vector_index.py pins it). Production mode is
``centroids="kmeans"`` — the similarity.py Lloyd pipeline — where cells
are geometry, not labels.

Persistence is PATH-BASED, deliberately not catalog-based: the cells
dataset is parquet partitioned by ``cell_id`` (directory layout IS the
partition pruning — a probed-cell scan reads only those directories),
and the centroid model is a small JSON artifact next to it (the
``build_pq_index`` ``_codebook.json`` recipe). Nothing lives in Spark's
in-memory catalog, so a fresh process needs NO re-registration step —
the failure mode ``ensure_index`` exists to handle for the bucketed LSH
table cannot occur here.

Scale shape:
- build: one pass over the corpus (assignment = broadcast of k×64
  doubles, map-side), one partitioned write. Lloyd iterations are the
  sim_search_ivf_lloyd plan (k hash-agg groups, never pairwise).
- refresh: reads ONLY the JSON model (never the cells data), assigns
  the new batch map-side, lands it as a batch-scoped partition
  (``cell_id=K/ingest_batch=<scope>`` — a dynamic partition overwrite
  of its own scope, so replays and crash retries are idempotent),
  rewrites the model's counters. Cost is O(batch × k) — the index data
  is untouched, which is the whole point at 100 TB (tests assert the
  refresh plan scans no index file). The streaming face
  (streaming/vector_ingest.py) drives this per micro-batch with the
  replay ledger riding in the same atomic meta write.
- drift: every refresh accumulates integer-quantized assignment
  distance mass (sum_d2_milli — order-independent, exact under any
  partitioning). When the running mean per-vector distance of arrivals
  exceeds ``rebuild_factor`` × the build-time mean, the report says
  ``rebuild_recommended`` — the measured trigger for re-clustering,
  instead of a cron guess.
- compaction: every refresh adds one ``ingest_batch`` directory per
  touched cell (the unit of idempotent replay), so a long-lived index
  re-grows the small-files problem the build's sharded write avoids.
  ``compact_vector_index`` merges the committed refresh scopes into one
  compaction-generation scope per cell — O(accumulated refresh data),
  the build partition is never rewritten — and is crash-self-healing
  through the same commit-ledger machinery refreshes use (a crashed
  compaction is an uncommitted scope ``heal`` deletes; a compaction
  that committed but crashed before removing the merged directories
  leaves them flagged uncommitted, and ``heal`` finishes the job).

WRITER CONTRACT (single writer, enforced loudly): ``refresh_vector_index``,
``compact_vector_index`` and ``heal_vector_index`` read-modify-write
the one JSON model artifact, so CONCURRENT writers are not supported —
but the failure mode is no longer silent. Every plain-refresh and
compaction scope is guarded by a create-exclusive lock marker
(``.lock_<scope>`` at the index root, acquired BEFORE the reservation
meta write): two racers that both read ``refresh_seq=N`` contend on the
same marker and exactly one proceeds; the loser gets
``ConcurrentWriterError`` before it can touch the meta or the data.
Non-overlapping windows are fenced too (r14 advice): a racer that read
the meta BEFORE a competing writer's full acquire→commit→release cycle
would re-acquire the now-free marker for the same scope and overwrite
the winner's committed counters from its stale copy — so immediately
after acquiring the marker the meta is RE-READ and the attempt fails
with ``ConcurrentWriterError`` unless every writer-commit counter
(``refresh_seq``, ``compact_seq``, ``stream_max_committed``) still
matches the copy the scope was derived from. The marker is released
only after the writer's commit meta write — a crashed attempt leaves
it for ``heal`` (releasing earlier would let a stale-meta racer
re-acquire the scope and alias the partial data). The
streaming face needs no marker: foreachBatch is sequential by
construction and replays must legitimately rewrite their own scope.
Heal remains offline-only — run it (and compaction) in a maintenance
window with the stream stopped, like the LSH index's ``compact_corpus``.

ATOMICITY SCOPE: the crash-safety story above relies on (a) atomic
rename-over for the model JSON and (b) directory-scoped dynamic
partition overwrite for the cells data. Both hold on filesystems with
atomic rename — local, HDFS, viewfs. On object stores (s3a://, gs://…)
rename is copy+delete, FileContext may have no AbstractFileSystem
binding, and the default S3A committer's overwrite is non-atomic — the
guarantees weaken to "idempotent replay usually heals it". A warning
is emitted once per scheme when an object-store path is used; run the
index on HDFS-semantics storage (or an S3 layer with atomic rename,
e.g. a consistent HDFS-compatible gateway) when the crash contract
matters.
"""

from __future__ import annotations

import json
import os
import re
import warnings
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window  # search top-k only; assignment is window-free

from .similarity import (
    _argmin_assign,
    _dot_sql_cols,
    _fold_sum,
    _lloyd_refine,
    _seed_centroids,
)

_META = "_centroids.json"
_CELLS = "cells"

# Cells layout generation, stamped into the model JSON at build time.
# 2 = two-level batch-scoped partitions (cell_id=K/ingest_batch=<scope>).
# The pre-versioning layout was single-level (cell_id=K/*.parquet); a
# refresh of the current code against such an index would write
# two-level directories under a one-level tree and the next parquet
# read of cells/ fails with "conflicting directory structures" —
# bricking a production index instead of failing cleanly. Layout-
# dependent entry points refuse unversioned or mismatched models with
# an explicit rebuild message (_require_layout).
_LAYOUT = 2

# The centroid model is a driver-held JSON artifact (read_meta/_write_meta
# fold counters driver-side, one dict entry per cell) — correct while the
# model is small, wrong silently if someone configures IVF-flat-at-scale
# cell counts. Make the assumption an error message (r11 verdict #5).
_MAX_CELLS = 10_000

# streaming replay ledger bound: per-batch reports kept in the model
# JSON (foreachBatch commits are sequential, so anything older than the
# newest N is provably committed via the stream_max_committed high-water
# mark and can be trimmed without losing replay detection)
_LEDGER_KEEP = 100


# rename-over is atomic on these; anything else gets a one-time warning
# that the crash contract weakens (see module docstring ATOMICITY SCOPE)
_ATOMIC_RENAME_SCHEMES = {"file", "hdfs", "viewfs"}
_WARNED_SCHEMES: set[str] = set()


def _norm_path(path: str) -> str:
    if "://" in path:
        # URI paths (file://, hdfs://, s3a://, …) ride the Hadoop
        # FileSystem API for BOTH faces of the index: parquet natively,
        # the JSON model via _write_meta/read_meta (r12 verdict #1 — a
        # production 100 TB index lives on an object store, and the
        # model IO was the last local-only seam)
        scheme = path.split("://", 1)[0].lower()
        if scheme not in _ATOMIC_RENAME_SCHEMES and scheme not in _WARNED_SCHEMES:
            _WARNED_SCHEMES.add(scheme)
            warnings.warn(
                f"vector index on scheme {scheme!r}: rename is not atomic "
                "there (object stores copy+delete) and FileContext may "
                "lack an AbstractFileSystem binding, so the crash-safety "
                "guarantees weaken — see the module docstring's "
                "ATOMICITY SCOPE note",
                stacklevel=3,
            )
        return path.rstrip("/")
    return os.path.abspath(path)


def _require_layout(meta: dict, path: str) -> None:
    """Refuse models whose cells layout this code did not write (advice
    r13): mixing partition depths under one parquet root fails at read
    time with a directory-structure error far from the cause — make it
    an upfront, actionable refusal instead.

    Unversioned metas that carry ``committed_scopes`` are GRANDFATHERED:
    that field shipped in the same release as the two-level
    cell_id/ingest_batch layout, so its presence proves the on-disk
    layout is already this one — refusing those would force an O(index)
    rebuild of a perfectly compatible index (r14 review). The stamp is
    migrated forward on the next meta write (refresh/compact set it)."""
    got = meta.get("layout")
    if got == _LAYOUT or (got is None and "committed_scopes" in meta):
        return
    raise ValueError(
        f"index at {path} has cells layout {got!r}, this code writes "
        f"layout {_LAYOUT} (batch-scoped cell_id/ingest_batch "
        "partitions). Refreshing or compacting across layouts would "
        "corrupt the cells tree — rebuild the index with "
        "build_vector_index"
    )


def _scope_live(meta: dict, scope: str) -> bool:
    """True iff the on-disk data of ``scope`` is live committed index
    data. Committed = the explicit ledger (build, plain refreshes,
    compaction generations) plus stream scopes above the compaction
    boundary and at or under the sequential-commit high-water mark.
    Stream scopes at or UNDER ``compacted_through_mark`` were merged
    into a compaction generation — their directories are garbage a
    crashed compaction may have left behind (heal deletes them)."""
    if scope in set(meta.get("committed_scopes", [])):
        return True
    if scope.startswith("s") and scope[1:].isdigit():
        k = int(scope[1:])
        return (
            int(meta.get("compacted_through_mark", -1))
            < k
            <= int(meta.get("stream_max_committed", -1))
        )
    return False


def _join(path: str, *parts: str) -> str:
    """Path join that preserves URI schemes (os.path.join would be
    correct-by-accident on '/'-separated URIs but reads as local-only)."""
    if "://" in path:
        return "/".join([path.rstrip("/"), *parts])
    return os.path.join(path, *parts)


class ConcurrentWriterError(RuntimeError):
    """A second writer tried to reserve a scope another writer holds
    (or a crashed reservation left its marker behind). Loud failure is
    the point: without it, two concurrent plain refreshes that both read
    ``refresh_seq=N`` would dynamic-overwrite the same ``r<N+1>`` scope
    and the later meta write would silently drop the earlier one's rows
    and counters (r13 advice)."""


def _marker_path(path: str, scope: str) -> str:
    # lives at the index ROOT (next to the model JSON, which always
    # exists by reservation time) — dot-prefixed so no parquet listing
    # ever sees it
    return _join(path, f".lock_{scope}")


def _acquire_scope_marker(path: str, scope: str, spark: SparkSession | None) -> None:
    """Create-exclusive lock file for a writer scope — the atomic
    arbiter two racing writers cannot both win. Local paths use
    O_CREAT|O_EXCL (atomic on POSIX); URI paths use
    ``FileSystem.createNewFile`` (atomic create-if-absent on HDFS
    semantics; on object stores it weakens with the rest of the
    ATOMICITY SCOPE). The marker is released only after the writer's
    COMMIT meta write — a failed attempt leaves it for ``heal``, because
    releasing early would let a racer with a stale meta read re-acquire
    the same scope and alias the crashed attempt's partial data."""
    marker = _marker_path(path, scope)
    if "://" not in path:
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            return
        except FileExistsError:
            pass
    else:
        spark = _require_session(path, spark)
        jpath = spark._jvm.org.apache.hadoop.fs.Path(marker)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.createNewFile(jpath):
            return
    raise ConcurrentWriterError(
        f"scope {scope!r} at {path} is already reserved (marker "
        f"{marker}): either a concurrent writer holds it — the index is "
        "single-writer per attempt — or a crashed reservation left its "
        "marker; with no writer active, run `index heal` to clear it"
    )


def _release_scope_marker(path: str, scope: str, spark: SparkSession | None) -> None:
    marker = _marker_path(path, scope)
    if "://" not in path:
        try:
            os.remove(marker)
        except FileNotFoundError:
            pass
        return
    spark = _require_session(path, spark)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(marker)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath, False)


def _fence_held_meta(
    path: str, held: dict, spark: SparkSession | None, scope: str
) -> dict:
    """ABA fence, called immediately AFTER ``_acquire_scope_marker``
    (r14 advice): the create-exclusive marker only arbitrates writers
    whose held windows overlap. A racer that read the meta before a
    competing writer's full acquire→commit→release cycle re-acquires
    the now-free marker for the same derived scope, and its reservation
    meta write would overwrite the winner's committed counters from the
    stale copy — the exact silent row drop the marker exists to prevent.
    So: re-read the meta under the held marker and require every
    writer-commit counter to match the held copy. ``refresh_seq`` moves
    at plain-refresh RESERVATION, ``compact_seq`` at compaction
    reservation, ``stream_max_committed`` at stream-batch commit — but
    the sequences alone leave a window (r15 advice): a reader whose
    meta read lands INSIDE a competitor's reservation-to-commit window
    already holds the bumped sequence, so when the competitor commits
    (sequences unchanged, counters folded) and releases, the stale
    reader passes a sequence-only fence and its reservation write
    clobbers the committed counter folds. ``commit_epoch`` closes that
    window: it is bumped by every COMMIT meta write (refresh, stream
    batch, compaction — reservation writes never touch it), so any
    commit landing between this writer's read and its acquisition
    moves it. On mismatch the marker is released (nothing was written;
    the scope is free for the retry, which will re-read and derive the
    next sequence) and ``ConcurrentWriterError`` raised — the release
    is guarded so a transient filesystem error cannot mask the
    retryable signal (r15 advice; the marker then leaks until ``heal``,
    which owns leftover markers anyway). On match the FRESH copy is
    returned and used from here on, so the subsequent reservation write
    can never resurrect stale content."""
    fresh = read_meta(path, spark)
    fenced = ("refresh_seq", "compact_seq", "stream_max_committed", "commit_epoch")
    if any(int(fresh.get(k, -1)) != int(held.get(k, -1)) for k in fenced):
        try:
            _release_scope_marker(path, scope, spark)
        except Exception as e:  # noqa: BLE001 - the fence signal must win
            warnings.warn(
                f"fence mismatch for scope {scope!r} at {path} could not "
                f"release its lock marker ({type(e).__name__}: {e}); "
                "run `index heal` to clear it",
                stacklevel=2,
            )
        raise ConcurrentWriterError(
            f"scope {scope!r} at {path} was derived from a meta another "
            "writer has since committed past (writer-commit counters "
            f"moved: held {[held.get(k) for k in fenced]}, on disk "
            f"{[fresh.get(k) for k in fenced]}). The index is "
            "single-writer per attempt — retry to re-read the meta and "
            "reserve the next sequence"
        )
    return fresh


def _release_marker_post_commit(
    path: str, scope: str, spark: SparkSession | None
) -> None:
    """Post-COMMIT marker release (r14 advice): by this point the
    refresh/compaction has durably succeeded, so a transient filesystem
    error deleting the marker must not surface as failure of an
    operation that succeeded. Warn and leave the marker — verify
    reports it as stale and ``heal`` owns leftover-marker cleanup."""
    try:
        _release_scope_marker(path, scope, spark)
    except Exception as e:  # noqa: BLE001 - commit already durable
        warnings.warn(
            f"committed scope {scope!r} at {path} could not release its "
            f"lock marker ({type(e).__name__}: {e}); the commit itself "
            "succeeded — run `index heal` to clear the stale marker",
            stacklevel=2,
        )


def _delete_dirs(fs, dirs: list) -> None:
    """Recursive directory deletes through a small driver thread pool.
    One ``fs.delete`` per cell-dir is unavoidable under the
    cell_id-major layout, but sequential driver calls make a
    maintenance window O(dirs × per-call latency) on object stores
    (r14 verdict #5) — Hadoop FileSystem instances are thread-safe and
    py4j serves concurrent threads over per-thread connections, so the
    calls overlap instead. Callers (heal's orphan removal, compaction's
    post-commit GC) are idempotent: a crash or partial failure
    mid-delete leaves uncommitted directories verify names and heal
    finishes."""
    if not dirs:
        return
    with ThreadPoolExecutor(max_workers=min(16, len(dirs))) as pool:
        list(pool.map(lambda d: fs.delete(d, True), dirs))


def _list_scope_markers(path: str, spark: SparkSession | None) -> list[str]:
    """Scopes with a lock marker on disk. Under the offline contract for
    verify/heal, ANY marker present is a crashed writer's leftover."""
    if "://" not in path:
        try:
            names = os.listdir(path)
        except FileNotFoundError:
            return []
    else:
        spark = _require_session(path, spark)
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        names = [st.getPath().getName() for st in fs.listStatus(jpath)]
    return sorted(n[len(".lock_"):] for n in names if n.startswith(".lock_"))


def _label_centroids(vectors: DataFrame) -> list[tuple[int, list[float]]]:
    """Per-label milli-quantized centroids — the embedding_index_refresh
    recipe verbatim (integer sums per dim: order-independent under any
    partitioning/AQE re-plan, and exactly reproducible cross-engine)."""
    pd_ = vectors.select("label", F.posexplode("embedding").alias("pos", "v"))
    cs = pd_.groupBy("label", "pos").agg(
        F.sum(F.round(F.col("v").cast("double") * 1000).cast("bigint")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cd = cs.select(
        "label", "pos", (F.col("s").cast("double") / F.lit(1000.0) / F.col("n")).alias("cd")
    )
    rows = (
        cd.groupBy("label")
        .agg(F.expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)").alias("cv"))
        .collect()  # bounded: one row per label
    )
    return sorted((int(r.label), [float(x) for x in r.cv]) for r in rows)


def _assign(spark: SparkSession, vectors: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """(vec_id, label, embedding) → + (cell_id, d2): nearest centroid by
    squared L2 (sequential fold, tiebreak cell_id asc). The whole model
    ships as ONE broadcast array-of-structs row and the argmin is a
    map-side array expression (``similarity._argmin_assign``) — zero
    shuffle of the vector side, no window (r11 verdict: the old
    crossJoin+row_number form shuffled k copies of every 64-float
    embedding to pick rn=1, k × batch × payload bytes for a user-knob k).
    Plan-asserted shuffle-free in tests/test_plans.py."""
    cents_row = spark.createDataFrame(
        [([(cid, cv) for cid, cv in sorted(centroids)],)],
        "__cents array<struct<cell_id:int,cv:array<double>>>",
    )
    return _argmin_assign(
        vectors.select("vec_id", "label", "embedding"), cents_row, "cell_id"
    )


def _write_cells(
    assigned: DataFrame,
    path: str,
    scope: str,
    shards_per_cell: int = 1,
    initial_build: bool = False,
) -> None:
    """Partitioned write with a cell-keyed layout shuffle. Without the
    repartition, a dynamic-partition write emits one file per (TASK,
    cell) — tasks × k tiny files per refresh, the file-count explosion
    that killed the k=256 probe (measured: refresh 17.2 s at k=256 vs a
    near-flat-in-k 1.6 s assignment).

    LAYOUT: ``cells/cell_id=K/ingest_batch=<scope>/`` — cell_id stays
    the FIRST partition level (probed-cell directory pruning unchanged),
    and every write is scoped to a second-level batch partition
    (``build`` / ``r<seq>`` / ``s<stream_batch_id>``). Refreshes land as
    a DYNAMIC partition overwrite of their own scope: a replayed or
    retried batch overwrites exactly the directories its first attempt
    wrote — idempotent under Structured Streaming's at-least-once
    foreachBatch redelivery and under plain-refresh crash retries —
    while every other batch's directories are untouched. The initial
    build is a static overwrite (it owns the whole tree).

    ``shards_per_cell=1`` (refreshes): hash-repartitioning by cell_id
    alone routes each cell to exactly one task — ONE file per refresh
    per cell, one O(batch) shuffle of digest-sized rows.

    ``shards_per_cell=s>1`` (initial builds, r12 advice): keying the
    shuffle on cell_id ALONE caps write parallelism at the cell count
    and produces one unbounded file per cell — wrong for a full-corpus
    build at small k. A deterministic vec_id-hash shard column widens
    the key to (cell_id, shard): parallelism up to k×s tasks, file
    count bounded at ≤ s per cell, and each (cell, shard) group still
    lands wholly in one task so the layout stays append-compatible with
    later single-shard refreshes. The shard is a repartition-only
    expression — it never reaches the schema."""
    cols = ["cell_id", "vec_id", "label", "embedding", "d2"]
    df = assigned.select(*cols).withColumn("ingest_batch", F.lit(scope))
    if shards_per_cell > 1:
        df = df.repartition(
            F.col("cell_id"), F.pmod(F.xxhash64("vec_id"), F.lit(shards_per_cell))
        )
    else:
        df = df.repartition("cell_id")
    # mode set EXPLICITLY both ways (r13 review): the build must own the
    # whole tree even in a session whose global default is dynamic —
    # inheriting the session conf there would leave stale r*/s* scopes
    # from the previous index generation behind a rebuild
    writer = (
        df.write.mode("overwrite")
        .partitionBy("cell_id", "ingest_batch")
        .option("partitionOverwriteMode", "static" if initial_build else "dynamic")
    )
    writer.parquet(_join(path, _CELLS))


def _check_vectors(vectors: DataFrame, dim: int) -> None:
    """Refuse dimension drift and NULL embeddings LOUDLY, BEFORE the
    partitioned write: ``zip_with`` NULL-pads mismatched arrays and
    propagates NULLs, so a bad batch would otherwise assign by a
    silently-truncated distance — or assign cell_id NULL, landing rows
    in a __HIVE_DEFAULT_PARTITION__ directory no centroid owns."""
    bad_pred = F.col("embedding").isNull()
    if dim:
        bad_pred = bad_pred | (F.size("embedding") != dim)
    bad = vectors.filter(bad_pred).limit(1).collect()  # bounded probe
    if bad:
        got = bad[0].embedding
        raise ValueError(
            "embedding is NULL"
            if got is None
            else f"embedding dim {len(got)} does not match the index's {dim}"
        )


def _require_session(path: str, spark: SparkSession | None) -> SparkSession:
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError(
            f"reading the model at URI {path!r} needs a SparkSession (the "
            "JSON IO rides the Hadoop FileSystem API) and none is active"
        )
    return spark


def _write_meta(path: str, meta: dict, spark: SparkSession | None = None) -> None:
    # atomic replace (r11 advice): refresh REWRITES the only copy of the
    # centroid model every day-2 batch — a crash mid-dump must leave the
    # previous model intact, never a truncated JSON that bricks
    # refresh/search/verify with no recovery path. URI paths keep the
    # same semantics through FileContext.rename(OVERWRITE) — the Hadoop
    # API whose contract is atomic rename-over (plain FileSystem.rename
    # refuses an existing destination, and delete-then-rename would open
    # exactly the crash window the local os.replace closes).
    final = _join(path, _META)
    tmp = final + ".tmp"
    if "://" not in path:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, final)
        return
    spark = _require_session(path, spark)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    jfinal, jtmp = hpath(final), hpath(tmp)
    fs = jfinal.getFileSystem(conf)
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(jfinal.toUri(), conf)
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    overwrite = spark.sparkContext._gateway.new_array(rename, 1)
    overwrite[0] = rename.OVERWRITE
    fc.rename(jtmp, jfinal, overwrite)


def _read_meta_bytes(path: str, spark: SparkSession | None = None) -> bytes:
    path = _norm_path(path)
    final = _join(path, _META)
    if "://" not in path:
        with open(final, "rb") as f:
            return f.read()
    spark = _require_session(path, spark)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jfinal = jvm.org.apache.hadoop.fs.Path(final)
    fs = jfinal.getFileSystem(conf)
    ins = fs.open(jfinal)
    try:
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(ins))
    finally:
        ins.close()


def read_meta(path: str, spark: SparkSession | None = None) -> dict:
    return json.loads(_read_meta_bytes(path, spark).decode("utf-8"))


# the meta serializer is OUR json.dump (no other writer exists), so the
# key appears exactly once and never inside a string value — a raw-bytes
# scan is a faithful read of the one occurrence
_EPOCH_RE = re.compile(rb'"commit_epoch":\s*(-?\d+)')


def read_commit_epoch(path: str, spark: SparkSession | None = None) -> int:
    """Fence-grade read of ONLY ``commit_epoch``. ``read_meta`` parses
    the full model — the k×dim centroid array is multi-MB of JSON floats
    at dim 768–1536 with 64 cells, far too heavy to pay on EVERY warm
    ``search`` just to compare one integer (r17 advice #4). This reads
    the same file but skips the JSON/float parse (a regex scan over the
    raw bytes; the OS page cache makes the re-read itself cheap), falling
    back to the full parse only if the scan misses (meta written by an
    older layout). Returns -1 for a pre-epoch meta, propagates IO errors
    (no meta file = no index) — same contract the full-read fence had."""
    raw = _read_meta_bytes(path, spark)
    m = _EPOCH_RE.search(raw)
    if m:
        return int(m.group(1))
    return int(json.loads(raw.decode("utf-8")).get("commit_epoch", -1))


def build_vector_index(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    n_cells: int = 8,
    centroids: str = "kmeans",
    lloyd_iters: int = 3,
    write_shards: int | None = None,
) -> dict:
    """Build-once step. ``vectors`` must carry (vec_id, embedding, label
    — label may be a constant for unlabeled corpora). Writes
    ``<path>/cells/`` parquet partitioned by cell_id (embedding included:
    the serve path reads probed cells only and never a separate corpus)
    and ``<path>/_centroids.json`` (k×dim doubles + counters). Returns
    the metadata dict."""
    path = _norm_path(path)
    if n_cells > _MAX_CELLS:
        raise ValueError(
            f"n_cells={n_cells} exceeds the {_MAX_CELLS} cap: the centroid model "
            "is a driver-held JSON artifact (one entry per cell) — IVF at that "
            "cell count needs a distributed model store, not this index"
        )
    # (r17 advice #1, ABA fence hole) an in-place REBUILD over an existing
    # index must NOT reset commit_epoch: a VectorIndexServer handle pinned
    # on a never-refreshed index (epoch 0) would compare equal against a
    # fresh rebuild's 0 and silently serve the OLD centroids/dim against
    # the NEW cells — exactly the silent-staleness class the per-search
    # fence exists to close. Carry any prior epoch forward +1 (read BEFORE
    # the cells write below clobbers anything) so every rebuild, like
    # every refresh/stream/compact commit, moves the fence term. A fresh
    # path has no meta → epoch starts at 0 as before.
    try:
        prior_epoch = read_commit_epoch(path, spark)
    except Exception:  # noqa: BLE001 - no readable prior meta = fresh build
        prior_epoch = -1
    if centroids == "by_label":
        cents = _label_centroids(vectors)
        if len(cents) > _MAX_CELLS:
            raise ValueError(
                f"{len(cents)} labels exceed the {_MAX_CELLS}-cell model cap"
            )
    elif centroids == "kmeans":
        # seeds by RANK of vec_id (r11 advice): offset or filtered id
        # ranges yield exactly n_cells seeds, not a biased id-window subset
        seeds = _seed_centroids(vectors, n_cells)
        if len(seeds) < n_cells:
            raise ValueError(
                f"n_cells={n_cells} exceeds the corpus ({len(seeds)} vectors)"
            )
        cvs = _lloyd_refine(vectors, seeds, iters=lloyd_iters)
        cents = list(enumerate([list(map(float, c)) for c in cvs]))
    else:
        raise ValueError(f"unknown centroids mode {centroids!r}")
    if not cents:
        raise ValueError("cannot build a vector index over an empty corpus")
    _check_vectors(vectors, len(cents[0][1]))
    if write_shards is None:
        # default the BUILD's write parallelism to the machine, not the
        # cell count: s = ceil(cores / k) keeps ~defaultParallelism write
        # tasks at small k while staying at one file per cell once k
        # alone provides the parallelism (r12 advice — refresh appends
        # keep shards=1, the one-file-per-refresh layout)
        par = spark.sparkContext.defaultParallelism
        write_shards = max(1, -(-par // max(1, len(cents))))
    assigned = _assign(spark, vectors, cents).persist()
    try:
        _write_cells(
            assigned, path, "build", shards_per_cell=write_shards, initial_build=True
        )
        stats = {
            int(r.cell_id): {"n": int(r.n), "d2_milli": int(r.m)}
            for r in assigned.groupBy("cell_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("d2") * 1000).cast("bigint")).alias("m"),
            )
            .collect()  # bounded: one row per cell
        }
    finally:
        assigned.unpersist()
    n_total = sum(s["n"] for s in stats.values())
    base_milli = sum(s["d2_milli"] for s in stats.values())
    meta = {
        "layout": _LAYOUT,
        "mode": centroids,
        "dim": len(cents[0][1]) if cents else 0,
        "centroids": [{"cell_id": cid, "cv": cv} for cid, cv in cents],
        "cells": {str(c): s for c, s in stats.items()},
        "n_vectors": n_total,
        # build-time mean per-vector assignment distance (milli) — the
        # drift yardstick every refresh compares against
        "base_mean_d2_milli": (base_milli / n_total) if n_total else 0.0,
        "refresh_d2_milli": 0,
        "refresh_n": 0,
        # plain-refresh scope counter and the streaming replay ledger —
        # both live IN the model artifact so a refresh's counter fold and
        # its commit mark are ONE atomic meta write (no separate ledger
        # file whose append could diverge from the model under a crash).
        # committed_scopes is the on-disk truth set: verify flags any
        # cells scope not in it (a crashed refresh's orphan partition).
        "refresh_seq": 0,
        "stream_batches": {},
        "stream_max_committed": -1,
        "committed_scopes": ["build"],
        # compaction state: generation counter for c<seq> scopes, and the
        # stream high-water mark the last committed compaction merged
        # through (s scopes at or under it are garbage directories if
        # still on disk — see _scope_live)
        "compact_seq": 0,
        "compacted_through_mark": -1,
        # monotonic commit counter, bumped by EVERY commit meta write
        # (refresh, stream batch, compaction) and never by reservation
        # writes — the ABA-fence term that moves even when the sequences
        # were already bumped at reservation (r15 advice; _fence_held_meta).
        # In-place rebuilds carry the prior index's epoch forward (+1, see
        # above) so warm handles pinned pre-rebuild fail loudly.
        "commit_epoch": prior_epoch + 1,
    }
    _write_meta(path, meta, spark)
    return meta


def refresh_vector_index(
    spark: SparkSession,
    new_vectors: DataFrame,
    path: str,
    rebuild_factor: float = 2.0,
    stream_batch_id: int | None = None,
) -> dict:
    """Day-2 upsert: assign ``new_vectors`` to the EXISTING centroids,
    land them in a batch-scoped cells partition, fold the per-cell
    counters and drift mass into the model artifact. Reads only the
    JSON model — never the index data — so cost is O(batch), not
    O(index). Returns a report with per-cell adds and
    ``rebuild_recommended`` (running mean arrival distance >
    ``rebuild_factor`` × build-time mean: the cells no longer describe
    the data and a re-cluster pays for itself).

    Exactly-once under replay: the data write is a DYNAMIC partition
    overwrite of this batch's own ``ingest_batch`` scope (a re-run
    overwrites exactly what its first attempt wrote), and the counter
    fold commits atomically WITH its ledger mark in the single meta
    rewrite. With ``stream_batch_id`` set (the streaming face — Spark
    redelivers foreachBatch batch_ids at-least-once after recovery and
    the scope ``s<batch_id>`` is replay-stable by construction), a batch
    already committed returns its stored report with ``replayed: True``
    and touches nothing. Plain refreshes RESERVE their scope first — a
    burned-sequence meta write before any data lands — so a crashed
    attempt can never share a scope with the next batch (r13 review:
    without the reservation, batch B after a crashed batch A would
    dynamic-overwrite only ITS cells of the shared scope and serve A's
    orphans uncounted). A crashed plain refresh leaves an orphan scope
    that ``verify_vector_index`` names in ``uncommitted_scopes``; the
    heal is deleting that directory (or rebuilding).

    SINGLE WRITER: the model is a read-modify-write JSON — concurrent
    refreshes are not supported (module docstring, WRITER CONTRACT)."""
    path = _norm_path(path)
    meta = read_meta(path, spark)
    _require_layout(meta, path)
    meta["layout"] = _LAYOUT  # migrate grandfathered metas forward
    if stream_batch_id is not None:
        done = meta.get("stream_batches", {}).get(str(stream_batch_id))
        if done is not None:
            return {**done, "replayed": True}
        if int(stream_batch_id) <= int(meta.get("stream_max_committed", -1)):
            # committed but trimmed from the bounded ledger (batches
            # commit in order — foreachBatch is sequential — so an id at
            # or under the high-water mark is committed by definition)
            return {
                "n_added": 0,
                "cells": {},
                "arrival_mean_d2_milli": None,
                "base_mean_d2_milli": meta.get("base_mean_d2_milli"),
                "rebuild_recommended": False,
                "replayed": True,
                "trimmed": True,
            }
        scope = f"s{stream_batch_id}"
    else:
        scope = None  # reserved below, after input validation
    cents = [(int(c["cell_id"]), c["cv"]) for c in meta["centroids"]]
    if not cents:
        raise ValueError(f"index at {path} has no centroids — rebuild it")
    _check_vectors(new_vectors, int(meta.get("dim") or 0))
    marker_held = False
    if scope is None:
        # reservation AFTER validation (bad input must not burn a seq).
        # Two steps, in THIS order (r13 advice, collision-safe upgrade):
        # (1) the create-exclusive marker is the atomic arbiter — a racer
        # that read the same refresh_seq fails HERE, before it can touch
        # the meta and clobber this writer's counters; (2) the meta write
        # burns the sequence so a crash after this point can never share
        # a scope with the next batch.
        seq = int(meta.get("refresh_seq", 0)) + 1
        scope = f"r{seq}"
        _acquire_scope_marker(path, scope, spark)
        marker_held = True
        try:
            # ABA fence (r14 advice): the marker was free, but a full
            # competing cycle may have committed since OUR meta read —
            # re-read under the marker and fail loudly on counter drift
            # (the fence releases the marker itself before raising)
            meta = _fence_held_meta(path, meta, spark, scope)
            meta["layout"] = _LAYOUT  # re-apply migration to the fresh copy
            meta["refresh_seq"] = seq
            _write_meta(path, meta, spark)
        except ConcurrentWriterError:
            raise
        except BaseException:
            # no data written yet — safe to free the scope for a retry
            _release_scope_marker(path, scope, spark)
            raise
    assigned = _assign(spark, new_vectors, cents).persist()
    try:
        _write_cells(assigned, path, scope)
        added = {
            int(r.cell_id): {
                "n_added": int(r.n),
                "n_label_match": int(r.lm),
                "sum_d2_milli": int(r.m),
            }
            for r in assigned.groupBy("cell_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("label") == F.col("cell_id"), 1).otherwise(0)).alias("lm"),
                F.sum(F.round(F.col("d2") * 1000).cast("bigint")).alias("m"),
            )
            .collect()  # bounded: one row per cell
        }
    finally:
        assigned.unpersist()
    n_added = sum(a["n_added"] for a in added.values())
    d2_added = sum(a["sum_d2_milli"] for a in added.values())
    for cid, a in added.items():
        cell = meta["cells"].setdefault(str(cid), {"n": 0, "d2_milli": 0})
        cell["n"] += a["n_added"]
        cell["d2_milli"] += a["sum_d2_milli"]
    meta["n_vectors"] += n_added
    meta["refresh_n"] += n_added
    meta["refresh_d2_milli"] += d2_added
    arrival_mean = (meta["refresh_d2_milli"] / meta["refresh_n"]) if meta["refresh_n"] else 0.0
    report = {
        "n_added": n_added,
        "cells": added,
        "arrival_mean_d2_milli": arrival_mean,
        "base_mean_d2_milli": meta["base_mean_d2_milli"],
        "rebuild_recommended": bool(
            meta["base_mean_d2_milli"] > 0
            and arrival_mean > rebuild_factor * meta["base_mean_d2_milli"]
        ),
    }
    if stream_batch_id is not None:
        # ledger mark and counter fold commit in ONE atomic write; the
        # stored report is what a replay of this batch_id returns.
        # JSON round trip note: `added` is keyed by int cell_id here but
        # comes back str-keyed after the meta reload — replay reports
        # normalize to the stored (string-keyed) form.
        sb = meta.setdefault("stream_batches", {})
        sb[str(stream_batch_id)] = {
            **report,
            "cells": {str(c): a for c, a in added.items()},
        }
        meta["stream_max_committed"] = max(
            int(stream_batch_id), int(meta.get("stream_max_committed", -1))
        )
        # bound the driver-held ledger (r13 review: unbounded per-batch
        # reports would grow the JSON model linearly with stream age);
        # anything trimmed is still provably committed via the
        # high-water mark above
        if len(sb) > _LEDGER_KEEP:
            for k in sorted(sb, key=int)[: len(sb) - _LEDGER_KEEP]:
                del sb[k]
    else:
        # stream scopes are proven committed by the high-water mark;
        # only plain-refresh scopes need explicit membership (their
        # sequence can have crashed holes, so no mark shortcut exists)
        committed = meta.setdefault("committed_scopes", [])
        if scope not in committed:
            committed.append(scope)
    # commit epoch: the fence term that moves on every COMMIT write
    # (grandfathered metas start at -1 → first new-code commit is 0)
    meta["commit_epoch"] = int(meta.get("commit_epoch", -1)) + 1
    _write_meta(path, meta, spark)
    # marker released ONLY after the commit write above — a failure
    # anywhere between reservation and commit leaves the marker for
    # `heal` (releasing early would let a stale-meta racer re-acquire
    # the scope and alias this attempt's partial data); a release
    # failure AFTER the commit warns instead of raising (the guarded
    # helper) because the operation itself durably succeeded
    if marker_held:
        _release_marker_post_commit(path, scope, spark)
    return report


def verify_vector_index(spark: SparkSession, path: str) -> dict:
    """Invariant check (the verify_index recipe for vectors): the model's
    per-cell counters must equal the parquet's actual per-cell counts,
    every data cell must have a centroid, every on-disk ingest scope
    must be a committed one (an uncommitted scope is a crashed refresh's
    or compaction's orphan partition — the named heal target), and the
    total must add up. Counters compare against LIVE scopes only
    (``_scope_live``): a compaction that committed but crashed before
    removing the merged directories leaves the same rows on disk twice,
    and double-counting them would report a counter mismatch where the
    real (heal-able) problem is the garbage directories. Scope lock
    markers present on disk are reported as ``stale_markers`` — verify
    runs under the offline contract, so any marker is a crashed writer's
    leftover (a pre-meta-write crash leaves ONLY the marker, which would
    block the next writer of that scope). Returns {ok, n_meta, n_data,
    orphan_cells, mismatched_cells, uncommitted_scopes, stale_markers}."""
    path = _norm_path(path)
    meta = read_meta(path, spark)
    _require_layout(meta, path)
    stale_markers = _list_scope_markers(path, spark)
    cells_df = spark.read.parquet(_join(path, _CELLS))
    on_disk = {
        str(r.ingest_batch)
        for r in cells_df.select("ingest_batch").distinct().collect()
    }  # bounded: one row per scope
    uncommitted = sorted(s for s in on_disk if not _scope_live(meta, s))
    live = (
        cells_df.filter(~F.col("ingest_batch").isin(uncommitted))
        if uncommitted
        else cells_df
    )
    counts = {
        int(r.cell_id): int(r.n)
        for r in live.groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: one row per cell
    }
    known = {int(c["cell_id"]) for c in meta["centroids"]}
    orphans = sorted(c for c in counts if c not in known)
    mismatched = sorted(
        c
        for c in set(counts) | {int(k) for k in meta["cells"]}
        if counts.get(c, 0) != meta["cells"].get(str(c), {}).get("n", 0)
    )
    n_data = sum(counts.values())
    return {
        "ok": not orphans
        and not mismatched
        and not uncommitted
        and not stale_markers
        and n_data == meta["n_vectors"],
        "n_meta": meta["n_vectors"],
        "n_data": n_data,
        "orphan_cells": orphans,
        "mismatched_cells": mismatched,
        "uncommitted_scopes": uncommitted,
        "stale_markers": stale_markers,
    }


def heal_vector_index(spark: SparkSession, path: str) -> dict:
    """Remove crashed-refresh (and crashed-compaction) orphans: delete
    every cells directory whose ingest scope ``verify_vector_index``
    reports as uncommitted (scope reserved and data written, counter
    fold never committed — or merged data whose compaction committed
    but crashed before the directory removals). Deletion rides the
    Hadoop FileSystem API (glob ``cell_id=*/ingest_batch=<s>``) so it
    works on the same URI paths the rest of the index does.

    Committed data is untouchable: beyond verify's snapshot, the meta
    is RE-READ immediately before each scope delete and scopes that
    have become committed since the snapshot are skipped (r13 advice —
    without the re-read, a refresh committing between verify's read and
    the delete would lose just-committed data and leave a permanent
    counter mismatch). That narrows the race to the meta-read/delete
    gap; the module's WRITER CONTRACT still applies — run heal without
    active writers. Scope lock markers are cleared too: under the
    offline contract every marker on disk is a crashed writer's leftover
    (a pre-meta-write crash leaves ONLY the marker, which would block
    the next writer of that scope with ConcurrentWriterError). Returns
    {removed_scopes, skipped_scopes, removed_markers, ok} with ok
    re-verified after the deletes."""
    path = _norm_path(path)
    v = verify_vector_index(spark, path)
    if not v["uncommitted_scopes"] and not v["stale_markers"]:
        return {
            "removed_scopes": [],
            "skipped_scopes": [],
            "removed_markers": [],
            "ok": v["ok"],
        }
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    removed, skipped = [], []
    for scope in v["uncommitted_scopes"]:
        # one small JSON read per orphan scope (orphans are rare)
        if _scope_live(read_meta(path, spark), scope):
            skipped.append(scope)
            continue
        removed.append(scope)
        pattern = hpath(_join(path, _CELLS, "cell_id=*", f"ingest_batch={scope}"))
        fs = pattern.getFileSystem(conf)
        _delete_dirs(fs, [st.getPath() for st in fs.globStatus(pattern) or []])
    for scope in v["stale_markers"]:
        _release_scope_marker(path, scope, spark)
    return {
        "removed_scopes": removed,
        "skipped_scopes": skipped,
        "removed_markers": v["stale_markers"],
        "ok": verify_vector_index(spark, path)["ok"],
    }


def compact_vector_index(
    spark: SparkSession,
    path: str,
    min_scopes: int = 2,
    write_shards: int = 1,
) -> dict:
    """Small-files maintenance (the vector twin of the LSH corpus
    index's ``compact_corpus``): every refresh adds one ``ingest_batch``
    directory per touched cell, so a long-lived index accumulates
    refresh-count × cell-count tiny files — the explosion the k=256
    probe measured once. This merges every COMMITTED non-build scope
    (plain ``r*`` refreshes, stream ``s*`` batches at or under the
    high-water mark, previous ``c*`` compaction generations) into ONE
    new compaction-generation scope ``c<seq>`` — one file per cell at
    ``write_shards=1`` — then removes the merged directories.

    Deliberately NOT a full rewrite: the ``build`` partition is never
    touched, so the cost is O(accumulated refresh data), not O(index).
    If refresh mass ever rivals the build, drift accounting has long
    since said ``rebuild_recommended``.

    Crash-self-healing via the same ledger machinery refreshes use —
    no new recovery code paths:

    - the ``c<seq>`` scope is RESERVED (meta write burning the
      sequence) before any data lands: a compaction that crashes
      mid-write leaves an uncommitted scope ``verify`` names and
      ``heal`` deletes, with the source scopes still live and intact;
    - the data write is a dynamic partition overwrite of the new
      scope's own directories — a retried compaction gets a fresh
      sequence and cannot alias a crashed one's scope;
    - the commit is ONE atomic meta write that swaps the live-scope
      set: ``committed_scopes`` becomes [build, c<seq>] and
      ``compacted_through_mark`` advances to the merged stream
      high-water mark, so the merged directories flip from live to
      garbage in the same instant the merged copy becomes live
      (``_scope_live`` — counters, ledger and replay high-water mark
      are untouched: the data is identical, and replayed stream
      batches still drain through the ledger);
    - a crash AFTER the commit but before the directory removals
      leaves the merged directories flagged uncommitted — ``verify``
      reports them, ``heal`` finishes the job, and the live-scope
      filter keeps searches from serving the doubled rows meanwhile.

    Maintenance-window operation (module WRITER CONTRACT): no active
    refreshes or streams. Returns {merged_scopes, scope, rows,
    files_before, files_after, ok}."""
    path = _norm_path(path)
    meta = read_meta(path, spark)
    _require_layout(meta, path)
    meta["layout"] = _LAYOUT  # migrate grandfathered metas forward
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    pattern = hpath(_join(path, _CELLS, "cell_id=*", "ingest_batch=*"))
    fs = pattern.getFileSystem(conf)
    scope_dirs: dict[str, list] = {}
    for st in fs.globStatus(pattern) or []:
        scope_dirs.setdefault(
            st.getPath().getName().split("=", 1)[1], []
        ).append(st.getPath())
    merge = sorted(
        s for s in scope_dirs if s != "build" and _scope_live(meta, s)
    )
    if len(merge) < min_scopes:
        return {
            "merged_scopes": [],
            "scope": None,
            "rows": 0,
            "files_before": 0,
            "files_after": 0,
            "ok": True,
        }
    files_before = sum(
        1
        for s in merge
        for d in scope_dirs[s]
        for f in fs.listStatus(d)
        if f.getPath().getName().endswith(".parquet")
    )
    # reserve the compaction generation BEFORE any data lands (the
    # plain-refresh reservation discipline): the create-exclusive marker
    # is the atomic arbiter against a concurrent writer, then the meta
    # write burns the sequence so a crashed attempt's scope can never be
    # shared by a retry, and heal knows it by name
    seq = int(meta.get("compact_seq", 0)) + 1
    scope = f"c{seq}"
    _acquire_scope_marker(path, scope, spark)
    try:
        # ABA fence (r14 advice): fail loudly if any writer committed
        # between our meta read and the marker acquisition — the merge
        # set above was derived from that read (the fence releases the
        # marker itself before raising)
        meta = _fence_held_meta(path, meta, spark, scope)
        meta["layout"] = _LAYOUT  # re-apply migration to the fresh copy
        meta["compact_seq"] = seq
        _write_meta(path, meta, spark)
    except ConcurrentWriterError:
        raise
    except BaseException:
        # no data written yet — safe to free the scope for a retry
        _release_scope_marker(path, scope, spark)
        raise
    # read exactly the merged scopes (directory-scoped, never the build
    # partition); basePath recovers cell_id — the write below re-scopes
    merged = (
        spark.read.option("basePath", _join(path, _CELLS))
        .parquet(
            *[_join(path, _CELLS, "cell_id=*", f"ingest_batch={s}") for s in merge]
        )
        .persist()  # one source read feeds both the count and the write
    )
    try:
        rows = merged.count()
        _write_cells(merged, path, scope, shards_per_cell=write_shards)
    finally:
        merged.unpersist()
    # THE commit: one atomic meta write flips live scopes old → new.
    # Counters/ledger/high-water untouched — the data is identical.
    meta["committed_scopes"] = ["build", scope]
    meta["compacted_through_mark"] = int(meta.get("stream_max_committed", -1))
    meta["commit_epoch"] = int(meta.get("commit_epoch", -1)) + 1
    _write_meta(path, meta, spark)
    # committed — release the scope lock (post-commit directory removals
    # below are idempotent garbage collection heal can finish); a
    # release failure here warns instead of raising (commit is durable)
    _release_marker_post_commit(path, scope, spark)
    # Post-commit garbage collection of the merged directories, through
    # the shared driver thread pool (_delete_dirs — the merged scopes
    # flipped to uncommitted at the commit above, so a crash or partial
    # failure mid-delete is verify-visible and heal finishes the job).
    _delete_dirs(fs, [d for s in merge for d in scope_dirs[s]])
    files_after = sum(
        1
        for st in fs.globStatus(
            hpath(_join(path, _CELLS, "cell_id=*", f"ingest_batch={scope}"))
        )
        or []
        for f in fs.listStatus(st.getPath())
        if f.getPath().getName().endswith(".parquet")
    )
    return {
        "merged_scopes": merge,
        "scope": scope,
        "rows": rows,
        "files_before": files_before,
        "files_after": files_after,
        "ok": verify_vector_index(spark, path)["ok"],
    }


def _live_scope_filter(meta: dict):
    """Partition filter selecting only live-scope rows (``_scope_live``
    as a Column): committed scopes by name, plus stream scopes inside
    the (compacted_through_mark, stream_max_committed] window. Both
    levels are partition columns, so Catalyst prunes directories — a
    garbage scope a crashed compaction left behind is never even
    listed into the scan, and its doubled rows never reach a serve."""
    committed = list(meta.get("committed_scopes", ["build"]))
    cond = F.col("ingest_batch").isin(committed)
    lo = int(meta.get("compacted_through_mark", -1))
    hi = int(meta.get("stream_max_committed", -1))
    if hi > lo:
        num = F.regexp_extract("ingest_batch", "^s([0-9]+)$", 1)
        cond = cond | (
            (num != F.lit("")) & (num.cast("bigint") > lo) & (num.cast("bigint") <= hi)
        )
    return cond


def search_vector_index(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[float]]],
    top_k: int = 5,
    n_probe: int = 2,
) -> DataFrame:
    """Serve against the persisted index: rank cells per query
    driver-side (k centroids — tiny), scan ONLY the probed cell
    partitions (directory pruning), exact cosine rescoring within them.
    Returns (query_id, vec_id, cosine, rn) like sim_search."""
    path = _norm_path(path)
    meta = read_meta(path, spark)
    _require_layout(meta, path)  # the live-scope filter needs ingest_batch
    cents = [(int(c["cell_id"]), c["cv"]) for c in meta["centroids"]]
    dim = int(meta.get("dim") or 0)
    if dim:
        for qid, qv in queries:
            if len(qv) != dim:
                raise ValueError(
                    f"query {qid} has dim {len(qv)}, index expects {dim}"
                )

    def _d2(q: list[float], c: list[float]) -> float:
        acc = 0.0
        for a, b in zip(q, c):
            d = float(a) - b
            acc += d * d
        return acc

    probe: dict[int, list[int]] = {
        qid: [cid for cid, _ in sorted(cents, key=lambda t: (_d2(qv, t[1]), t[0]))[:n_probe]]
        for qid, qv in queries
    }
    wanted = sorted({c for cs in probe.values() for c in cs})
    cells = spark.read.parquet(_join(path, _CELLS)).filter(
        F.col("cell_id").isin(wanted) & _live_scope_filter(meta)
    )
    qdf = spark.createDataFrame(
        [(qid, qv, probe[qid]) for qid, qv in queries],
        "query_id bigint, qv array<float>, probed array<int>",
    )
    scored = (
        F.broadcast(qdf)
        .join(
            cells.select("cell_id", "vec_id", F.col("embedding").alias("cv")),
            F.expr("array_contains(probed, cell_id)") & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "vec_id",
            # the codegen-able unrolled tree at known small dims under a
            # low hugeMethodLimit, the HOF fold otherwise — bit-identical
            _cosine_col(dim, spark),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return scored.select(
        "query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= top_k)


# The JVM JIT refuses to compile methods over ~8000 bytecode bytes
# (HotSpot -XX:HugeMethodLimit), so a whole-stage-codegen method past it
# runs in the BYTECODE INTERPRETER — measured 2.4× SLOWER than the HOF
# fold at the fused serve shape. Spark's own escape hatch is
# ``spark.sql.codegen.hugeMethodLimit``: at ≤ 8000 it rejects such a
# compiled method and falls back to non-whole-stage execution for that
# one stage, where per-expression codegen splits the unrolled tree into
# JIT-able submethods — measured 5.6 s vs the fold's 17.0 s (3.1×) at
# the 5k-query serve probe. ``_cosine_col`` therefore picks the unrolled
# tree only when the session's hugeMethodLimit makes it fast.
_JIT_METHOD_LIMIT = 8000

# Widest dim for which ``_cosine_col`` builds the unrolled serve tree:
# its left spine's Catalyst recursion is O(dim) (StackOverflowError at
# 384, SCALE.md r16), and ~768 statements in one generated method
# overflowed janino's per-statement recursion on a vanilla 1g driver.
# Past it the serve keeps the bit-identical fold, so wide dims are
# untouched.
_LIT_UNROLL_MAX_DIM = 256


def _cosine_col(dim: int, spark: SparkSession):
    """The serve paths' cosine column over joined (qv, cv) pairs, built
    as one of two BIT-IDENTICAL trees (the dispatch is an execution
    choice, never a semantics one):

    * the unrolled ``((0.0 + qv[0]*cv[0]) + qv[1]*cv[1]) + …`` tree
      (``similarity._dot_sql_cols`` — the identical left-associated IEEE
      sum as the fold, same 0.0 seed and operand order; test-pinned)
      when the model knows a dim in ``(0, _LIT_UNROLL_MAX_DIM]`` AND the
      session's ``spark.sql.codegen.hugeMethodLimit`` is at or under
      ``_JIT_METHOD_LIMIT`` (the conf under which it is fast, see
      there). It is built as SQL text: the parser folds the left spine
      in ms, where Column arithmetic paid ~4 py4j round-trips per
      element (SCALE.md r17).
    * the ``aggregate``/``zip_with`` fold otherwise — wide or unknown
      dims, and every vanilla session.

    ``spark`` is the CALLER'S session (in a multi-session process
    ``getActiveSession()`` may be another one). The conf is only read
    here, never written."""
    huge = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit", "65535"))
    if 0 < dim <= _LIT_UNROLL_MAX_DIM and huge <= _JIT_METHOD_LIMIT:
        dot, nq, nc = (
            _dot_sql_cols(x, y, dim) for x, y in (("qv", "cv"), ("qv", "qv"), ("cv", "cv"))
        )
    else:
        dot = _fold_sum("zip_with(qv, cv, (a, b) -> cast(a as double) * cast(b as double))")
        nq = _fold_sum("transform(qv, a -> cast(a as double) * cast(a as double))")
        nc = _fold_sum("transform(cv, b -> cast(b as double) * cast(b as double))")
    return (F.expr(dot) / (F.sqrt(F.expr(nq)) * F.sqrt(F.expr(nc)))).alias("cosine")


class VectorIndexServer:
    """WARM serve handle (r16 verdict #1): reads the index model and
    builds the rescore machinery ONCE at construction, then serves
    successive query DataFrames against it — ``search_vector_index_df``
    is a one-shot wrapper over this class, so the two are row-identical
    by construction (one code path).

    What construction amortizes, measured at dim 768 (SCALE.md r17):
    the model JSON read + centroid validation, the broadcast centroid
    row, and the rescore cosine column. With the r17 SQL-text tree
    builders the cosine build itself is already ~3 ms (it was the r16
    "~60 s/invocation" cost — py4j Column round-trips, not Catalyst), so
    the remaining per-call win is the model read + centroid frame; at
    production call rates the handle also keeps the tree choice and
    validation out of the hot path entirely.

    SNAPSHOT CONTRACT, epoch-fenced: the handle pins the model read at
    construction — the same scope snapshot any single serve call takes —
    and every ``search`` re-reads ONLY ``commit_epoch`` from the meta
    (``read_commit_epoch`` — an epoch-scan, not the multi-MB centroid
    parse; bumped by every refresh/stream/compaction commit and by
    in-place rebuilds, which carry the prior epoch forward).
    A handle that outlived its snapshot raises ``ValueError`` instead of
    silently serving stale scope names (after a compaction the old
    snapshot's scope list matches nothing but the build partition —
    silent wrong results, the r17 review's finding); ``repin()`` the
    handle or construct a new one. The cosine tree (``_cosine_col``) is
    chosen once, against the session conf AT CONSTRUCTION (the one-shot
    wrapper chooses per call because it constructs per call).

    Thread-safety: ``search`` is safe to call concurrently."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        top_k: int = 5,
        n_probe: int = 2,
    ) -> None:
        self._spark = spark
        self._path = _norm_path(path)
        self._meta = read_meta(self._path, spark)
        _require_layout(self._meta, self._path)  # live-scope filter needs ingest_batch
        self._cents = sorted(
            (int(c["cell_id"]), [float(x) for x in c["cv"]])
            for c in self._meta["centroids"]
        )
        if not self._cents:
            raise ValueError(f"index at {self._path} has no centroids — rebuild it")
        self._dim = int(self._meta.get("dim") or 0)
        self._top_k = top_k
        self._n_probe = n_probe
        # the staleness fence (r17 review): every COMMIT meta write
        # (refresh, stream batch, compaction) bumps commit_epoch, so a
        # per-search compare detects any out-of-band change. Without it
        # a stale handle after a compaction would SILENTLY serve the
        # build partition only (_live_scope_filter selects scope names
        # that no longer exist).
        self._epoch = int(self._meta.get("commit_epoch", -1))
        # chosen against THIS handle's session conf (r17 advice #3)
        self._cosine = _cosine_col(self._dim, spark)
        self._cents_row = spark.createDataFrame(
            [([(cid, cv) for cid, cv in self._cents],)],
            "__cents array<struct<cell_id:int,cv:array<double>>>",
        )

    def repin(self) -> "VectorIndexServer":
        """Re-pin this handle to the index's CURRENT committed snapshot
        (r17 verdict #5) and return it. Long-lived serving processes no
        longer need a fresh handle after every refresh/stream/compact
        commit: ``repin`` re-reads the model and rebuilds only the
        invalidated warm pieces — the meta snapshot, the centroid
        broadcast row, and the fence epoch; the rescore tree is rebuilt
        only when the model's dim changed, since it depends on nothing
        else in the model. Fence semantics are exactly the snapshot contract's: a
        ``search`` between an out-of-band commit and the ``repin`` still
        raises; nothing here weakens the staleness guarantee — it just
        makes recovery a method call instead of a reconstruction.

        NOT safe to call concurrently with in-flight ``search`` calls on
        the same handle (a search could read half-swapped state): either
        serialize externally or construct a new handle and swap the
        reference atomically."""
        meta = read_meta(self._path, self._spark)
        _require_layout(meta, self._path)
        cents = sorted(
            (int(c["cell_id"]), [float(x) for x in c["cv"]])
            for c in meta["centroids"]
        )
        if not cents:
            raise ValueError(f"index at {self._path} has no centroids — rebuild it")
        new_dim = int(meta.get("dim") or 0)
        if new_dim != self._dim:
            self._cosine = _cosine_col(new_dim, self._spark)
            self._dim = new_dim
        self._meta = meta
        self._cents = cents
        self._epoch = int(meta.get("commit_epoch", -1))
        self._cents_row = self._spark.createDataFrame(
            [([(cid, cv) for cid, cv in cents],)],
            "__cents array<struct<cell_id:int,cv:array<double>>>",
        )
        return self

    def search(
        self,
        queries_df: DataFrame,
        top_k: int | None = None,
        n_probe: int | None = None,
        eager: bool = True,
        *,
        _fence: bool = True,
    ) -> DataFrame:
        """One serve over the warm model — semantics, caching contract
        and eager/lazy behavior identical to ``search_vector_index_df``
        (see its docstring; it delegates here). ``_fence`` is module-
        private: the one-shot wrapper just paid the full model read in
        construction, microseconds ago, so its single search skips the
        re-read a fence that cannot meaningfully trip would pay twice
        (r17 advice #4)."""
        spark = self._spark
        # staleness fence: one epoch-only meta read per search
        # (read_commit_epoch skips the multi-MB centroid parse — r17
        # advice #4; the expensive warm pieces stay cached).
        # commit_epoch moves on every refresh/stream/compact commit AND
        # every in-place rebuild, so a handle that outlived its snapshot
        # fails loudly instead of silently serving stale scope names —
        # then repin() re-pins it.
        if _fence:
            fresh_epoch = read_commit_epoch(self._path, spark)
            if fresh_epoch != self._epoch:
                raise ValueError(
                    f"index at {self._path} changed since this VectorIndexServer "
                    f"was constructed (commit_epoch {self._epoch} -> {fresh_epoch}"
                    ") — repin() this handle (or construct a new one) over the "
                    "refreshed index"
                )
        top_k = self._top_k if top_k is None else top_k
        n_probe = self._n_probe if n_probe is None else n_probe
        n_probe = max(1, min(n_probe, len(self._cents)))
        dim = self._dim
        cosine = self._cosine
        qv_ok = queries_df.select(
            F.col("query_id").cast("bigint").alias("query_id"), F.col("qv")
        )
        # textually the _argmin_assign distance fold (qv for embedding),
        # so every d2 bit matches the list path's sequential Python sum
        ranked = F.expr(
            "transform(slice(array_sort(transform(__cents, c -> struct("
            "aggregate(zip_with(qv, c.cv, (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),"
            " cast(0.0 as double), (acc, x) -> acc + x) AS d2,"
            " c.cell_id AS cell_id))), 1, {n}), x -> x.cell_id)".format(n=n_probe)
        )
        # persist (r13 review): the frame feeds THREE consumers — the dim
        # check, the probed-set collect, and the serve join. Uncached,
        # each re-evaluates queries_df from scratch: the O(|q|×k×dim)
        # ranking fold runs multiple times, and a NONDETERMINISTIC
        # source (sample, limit without total order) could rank one
        # query set and serve another, silently dropping candidates
        # outside the pruned cells. The cached frame is (id, qv,
        # n_probe ints) per query — memory-and-disk at large |q|.
        probed = (
            qv_ok.crossJoin(F.broadcast(self._cents_row))
            .select("query_id", "qv", ranked.alias("probed"))
            .persist()
        )
        returned = False
        try:
            if dim:
                bad = probed.filter(
                    F.col("qv").isNull() | (F.size("qv") != dim)
                ).limit(1).collect()  # bounded probe — the _check_vectors recipe
                if bad:
                    got = bad[0].qv
                    raise ValueError(
                        "query vector is NULL"
                        if got is None
                        else f"query dim {len(got)} does not match the index's {dim}"
                    )
            # one bounded collect (≤ n_cells rows) → isin partition filter
            wanted = sorted(
                int(r.c)
                for r in probed.select(F.explode("probed").alias("c")).distinct().collect()
            )
            # the cells scan is (re)read per call, NOT cached on the
            # handle: a parquet read snapshots its file listing at read
            # time, and a listing held across an out-of-band
            # refresh/compact would serve deleted files. The listing is
            # cheap; the expensive pieces (model, centroid row, rescore
            # tree) are the warm ones.
            cells = spark.read.parquet(_join(self._path, _CELLS)).filter(
                F.col("cell_id").isin(wanted) & _live_scope_filter(self._meta)
            )
            pq = probed.select("query_id", "qv", F.explode("probed").alias("cell_id"))
            scored = (
                pq.join(cells.select("cell_id", "vec_id", F.col("embedding").alias("cv")), "cell_id")
                .filter(F.col("vec_id") != F.col("query_id"))
                .select("query_id", "vec_id", cosine)
            )
            w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
            out = scored.select(
                "query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn")
            ).filter(F.col("rn") <= top_k)
            if eager:
                # materialize the (small) serve result BEFORE the finally
                # block releases the ranked-queries cache: later actions on
                # the returned frame read the cached result, never re-walk
                # the lineage into the released frame
                out = out.persist()
                try:
                    out.count()
                except Exception:
                    out.unpersist()  # nothing returned — release the mark
                    raise
            returned = True
            return out
        finally:
            # release the internal frame when the result no longer needs
            # it: always in eager mode (the result is materialized), and
            # on EVERY exception path regardless of mode — an error
            # returns no handle, so an eager=False leak here would be
            # unreleasable (r14 review)
            if eager or not returned:
                probed.unpersist()


def search_vector_index_df(
    spark: SparkSession,
    path: str,
    queries_df: DataFrame,
    top_k: int = 5,
    n_probe: int = 2,
    eager: bool = True,
) -> DataFrame:
    """DataFrame-native serve (r12 verdict #4): same answer as
    ``search_vector_index`` — row-identical, test-pinned — but the
    queries arrive as a DataFrame of (query_id, qv) instead of a Python
    list, so the probe-cell ranking is no longer a driver-side
    O(|queries| × n_cells) loop and a million-query batch serves as one
    distributed job.

    ONE-SHOT wrapper over ``VectorIndexServer`` (r17): construction +
    one ``search``. A caller serving the same index repeatedly should
    hold a ``VectorIndexServer`` instead — it amortizes the model read,
    centroid frame, validation and rescore-tree build across calls
    (measured in SCALE.md r17).

    Probe ranking is the ``_argmin_assign`` pattern generalized to
    top-n: the whole centroid model rides as ONE broadcast
    array-of-structs row, per-query distances to all k centroids
    evaluate in one map-side array expression, and
    ``transform(slice(array_sort(struct(d2, cell_id)), 1, n_probe))``
    takes the n_probe nearest cells — d2 asc then cell_id asc, the
    identical IEEE fold and tiebreak as the list path's Python sort. No
    Window, no shuffle, no driver loop (plan-asserted in
    tests/test_plans.py).

    The cells scan is still partition-pruned: ONE bounded collect
    (≤ n_cells ints — the distinct union of probed cells, NOT the
    queries) derives an ``isin`` partition filter, the same directory
    pruning the list path gets, robust where DPP on a bare parquet path
    wouldn't trigger. The query→cells attach is then an EQUI-join on
    cell_id (explode the n_probe array) — broadcastable when queries
    are small, shuffleable when they aren't, Catalyst/AQE's call —
    never the list path's array_contains nested-loop, which is the
    right shape for 10 queries and the wrong one for 10 million.

    CACHE LIFETIME (r13 verdict #4 / advice): the ranked-queries frame
    is persisted internally — it feeds three consumers, and an uncached
    nondeterministic source could rank one query set and serve another.
    With ``eager=True`` (default) the serve RESULT (top_k × |queries|
    rows) is materialized into the session cache and the internal frame
    is released before returning: repeated serves leave only the
    returned frame cached, and the caller releases that with
    ``.unpersist()`` after consuming it. ``eager=False`` returns the
    fully lazy plan instead and deliberately leaves the internal frame
    persisted for the plan's lifetime (correctness — the plan reads
    it); the caller owns the cache lifetime then. Caveat shared by both
    modes on a real cluster: a lost executor recomputes lost cached
    partitions from lineage, which re-evaluates the query source."""
    # _fence=False: construction read the full model microseconds ago —
    # a second read for the one-shot's single search proves nothing and
    # costs a meta I/O per call (r17 advice #4)
    return VectorIndexServer(spark, path).search(
        queries_df, top_k=top_k, n_probe=n_probe, eager=eager, _fence=False
    )
