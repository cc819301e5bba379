"""Multimodal-column plumbing (BASELINE.json surface): opaque ``binary``
payloads with typed metadata, decode/feature-extract as Arrow-batched
``mapInPandas``.

The container has no image/audio codecs, so the decode step is a
clearly-marked deterministic STUB (`_fake_decode`) — but everything
Spark-side is real and tested: binary column construction, schema-typed
UDF output, batch iteration, partition-preserving plumbing. Swapping the
stub for PIL/ffmpeg changes one function body, not the plan.

``multimodal_bytes`` is oracle-checked (byte lengths + prefix hex via
UTF-8 encode are engine-portable); the mapInPandas feature extractor is
rows-only.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..sources.tables import table
from ._registry import make_registry

QUERIES, ORACLE, q = make_registry()


@q(
    "multimodal_bytes",
    sql="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           hex(encode(substr(text, 1, 8))) AS prefix_hex,
           octet_length(encode(lang)) AS lang_bytes
    FROM documents
    """,
)
def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Binary-column plumbing: text → bytes, byte-length + prefix
    # inspection entirely JVM-side.
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length(F.encode("text", "UTF-8")).cast("long").alias("n_bytes"),
        F.hex(F.encode(F.substring("text", 1, 8), "UTF-8")).alias("prefix_hex"),
        F.octet_length(F.encode("lang", "UTF-8")).cast("long").alias("lang_bytes"),
    )


_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("checksum", LongType()),
    ]
)


def _fake_decode(payload: bytes) -> tuple[int, int]:
    """STUB decoder. A real pipeline would call PIL / ffmpeg here (not
    available in this container). Deterministic fake: derive dimensions
    from the payload so tests can assert exact values.

    Raises NotImplementedError for media types a real decoder would need;
    callers route only 'image' payloads here.
    """
    if not payload:
        raise NotImplementedError("real codec required for empty/real media payloads")
    width = 16 + payload[0] % 64
    height = 16 + payload[-1] % 64
    return width, height


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over a binary media column.

    Builds the media column from document text (stand-in payload), then
    runs mapInPandas: one Python process per partition, pyarrow batches
    in/out — the shape a real image/audio featurizer uses at scale.
    """
    d = table(spark, sf_dir, "documents")
    media = d.select(
        "doc_id",
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").cast(BinaryType()).alias("payload"),
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            dims = [_fake_decode(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "width": pd.Series([w for w, _ in dims], dtype="int64"),
                    "height": pd.Series([h for _, h in dims], dtype="int64"),
                    # order-independent checksum: sum of bytes mod 2^31-1
                    "checksum": payloads.map(lambda b: sum(bytes(b)) % 2147483647).astype("int64"),
                }
            )

    return media.mapInPandas(extract, schema=_FEATURE_SCHEMA)


QUERIES["multimodal_features"] = multimodal_features


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing for video-like payloads: split each payload
    into fixed-size 'frames', keep every 4th — explode + filter, all
    JVM-side; only the (stubbed) per-frame decode would be Python."""
    d = table(spark, sf_dir, "documents")
    frames = d.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, greatest(cast(length(text) / 32 as int), 1)),"
                " i -> encode(substr(text, (i - 1) * 32 + 1, 32), 'utf-8'))"
            )
        ).alias("frame_no", "frame_bytes"),
    ).filter(F.col("frame_no") % 4 == 0)
    return frames.select(
        "doc_id", "frame_no", F.octet_length("frame_bytes").cast("long").alias("frame_len")
    )


QUERIES["multimodal_frame_sample"] = multimodal_frame_sample


@q(
    "multimodal_dyn_batch",
    sql="""
    WITH media AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             octet_length(encode(text)) // 256 AS size_bucket
      FROM documents
    ), seq AS (
      SELECT doc_id, n_bytes, size_bucket,
             ROW_NUMBER() OVER (PARTITION BY size_bucket ORDER BY n_bytes, doc_id) AS rn
      FROM media
    )
    SELECT doc_id, n_bytes, size_bucket,
           (rn - 1) // 8 AS batch_id,
           MAX(n_bytes) OVER (PARTITION BY size_bucket, (rn - 1) // 8)
             AS batch_pad_to
    FROM seq
    """,
)
def multimodal_dyn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic batching for inference over variable-length media: bucket
    payloads by size, order within bucket, cut into fixed batches of 8,
    pad every item to its batch max — the length-grouping trick that
    minimizes wasted padding compute in ASR/vision serving.

    The oracle's ROW_NUMBER() OVER (PARTITION BY size_bucket ...) is the
    spec, but size buckets are FEW (payload_bytes/256) while rows are
    many — at 100 TB each bucket would sort through one WindowExec task.
    Like ``relational.window_rank`` the physical form is COST-BASED on
    Catalyst's size estimate (``skew.RANK_SMALL_INPUT_BYTES``): small
    input takes the one-window plan (the derivation's fixed driver jobs
    would dominate), large input takes
    ``skew.group_distribution_ranks`` (range slices + broadcast offsets,
    bit-identical ranks). The per-(bucket, batch) pad max is a window
    whose partitions hold ≤ 8 rows by construction either way."""
    from .skew import group_distribution_ranks, small_rank_input

    d = table(spark, sf_dir, "documents")
    n_bytes = F.octet_length(F.encode("text", "UTF-8")).cast("long")
    # floor division explicitly on BOTH engines: DuckDB's `/` is true
    # division and its CAST rounds-to-nearest, Spark's cast truncates
    media = d.select(
        "doc_id",
        n_bytes.alias("n_bytes"),
        F.floor(n_bytes / 256).cast("long").alias("size_bucket"),
    )
    if small_rank_input(media, cache_key=("multimodal_dyn_batch", sf_dir)):
        w_seq = Window.partitionBy("size_bucket").orderBy("n_bytes", "doc_id")
        seq = media.withColumn("rn", F.row_number().over(w_seq))
    else:
        seq = group_distribution_ranks(media, "size_bucket", ["n_bytes", "doc_id"]).select(
            "doc_id", "n_bytes", "size_bucket", F.col("__rank").alias("rn")
        )
    batch_id = F.floor((F.col("rn") - 1) / 8).cast("long")
    w_batch = Window.partitionBy("size_bucket", "batch_id")
    return (
        seq.withColumn("batch_id", batch_id)
        .withColumn("batch_pad_to", F.max("n_bytes").over(w_batch))
        .select("doc_id", "n_bytes", "size_bucket", "batch_id", "batch_pad_to")
    )


@q(
    "multimodal_phash_dedup",
    sql="""
    WITH sig AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(0, 15), j ->
               CASE WHEN
                 (ascii(substr(text, j*4+1, 1)) + ascii(substr(text, j*4+2, 1))
                  + ascii(substr(text, j*4+3, 1)) + ascii(substr(text, j*4+4, 1))) * 16
                 > list_sum(list_transform(generate_series(1, 64),
                                           i -> ascii(substr(text, i, 1))))
               THEN 1 << j ELSE 0 END)) AS BIGINT) AS sig
      FROM documents WHERE length(text) >= 64
    ), banded AS (
      SELECT doc_id, sig, b.band,
             (sig >> (b.band * 4)) & 15 AS band_sig
      FROM sig, (SELECT unnest(generate_series(0, 3)) AS band) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.sig AS sig_a,
                      b.doc_id AS doc_b, b.sig AS sig_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, sig_a, sig_b,
           CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 2
    """,
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection for media payloads: the
    average-hash (aHash) algorithm — 16 payload blocks, bit j set when
    block j's intensity beats the payload mean — banded 4×4 LSH-style so
    candidates share at least one identical band (hamming ≤ 2 over 16
    bits guarantees ≥ 2 untouched bands: banding has recall 1 here, not
    probabilistic), then exact hamming verification on candidates. The
    'intensity' source is the stand-in text payload's byte values
    (module convention — a real pipeline substitutes the decoded raster
    for the byte stream and keeps this exact plan). The mean comparison
    is pure integer arithmetic (sum_j·16 > total over 64 samples), so
    the whole operator is oracle-paired, unlike the probabilistic
    MinHash/SimHash text twins.

    Scale notes: signatures are map-side expressions; the only shuffle
    is the (band, band_sig) bucket join of (doc_id, sig) rows — payloads
    never shuffle. A degenerate hot bucket (constant-color corpus) is
    the df-cap situation; cap or salt as in text_doc_pairs_jaccard."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") >= 64)
    total = F.expr(
        "aggregate(transform(sequence(1, 64), i -> ascii(substr(text, i, 1))),"
        " 0, (acc, x) -> acc + x)"
    )
    bits = []
    for j in range(16):
        block = sum(
            (F.ascii(F.substring("text", j * 4 + i + 1, 1)) for i in range(1, 4)),
            F.ascii(F.substring("text", j * 4 + 1, 1)),
        )
        bits.append(F.when(block * 16 > F.col("__total"), F.lit(1 << j)).otherwise(F.lit(0)))
    sig = d.select(
        "doc_id", total.alias("__total"), F.col("text")
    ).select("doc_id", sum(bits[1:], bits[0]).cast("long").alias("sig"))
    banded = sig.select(
        "doc_id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
    ).withColumn("band_sig", F.expr("shiftright(sig, band * 4) & 15"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.withColumn("hamming", hamming.cast("long")).filter(
        F.col("hamming") <= 2
    )
