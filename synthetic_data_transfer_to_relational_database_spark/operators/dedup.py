"""Deduplication operators over ``documents`` (BASELINE.json LLM-pipeline
surface): exact, normalized-key, n-gram Jaccard, MinHash-LSH, SimHash.

Exact and key-based dedup are oracle-checked; the n-gram Jaccard pair
scorer is oracle-checked too (set sizes + one IEEE division). MinHash-LSH
and SimHash are rows-only (they hinge on xxhash64, which DuckDB lacks),
but fully deterministic — seeds are explicit column inputs to the hash.

Scale notes (the whole point of these algorithms):
- exact dedup = one hash aggregation on the full text — at 100 TB you'd
  group on `F.md5(text)` instead so the shuffle carries a 32-byte digest
  (the r1/r2 catalogs banked that variant as `dedup_exact_digest`;
  folded into `dedup_exact` to fit the driver's sweep window).
- MinHash-LSH: cost is O(docs × shingles × K) map-side + a shuffle keyed
  by (band, band-signature). Candidate verification happens only within
  LSH buckets — never all-pairs. This is the standard web-scale near-dup
  pipeline (shingle → minhash → band → bucket-join).
- SimHash: one 64-bit signature per doc, candidate pairs via prefix
  banding, Hamming distance via xor+bit_count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from ..sources.tables import table
from ._registry import hash_bucket, make_registry
from .skew import checkpoint_pinned

QUERIES, ORACLE, q = make_registry()

_K_MINHASH = 16  # minhash functions
_N_BANDS = 4  # LSH bands (rows per band = K / bands = 4)


def _tokens():
    return F.split(F.trim(F.col("text")), r"\s+")


@q(
    "dedup_exact",
    sql="""
    SELECT text AS text_key, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact dedup with a deterministic survivor (min doc_id) — the
    # groupBy-form of dropDuplicates, which keeps an arbitrary row.
    # At 100 TB, group on F.md5("text") instead so the shuffle carries a
    # 32-byte digest rather than the document; the r1/r2 catalogs carried
    # that variant as its own oracle-green entry (dedup_exact_digest,
    # banked in CORRECTNESS_r01/r02) — folded here to keep the registry
    # inside the driver's 50-query sweep window.
    d = table(spark, sf_dir, "documents")
    return d.groupBy(F.col("text").alias("text_key")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )


@q(
    "dedup_key_norm",
    sql=r"""
    SELECT array_to_string((regexp_split_to_array(trim(lower(text)), '\s+'))[1:5], ' ') AS norm_key,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def dedup_key_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Normalized-key dedup (first 5 lowercased tokens) — the cheap
    # "same-prefix" near-dup filter used before expensive similarity.
    d = table(spark, sf_dir, "documents")
    key = F.concat_ws(" ", F.slice(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 5))
    return d.groupBy(key.alias("norm_key")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs")
    )


@q(
    "dedup_ngram_jaccard",
    sql="""
    WITH sh AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 3 THEN
               list_distinct(list_transform(generate_series(1, length(text) - 2),
                                            i -> substr(text, i, 3)))
             ELSE [] END AS grams
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.grams, b.grams)) AS n_common,
           len(list_distinct(list_concat(a.grams, b.grams))) AS n_union,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Character-trigram Jaccard on adjacent doc pairs: the exact-similarity
    # verifier that LSH candidates feed into (here on a fixed pairing so
    # the oracle stays O(n)).
    d = table(spark, sf_dir, "documents")
    # Texts shorter than 3 chars have no trigrams. The guard matters
    # cross-engine: Spark's sequence(1, 0) yields a DESCENDING [1, 0]
    # while DuckDB's generate_series(1, 0) is empty.
    sh = d.select(
        "doc_id",
        F.expr(
            "CASE WHEN length(text) >= 3 THEN "
            "array_distinct(transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))) "
            "ELSE array() END"
        ).alias("grams"),
    )
    a = sh.alias("a")
    # shuffle_hash: both sides are the corpus carrying trigram-set
    # arrays — the static plan broadcast one whole side and died at the
    # 10× corpus probe (SCALE.md §2 disease sweep); SHJ shuffles by
    # doc_id and avoids sorting rows with heavy arrays
    b = sh.alias("b").hint("shuffle_hash")
    n_common = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    n_union = F.size(F.array_distinct(F.concat(F.col("a.grams"), F.col("b.grams"))))
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            n_common.cast("long").alias("n_common"),
            n_union.cast("long").alias("n_union"),
            # zero-union pairs (both texts < 3 chars): NULL, matching
            # DuckDB's 0/0 — Spark's ANSI mode would throw instead
            F.when(n_union > 0, n_common.cast("double") / n_union)
            .otherwise(F.lit(None))
            .alias("jaccard"),
        )
    )


def _minhash_signatures(d: DataFrame) -> DataFrame:
    """Per-doc MinHash signature array: K independent min-hashes over
    3-word shingles, computed ENTIRELY map-side as array expressions
    (array_min over transform) — no explode, no groupBy, zero shuffle.
    Seeded via the hash input itself (xxhash64(seed, shingle)) —
    deterministic across runs and partitionings."""
    # Hash cost shape: T string hashes (one per token), then per-shingle
    # long-combines, then K×S cheap long hashes — instead of K full
    # string-hash passes over concatenated shingle text.
    toks = F.split(F.trim(F.col("text")), r"\s+")
    # materialize token hashes as a NAMED column first: referencing an
    # unnamed transform(...) expression 3× inside the shingle lambda makes
    # Catalyst re-evaluate the whole token-hash array per element (O(T²))
    th_df = d.select("doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("th"))
    th = F.col("th")
    shingle_h = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(th) - 2, F.lit(1))),
            lambda i: F.xxhash64(
                F.element_at(th, i), F.element_at(th, i + 1), F.element_at(th, i + 2)
            ),
        )
    )
    sh = th_df.select("doc_id", shingle_h.alias("sh"))
    sig = F.array(
        *[
            F.array_min(F.transform("sh", lambda h, k=k: F.xxhash64(F.lit(k), h)))
            for k in range(_K_MINHASH)
        ]
    )
    return sh.select("doc_id", sig.alias("sig"))


def _band_explode(sig_df: DataFrame) -> DataFrame:
    """(doc_id, sig) → one row per LSH band: (doc_id, sig, band,
    band_sig). Pure projection + posexplode — no shuffle."""
    rows_per_band = _K_MINHASH // _N_BANDS
    bands = F.array(
        *[
            F.xxhash64(*[F.element_at("sig", b * rows_per_band + r + 1) for r in range(rows_per_band)])
            for b in range(_N_BANDS)
        ]
    )
    return sig_df.select("doc_id", "sig", F.posexplode(bands).alias("band", "band_sig"))


def _est_jaccard(a_sig: str, b_sig: str) -> F.Column:
    """Estimated Jaccard = fraction of matching minhash components."""
    matches = F.size(
        F.filter(F.zip_with(F.col(a_sig), F.col(b_sig), lambda x, y: x == y), lambda t: t)
    )
    return matches / F.lit(float(_K_MINHASH))


def build_lsh_index(docs: DataFrame) -> DataFrame:
    """The persistable corpus-side LSH index: banded MinHash signatures
    of ``docs`` (doc_id, sig, band, band_sig). At 100 TB write it ONCE,
    bucketed by (band, band_sig) (``parquet_layout.write_bucketed``), so
    every later ``dedup_incremental`` batch joins against it without
    shuffling or re-signing the corpus — only the new batch pays
    signature cost. All computation is map-side (no shuffle)."""
    return _band_explode(_minhash_signatures(docs))


def dedup_incremental(
    new_docs: DataFrame | None,
    corpus_index: DataFrame,
    new_index: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup — the daily-ingest shape: sign and band only
    the NEW batch (O(new × K), map-side), bucket-join it against the
    existing corpus' persisted ``build_lsh_index`` output, and estimate
    Jaccard from the full signatures. The corpus is never re-shingled;
    if the index is stored bucketed by (band, band_sig), the join
    shuffles just the new batch's banded signatures. A caller that
    already holds the batch's banded signatures (the streaming ingest
    signs each batch exactly ONCE and reuses it for the in-batch join,
    the cross-corpus join, and the index append) passes them as
    ``new_index`` and skips the re-signing.

    Returns (new_doc_id, corpus_doc_id, est_jaccard) candidate pairs;
    callers threshold est_jaccard (or verify exactly, as
    dedup_lsh_verified does for the batch case). Semantics are
    test-locked: restricted to cross pairs, this equals the full-corpus
    dedup_minhash_lsh run (tests/test_llm_ops.py)."""
    if new_index is None:
        if new_docs is None:
            raise ValueError("pass new_docs or new_index")
        new_index = _band_explode(_minhash_signatures(new_docs))
    new_banded = new_index
    n, c = new_banded.alias("n"), corpus_index.alias("c")
    return (
        n.join(
            c,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.band_sig") == F.col("c.band_sig"))
            & (F.col("n.doc_id") != F.col("c.doc_id")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("corpus_doc_id"),
            _est_jaccard("n.sig", "c.sig").alias("est_jaccard"),
        )
        .dropDuplicates(["new_doc_id", "corpus_doc_id"])
    )


_INCR_NEAR_T = 0.5  # verified word-shingle Jaccard threshold for "near"


@q(
    "dedup_incremental",
    # rf-string: the near threshold below is _INCR_NEAR_T — one knob,
    # both faces (a hand-edited twin would fail the driver hash opaquely)
    sql=rf"""
    WITH t AS (
      SELECT doc_id, text, md5(text) AS digest,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             CAST(('0x' || substr(md5('incr:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bk
      FROM documents
    ), sh AS (
      SELECT doc_id, digest, bk,
             CASE WHEN len(toks) >= 3 THEN
               list_distinct(list_transform(generate_series(1, len(toks) - 2),
                 i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             ELSE [text] END AS grams
      FROM t
    ), pp AS (
      SELECT doc_id, digest, grams, bk,
             list_min(list_transform(grams, g -> md5(g))) AS b1,
             list_min(list_transform(grams, g -> md5('b2:' || g))) AS b2
      FROM sh
    ), base AS (SELECT * FROM pp WHERE bk < 8),
       nw   AS (SELECT * FROM pp WHERE bk >= 8),
       ex AS (
         SELECT n.doc_id, MIN(b.doc_id) AS exact_id
         FROM nw n JOIN base b ON b.digest = n.digest
         GROUP BY n.doc_id
       ),
       cand AS (
         SELECT n.doc_id AS new_id, b.doc_id AS base_id
         FROM nw n JOIN base b ON b.b1 = n.b1
         UNION
         SELECT n.doc_id, b.doc_id
         FROM nw n JOIN base b ON b.b2 = n.b2
       ),
       ver AS (
         SELECT c.new_id, c.base_id,
                CAST(len(list_intersect(ng.grams, bg.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(ng.grams, bg.grams))) AS j
         FROM cand c
         JOIN nw ng ON ng.doc_id = c.new_id
         JOIN base bg ON bg.doc_id = c.base_id
       ),
       near AS (
         SELECT new_id, base_id AS near_id, j AS near_j
         FROM (SELECT new_id, base_id, j,
                      ROW_NUMBER() OVER (PARTITION BY new_id ORDER BY base_id) AS rn
               FROM ver WHERE j >= {_INCR_NEAR_T}) z
         WHERE rn = 1
       )
    SELECT n.doc_id,
           CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
                WHEN near.near_id IS NOT NULL THEN 'near'
                ELSE 'unique' END AS status,
           CASE WHEN ex.exact_id IS NOT NULL THEN ex.exact_id
                ELSE near.near_id END AS match_doc_id,
           CASE WHEN ex.exact_id IS NOT NULL THEN 1.0
                ELSE near.near_j END AS match_jaccard
    FROM nw n
    LEFT JOIN ex ON ex.doc_id = n.doc_id
    LEFT JOIN near ON near.new_id = n.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLE-PAIRED batch face of incremental corpus dedup — the
    cross-run shape ``dedup_incremental`` (above) and the streaming ingest
    path (streaming/ingest.py) implement with persisted xxhash64 LSH
    signatures, re-expressed here entirely in md5 so DuckDB reproduces
    every hash bit-for-bit and the driver value-hash checks it.

    A deterministic 80/20 hash split of ``documents`` stands in for
    "yesterday's corpus" vs "today's batch" (``hash_bucket`` — content-
    stable, engine-identical). Each NEW doc gets a verdict:

    - ``exact``  — its md5(text) digest already exists in the base corpus
      (match = MIN base doc_id; the 100 TB shuffle carries 32-byte
      digests, never documents);
    - ``near``   — it shares an LSH band with a base doc AND the exact
      word-3-shingle Jaccard of the pair is ≥ 0.5 (match = MIN verified
      base doc_id, with that pair's Jaccard);
    - ``unique`` — neither.

    The banding is a real OR-of-2-bands MinHash, one hash per band: band
    key = min over the doc's distinct 3-word shingles of md5(shingle)
    (band 2 salts the shingle first). Near-dups share most shingles, so
    they share the min with probability ≈ Jaccard per band, OR'd across
    bands — the verbatim small-scale analogue of ``build_lsh_index``'s
    16-hash/4-band scheme. Candidate verification happens only within
    band buckets, never all-pairs.

    Scale shape: band/digest equi-joins shuffle (key, doc_id) pairs only
    (Catalyst prunes the gram arrays out of both join sides); the exact
    Jaccard verify re-joins gram arrays for CANDIDATE ids only. At 100 TB
    you'd verify from stored signatures instead (``_est_jaccard``, as
    ``dedup_incremental`` does) and keep the corpus side as a persisted
    (band, band_sig)-bucketed index so only the new batch is ever signed
    — this query is the semantics contract that path is tested against."""
    d = table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    grams = F.when(
        F.size(toks) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(toks, i),
                    F.element_at(toks, i + 1),
                    F.element_at(toks, i + 2),
                ),
            )
        ),
    ).otherwise(F.array(F.col("text")))
    pp = (
        d.select(
            "doc_id",
            F.md5("text").alias("digest"),
            grams.alias("grams"),
            hash_bucket(F.concat(F.lit("incr:"), F.col("doc_id").cast("string")), 10).alias("bk"),
        )
        .select(
            "*",
            F.array_min(F.transform("grams", lambda g: F.md5(g))).alias("b1"),
            F.array_min(F.transform("grams", lambda g: F.md5(F.concat(F.lit("b2:"), g)))).alias("b2"),
        )
        # both splits derive from pp; cache the prepped form so the
        # shingle+hash pipeline runs once, not once per downstream join
        .cache()
    )
    base = pp.filter(F.col("bk") < 8).drop("bk")
    new = pp.filter(F.col("bk") >= 8).drop("bk")
    # Corpus-scaled build sides (the base split's digests, band keys,
    # and gram arrays) are hinted shuffle_hash: the static estimates
    # above the shingle pipeline are garbage, and the unhinted plan
    # broadcast the base split and died at the 10× corpus probe
    # (SCALE.md §2 disease sweep). Catalyst still prunes the gram
    # arrays out of the digest/band join shuffles (keys + ids only);
    # only the verify joins carry grams, for candidate rows.
    ex = (
        new.alias("n")
        .join(base.alias("b").hint("shuffle_hash"), F.col("b.digest") == F.col("n.digest"))
        .groupBy(F.col("n.doc_id").alias("doc_id"))
        .agg(F.min("b.doc_id").alias("exact_id"))
    )
    cand = (
        new.alias("n")
        .join(base.alias("b").hint("shuffle_hash"), F.col("b.b1") == F.col("n.b1"))
        .select(F.col("n.doc_id").alias("new_id"), F.col("b.doc_id").alias("base_id"))
        .union(
            new.alias("n")
            .join(base.alias("b").hint("shuffle_hash"), F.col("b.b2") == F.col("n.b2"))
            .select(F.col("n.doc_id").alias("new_id"), F.col("b.doc_id").alias("base_id"))
        )
        .distinct()
    )
    # Build-side choice MEASURED, not argued (r12): the gram-side build
    # map scales with docs/partition (one shingle set per doc), the
    # cand-side build with PAIR DENSITY — and at the 10× probe corpus
    # the cand-side placement OOMed while this one ran (129 s). Either
    # placement suppresses the fatal static broadcast; this one's build
    # is bounded by the corpus, not by how dup-heavy the batch is.
    ver = (
        cand.join(
            new.select(F.col("doc_id").alias("new_id"), F.col("grams").alias("ngrams")).hint(
                "shuffle_hash"
            ),
            "new_id",
        )
        .join(
            base.select(F.col("doc_id").alias("base_id"), F.col("grams").alias("bgrams")).hint(
                "shuffle_hash"
            ),
            "base_id",
        )
        .select(
            "new_id",
            "base_id",
            (
                F.size(F.array_intersect("ngrams", "bgrams")).cast("double")
                / F.size(F.array_distinct(F.concat("ngrams", "bgrams")))
            ).alias("j"),
        )
    )
    w = Window.partitionBy("new_id").orderBy("base_id")
    near = (
        ver.filter(F.col("j") >= _INCR_NEAR_T)
        .select("new_id", "base_id", "j", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(F.col("new_id").alias("doc_id"), F.col("base_id").alias("near_id"), F.col("j").alias("near_j"))
    )
    return (
        new.select("doc_id")
        .join(ex, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
            .when(F.col("near_id").isNotNull(), F.lit("near"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.when(F.col("exact_id").isNotNull(), F.col("exact_id"))
            .otherwise(F.col("near_id"))
            .alias("match_doc_id"),
            F.when(F.col("exact_id").isNotNull(), F.lit(1.0))
            .otherwise(F.col("near_j"))
            .alias("match_jaccard"),
        )
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates: band signatures → bucket join →
    estimated Jaccard = fraction of matching minhashes. Rows-only (driver
    checks shape; tests/test_llm_ops.py checks the semantics).

    Plan shape: map-side signatures (no shuffle), one shuffle keyed by
    (band, band_sig) for the bucket self-join, one for the pair dedup —
    at 100 TB both shuffles carry only (doc_id, 16×8-byte sig), never the
    documents themselves."""
    d = table(spark, sf_dir, "documents")
    # cache: the bucket self-join reads signatures twice; without this the
    # whole shingle+hash pipeline runs once per side. Cache the compact
    # (doc_id, sig) form, not the 16×-exploded banding.
    sig = _minhash_signatures(d).cache()
    banded = _band_explode(sig)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _est_jaccard("a.sig", "b.sig").alias("est_jaccard"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs


QUERIES["dedup_minhash_lsh"] = dedup_minhash_lsh


def _sign_bucket(sign_bits: int) -> F.Column:
    """MSB-first sign-quantization key over the first ``sign_bits``
    embedding dims — 2^sign_bits blocking buckets."""
    return F.expr(
        f"aggregate(slice(embedding, 1, {sign_bits}), cast(0 as bigint),"
        " (acc, x) -> acc * 2 + IF(x >= 0, 1, 0))"
    )


@q(
    "dedup_embedding",
    sql="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e,
             (CASE WHEN embedding[1] >= 0 THEN 8 ELSE 0 END
              + CASE WHEN embedding[2] >= 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[3] >= 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[4] >= 0 THEN 1 ELSE 0 END) AS bucket
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * a.e[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64), i -> b.e[i] * b.e[i])))) AS cosine
      FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.25
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str, sign_bits: int = 4) -> DataFrame:
    """Embedding-cosine near-dup: sign-quantization blocking (first
    ``sign_bits`` dims -> 2^sign_bits buckets) so only same-bucket pairs
    are scored, then exact cosine >= threshold. The oracle replicates the
    4-bit default exactly; at 100 TB PASS A LARGER ``sign_bits`` (16-24):
    expected within-bucket pair work is O(n²/2^sign_bits), so the bucket
    key must grow with the corpus for the self-join to stay linear-ish —
    the plan shape (bucket shuffle, within-bucket self-join) is unchanged,
    and a finer key only REFINES the blocking (every k+1-bit bucket is a
    subset of a k-bit bucket). An IVF coarse quantizer (similarity.py)
    is the data-aware alternative when sign bits skew."""
    if not 1 <= sign_bits <= 63:
        raise ValueError(f"sign_bits must be in [1, 63], got {sign_bits}")
    e = table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.col("embedding").alias("e"), _sign_bucket(sign_bits).alias("bucket"))
    a, b = v.alias("a"), v.alias("b")
    dot = "aggregate(zip_with(a.e, b.e, (x, y) -> cast(x as double) * cast(y as double)), cast(0.0 as double), (acc, x) -> acc + x)"
    na = "aggregate(transform(a.e, x -> cast(x as double) * cast(x as double)), cast(0.0 as double), (acc, x) -> acc + x)"
    nb = "aggregate(transform(b.e, x -> cast(x as double) * cast(x as double)), cast(0.0 as double), (acc, x) -> acc + x)"
    cosine = F.expr(dot) / (F.sqrt(F.expr(na)) * F.sqrt(F.expr(nb)))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.25)
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash near-dup: per-token hash votes per bit → signature →
    16-bit prefix banding → Hamming distance via xor + bit_count.
    Rows-only (xxhash64 has no DuckDB twin).

    The signature is computed ENTIRELY map-side with nested array folds
    (outer fold over bits, inner fold over token hashes) — no explode, no
    groupBy: the first shuffle in the plan is the banding self-join, and
    it carries only (doc_id, 8-byte signature). The earlier explode +
    collect_list formulation shuffled a 64-int vote vector per TOKEN —
    corpus-sized traffic that this shape never creates."""
    d = table(spark, sf_dir, "documents")
    # named token-hash column first (see _minhash_signatures: unnamed
    # arrays re-evaluate per lambda reference)
    th_df = d.select(
        "doc_id", F.transform(F.array_distinct(_tokens()), lambda t: F.xxhash64(t)).alias("th")
    )
    sig = th_df.select(
        "doc_id",
        F.expr(
            "aggregate(sequence(0, 63), cast(0 as bigint), (acc, j) -> acc |"
            " (CASE WHEN aggregate(th, cast(0 as bigint),"
            "   (a, h) -> a + cast((h >> j) & 1 as bigint) * 2 - 1) > 0"
            "  THEN shiftleft(cast(1 as bigint), j) ELSE cast(0 as bigint) END))"
        ).alias("simhash"),
    )
    banded = sig.select("doc_id", "simhash", F.expr("shiftrightunsigned(simhash, 48)").alias("prefix"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.prefix") == F.col("b.prefix")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= 16)
    )


QUERIES["dedup_simhash"] = dedup_simhash


# Canonical edge sets up to this size run exact union-find on the
# driver instead of the distributed star contraction (see
# connected_components).
_CC_COLLECT_MAX_EDGES = 50_000


def _cc_driver_unionfind(e: DataFrame, rows: list) -> DataFrame:
    """Driver-side exact connected components over the collected rows of
    a BOUNDED canonical edge set ``e`` (caller dispatches under
    ``_CC_COLLECT_MAX_EDGES``): union-find with path compression,
    then one pass mapping every node to its component MINIMUM — the same
    (node, label) rows the distributed star contraction converges to,
    component roots excluded (a root never appears as a star edge's src;
    callers coalesce absent nodes to themselves). No rows gives the empty
    (node, label) frame."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        a, b = find(row[0]), find(row[1])
        if a != b:
            parent[a] = b
    comp_min: dict = {}
    nodes = {v for row in rows for v in (row[0], row[1])}
    for v in nodes:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    out = [(v, comp_min[find(v)]) for v in nodes if v != comp_min[find(v)]]
    node_t = e.schema["src"].dataType
    schema = StructType(
        [StructField("node", node_t, False), StructField("label", node_t, False)]
    )
    return e.sparkSession.createDataFrame(out, schema)


def connected_components(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond" — the algorithm GraphFrames ships): every round, large-star
    hooks each node's larger neighbors onto its component-minimum-so-far,
    small-star hooks the smaller ones, and the edge set contracts toward
    one star per component in O(log n) rounds — a 10^6-diameter chain
    converges in ~20 rounds where one-hop label propagation needs 10^6.

    ``edges`` is any (src, dst) pair frame (direction ignored). Returns
    (node, label) with label = the component's minimum node id; isolated
    nodes don't appear (callers left-join and coalesce to the node id).

    Physical dispatch (r18): canonical edge sets at or under
    ``_CC_COLLECT_MAX_EDGES`` (50 000; tests patch it to 0 to force
    the contraction) run
    exact union-find on the driver — identical labels, no shuffle
    rounds, no ``max_rounds`` involvement (union-find cannot return
    partial labels). Larger sets run the distributed star contraction
    below; an empty edge set returns the empty frame on either setting.
    Path equality is test-pinned
    (tests/test_llm_ops.py::test_connected_components_dispatch_parity).

    Scale shape: each round is two self-contained groupBy+join passes over
    the CURRENT edge set (which only shrinks toward node count); lineage
    is cut with ``skew.checkpoint_pinned`` every round — see the in-loop
    comment for why per-round truncation is load-bearing, not optional.
    With ``sc.setCheckpointDir`` configured the cut is a RELIABLE
    checkpoint that survives executor loss (the cluster-scale setting);
    otherwise localCheckpoint. Raises if the edge set
    has not reached a fixpoint within ``max_rounds`` — partial labels are
    WRONG labels, never returned silently.
    """
    # canonical direction: src > dst, self-loops dropped
    e = (
        edges.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # cost-based dispatch (the window_rank / FK-sampling / percentile
    # pattern): a SMALL edge set runs exact union-find on the driver —
    # identical labels (component minimum), zero shuffle rounds. The r18
    # ingest phase split (SCALE.md) measured the distributed rounds at
    # ~1.5-2 s of pure fixed cost per micro-batch on 24-32-edge batches
    # (each round is ~6 exchanges + an eager checkpoint + fixpoint-test
    # jobs, all latency at that size); union-find over a bounded collect
    # is milliseconds. ONE bounded ``limit(cap + 1)`` collect both sizes
    # the edge set and fetches it, a single job per streaming trigger.
    # Zero rows (the CLEAN batch, streaming ingest's common case) yields
    # the empty frame. Memory is broadcast-side class (50k edges ≈ a few
    # MB of Row objects).
    rows = e.limit(_CC_COLLECT_MAX_EDGES + 1).collect()
    if len(rows) <= _CC_COLLECT_MAX_EDGES:
        return _cc_driver_unionfind(e, rows)
    e = checkpoint_pinned(e, eager=True)
    # ONE count job seeds the fixpoint test's left side: every round's
    # test used to re-count the PREVIOUS round's checkpointed set (a job
    # whose answer was already known)
    n_e = e.count()

    def large_star(e: DataFrame) -> DataFrame:
        # per node u: m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
        nbr = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        m = nbr.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
        return (
            nbr.join(m, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # per node u over its SMALLER neighbors v (canonical dst side):
        # m = min(Γ<(u) ∪ {u}); emit (v, m) and (u, m)
        m = e.groupBy("src").agg(F.least(F.min("dst"), F.col("src")).alias("m"))
        j = e.join(m, "src")
        return (
            j.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(m.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    converged = False
    for rnd in range(1, max_rounds + 1):
        # checkpoint EVERY round: one round references `e` ~6× (the
        # symmetric union, the min join, the fixpoint test), so without
        # truncation the LOGICAL plan grows ~6× per round — plan
        # canonicalization alone OOMs the driver by round 5 (cache()
        # doesn't help: InMemoryRelation keeps the full child plan).
        # localCheckpoint materializes the (shrinking, ≤ node count) edge
        # set and cuts lineage — the same reason GraphFrames checkpoints
        # its connectedComponents every couple of iterations.
        e2 = checkpoint_pinned(small_star(large_star(e)), eager=True)
        # exact fixpoint test: both sides are distinct sets, so equal
        # count + empty anti-join ⇔ identical edge sets. n_e carries the
        # previous round's count — one count job per round, not two.
        n_e2 = e2.count()
        converged = (
            n_e == n_e2
            and e2.join(e, ["src", "dst"], "left_anti").limit(1).count() == 0
        )
        e, n_e = e2, n_e2
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} "
            "rounds — refusing to return partial (wrong) cluster labels; "
            "raise max_rounds (rounds needed ≈ log2(max component diameter))"
        )
    # fixpoint = one star per component: dst IS the component minimum
    return e.select(F.col("src").alias("node"), F.col("dst").alias("label"))


@q(
    "dedup_cluster",
    sql=r"""
    WITH RECURSIVE docs AS (
      SELECT doc_id,
             array_to_string((regexp_split_to_array(trim(lower(text)), '\s+'))[1:5], ' ') AS blk,
             CASE WHEN length(text) >= 3 THEN
               list_distinct(list_transform(generate_series(1, length(text) - 2),
                                            i -> substr(text, i, 3)))
             ELSE [] END AS grams
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM docs a JOIN docs b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / NULLIF(len(list_distinct(list_concat(a.grams, b.grams))), 0) >= 0.4
    ), edges AS (
      SELECT src, dst FROM pairs UNION ALL SELECT dst AS src, src AS dst FROM pairs
    ), reach(doc_id, label) AS (
      SELECT doc_id, doc_id FROM docs
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
    ), comp AS (
      SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERING — the transitive-closure step after pair
    generation (a ~ b, b ~ c ⇒ {a, b, c} share one survivor even when
    a ~ c fails the threshold). Edges: same normalized 5-token block key
    AND trigram Jaccard ≥ 0.4. The DuckDB oracle computes the same
    closure with a recursive CTE.

    Components via the alternating star contraction in
    ``connected_components`` — O(log diameter) rounds (the driver loop
    is plan construction only, all data stays distributed), lineage cut
    by checkpoints, convergence verified (never silently partial).

    Scale notes: candidate edges come from blocked pairing (never
    all-pairs); each contraction round shuffles only the shrinking edge
    set — the same cost shape GraphFrames' connectedComponents pays per
    iteration, with exponentially fewer iterations than one-hop label
    propagation on deep components.
    """
    d = table(spark, sf_dir, "documents")
    grams = F.expr(
        "CASE WHEN length(text) >= 3 THEN "
        "array_distinct(transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))) "
        "ELSE array() END"
    )
    blk = F.concat_ws(" ", F.slice(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 5))
    g = d.select("doc_id", blk.alias("blk"), grams.alias("grams"))
    a, b = g.alias("a"), g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams"))).cast("double")
    uni = F.size(F.array_distinct(F.concat(F.col("a.grams"), F.col("b.grams")))).cast("double")
    # zero-union guard mirrors the oracle's NULLIF: the pair is dropped,
    # never a DIVIDE_BY_ZERO under ANSI mode
    similar = F.when(uni > 0, (inter / uni) >= 0.4).otherwise(F.lit(False))
    pairs = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(similar)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )
    comp = connected_components(pairs)
    labels = (
        g.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select("doc_id", F.coalesce("label", "doc_id").alias("label"))
    )
    # cluster sizes via aggregate + join, NOT count().over(partitionBy
    # (label)): the window form buffers each label's whole partition in
    # one WindowExec task (a giant-cluster hazard); the aggregate gets
    # map-side partial counts and AQE can broadcast the (one row per
    # cluster) counts side of the join.
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "label").select(
        "doc_id", F.col("label").alias("cluster_id"), "cluster_size"
    )


def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete near-dup pipeline stage: MinHash-LSH CANDIDATES →
    exact trigram-Jaccard VERIFICATION → confirmed pairs. LSH recall
    gives cheap candidates (signatures only cross the wire); the exact
    check — word-level shingles are too coarse for a final verdict —
    joins the candidate pair list back to per-doc trigram sets and keeps
    pairs with true Jaccard ≥ 0.5. Rows-only (candidates hinge on
    xxhash64), deterministic; the verify arithmetic is the oracle-checked
    dedup_ngram_jaccard formula.

    Scale shape: candidates ≪ all-pairs by construction; the verify join
    shuffles (pair, doc_id) — gram sets are fetched for candidate docs
    only, never for the full corpus cross product."""
    d = table(spark, sf_dir, "documents")
    cand = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b", "est_jaccard")
    grams = d.select(
        "doc_id",
        F.expr(
            "CASE WHEN length(text) >= 3 THEN "
            "array_distinct(transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))) "
            "ELSE array() END"
        ).alias("grams"),
    )
    ga = grams.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("gb"))
    joined = cand.join(ga, "doc_a").join(gb, "doc_b")
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    uni = F.size(F.array_distinct(F.concat("ga", "gb"))).cast("double")
    jac = F.when(uni > 0, inter / uni).otherwise(F.lit(None))
    return (
        joined.select("doc_a", "doc_b", "est_jaccard", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


QUERIES["dedup_lsh_verified"] = dedup_lsh_verified


@q(
    "dedup_keep_best",
    sql=r"""
    SELECT doc_id AS keep_doc_id, norm_key, n_chars AS keep_n_chars,
           n_docs AS group_size
    FROM (
      SELECT doc_id, n_chars,
             array_to_string((regexp_split_to_array(trim(lower(text)), '\s+'))[1:5], ' ')
               AS norm_key,
             ROW_NUMBER() OVER (
               PARTITION BY array_to_string(
                 (regexp_split_to_array(trim(lower(text)), '\s+'))[1:5], ' ')
               ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (
               PARTITION BY array_to_string(
                 (regexp_split_to_array(trim(lower(text)), '\s+'))[1:5], ' ')) AS n_docs
      FROM documents
    )
    WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup policy: within each near-dup group (the same
    5-token normalized prefix key as dedup_key_norm), survive the
    LONGEST document instead of the arbitrary/min-id one — the policy
    real curation pipelines use (keep the most complete variant, drop
    truncated mirrors). Ties break on doc_id, so the survivor is total-
    order deterministic.

    Scale notes: one shuffle keyed on the normalized key; the argmax is
    a per-key window (rank + count in the same pass — no second
    aggregate join-back), and keys hash-distribute so no global sort
    exists. At 100 TB the shuffle carries (key, doc_id, n_chars) — the
    text itself never moves; with quality scores in place of n_chars
    this is exactly the keep-highest-quality policy."""
    d = table(spark, sf_dir, "documents")
    norm_key = F.concat_ws(
        " ", F.slice(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 5)
    )
    w = Window.partitionBy("norm_key").orderBy(F.col("n_chars").desc(), "doc_id")
    wc = Window.partitionBy("norm_key")
    return (
        d.select("doc_id", "n_chars", norm_key.alias("norm_key"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            F.col("doc_id").alias("keep_doc_id"),
            "norm_key",
            F.col("n_chars").alias("keep_n_chars"),
            "group_size",
        )
    )


@q(
    "dedup_edit_distance",
    sql=r"""
    WITH k AS (
      SELECT doc_id, text, length(text) AS n,
             array_to_string((regexp_split_to_array(trim(lower(text)), '\s+'))[1:5], ' ')
               AS nk
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist,
           CAST(levenshtein(a.text, b.text) AS DOUBLE)
             / greatest(a.n, b.n) AS rel_edit
    FROM k a JOIN k b ON a.nk = b.nk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 0.5 * greatest(a.n, b.n)
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-dup pairs: candidates blocked on the
    5-token normalized prefix (the dedup_key_norm key), then verified
    with FULL Levenshtein distance and kept when the edit span is at
    most half the longer document — the character-level verifier that
    catches small in-place edits token-set Jaccard is blind to
    (punctuation drift, number substitutions, OCR noise).

    Scale notes: Levenshtein is O(len²) per pair — the one verifier you
    must NEVER run all-pairs. The blocking keeps it inside candidate
    buckets (same discipline as dedup_lsh_verified's bucket-confined
    exact Jaccard); the block shuffle carries (key, doc_id, text) for
    candidates only, and the distance runs JVM-side (built-in
    levenshtein — no Python in the loop). Swap the prefix key for
    MinHash bands to blunt the block size at web scale."""
    d = table(spark, sf_dir, "documents")
    k = d.select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.concat_ws(
            " ", F.slice(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), 1, 5)
        ).alias("nk"),
    )
    a, b = k.alias("a"), k.alias("b")
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"))
    longer = F.greatest(F.col("a.n"), F.col("b.n"))
    return (
        a.join(
            b,
            (F.col("a.nk") == F.col("b.nk")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(lev <= 0.5 * longer)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            lev.alias("edit_dist"),
            (lev.cast("double") / longer).alias("rel_edit"),
        )
    )
