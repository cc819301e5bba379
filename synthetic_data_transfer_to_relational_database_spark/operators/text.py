"""Text-analysis operators over ``documents`` (BASELINE.json LLM-pipeline
surface): token stats, term frequencies, language-ID heuristic, quality
scoring, document fingerprinting, and the vectorized-UDF demonstration.

All deterministic and SQL-expressible, so every query here is
oracle-checked. The fingerprint is an order-independent modular
polynomial hash (exact 64-bit integer arithmetic — no float, no libm).

Scale notes: everything is a projection + one hash aggregation; the
token-frequency op is the classic word-count shape (explode → partial
map-side count → final). No Python in the hot path except the single
``pandas_udf`` demo, which is Arrow-vectorized.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from ..sources.tables import table
from ._registry import hash_bucket, make_registry

QUERIES, ORACLE, q = make_registry()

# Modular polynomial hash parameters (shared by Spark expr and oracle SQL).
_P = 2147483647  # 2^31 - 1
_POW31 = [pow(31, i, _P) for i in range(64)]
_POW31_SQL = "[" + ", ".join(str(v) for v in _POW31) + "]"


def _tokens():
    return F.split(F.trim(F.col("text")), r"\s+")


@q(
    "text_stats",
    sql=r"""
    SELECT doc_id, lang, source, n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           length(text) - length(replace(text, ' ', '')) AS n_spaces,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\s+')) AS avg_token_len
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens())
    return d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        n_tokens.cast("long").alias("n_tokens"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).cast("long").alias("n_spaces"),
        (
            F.length(F.regexp_replace("text", " ", "")).cast("double") / n_tokens
        ).alias("avg_token_len"),
    )


@q(
    "text_term_freq",
    sql=r"""
    SELECT token,
           COUNT(*) AS freq,
           COUNT(DISTINCT doc_id) AS doc_freq
    FROM (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents)
    GROUP BY token
    """,
)
def text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Word count: explode → map-side partial count → final aggregation.
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"), F.countDistinct("doc_id").alias("doc_freq"))
    )


@q(
    "text_lang_id",
    sql=r"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS en_hits,
           CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
             / len(toks) AS en_ratio,
           CASE WHEN CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
                     / len(toks) >= 0.05
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM t
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # N-gram/stopword language-ID heuristic. The testdata's `lang` labels
    # are random over a shared vocabulary, so this predicts from content
    # only; the oracle recomputes the identical formula.
    d = table(spark, sf_dir, "documents")
    toks = _tokens()
    hits = F.size(F.filter(toks, lambda x: (x == "the") | (x == "a")))
    ratio = hits.cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        hits.cast("long").alias("en_hits"),
        ratio.alias("en_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias("pred_lang"),
    )


@q(
    "text_quality",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             length(replace(text, ' ', '')) AS n_alpha,
             length(text) AS n_chars_t
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(n_alpha AS DOUBLE) / n_chars_t AS alpha_ratio,
           CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1 ELSE 0 END AS len_ok,
           (CAST(n_alpha AS DOUBLE) / n_chars_t)
             * (CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END) AS quality
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Quality scoring: length window + alphanumeric density (the classic
    # pre-training heuristics), combined in a fixed-order IEEE expression.
    d = table(spark, sf_dir, "documents")
    n_tokens = F.size(_tokens()).cast("long")
    n_alpha = F.length(F.regexp_replace("text", " ", ""))
    alpha_ratio = n_alpha.cast("double") / F.length("text")
    len_ok = F.when(n_tokens.between(20, 200), F.lit(1)).otherwise(F.lit(0))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        len_ok.cast("long").alias("len_ok"),
        (alpha_ratio * F.when(n_tokens.between(20, 200), F.lit(1.0)).otherwise(F.lit(0.5))).alias(
            "quality"
        ),
    )


@q(
    "text_fingerprint",
    sql=f"""
    SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(1, least(length(text), 64)),
                    i -> (CAST(ascii(substr(text, i, 1)) AS BIGINT) * ({_POW31_SQL})[i]) % {_P}
           )) % {_P} AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Polynomial rolling hash of the 64-char prefix, in exact modular
    # arithmetic: sum_i cp(text[i]) * 31^i mod (2^31-1). Order-independent
    # integer sum ⇒ engine-portable; no UDF.
    d = table(spark, sf_dir, "documents")
    pow_arr = "array(" + ", ".join(f"{v}L" for v in _POW31) + ")"
    fp = F.expr(
        "aggregate("
        "  transform(sequence(1, least(length(text), 64)),"
        f"   i -> (cast(ascii(substr(text, i, 1)) as bigint) * element_at({pow_arr}, i)) % {_P}),"
        "  cast(0 as bigint), (acc, x) -> (acc + x) % " + str(_P) + ") % " + str(_P)
    )
    return d.select("doc_id", fp.alias("fingerprint"))


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@q(
    "text_token_bpe",
    sql=rf"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_tokens_c4
    FROM documents
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, a BPE-style
    pre-tokenizer regex (letter runs / digit runs / punctuation runs —
    the GPT-2 pattern reduced to ASCII classes both regex engines agree
    on), and the chars/4 estimator used for quick corpus sizing."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.ceil(F.length("text") / 4.0).cast("long").alias("est_tokens_c4"),
    )


@q(
    "udf_surface",
    sql=r"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens_udf
    FROM documents
    """,
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The UDF escape hatch the reference's Faker providers would use
    # (SURVEY.md §2.1 G8-G10): Arrow-vectorized pandas_udf, never
    # row-at-a-time Python. Here it computes a value the oracle can check.
    @F.pandas_udf(LongType())
    def n_tokens_udf(s: pd.Series) -> pd.Series:
        return s.str.strip().str.split(r"\s+", regex=True).str.len().astype("int64")

    d = table(spark, sf_dir, "documents")
    return d.select("doc_id", n_tokens_udf("text").alias("n_tokens_udf"))


@q(
    "sample_stratified",
    sql="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE (doc_id * 1000003) % 100 <
          CASE lang WHEN 'en' THEN 50 WHEN 'tr' THEN 80 ELSE 100 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling — per-language keep rates (down-weight
    the dominant language, keep the tail), the mixture-building step of a
    training-data pipeline. Deterministic modular hash on the key, like
    ``sample_hash``, so both engines and repeated runs select the same
    rows. Map-only: the predicate evaluates at the scan, no shuffle."""
    d = table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 50).when(F.col("lang") == "tr", 80).otherwise(100)
    )
    return d.filter((F.col("doc_id") * 1000003) % 100 < rate).select(
        "doc_id", "lang", "source"
    )


_BENCH_PHRASES = [
    "the quick brown fox",
    "lorem ipsum dolor",
    "to be or not to be",
    "once upon a time",
]
_BENCH_SQL = "[" + ", ".join(f"'{p}'" for p in _BENCH_PHRASES) + "]"


@q(
    "text_contamination",
    sql=f"""
    SELECT doc_id,
           len(list_filter({_BENCH_SQL}, p -> contains(lower(text), p))) AS n_bench_hits,
           len(list_filter({_BENCH_SQL}, p -> contains(lower(text), p))) > 0 AS contaminated
    FROM documents
    """,
)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: does a document contain any phrase
    from an evaluation set? The phrase list is a broadcast-literal model
    (real pipelines ship n-gram sets of the benchmarks); matching is a
    map-only array filter over the lowercased text — no shuffle, scales
    linearly with corpus bytes."""
    d = table(spark, sf_dir, "documents")
    phrases = F.lit(_BENCH_PHRASES)
    hits = F.size(F.filter(phrases, lambda p: F.contains(F.lower(F.col("text")), p)))
    return d.select(
        "doc_id",
        hits.cast("long").alias("n_bench_hits"),
        (hits > 0).alias("contaminated"),
    )


# Oracle SQL for corpus_decontaminate. Implemented + tested in r14 with
# registration STAGED (the r14 window was over-full with owed evidence
# and the r7 corollary requires new keys to enter the window the round
# they register); registered in r15 with a leading window slot.
_DECON_SQL = f"""
    SELECT doc_id, lang, source, length(text) AS text_len
    FROM documents
    WHERE len(list_filter({_BENCH_SQL}, p -> contains(lower(text), p))) = 0
    """


@q("corpus_decontaminate", sql=_DECON_SQL)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination pass: the corpus with every benchmark-overlapping
    document REMOVED — ``text_contamination``'s hit predicate composed
    into a filtered corpus (the step training pipelines run between the
    contamination scan and tokenization, so eval benchmarks are not in
    the training set). Same broadcast-literal phrase model, map-only:
    the anti-predicate evaluates at the scan, no shuffle, no second pass
    over the corpus — scales linearly with corpus bytes."""
    d = table(spark, sf_dir, "documents")
    hits = F.size(F.filter(F.lit(_BENCH_PHRASES), lambda p: F.contains(F.lower(F.col("text")), p)))
    return d.filter(hits == 0).select(
        "doc_id", "lang", "source", F.length("text").cast("long").alias("text_len")
    )


_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+[0-9][0-9 ()-]{7,}[0-9]"


@q(
    "text_pii_scan",
    sql=rf"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           length(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_len
    FROM documents
    """,
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction counts (emails, international-format
    phones): the scrubbing pass every training corpus needs. Patterns use
    the common subset of Java regex and RE2 (no lookaround), so Spark and
    DuckDB agree match-for-match. Map-only."""
    d = table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace("text", F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_PHONE_RE),
        F.lit("<PHONE>"),
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


@q(
    "corpus_mixture",
    sql="""
    WITH w AS (
      SELECT doc_id, lang, source,
             CASE lang WHEN 'zh' THEN 2 ELSE 1 END AS repeats
      FROM documents
      WHERE (doc_id * 1000003) % 100 <
            CASE lang WHEN 'en' THEN 50 ELSE 100 END
    )
    SELECT doc_id, lang, source,
           unnest(generate_series(1, repeats)) AS copy_no
    FROM w
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: per-language epoch weights realized as physical rows —
    down-sample the dominant language (deterministic modular hash), repeat
    under-represented ones (explode over a repeat sequence). The output IS
    the training mixture a sampler would stream. Map-only: filter at the
    scan, explode inflates selected rows without a shuffle."""
    d = table(spark, sf_dir, "documents")
    keep = (F.col("doc_id") * 1000003) % 100 < F.when(
        F.col("lang") == "en", 50
    ).otherwise(100)
    repeats = F.when(F.col("lang") == "zh", 2).otherwise(1)
    return (
        d.filter(keep)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.sequence(F.lit(1), repeats)).alias("copy_no"),
        )
    )


@q(
    "corpus_token_budget_scalable",
    sql="""
    WITH scored AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) / length(text) AS quality
      FROM documents
      WHERE length(text) > 0
    ), ranked AS (
      SELECT doc_id, n_tokens, quality,
             SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM scored
    )
    SELECT doc_id, n_tokens, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           cum_tokens <= 10000 AS selected
    FROM ranked
    """,
)
def corpus_token_budget_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained selection — rank documents by quality, keep the
    prefix whose cumulative token count fits the training budget (the
    "best N tokens" cut every curation pipeline makes) — in the plan that
    survives 100 TB. The oracle (and the r1/r2 catalog's demo twin
    ``corpus_token_budget``, folded into this entry) is the naive global
    ordered cumsum, which collapses to ONE partition; here the running
    sum is ``skew.ordered_cumsum`` over the (quality DESC, doc_id) total
    order — range slices + broadcast offsets, every sort bounded by the
    slice size. (An earlier form hand-rolled the same recipe with 32
    fixed quality buckets, which still funneled ~3% of the corpus per
    bucket task; bounded range slices dominate it.)"""
    from .skew import ordered_cumsum

    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_tokens = F.size(_tokens()).cast("long")
    quality = F.length(F.regexp_replace("text", " ", "")).cast("double") / F.length("text")
    scored = d.select("doc_id", n_tokens.alias("n_tokens"), quality.alias("quality"))
    c = ordered_cumsum(
        scored, [F.desc("quality"), "doc_id"], "n_tokens", out_col="__cum"
    )
    return c.select(
        "doc_id",
        "n_tokens",
        "quality",
        F.col("__cum").alias("cum_tokens"),
        (F.col("__cum") <= 10000).alias("selected"),
    )


@q(
    "text_tfidf_top",
    sql="""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token AS top_term, score
    FROM (
      SELECT doc_id, token, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, token) AS rn
      FROM scored) t
    WHERE rn = 1
    """,
)
def text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document most-distinctive term by TF-IDF with a LINEAR idf
    (tf · N / df): ln-based idf orders identically per fixed tf but its
    last-ulp value differs between libm implementations, while one exact
    integer product and one IEEE division are bit-identical cross-engine.
    Shape: word-count aggregation, a token-keyed join of tf against df
    (both partial-agg friendly), top-1 window per doc. At 100 TB the df
    side is vocabulary-sized — broadcast below ~100M distinct tokens.
    N is a LAZY one-row aggregate cross-joined in (exactly the oracle's
    ``CROSS JOIN n``) — no eager driver-side count() at plan time, one
    job per invocation instead of two."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("token").alias("top_term"), "score")
    )


@q(
    "corpus_curation_pipeline",
    sql="""
    WITH scored AS (
      SELECT doc_id, text, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) / length(text) AS alpha_ratio
      FROM documents
      WHERE length(text) > 0
    ), quality AS (
      SELECT * FROM scored
      WHERE n_tokens BETWEEN 5 AND 500 AND alpha_ratio >= 0.7
    ), survivors AS (
      SELECT MIN(doc_id) AS doc_id, text,
             MIN(lang) AS lang, MIN(n_tokens) AS n_tokens, COUNT(*) AS n_copies
      FROM quality GROUP BY text
    )
    SELECT doc_id, lang, n_tokens, n_copies
    FROM survivors
    WHERE (doc_id * 1000003) % 100 <
          CASE lang WHEN 'en' THEN 60 ELSE 100 END
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages COMPOSED as one declarative plan — quality
    filter → exact dedup (deterministic survivor) → stratified sample —
    proving the operator set chains without materialization barriers:
    Catalyst fuses the filter into the scan, the dedup is the only
    shuffle and is keyed on md5(text) — the output carries no text, so
    only 32-byte digests + metadata cross the wire at any scale — and
    the sample predicate is map-side again."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    alpha_ratio = F.length(F.regexp_replace("text", " ", "")).cast("double") / F.length("text")
    quality = d.select(
        "doc_id", "text", "lang", n_tokens.alias("n_tokens"), alpha_ratio.alias("alpha_ratio")
    ).filter((F.col("n_tokens").between(5, 500)) & (F.col("alpha_ratio") >= 0.7))
    # group on the digest, not the text: the output carries no text, so
    # the dedup shuffle only needs the 32-byte md5 key + metadata — the
    # oracle's GROUP BY text partitions the rows identically (md5
    # collisions aside, probability ~2^-128)
    survivors = quality.groupBy(F.md5(F.col("text").cast("binary")).alias("__dig")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    keep = (F.col("doc_id") * 1000003) % 100 < F.when(
        F.col("lang") == "en", 60
    ).otherwise(100)
    return survivors.filter(keep).select("doc_id", "lang", "n_tokens", "n_copies")


@q(
    "corpus_pack_sequences",
    sql="""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents WHERE length(text) > 0
    ), c AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS BIGINT) AS start_tok
      FROM t
    )
    SELECT doc_id, n_tokens, start_tok,
           CAST(start_tok // 2048 AS BIGINT) AS seq_id,
           CAST(start_tok % 2048 AS BIGINT) AS offset_in_seq,
           ((start_tok + n_tokens - 1) // 2048) != (start_tok // 2048)
             AS spans_boundary
    FROM c
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: concatenate the corpus in doc_id order
    and cut fixed 2048-token sequences — every document gets its sequence
    id, offset within the sequence, and whether it spans a cut point
    (the standard concat-and-chunk packing LLM pretraining pipelines use;
    docs spanning a boundary are the ones an attention-mask reset or a
    boundary-aware loader must handle).

    The whole op is one exact global prefix sum of token counts over the
    doc_id order. The oracle's ``SUM() OVER (ORDER BY doc_id)`` is the
    spec but collapses to ONE partition; ``skew.ordered_cumsum`` computes
    the identical values with range slices + broadcast offsets — no task
    ever sorts more than one slice, so the plan survives 100 TB. All
    derived fields are integer arithmetic on the prefix sum:
    bit-identical cross-engine."""
    from .skew import ordered_cumsum

    cap = 2048
    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    t = d.select("doc_id", F.size(_tokens()).cast("long").alias("n_tokens"))
    c = ordered_cumsum(t, ["doc_id"], "n_tokens", out_col="__cum")
    start = (F.col("__cum") - F.col("n_tokens")).alias("start_tok")
    # `div`, not floor(x / cap): `/` is DOUBLE division, inexact once the
    # corpus's total token count passes 2^53 — integer division stays
    # exact at any scale and matches DuckDB's `//` on BIGINT
    return (
        c.select("doc_id", "n_tokens", start)
        .select(
            "doc_id",
            "n_tokens",
            "start_tok",
            F.expr(f"start_tok div {cap}").alias("seq_id"),
            F.pmod(F.col("start_tok"), F.lit(cap)).cast("long").alias("offset_in_seq"),
            (
                F.expr(f"(start_tok + n_tokens - 1) div {cap}")
                != F.expr(f"start_tok div {cap}")
            ).alias("spans_boundary"),
        )
    )


@q(
    "text_repetition",
    sql="""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      FROM documents WHERE length(text) > 0
    ), wc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
             AS top_word_ratio,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
             / CAST(SUM(c) AS DOUBLE) AS dup_word_ratio
    FROM wc GROUP BY doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-repetition quality signals per document — the Gopher-style
    repetition filters (most-frequent-word fraction, fraction of tokens
    occurring more than once) that catch boilerplate / keyword-stuffed /
    degenerate pages exact dedup never sees.

    Shape: explode → two hash aggregations, both partial-agg friendly —
    the shuffle carries (doc_id, word) partial counts then per-doc
    aggregates, never documents. Ratios are single IEEE divisions of
    exact integers: bit-identical cross-engine."""
    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    tok = d.select("doc_id", F.explode(_tokens()).alias("w"))
    wc = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias("top_word_ratio"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).cast("double")
            / F.sum("c").cast("double")
        ).alias("dup_word_ratio"),
    )


@q(
    "corpus_diff",
    sql="""
    WITH a AS (
      SELECT doc_id, md5(text) AS dig
      FROM documents WHERE doc_id % 10 != 0
    ), b AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS dig
      FROM documents WHERE doc_id % 7 != 0
    )
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.dig != b.dig
    """,
)
def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot delta between two corpus versions — added / removed /
    changed documents — the primitive every incremental pipeline run
    starts from (reprocess the delta, not the corpus). The two snapshots
    are derived deterministically from the documents table (A drops
    doc_id%10==0, B drops doc_id%7==0 and edits doc_id%13==0) so the
    oracle sees identical inputs.

    Scale shape: each side reduces to (doc_id, 32-byte md5) map-side, so
    the full-outer join — the only shuffle — carries digests, never
    documents; 'changed' is a digest comparison. At 100 TB both
    snapshots' digest frames come straight off parquet scans and the
    join is one digest-keyed sort-merge; content bytes move zero times."""
    d = table(spark, sf_dir, "documents")
    # presence markers, not digest nullability: a row with NULL text is
    # still PRESENT in its snapshot (the oracle keys presence on doc_id)
    a = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("dig_a"),
        F.lit(True).alias("in_a"),
    )
    b_text = F.when(
        F.col("doc_id") % 13 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    b = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(b_text.cast("binary")).alias("dig_b"),
        F.lit(True).alias("in_b"),
    )
    j = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("in_a").isNull(), F.lit("added"))
        .when(F.col("in_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        j.filter(
            F.col("in_a").isNull()
            | F.col("in_b").isNull()
            | (F.col("dig_a") != F.col("dig_b"))
        )
        .select("doc_id", status.alias("status"))
    )


@q(
    "corpus_quantile_filter",
    sql="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
      FROM documents
      WHERE length(text) > 0
    )
    SELECT doc_id, lang, n_tokens, pr
    FROM (
      SELECT doc_id, lang, n_tokens,
             PERCENT_RANK() OVER (PARTITION BY lang
                                  ORDER BY n_tokens, doc_id) AS pr
      FROM scored) t
    WHERE pr >= 0.8
    """,
)
def corpus_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality-quantile cut: keep each language's top 20% of
    documents by score (token count here; any integral score plugs in) —
    the curation step that applies per-stratum thresholds instead of one
    global cutoff, so low-resource languages aren't wiped out by a
    global quantile (new in round 4).

    The percentile is exact, not sketched: pr = (rank-1)/(n-1) with a
    doc_id tiebreaker (total order ⇒ rank == row_number on both
    engines), so the selected set is deterministic.

    Physical selection reuses the shared cost-based rank dispatch
    (`skew.small_rank_input`): `lang` is a LOW-cardinality partition
    key, so above the size threshold the one-window plan would funnel
    each language through one task — there the percent_rank comes from
    `skew.group_distribution_ranks`' range-slice derivation instead
    (bit-equal: both compute (rank-1)/(n-1) as one IEEE division)."""
    from .skew import group_distribution_ranks, small_rank_input

    d = table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    scored = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    if small_rank_input(scored, cache_key=("corpus_quantile_filter", sf_dir)):
        w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
        ranked = scored.withColumn("pr", F.percent_rank().over(w))
    else:
        ranked = group_distribution_ranks(
            scored, "lang", [F.col("n_tokens"), F.col("doc_id")]
        ).select("doc_id", "lang", "n_tokens", F.col("__pct_rank").alias("pr"))
    return ranked.filter(F.col("pr") >= 0.8).select("doc_id", "lang", "n_tokens", "pr")


@q(
    "text_doc_pairs_jaccard",
    sql=r"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tok GROUP BY token
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM sizes
    ), rare AS (
      SELECT tok.doc_id, tok.token
      FROM tok JOIN df USING (token) CROSS JOIN n
      WHERE df.df <= n.n_docs * 0.06
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b
        ON a.token = b.token AND a.doc_id < b.doc_id
    ), common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, n_common,
           sa.n_tok AS n_a, sb.n_tok AS n_b,
           CAST(n_common AS DOUBLE)
             / (sa.n_tok + sb.n_tok - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_common AS DOUBLE)
            / (sa.n_tok + sb.n_tok - n_common) >= 0.5
    """,
)
def text_doc_pairs_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-pairs exact word-set similarity join via an inverted token
    index (the PPJoin/frequency-filter family), complementing the
    probabilistic MinHash path: candidates come ONLY from tokens whose
    document frequency is at most 6% of the corpus (frequent "stop"
    tokens generate no pairs — a RELATIVE cap, so the rule means the
    same thing at 500 docs and 50 billion), then each
    candidate pair is verified with its EXACT Jaccard over the FULL
    token sets. dedup_ngram_jaccard verifies a fixed adjacent pairing;
    this op discovers the pairs.

    Determinism: Jaccard is one IEEE division of exact integers.

    Scale notes: the candidate join is keyed on token and its fan-out is
    bounded by sum(df^2) over rare tokens <= cap * |tok| — the df cap is
    the knob that keeps the classic inverted-index blowup (quadratic in
    the hottest token) off the plan. The cap is
    ``least(6% * n_docs, _MAX_TOKEN_DF)`` (10 000):
    the relative term makes "rare" mean the same thing at 500 docs and
    50 billion, the ABSOLUTE term is the 100 TB guard — 6% of 50 B docs
    is 3 B postings on one token key, i.e. ~1e18 candidate pairs from a
    single just-under-cap token; an absolute df bound keeps every
    per-token pair block task-sized (1e4 df -> <=5e7 pairs) no matter the
    corpus. The corpus size rides in as a lazy
    1-row aggregate crossJoin (the tfidf recipe, whitelisted BNLJ).
    Verification joins are keyed (pair)
    then (doc_id, token) — all hash shuffles of id-sized rows, never
    document text; no CartesianProduct anywhere. A pair sharing only
    stop tokens is by-design not a candidate (similarity over rare
    vocabulary is what dedup cares about).

    The token index feeds FIVE consumers (df counts, candidate sides,
    verification sides, sizes); Spark has no cross-branch CSE, so
    uncached the plan re-scans + re-tokenizes the corpus 16× (measured).
    cache() (memory-and-disk, same recipe as the MinHash signature
    frame, dedup.py) collapses that to ONE tokenize pass — at 100 TB the
    persisted index is id+token sized, far under the text it replaces;
    for repeated querying write it out bucketed by token instead (the
    build_lsh_index pattern)."""
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        _doc_pair_commons(spark, sf_dir)
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= 0.5)
    )


_MAX_TOKEN_DF = 10_000  # absolute df cap (text_doc_pairs_jaccard notes)


def _doc_pair_commons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate-generation + exact-overlap machinery behind
    text_doc_pairs_jaccard and text_containment: inverted token index →
    df-capped rare postings → token-keyed candidate pairs → exact
    |A∩B| verification, returning (doc_a < doc_b, n_common, n_a, n_b).
    All scale discipline (the least(relative, absolute) df cap, keyed
    verification joins, the single cached tokenize pass) lives HERE so
    the two consumers cannot drift.

    r19 (verdict item 3): verification is ARRAY-INTERSECT based — the
    per-doc distinct token set is grouped ONCE into an array column and
    each candidate pair computes ``size(array_intersect(ta, tb))`` after
    two doc-keyed joins. vs the r18 explode form (join tok on doc_a,
    join tok again on (doc_b, token), groupBy pair) this removes the
    (doc_id, token)-keyed second verification Exchange AND the pair-keyed
    count aggregation Exchange, and the sizes joins disappear entirely
    (n_a/n_b are just size(toks)). Identity: ``tok`` is DISTINCT, so the
    array is the exact token set, the intersect size is the exact
    matched-token count the old COUNT(*) produced, and sizes are the set
    sizes — same integers, same rows (oracle unchanged, hash re-verified).
    Bytes shuffled are the same token sets, as one array row per doc per
    pair side instead of one row per token."""
    d = table(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    tok = d.select("doc_id", F.explode(_tokens()).alias("token")).distinct().cache()
    df_ = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # one grouped pass yields the verification arrays AND the doc count;
    # per-doc sizes come free as size(toks)
    doc_toks = tok.groupBy("doc_id").agg(F.collect_list("token").alias("toks"))
    n = doc_toks.agg(F.count(F.lit(1)).alias("n_docs"))
    # Every join below whose build side SCALES WITH THE CORPUS (the df
    # vocabulary, the token index, the per-doc sizes) is hinted
    # shuffle_hash: Catalyst's static size estimates above the tokenize
    # explode are garbage, and at the 10× corpus probe it chose to
    # BROADCAST the token index and died building the hash relation
    # (SCALE.md §2 disease sweep). SHJ build sides here are one row per
    # key (df, sizes) or partition-bounded postings (tok) and AQE
    # skew-split still applies; only the genuinely-1-row n frame keeps
    # an explicit broadcast.
    rare = (
        tok.join(df_.hint("shuffle_hash"), "token")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") <= F.least(F.col("n_docs") * 0.06, F.lit(_MAX_TOKEN_DF)))
        .select("doc_id", "token")
    )
    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Build-side choice MEASURED, not argued (r12): hinting the token
    # index makes the per-partition hash map scale with docs/partition
    # (postings per doc are bounded); hinting the candidate side makes
    # it scale with PAIR DENSITY, which is corpus-dependent and
    # explodes under adversarial dup mass — at the 10× probe corpus
    # the cand-side build OOMed while the index-side build ran in
    # 41.5 s. Keep the hints on the index (doc_toks) side.
    ta = doc_toks.alias("ta").hint("shuffle_hash")
    tb = doc_toks.alias("tb").hint("shuffle_hash")
    # casts to LONG: the r18 COUNT(*)-based columns were bigint, and the
    # driver's value hash is representation-sensitive (size() is int)
    return (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(tb, F.col("tb.doc_id") == F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(F.col("ta.toks"), F.col("tb.toks")))
            .cast("long")
            .alias("n_common"),
            F.size(F.col("ta.toks")).cast("long").alias("n_a"),
            F.size(F.col("tb.toks")).cast("long").alias("n_b"),
        )
    )


_CONTAINMENT_TAU = 0.7


@q(
    "text_containment",
    sql=r"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents WHERE length(trim(text)) > 0
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tok GROUP BY token
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM sizes
    ), rare AS (
      SELECT tok.doc_id, tok.token
      FROM tok JOIN df USING (token) CROSS JOIN n
      WHERE df.df <= n.n_docs * 0.06
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM rare a JOIN rare b
        ON a.token = b.token AND a.doc_id < b.doc_id
    ), common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
      GROUP BY c.doc_a, c.doc_b
    ), pairs AS (
      SELECT doc_a, doc_b, n_common, sa.n_tok AS n_a, sb.n_tok AS n_b
      FROM common
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ), directed AS (
      SELECT doc_a AS inner_doc, doc_b AS outer_doc, n_common,
             n_a AS n_inner, CAST(n_common AS DOUBLE) / n_a AS containment
      FROM pairs
      UNION ALL
      SELECT doc_b, doc_a, n_common,
             n_b, CAST(n_common AS DOUBLE) / n_b
      FROM pairs
    )
    SELECT inner_doc, outer_doc, n_common, n_inner, containment
    FROM directed WHERE containment >= 0.7
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTIONAL containment detection (|A∩B| / |A| — is doc A mostly
    inside doc B?): the asymmetric twin of text_doc_pairs_jaccard, and
    the right measure for quote/excerpt/boilerplate-inclusion cases
    Jaccard misses — a 20-token doc fully contained in a 2000-token doc
    scores containment 1.0 but Jaccard ~0.01, so symmetric dedup never
    sees it. Each undirected candidate pair yields BOTH directions;
    survivors have containment >= 0.7.

    Reuses _doc_pair_commons verbatim (same inverted index, same
    least(6%, _MAX_TOKEN_DF) df cap, same keyed
    verification joins — one more projection + union on top, no new
    shuffle). Determinism: one IEEE division of exact integers."""
    pairs = _doc_pair_commons(spark, sf_dir)
    fwd = pairs.select(
        F.col("doc_a").alias("inner_doc"),
        F.col("doc_b").alias("outer_doc"),
        "n_common",
        F.col("n_a").alias("n_inner"),
        (F.col("n_common").cast("double") / F.col("n_a")).alias("containment"),
    )
    rev = pairs.select(
        F.col("doc_b").alias("inner_doc"),
        F.col("doc_a").alias("outer_doc"),
        "n_common",
        F.col("n_b").alias("n_inner"),
        (F.col("n_common").cast("double") / F.col("n_b")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= _CONTAINMENT_TAU)


@q(
    "corpus_dup_ngrams",
    sql=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0
    ), g AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(toks[i : i+7], ' ')) AS gram
      FROM t, unnest(generate_series(1, len(toks) - 7)) u(i)
    ), df AS (
      SELECT gram, COUNT(*) AS df FROM g GROUP BY gram
    )
    SELECT g.doc_id, COUNT(*) AS n_grams,
           COUNT(*) FILTER (df.df >= 2) AS n_dup,
           CAST(COUNT(*) FILTER (df.df >= 2) AS DOUBLE) / COUNT(*)
             AS dup_frac
    FROM g JOIN df USING (gram)
    GROUP BY 1
    """,
)
def corpus_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CROSS-corpus duplicated-8-gram fraction (the
    RefinedWeb/Dolma curation signal: how much of this doc's content
    appears verbatim elsewhere) — complements text_repetition
    (WITHIN-doc repetition) and text_contamination (overlap vs a fixed
    benchmark set). Docs under 8 tokens have no grams and drop out on
    both engines.

    Scale notes: every shuffle after the scan is keyed on a 16-byte md5
    digest of the 8-gram, never the gram text — corpus-sized exchanges
    carry (digest, doc_id) pairs only (same digest-below-exchange rule
    corpus_diff locks). Gram extraction is a map-side array transform
    (no explode of token rows); the df table and the join-back are
    partial-agg-friendly hash shuffles. The guarded sequence avoids
    Spark's DESCENDING sequence(1, 0) footgun for short docs."""
    d = table(spark, sf_dir, "documents").filter(F.length(F.trim(F.col("text"))) > 0)
    toks = F.col("toks")
    t = d.select("doc_id", _tokens().alias("toks"))
    grams = F.when(
        F.size(toks) >= 8,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 7),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, F.lit(8)))),
            )
        ),
    ).otherwise(F.array())
    # g feeds both the df counts and the join-back; uncached that is two
    # full scan+md5 passes over the corpus — cache() collapses them to
    # one (digest+id rows only, same recipe as text_doc_pairs_jaccard)
    g = t.select("doc_id", F.explode(grams).alias("gram")).cache()
    df_ = g.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    # shuffle_hash, not the planner's choice: the gram-count table is
    # CORPUS-scaled and Catalyst's static estimate above the explode is
    # garbage — at the 10× corpus probe it broadcast ~5.6M digests and
    # died (the text_ngram_lm_score disease, SCALE.md §2); the SHJ build
    # side is one row per key, bounded per partition
    return (
        g.join(df_.hint("shuffle_hash"), "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("long")).alias("n_dup"),
        )
        .withColumn(
            "dup_frac", F.col("n_dup").cast("double") / F.col("n_grams")
        )
    )


@q(
    "corpus_split",
    sql="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 1000 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 900 THEN 'train'
                WHEN bucket < 950 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by CONTENT-STABLE
    hash of the document key — the split every training pipeline needs to
    be reproducible across runs, engines, and re-partitioning (a
    rand()-based split is none of those; Spark's randomSplit is also
    partition-sensitive). md5 rather than xxhash64 so the oracle can
    reproduce it bit-for-bit; the first 8 hex chars give a uniform
    32-bit bucket.

    Scale notes: a pure narrow projection — no shuffle, no state,
    trivially pushes through whatever scan partitioning exists. Writing
    the result partitioned by split is the one-extra-line follow-up
    (sinks/parquet_layout). Leakage guard: hashing the doc_id keeps a
    doc's split stable even when text is re-cleaned; hash the TEXT
    digest instead when near-dup leakage across splits matters
    (compose with dedup_cluster's representatives upstream)."""
    d = table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id").cast("string"), 1000)
    return d.select(
        "doc_id",
        "lang",
        F.when(bucket < 900, F.lit("train"))
        .when(bucket < 950, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def bpe_train(docs: DataFrame, n_merges: int = 10) -> list[tuple[str, str, str, int]]:
    """Distributed byte-pair-encoding merge training (Sennrich et al.,
    ACL 2016) — the tokenizer-induction counterpart to the BPE-regex
    COUNTER in text_token_bpe. Returns the learned merge table
    [(left, right, merged, pair_freq), ...].

    The classic trick makes this tractable: merges operate on the WORD
    VOCABULARY weighted by word frequency, never on the corpus — one
    corpus-sized word count up front, then every round touches only the
    distinct-word frame. Per round: explode each word's adjacent symbol
    pairs (frequency-weighted count, partial-agg friendly), take the
    argmax pair via a 1-row TakeOrdered (ties: highest count, then
    lexicographic), and apply the merge to every word with a greedy
    left-to-right fold (a struct-accumulator HOF — merged symbols don't
    re-pair with what they just consumed, matching the reference
    implementation). The vocab frame is re-cached each round to cut the
    growing lineage (the pagerank/CC loop discipline); the driver only
    ever holds 1-row argmax results and the final merge list.

    At 100 TB the word-count is the only corpus-scale job; vocabulary
    frames are ~1e6-1e8 rows of short arrays — comfortably distributed,
    and the per-round shuffle carries (symbol-pair, count) only."""
    words = (
        docs.filter(F.length(F.trim(F.col("text"))) > 0)
        .select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # characters + end-of-word marker: 'ab' -> ['a', 'b', '</w>']
    # (split leaves a trailing '' — drop empties before appending)
    vocab = words.select(
        "freq",
        F.concat(
            F.expr("filter(split(w, '(?!^)'), x -> x != '')"),
            F.array(F.lit("</w>")),
        ).alias("syms"),
    ).cache()

    merges: list[tuple[str, str, str, int]] = []
    empty_out = F.array().cast("array<string>")
    for _ in range(n_merges):
        pairs = vocab.select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))"
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], int(top[0]["cnt"])
        m = l + r
        merges.append((l, r, m, cnt))
        ll, rl, ml = F.lit(l), F.lit(r), F.lit(m)
        merged = F.aggregate(
            F.col("syms"),
            F.struct(empty_out.alias("out"), F.lit(None).cast("string").alias("prev")),
            lambda acc, x: F.when(
                (acc["prev"] == ll) & (x == rl),
                F.struct(
                    F.concat(
                        F.slice(acc["out"], F.lit(1), F.size(acc["out"]) - 1),
                        F.array(ml),
                    ).alias("out"),
                    ml.alias("prev"),
                ),
            ).otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(x)).alias("out"), x.alias("prev")
                )
            ),
            lambda acc: acc["out"],
        )
        new_vocab = vocab.select("freq", merged.alias("syms")).cache()
        new_vocab.count()  # materialize before unpersisting the parent
        vocab.unpersist()
        vocab = new_vocab
    vocab.unpersist()
    return merges


@q("text_bpe_train")
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing face of :func:`bpe_train`: the first 10 learned
    merges over the documents corpus as (rank, left, right, merged,
    pair_freq). Deterministic (tie order pinned), but the iterative
    argmax-then-rewrite loop has no SQL twin — rows-only, pinned
    exactly against a pure-Python BPE reference in
    tests/test_scale_refinements.py."""
    d = table(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=10)
    return spark.createDataFrame(
        [(i + 1, l, r, m, c) for i, (l, r, m, c) in enumerate(merges)],
        "rank int, left string, right string, merged string, pair_freq long",
    )


@q(
    "corpus_length_histogram",
    sql=r"""
    WITH t AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT LEAST(n_tokens // 20, 9) AS bucket,
           LEAST(n_tokens // 20, 9) * 20 AS bucket_lo,
           COUNT(*) AS n_docs,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM t GROUP BY 1, 2
    """,
)
def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of document lengths (20-token buckets, top
    bucket open-ended) — the distribution everyone inspects before
    choosing packing lengths and truncation cutoffs. Bucket assignment
    is explicit integer floor-division so both engines agree exactly
    (width_bucket's edge semantics differ across engines).

    Scale notes: one projection + one hash aggregation on a ≤10-value
    key — entirely map-side partial-agg; the classic histogram plan."""
    d = table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long")
    bucket = F.least(F.floor(n_tokens / 20), F.lit(9)).cast("long")
    return (
        d.select(n_tokens.alias("n_tokens"), bucket.alias("bucket"))
        .groupBy("bucket", (F.col("bucket") * 20).alias("bucket_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


@q(
    "text_oov_rate",
    sql=r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rk
        FROM tok GROUP BY token
      ) WHERE rk <= 1000
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON v.token = t.token
    GROUP BY t.doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document: the fraction of a doc's
    tokens outside the corpus's top-1000 vocabulary (by frequency, ties
    broken by token text — total-order deterministic). The practical
    stand-in for perplexity-based quality filtering when no LM is at
    hand: a doc made of rare tokens is boilerplate, code, or noise. All
    counts are exact integers; the rate is one final IEEE division.

    Scale notes: the vocabulary is built with ONE token-keyed partial
    aggregate and a DISTRIBUTED top-k (orderBy + limit compiles to
    TakeOrderedAndProject: each partition keeps its own 1000, one merge
    — never a single-partition global sort/window over the distinct
    tokens, which at web scale are billions); the 1000-row vocab then
    broadcast-joins against the token stream, and the per-doc aggregate
    is doc-keyed partial agg. No shuffle carries text beyond the
    (token, doc_id) postings."""
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens()).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(1000)
        .select(F.col("token").alias("v_token"))
    )
    return (
        tok.join(
            F.broadcast(vocab), F.col("token") == F.col("v_token"), "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("v_token").isNull(), 1).otherwise(0)).alias("n_oov"),
            (
                F.sum(F.when(F.col("v_token").isNull(), 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("oov_rate"),
        )
    )


@q(
    "corpus_quality_resample",
    sql="""
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             CASE WHEN n_chars >= 400 THEN 'high'
                  WHEN n_chars >= 200 THEN 'mid'
                  ELSE 'low' END AS tier,
             CAST(('0x' || substr(md5('resample:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 1000 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, n_chars, tier, bucket
    FROM h
    WHERE bucket < CASE tier WHEN 'high' THEN 1000
                             WHEN 'mid' THEN 500
                             ELSE 100 END
    """,
)
def corpus_quality_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: keep 100% of high-quality
    documents, 50% of mid, 10% of low (tiers on length as the quality
    proxy; swap in text_quality's score in production) — the standard
    pretraining-mixture move that upsamples good text WITHOUT
    duplicating rows. Membership is content-stable md5 bucketing with a
    per-policy salt ('resample:'), so reruns, repartitions, and the two
    engines agree row-for-row, and the draw is independent of
    corpus_split's buckets (different salt, uncorrelated assignment).

    Scale notes: pure map-side projection + filter — no shuffle at all;
    the decision needs only (doc_id, n_chars), and the filter sits
    directly on the scan."""
    d = table(spark, sf_dir, "documents")
    tier = (
        F.when(F.col("n_chars") >= 400, "high")
        .when(F.col("n_chars") >= 200, "mid")
        .otherwise("low")
    )
    bucket = hash_bucket(
        F.concat(F.lit("resample:"), F.col("doc_id").cast("string")), 1000
    )
    keep = F.col("bucket") < (
        F.when(F.col("tier") == "high", 1000)
        .when(F.col("tier") == "mid", 500)
        .otherwise(100)
    )
    return (
        d.select(
            "doc_id", "lang", "n_chars", tier.alias("tier"), bucket.alias("bucket")
        )
        .filter(keep)
    )


def _bigram_frame(d: DataFrame) -> DataFrame:
    """(doc_id, w1, w2) bigram instances, CACHED: the frame feeds
    multiple consumers grouping on different keys, so no exchange reuse
    applies — uncached, the corpus would be scanned + tokenized +
    exploded once per consumer (r12 advice; the corpus_dup_ngrams
    precedent). The cached frame is id+token sized, far under the
    document text it replaces, memory-and-disk at scale. Extraction is
    a map-side array transform + explode (``sequence(1, size-1)``
    guarded by size >= 2 — Spark's sequence DESCENDS for start > stop,
    so unguarded 1-token docs would fabricate a null bigram)."""
    return (
        d.select("doc_id", _tokens().alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " i -> struct(element_at(toks, i) AS w1, element_at(toks, i + 1) AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "bg.w1", "bg.w2")
        .cache()
    )


@q(
    "text_ngram_lm_score",
    sql=r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), pairs AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg
      FROM tok WHERE len(toks) >= 2
    ), big AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2
    ), uc AS (
      SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1
    ), scored AS (
      SELECT big.doc_id,
             CAST(ROUND(1000000.0 * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)))
                  AS BIGINT) AS p_micro
      FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1)
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(p_micro) AS BIGINT) AS lm_sum_micro,
           CAST(CAST(SUM(p_micro) AS BIGINT) AS DOUBLE) / COUNT(*) AS lm_avg_micro
    FROM scored GROUP BY doc_id
    """,
)
def text_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram-LM quality scoring — the CCNet-style fluency filter
    (score each document by how probable its word transitions are under
    a language model trained on the corpus itself; low scores flag
    boilerplate, shredded markup, and wrong-language text for removal).

    Per document: every adjacent token pair (w1, w2) is scored by the
    corpus-level conditional probability P(w2|w1) = c(w1,w2) / c(w1,·),
    micro-quantized to an exact BIGINT; the document score is the count,
    the exact integer sum, and their IEEE-division mean. LINEAR
    probability rather than log-prob for the same reason text_tfidf_top
    uses a linear idf: ln()'s last ulp differs between libm
    implementations, while c2/c1 on exact integers is ONE IEEE division —
    bit-identical cross-engine — and the micro-quantized sum is
    order-independent (the no-double-sums registry rule). Monotonicity
    per transition is preserved; only the aggregation geometry differs
    from log-prob (arithmetic vs geometric mean).

    Scale shape: bigram extraction is a map-side array transform +
    explode (``sequence(1, size-1)`` guarded by size >= 2 — Spark's
    sequence DESCENDS for start > stop, so unguarded 1-token docs would
    fabricate a null bigram). The two count tables shuffle (token-pair,
    int64 partial) — vocabulary-sized and partial-agg friendly. Their
    joins back onto the instances are HINTED ``shuffle_hash``: Catalyst's
    static size estimate for an aggregate above an explode is garbage,
    and at the 10× corpus probe it chose to BROADCAST the ~6M-distinct
    pair-count table (and then the joined result!), dying with
    not-enough-memory-to-broadcast — measured, not hypothetical. A
    shuffled hash join's BUILD side here is one row per key by
    construction (the agg), so per-partition hash maps stay bounded and
    AQE skew-split handles hot prefixes; the count side even reuses its
    own groupBy partitioning on the pair join. The final per-doc agg
    carries only (doc_id, int64). Document text never shuffles."""
    big = _bigram_frame(table(spark, sf_dir, "documents"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    scored = (
        big.join(bc.hint("shuffle_hash"), ["w1", "w2"])
        .join(uc.hint("shuffle_hash"), ["w1"])
        .select(
            "doc_id",
            F.round(
                F.lit(1000000.0) * (F.col("c2").cast("double") / F.col("c1").cast("double"))
            )
            .cast("bigint")
            .alias("p_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("p_micro").alias("lm_sum_micro"),
        (F.sum("p_micro").cast("double") / F.count(F.lit(1))).alias("lm_avg_micro"),
    )


# Oracle SQL for text_ngram_lm_backoff (implemented + staged in r14,
# registered in r15 alongside corpus_decontaminate — same window trade).
# Interpolation weight is a fixed 0.5/0.5 split so both engines compute
# the identical IEEE expression tree.
_LM_BACKOFF_SQL = r"""
    WITH tok AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    ), pairs AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS bg
      FROM tok WHERE len(toks) >= 2
    ), big AS (
      SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM pairs
    ), bc AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY w1, w2
    ), uc AS (
      SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1
    ), wc AS (
      SELECT w2, COUNT(*) AS cw2 FROM big GROUP BY w2
    ), tot AS (
      SELECT COUNT(*) AS n FROM big
    ), scored AS (
      SELECT big.doc_id,
             CAST(ROUND(1000000.0 *
                  (0.5 * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) +
                   0.5 * (CAST(cw2 AS DOUBLE) / CAST(n AS DOUBLE))))
                  AS BIGINT) AS p_micro
      FROM big JOIN bc USING (w1, w2) JOIN uc USING (w1)
               JOIN wc USING (w2) CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(p_micro) AS BIGINT) AS lm_sum_micro,
           CAST(CAST(SUM(p_micro) AS BIGINT) AS DOUBLE) / COUNT(*) AS lm_avg_micro
    FROM scored GROUP BY doc_id
    """


@q("text_ngram_lm_backoff", sql=_LM_BACKOFF_SQL)
def text_ngram_lm_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-interpolated bigram-LM scoring — ``text_ngram_lm_score``
    with backoff: P(w2|w1) alone assigns every UNSEEN-context transition
    nothing and every singleton context certainty 1.0, so rare-word
    boilerplate scores as fluent. The interpolated score
    0.5·P(w2|w1) + 0.5·P_uni(w2) smooths both failure modes (Jelinek-
    Mercer with a fixed λ; P_uni is the unigram MLE over the bigram
    instance stream, so the whole model reuses the one cached bigram
    frame). Micro-quantization discipline unchanged: exact integer
    counts, a fixed IEEE expression tree (two divisions, two
    multiplies, one add) identical in both engines, half-up rounding to
    an exact BIGINT, order-independent integer sums.

    Scale shape is the lm_score's: one cached (doc_id, w1, w2) frame
    feeds four consumers; the three count tables are vocabulary-sized
    partial aggregations; their joins back onto instances are HINTED
    shuffle_hash (the corpus-scaled build-side disease, SCALE.md §2);
    the bigram-instance total is one broadcast scalar row, never a
    driver round trip. Document text never shuffles."""
    big = _bigram_frame(table(spark, sf_dir, "documents"))
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uc = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    wc = big.groupBy("w2").agg(F.count(F.lit(1)).alias("cw2"))
    tot = big.agg(F.count(F.lit(1)).alias("n"))
    p_bg = F.col("c2").cast("double") / F.col("c1").cast("double")
    p_uni = F.col("cw2").cast("double") / F.col("n").cast("double")
    scored = (
        big.join(bc.hint("shuffle_hash"), ["w1", "w2"])
        .join(uc.hint("shuffle_hash"), ["w1"])
        .join(wc.hint("shuffle_hash"), ["w2"])
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.lit(1000000.0) * (F.lit(0.5) * p_bg + F.lit(0.5) * p_uni))
            .cast("bigint")
            .alias("p_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("p_micro").alias("lm_sum_micro"),
        (F.sum("p_micro").cast("double") / F.count(F.lit(1))).alias("lm_avg_micro"),
    )
