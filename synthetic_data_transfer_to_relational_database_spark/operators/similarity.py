"""Similarity search over ``embeddings`` (BASELINE.json LLM-pipeline
surface): brute-force cosine top-k baseline + LSH-bucketed scale path.

Float discipline for the oracle pair: cosine = dot / (sqrt(na) * sqrt(nb))
where dot/na/nb are sequential left-fold double sums over the same 64
elements in the same order in both engines, and +,*,/,sqrt are all
IEEE-exactly-rounded — so scores are bit-identical (verified by the
parity suite). Transcendentals (exp/ln) would NOT be safe; sqrt is.

Scale notes:
- brute force is the correctness baseline: queries × corpus partial
  top-k per partition (window rank prunes early under AQE).
- the LSH variant is the 100 TB path: random-hyperplane signatures →
  bucket join → exact rescoring only within buckets. Hyperplane signs
  come from xxhash64(plane, dim) — deterministic, no stored model.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.tables import table
from ._registry import hash_bucket, make_registry

QUERIES, ORACLE, q = make_registry()

_N_QUERIES = 10  # vec_id < 10 are the query vectors
_TOP_K = 5


def _fold_sum(arr_expr: str) -> str:
    """Sequential left-fold double sum (deterministic order)."""
    return f"aggregate({arr_expr}, cast(0.0 as double), (acc, x) -> acc + x)"


def _dlit(v: float) -> str:
    """Exact SQL double literal: ``{v!r}D`` round-trips bit-exactly for
    finite values (probed: repr -> parse is the identity); non-finite
    values — a NaN embedding component can make a Lloyd mean NaN, and
    json round-trips it — render as the CAST form Spark's parser accepts
    (``nanD`` would be an unresolved identifier = a plan-build crash)."""
    v = float(v)
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{v!r}D"


def _arr_lit(c: list[float]) -> str:
    """SQL array literal of exact double literals."""
    return "array(" + ", ".join(_dlit(v) for v in c) + ")"


def _dot_sql_fold(col_sql: str, c: list[float]) -> str:
    """The zip_with/aggregate dot-product FOLD against a driver-held
    centroid, built as ONE SQL string — the exact expression the
    ``F.zip_with(col, F.lit(c), …)`` Column form produces, without its
    construction cost: ``F.lit(list)`` + the lambda Columns pay py4j
    round trips per element, measured at ~1.5 s per 3-iteration refine
    at 8×64 (OPTIMIZATION_r19.md, work item 1) where this text parses in
    milliseconds. Identical operands, casts and left-fold order ⇒
    bit-identical results (pinned against the Column-API fold by
    test_llm_ops.py::test_dot_sql_fold_bitwise_matches_column_fold).
    The build side's one nearest-centroid form (Lloyd refinement and
    ``_ivf_serve``): an unrolled-literal twin was ~2× slower at the
    20k-vector corpora it was chosen for, because each new model's
    literals re-run optimizer, codegen and janino on a k×dim-term tree
    (SCALE.md, "Build-side literal unroll removed")."""
    return _fold_sum(
        f"zip_with({col_sql}, {_arr_lit(c)}, (a, b) -> cast(a as double) * b)"
    )


_EMB_DIM = 64  # the embeddings width every paired oracle hardcodes
               # (generate_series(1, 64) in the DuckDB twins)


def _dot_sql_cols(x: str, y: str, dim: int) -> str:
    """Unrolled column×column dot product — the serve rescore's unrolled
    tree (vector_index._cosine_col; proven bit-identical to the
    zip_with/aggregate fold over 2.5M real pairs, SCALE.md r15): plain
    GetArrayItem/Cast/Multiply/Add that whole-stage codegen compiles,
    where the fold is CodegenFallback — interpreted per row, the
    measured dominator of every pair-scoring plan in this module."""
    s = "CAST(0.0 AS DOUBLE)"
    for i in range(dim):
        s = f"({s} + (CAST({x}[{i}] AS DOUBLE) * CAST({y}[{i}] AS DOUBLE)))"
    return s


def _dim_guarded(unrolled: str, fold: str, *cols: str) -> str:
    """Unrolled fast path behind an EXACT width guard: on the contract
    width (_EMB_DIM, the only width the paired oracles define) the
    unrolled tree evaluates — bit-identical to the fold — and any other
    width falls back to the width-agnostic fold instead of silently
    NULL-poisoning out-of-range GetArrayItems."""
    cond = " AND ".join(f"size({c}) = {_EMB_DIM}" for c in cols)
    return f"(CASE WHEN {cond} THEN {unrolled} ELSE {fold} END)"


_DOT = _dim_guarded(
    _dot_sql_cols("qv", "cv", _EMB_DIM),
    _fold_sum("zip_with(qv, cv, (a, b) -> cast(a as double) * cast(b as double))"),
    "qv",
    "cv",
)
_NQ = _dim_guarded(
    _dot_sql_cols("qv", "qv", _EMB_DIM),
    _fold_sum("transform(qv, a -> cast(a as double) * cast(a as double))"),
    "qv",
)
_NC = _dim_guarded(
    _dot_sql_cols("cv", "cv", _EMB_DIM),
    _fold_sum("transform(cv, b -> cast(b as double) * cast(b as double))"),
    "cv",
)


# exact brute-force top-k oracle — shared by sim_search (the in-plan
# brute force) and sim_search_index (the SAME answer served from the
# persisted IVF index at full probe): bucketing changes recall, never
# scores, and at n_probe = n_cells it changes nothing at all
_BRUTE_KNN_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ), scored AS (
      SELECT query_id, vec_id,
             list_sum(list_transform(generate_series(1, 64), i -> qv[i] * cv[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> qv[i] * qv[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64), i -> cv[i] * cv[i])))) AS cosine
      FROM q JOIN c ON vec_id <> query_id
    )
    SELECT query_id, vec_id, cosine, rn
    FROM (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
      FROM scored) t
    WHERE rn <= {_TOP_K}
    """


@q("sim_search", sql=_BRUTE_KNN_SQL)
def sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = e.select(F.col("vec_id"), F.col("embedding").alias("cv"))
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (F.expr(_DOT) / (F.sqrt(F.expr(_NQ)) * F.sqrt(F.expr(_NC)))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return scored.select("query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= _TOP_K
    )


# one per-process index scratch dir (r12 advice): created lazily on the
# first sim_search_index invocation, overwritten in place by later ones,
# removed once at process exit
_SIM_IDX_DIR: dict = {"path": None}


@q("sim_search_index", sql=_BRUTE_KNN_SQL)
def sim_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-index serve path under the driver's hash (r11
    verdict #2): build the IVF index over the embeddings table
    (operators/vector_index.py — kmeans centroids, partitioned-by-cell
    parquet + JSON model on disk), then serve the standard query set
    from the FILES at n_probe = n_cells. Full probe makes the serve
    EXACT — identical fold expressions and tiebreak as the in-plan brute
    force — so the whole build→persist→serve loop pairs with the same
    DuckDB oracle as ``sim_search``; pruned-probe recall behavior is
    covered rows-only by ``sim_search_ivf_lloyd`` and the
    tests/test_vector_index.py recall floor.

    The index lands in ONE per-process temp dir (r12 advice: a fresh
    mkdtemp per invocation accumulated full index copies + atexit
    registrations across a long pytest/REPL session) — the build's
    overwrite mode already makes re-runs safe, and each invocation's
    serve collects against the index IT just built, so reuse is sound
    for the sequential driver/bench contract. What's under test is the
    loop, not a reusable artifact — production keeps a long-lived
    --path via the ``index`` CLI."""
    import atexit
    import shutil
    import tempfile

    from .vector_index import build_vector_index, search_vector_index

    e = table(spark, sf_dir, "embeddings")
    if _SIM_IDX_DIR["path"] is None:
        _SIM_IDX_DIR["path"] = tempfile.mkdtemp(prefix="sdt_simsearchidx_")
        atexit.register(shutil.rmtree, _SIM_IDX_DIR["path"], ignore_errors=True)
    path = _SIM_IDX_DIR["path"]
    build_vector_index(spark, e, path, n_cells=_N_CELLS, centroids="kmeans")
    queries = [
        (int(r.vec_id), list(r.embedding))
        for r in e.filter(F.col("vec_id") < _N_QUERIES).collect()
    ]
    return search_vector_index(spark, path, queries, top_k=_TOP_K, n_probe=_N_CELLS)


# one per-process index dir for the warm-handle key (the _SIM_IDX_DIR
# recipe — r12 advice)
_SIM_WARM_DIR: dict = {"path": None}


@q("sim_search_warm", sql=_BRUTE_KNN_SQL)
def sim_search_warm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r17 WARM-HANDLE serve under the driver's hash (r16 verdict
    #1): build the IVF index, construct ONE
    ``operators.vector_index.VectorIndexServer``, and serve the standard
    query set as TWO SUCCESSIVE BATCHES through the same handle — the
    production call pattern the handle exists for (model read, centroid
    frame and rescore tree built once, amortized across calls). Full
    probe plus the rescore tree keep every serve EXACT — identical
    fold expressions and tiebreak as the in-plan brute force — so the
    UNION of the two batches pairs with the same DuckDB oracle as
    ``sim_search``/``sim_search_index``: oracle-hash evidence that
    handle reuse changes nothing about the answer."""
    import atexit
    import shutil
    import tempfile

    from .vector_index import VectorIndexServer, build_vector_index

    e = table(spark, sf_dir, "embeddings")
    if _SIM_WARM_DIR["path"] is None:
        _SIM_WARM_DIR["path"] = tempfile.mkdtemp(prefix="sdt_simsearchwarm_")
        atexit.register(shutil.rmtree, _SIM_WARM_DIR["path"], ignore_errors=True)
    path = _SIM_WARM_DIR["path"]
    build_vector_index(spark, e, path, n_cells=_N_CELLS, centroids="kmeans")
    srv = VectorIndexServer(spark, path, top_k=_TOP_K, n_probe=_N_CELLS)
    half = _N_QUERIES // 2
    batches = [
        e.filter(F.col("vec_id") < half),
        e.filter((F.col("vec_id") >= half) & (F.col("vec_id") < _N_QUERIES)),
    ]
    served = [
        srv.search(
            b.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
        )
        for b in batches
    ]
    # materialize the UNION and release the per-batch serve caches
    # before returning (r17 review): the caller can only unpersist the
    # frame it receives, and unpersisting a union is a no-op for its
    # cached children — without this, every invocation would leak two
    # persisted frames for the process lifetime (the r13 accumulation
    # class the CLI's serve discipline exists to prevent)
    out = served[0].unionAll(served[1]).persist()
    out.count()
    for s in served:
        s.unpersist()
    return out


@q(
    "vector_norms",
    sql="""
    SELECT vec_id, label,
           sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS l2_norm,
           list_sum(list_transform(embedding::DOUBLE[], x -> abs(x))) AS l1_norm,
           len(embedding) AS dim
    FROM embeddings
    """,
)
def vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r19 (verdict item 4): this key's own local folds were never
    # converted in the r18 fold sweep — the interpreted aggregate/
    # transform lambdas are CodegenFallback per row per element; the
    # width-guarded unrolled trees (same left-associated IEEE order,
    # fold fallback off-contract widths) are whole-stage compiled.
    # l2 reuses _VNORM (embedding·embedding, already proven); l1 gets
    # the same construction over abs terms.
    e = table(spark, sf_dir, "embeddings")
    ab_fold = _fold_sum("transform(embedding, x -> abs(cast(x as double)))")
    ab_unrolled = "CAST(0.0 AS DOUBLE)"
    for i in range(_EMB_DIM):
        ab_unrolled = f"({ab_unrolled} + abs(CAST(embedding[{i}] AS DOUBLE)))"
    ab = _dim_guarded(ab_unrolled, ab_fold, "embedding")
    return e.select(
        "vec_id",
        "label",
        F.sqrt(F.expr(_VNORM)).alias("l2_norm"),
        F.expr(ab).alias("l1_norm"),
        F.size("embedding").cast("long").alias("dim"),
    )


@q(
    "sim_centroid_by_label",
    sql="""
    SELECT label,
           COUNT(*) AS n_vecs,
           list_sum(list_transform(list(embedding[1]::DOUBLE ORDER BY vec_id), x -> x))
             / COUNT(*) AS centroid_d1
    FROM embeddings
    GROUP BY label
    """,
)
def sim_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-label centroid of dimension 1, demonstrating order-controlled
    # float aggregation: both engines fold the values in vec_id order.
    e = table(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (
                F.expr(
                    "aggregate(array_sort(collect_list(struct(vec_id, cast(element_at(embedding, 1) as double) as d1))),"
                    " cast(0.0 as double), (acc, x) -> acc + x.d1)"
                )
                / F.count(F.lit(1))
            ).alias("centroid_d1"),
        )
    )


@q(
    "sim_centroid_scalable",
    sql="""
    SELECT label,
           COUNT(*) AS n_vecs,
           CAST(SUM(CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT)
             AS sum_d1_milli,
           CAST(SUM(CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT)) AS DOUBLE)
             / 1000.0 / COUNT(*) AS centroid_d1_q
    FROM embeddings
    GROUP BY label
    """,
)
def sim_centroid_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AT-SCALE centroid: one hash aggregation with map-side partial
    sums — no per-group array materialization (sim_centroid_by_label
    collect_lists each group to pin the float fold order, which is O(group
    size) memory on a single executor: a skewed-label hazard at 100×).
    Order-independence comes from integer milli-quantization instead (the
    sim_classifier_udf trick): SUM over int64 is exact under any
    partitioning and any AQE re-plan, and the quantized centroid is within
    0.0005 of the exact one. DuckDB runs the identical formula, so this
    stays value-hash-checked (SUM(BIGINT) re-cast per the HUGEINT rule)."""
    e = table(spark, sf_dir, "embeddings")
    q_milli = F.round(F.element_at("embedding", 1).cast("double") * 1000).cast("bigint")
    n = F.count(F.lit(1))
    s = F.sum(q_milli)
    return e.groupBy("label").agg(
        n.alias("n_vecs"),
        s.alias("sum_d1_milli"),
        (s.cast("double") / F.lit(1000.0) / n).alias("centroid_d1_q"),
    )


@q(
    "sim_centroid_pandas",
    sql="""
    SELECT label,
           COUNT(*) AS n_vecs,
           list_sum(list_transform(list(embedding[1]::DOUBLE ORDER BY vec_id), x -> x))
             / COUNT(*) AS centroid_d1
    FROM embeddings
    GROUP BY label
    """,
)
def sim_centroid_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandas grouped-UDAF path, value-checked against the
    SAME oracle as the pure-expression sim_centroid_by_label: per label,
    one Arrow batch per group into pandas, sequential left-fold of dim 1
    in vec_id order (bit-identical to the SQL fold). This is the escape
    hatch for group logic Catalyst can't express — priced honestly: one
    shuffle on label plus Arrow transfer."""
    import pandas as pd

    from pyspark.sql.types import DoubleType, IntegerType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("label", IntegerType()),
            StructField("n_vecs", LongType()),
            StructField("centroid_d1", DoubleType()),
        ]
    )

    def centroid(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        acc = 0.0
        for v in pdf["d1"]:
            acc += float(v)  # sequential IEEE adds, same order as the SQL fold
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vecs": [len(pdf)],
                "centroid_d1": [acc / len(pdf)],
            }
        )

    e = table(spark, sf_dir, "embeddings")
    prepped = e.select(
        "label", "vec_id", F.element_at("embedding", 1).cast("double").alias("d1")
    )
    return prepped.groupBy("label").applyInPandas(centroid, schema=schema)


def _argmin_assign(vectors: DataFrame, cents_row: DataFrame, id_col: str) -> DataFrame:
    """Map-side nearest-centroid argmin — the ``_ivf_serve`` pattern for a
    DATA-DERIVED centroid model (r11 verdict: the crossJoin+row_number
    form materialized k copies of every vector and full-shuffled them,
    k × batch × payload bytes, to pick rn=1).

    ``cents_row`` is ONE row with ``__cents: array<struct<id, cv>>``
    sorted by id; broadcast-cross-joining it attaches the whole model to
    every vector at zero fan-out, all k squared-L2 distances evaluate in
    one array expression, and ``array_position(d2s, array_min(d2s))``
    takes the FIRST minimum of the id-ordered array — identical tiebreak
    to the previous ``orderBy(d2, id)`` window pick (pinned row-identical
    in tests). No Window, no shuffle of the vector side anywhere
    (plan-asserted in tests/test_plans.py).

    Returns the input columns + (``id_col``, d2). The per-dim lambda and
    fold are textually the old per-centroid expression, so every d2 bit
    matches the previous plan and the DuckDB oracle."""
    d2s = F.expr(
        "transform(__cents, c -> "
        "aggregate(zip_with(embedding, c.cv, (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),"
        " cast(0.0 as double), (acc, x) -> acc + x))"
    )
    # named column first: array_position + array_min must not re-evaluate
    # the k×dim distance products (the _ivf_serve precedent)
    scored = vectors.crossJoin(F.broadcast(cents_row)).select("*", d2s.alias("__d2s"))
    idx = F.array_position(F.col("__d2s"), F.array_min("__d2s"))
    return scored.select(
        *vectors.columns,
        F.element_at("__cents", idx.cast("int"))[id_col].alias(id_col),
        F.array_min("__d2s").alias("d2"),
    )


@q(
    "embedding_index_refresh",
    sql="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v,
             CAST(('0x' || substr(md5('vref:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bk
      FROM embeddings
    ), base AS (SELECT * FROM e WHERE bk < 8),
       nw   AS (SELECT * FROM e WHERE bk >= 8),
       cs AS (
         SELECT label, i, SUM(CAST(ROUND(v[i] * 1000) AS BIGINT)) AS s, COUNT(*) AS n
         FROM base, generate_series(1, 64) AS g(i)
         GROUP BY label, i
       ),
       cent AS (
         SELECT label AS cell_label, list(CAST(s AS DOUBLE) / 1000.0 / n ORDER BY i) AS cv
         FROM cs GROUP BY label
       ),
       bn AS (SELECT label AS cell_label, COUNT(*) AS n_base FROM base GROUP BY label),
       scored AS (
         SELECT vec_id, nw.label AS true_label, cell_label,
                list_sum(list_transform(generate_series(1, 64),
                                        i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS d2
         FROM nw CROSS JOIN cent
       ),
       assigned AS (
         SELECT vec_id, true_label, cell_label, d2
         FROM (SELECT vec_id, true_label, cell_label, d2,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cell_label) AS rn
               FROM scored) z
         WHERE rn = 1
       ),
       added AS (
         SELECT cell_label,
                COUNT(*) AS n_added,
                CAST(SUM(CASE WHEN true_label = cell_label THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_label_match,
                CAST(SUM(CAST(ROUND(d2 * 1000) AS BIGINT)) AS BIGINT) AS sum_d2_milli
         FROM assigned GROUP BY cell_label
       )
    SELECT bn.cell_label,
           n_base,
           COALESCE(n_added, 0) AS n_added,
           n_base + COALESCE(n_added, 0) AS n_total,
           COALESCE(n_label_match, 0) AS n_label_match,
           COALESCE(sum_d2_milli, 0) AS sum_d2_milli
    FROM bn LEFT JOIN added USING (cell_label)
    """,
)
def embedding_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-2 vector-index refresh, ORACLE-PAIRED: absorb a NEW batch of
    embeddings into an EXISTING coarse index without rebuilding it — the
    vector mirror of ``streaming/ingest.compact_index``'s day-2 story and
    the upsert face of the IVF family (``sim_search_ivf*``).

    A deterministic 80/20 hash split of ``embeddings`` stands in for the
    indexed corpus vs today's batch. The "persisted index" is the base
    split's per-label centroid table, built with the sim_centroid_scalable
    recipe (per-dim milli-quantized BIGINT sums — one hash aggregation,
    map-side partials, order-independent under any partitioning/AQE plan,
    and bit-reproducible in DuckDB). Each new vector is assigned to its
    nearest centroid (squared L2, sequential-fold over the 64 dims,
    tiebreak label asc), and the output is the refreshed per-cell
    occupancy: ``n_base``/``n_added``/``n_total``, plus ``n_label_match``
    (how many arrivals landed in the cell of their true label — the
    index-quality pulse a production refresh job alerts on) and
    ``sum_d2_milli`` (integer-quantized assignment-distance mass — the
    drift signal that triggers a re-cluster when cells go stale).

    Scale shape: centroid build is one posexplode + hash agg whose
    shuffle carries (label, dim, int64 partial) — 64 rows per label, not
    vectors. The centroid table folds into ONE broadcast array-of-structs
    row and the argmin is a single map-side array expression over the NEW
    batch (``_argmin_assign`` — no k-way fan-out, no window, no shuffle
    of arrivals; the batch's first exchange is the final k-row count
    agg). Nothing re-touches the indexed corpus except its (label) counts
    — exactly the property that makes daily refresh O(batch), not
    O(index)."""
    e = table(spark, sf_dir, "embeddings")
    bk = hash_bucket(F.concat(F.lit("vref:"), F.col("vec_id").cast("string")), 10)
    e2 = e.select("vec_id", "label", "embedding", bk.alias("bk"))
    base = e2.filter(F.col("bk") < 8)
    new = e2.filter(F.col("bk") >= 8)
    pd_ = base.select("label", F.posexplode("embedding").alias("pos", "v"))
    cs = pd_.groupBy("label", "pos").agg(
        F.sum(F.round(F.col("v").cast("double") * 1000).cast("bigint")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cd = cs.select(
        "label", "pos", (F.col("s").cast("double") / F.lit(1000.0) / F.col("n")).alias("cd")
    )
    cent = (
        cd.groupBy("label")
        .agg(F.expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)").alias("cv"))
        .select(F.col("label").alias("cell_label"), "cv")
    )
    base_n = base.groupBy(F.col("label").alias("cell_label")).agg(
        F.count(F.lit(1)).alias("n_base")
    )
    # r11-verdict fix: the k-row centroid table folds into ONE
    # array-of-structs row, and the argmin is a map-side array expression
    # — no k-way row fan-out, no row_number window, no shuffle of the
    # batch side (the old crossJoin+window shape shuffled k copies of
    # every arrival to pick rn=1).
    cents_row = cent.agg(
        F.expr("array_sort(collect_list(struct(cell_label, cv)))").alias("__cents")
    )
    assigned = _argmin_assign(
        new.select("vec_id", F.col("label").alias("true_label"), "embedding"),
        cents_row,
        "cell_label",
    )
    added = assigned.groupBy("cell_label").agg(
        F.count(F.lit(1)).alias("n_added"),
        F.sum(F.when(F.col("true_label") == F.col("cell_label"), 1).otherwise(0)).alias(
            "n_label_match"
        ),
        F.sum(F.round(F.col("d2") * 1000).cast("bigint")).alias("sum_d2_milli"),
    )
    return base_n.join(added, "cell_label", "left").select(
        "cell_label",
        "n_base",
        F.coalesce("n_added", F.lit(0)).alias("n_added"),
        (F.col("n_base") + F.coalesce("n_added", F.lit(0))).alias("n_total"),
        F.coalesce("n_label_match", F.lit(0)).alias("n_label_match"),
        F.coalesce("sum_d2_milli", F.lit(0)).alias("sum_d2_milli"),
    )


# sim_search_lsh geometry: _LSH_TABLES tables of _LSH_BITS-bit
# signatures. Sized for the synthetic embeddings' weak-correlation
# regime; a real corpus with neighbor cosine >= 0.8 wants 16-24 bits
# (a bucket holds ~n/2^b vectors) and more tables. Recall floors:
# tests/test_llm_ops.py::test_ann_recall_floors.
_LSH_BITS = 4
_LSH_TABLES = 12


def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN, MULTI-TABLE (the standard OR-of-L /
    AND-of-b amplification): L independent hash tables of b-bit
    signatures each — a candidate pair needs to agree on all b
    hyperplane signs in ANY ONE table. Hyperplane (t,p) component d is
    ±1 from xxhash64(t*b+p, d) — deterministic, nothing stored. Exact
    cosine rescoring runs once per DISTINCT candidate pair (pairs found
    by several tables dedupe before scoring).

    The r6 single-table 8-bit form had recall ≈ 0.04 on the synthetic
    embeddings (near-orthogonal vectors agree on all 8 signs almost
    never); the multi-table form reaches the floor locked by
    tests/test_llm_ops.py::test_ann_recall_floors. The geometry is
    ``_LSH_BITS`` / ``_LSH_TABLES`` (4/12, sized for this
    weak-correlation regime): recall per table falls geometrically in b
    but the OR over L recovers it, and the rescoring stays
    bucket-confined either way.

    Rows-only: recall < 1 by design; scores are exact (test-locked)."""
    e = table(spark, sf_dir, "embeddings")

    def buckets(vcol: str) -> F.Column:
        # array of L b-bit bucket ids; all map-side expression work
        return F.expr(
            f"transform(sequence(0, {_LSH_TABLES - 1}), t -> "
            f" aggregate(sequence(0, {_LSH_BITS - 1}), cast(0 as int), (acc, p) -> acc | "
            f"  (CASE WHEN aggregate(sequence(1, 64), cast(0.0 as double),"
            f"    (s, d) -> s + (CASE WHEN pmod(xxhash64(t * {_LSH_BITS} + p, d), 2) = 0"
            f"                    THEN 1.0 ELSE -1.0 END)"
            f"             * cast(element_at({vcol}, d) as double)) > 0"
            f"   THEN shiftleft(1, p) ELSE 0 END)))"
        )

    sigs = e.select("vec_id", "embedding", buckets("embedding").alias("buckets"))
    exploded = sigs.select(
        "vec_id", "embedding", F.posexplode("buckets").alias("table_id", "bucket")
    )
    queries = exploded.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        "table_id",
        "bucket",
    )
    corpus = exploded.select(
        "vec_id", F.col("embedding").alias("cv"), "table_id", "bucket"
    )
    candidates = (
        F.broadcast(queries)
        .join(corpus, ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        # a pair found by several tables is scored ONCE
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = candidates.select(
        "query_id",
        "vec_id",
        (F.expr(_DOT) / (F.sqrt(F.expr(_NQ)) * F.sqrt(F.expr(_NC)))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return scored.select("query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= _TOP_K
    )


QUERIES["sim_search_lsh"] = sim_search_lsh

_N_CELLS = 8
_N_PROBE = 2


def _seed_centroids(e: DataFrame, n: int = _N_CELLS) -> list[list[float]]:
    """Deterministic seed model: the first ``n`` vectors BY RANK of
    vec_id, L2-normalized. Rank (orderBy + limit = TakeOrdered, no full
    sort) rather than the literal ``vec_id < n`` predicate, so corpora
    whose ids don't start at 0 (offset ids, filtered splits) still yield
    exactly ``n`` seeds (r11 advice). For contiguous 0-based ids — every
    registered key's input — the selected rows are identical to the old
    predicate form. Collecting them is a model fetch (n×64 floats)."""
    import math

    cents = sorted(
        e.select("vec_id", "embedding").orderBy("vec_id").limit(n).collect(),
        key=lambda r: r["vec_id"],
    )
    cvs = []
    for r in cents:
        v = list(r["embedding"])
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0  # not `n`: the param
        cvs.append([x / nrm for x in v])
    return cvs


def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer of ``_N_CELLS``
    centroids broadcast as literal expressions, map-side nearest-cell
    assignment (zero shuffle), queries probe the ``_N_PROBE`` best cells,
    exact cosine rescoring only within probed cells.

    The centroids are the first _N_CELLS vectors (deterministic seed
    model; ``sim_search_ivf_lloyd`` is the refined variant). Rows-only:
    recall < 1 by design."""
    e = table(spark, sf_dir, "embeddings")
    return _ivf_serve(e, _seed_centroids(e))


def sim_search_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the coarse quantizer refined by 3 Lloyd iterations
    (see ``_lloyd_refine``) — tighter cells ⇒ better recall at the same
    probe budget. Training is part of the plan here so the whole operator
    stays deterministic and self-contained; production would train once
    and persist the model. Rows-only: recall < 1 by design."""
    e = table(spark, sf_dir, "embeddings")
    return _ivf_serve(e, _lloyd_refine(e, _seed_centroids(e), iters=3))


def _ivf_serve(e: DataFrame, cvs: list[list[float]]) -> DataFrame:
    """The IVF serving plan for a given centroid model (see callers)."""
    cell_scores = F.expr(
        "array(" + ",".join(_dot_sql_fold("embedding", c) for c in cvs) + ")"
    )
    # named column first: array_position + array_max would otherwise
    # re-evaluate all _N_CELLS dot products twice
    scored = e.select(
        "vec_id", "embedding", cell_scores.alias("cell_scores")
    )
    corpus = scored.select(
        "vec_id",
        F.col("embedding").alias("cv"),
        (F.array_position(F.col("cell_scores"), F.array_max("cell_scores")) - 1).cast(
            "int"
        ).alias("cell"),
    )

    # queries probe their _N_PROBE best cells (tiny side: posexplode+rank)
    qw = Window.partitionBy("query_id").orderBy(F.desc("score"), "cell")
    probes = (
        scored.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.posexplode("cell_scores").alias("cell", "score"),
        )
        .withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= _N_PROBE)
        .select("query_id", "qv", "cell")
    )

    rescored = (
        F.broadcast(probes)
        .join(corpus, ["cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (F.expr(_DOT) / (F.sqrt(F.expr(_NQ)) * F.sqrt(F.expr(_NC)))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    return rescored.select(
        "query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _TOP_K)


# sim_search_ivf (the unrefined single-pass IVF) stays available as a
# function — the Lloyd variant composes it — but only the refined form is
# registered: the two were separate rows-only entries in r1/r2 and the
# catalog must fit the driver's 50-query sweep window.
QUERIES["sim_search_ivf_lloyd"] = sim_search_ivf_lloyd


def _lloyd_refine(e: DataFrame, cvs: list[list[float]], iters: int = 3) -> list[list[float]]:
    """Lloyd refinement of the IVF coarse quantizer, expressed as Spark
    aggregations: assign every vector to its best cell map-side (broadcast
    centroid literals, zero shuffle), then ONE shuffle of (cell, dim)
    partial sums per iteration. Only the 512-value model (cells × dims)
    is ever collected — data never leaves the cluster. Deterministic:
    same seed centroids, same data ⇒ same refined centroids."""
    import math

    n_dims = len(cvs[0])
    for _ in range(iters):
        cs = F.expr(
            "array(" + ",".join(_dot_sql_fold("embedding", c) for c in cvs) + ")"
        )
        scored = e.select("embedding", cs.alias("cs"))
        assigned = scored.select(
            "embedding",
            (F.array_position(F.col("cs"), F.array_max("cs")) - 1).cast("int").alias("cell"),
        )
        sums = (
            assigned.select("cell", F.posexplode("embedding").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.sum(F.col("val").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()  # model fetch: cells × dims rows
        )
        acc: dict[int, list[float]] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r["cell"], [0.0] * n_dims)[r["dim"]] = r["s"]
            cnt[r["cell"]] = r["n"]
        new_cvs = []
        for i, old in enumerate(cvs):
            if i not in acc or cnt[i] == 0:
                new_cvs.append(old)  # empty cell keeps its centroid
                continue
            mean = [x / cnt[i] for x in acc[i]]
            norm = math.sqrt(sum(x * x for x in mean)) or 1.0
            new_cvs.append([x / norm for x in mean])
        cvs = new_cvs
    return cvs


_CLF_W = [((i * 37) % 7) - 3 for i in range(64)]  # deterministic weights
_CLF_W_SQL = "[" + ", ".join(str(w) for w in _CLF_W) + "]"


@q(
    "sim_classifier_udf",
    sql=f"""
    SELECT vec_id,
           CAST(list_sum(list_transform(generate_series(1, 64),
                i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) * ({_CLF_W_SQL})[i]))
             AS BIGINT) AS score_milli,
           list_sum(list_transform(generate_series(1, 64),
                i -> CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) * ({_CLF_W_SQL})[i])) > 0
             AS positive
    FROM embeddings
    """,
)
def sim_classifier_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference over embeddings: a linear classifier applied
    as an Arrow-vectorized pandas UDF — the plumbing a real (ONNX/torch)
    scorer uses at scale: one numpy matmul per Arrow batch, model weights
    broadcast in the closure, no per-row Python. Quantizing to integer
    milli-units keeps the dot product EXACT (order-independent), so the
    same formula is a DuckDB oracle despite numpy's SIMD summation order
    differing from a sequential SQL fold."""
    import numpy as np

    from pyspark.sql.types import LongType

    w = np.array(_CLF_W, dtype=np.int64)

    @F.pandas_udf(LongType())
    def score(col: pd.Series) -> pd.Series:
        # float64 BEFORE scaling (float32*1000 re-rounds), then round
        # half-AWAY-from-zero to match SQL ROUND — np.rint is half-even
        m = np.vstack(col.to_numpy()).astype(np.float64) * 1000
        q = np.sign(m) * np.floor(np.abs(m) + 0.5)
        return pd.Series(q.astype(np.int64) @ w)

    e = table(spark, sf_dir, "embeddings")
    # evaluate the UDF ONCE; derive the label from the scored column
    return e.select("vec_id", score("embedding").alias("score_milli")).select(
        "vec_id", "score_milli", (F.col("score_milli") > 0).alias("positive")
    )


@q(
    "rag_retrieve",
    sql=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    ), scored AS (
      SELECT query_id, vec_id,
             list_sum(list_transform(generate_series(1, 64), i -> qv[i] * cv[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64), i -> qv[i] * qv[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64), i -> cv[i] * cv[i])))) AS cosine
      FROM q JOIN c ON vec_id <> query_id
    ), topk AS (
      SELECT query_id, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    )
    SELECT t.query_id, t.vec_id, t.cosine, t.rn,
           d.lang, d.n_chars,
           substr(d.text, 1, 80) AS passage
    FROM topk t JOIN documents d ON d.doc_id = t.vec_id
    WHERE t.rn <= {_TOP_K}
    """,
)
def rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-augmented-generation shape: ANN top-k over embeddings,
    then a key join back to the documents table for the passage text and
    metadata — the full retrieve step of a RAG serving stack. Plan: the
    similarity stage is the broadcast-query scan (sim_search); the
    passage join keys on doc_id, so at 100 TB it is a shuffle-free
    lookup against a doc_id-bucketed documents table (SCALE.md §6)."""
    e = table(spark, sf_dir, "embeddings")
    d = table(spark, sf_dir, "documents")
    queries = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    corpus = e.select(F.col("vec_id"), F.col("embedding").alias("cv"))
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            (F.expr(_DOT) / (F.sqrt(F.expr(_NQ)) * F.sqrt(F.expr(_NC)))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "vec_id")
    topk = scored.select(
        "query_id", "vec_id", "cosine", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _TOP_K)
    return topk.join(d, topk["vec_id"] == d["doc_id"]).select(
        "query_id",
        "vec_id",
        "cosine",
        "rn",
        "lang",
        "n_chars",
        F.substring("text", 1, 80).alias("passage"),
    )


_KNN_K = 3
# unrolled-behind-width-guard (r18): the docstrings below call the
# 64-dim dot fold "the whole cost" of the kNN graph — see _dim_guarded
_DOT_AB = _dim_guarded(
    _dot_sql_cols("av", "bv", _EMB_DIM),
    _fold_sum("zip_with(av, bv, (a, b) -> cast(a as double) * cast(b as double))"),
    "av",
    "bv",
)
_VNORM = _dim_guarded(
    _dot_sql_cols("embedding", "embedding", _EMB_DIM),
    _fold_sum("transform(embedding, x -> cast(x as double) * cast(x as double))"),
    "embedding",
)


def _norm_sides(e: DataFrame, src: str, dst: str):
    """(a, b) self-join sides over the embeddings frame, each carrying its
    vector and PRE-PROJECTED L2 norm — the one place the per-vector norm
    discipline lives (sim_knn_graph and dedup_semantic both join these;
    computing the norm inside the pair expression would be O(pairs·d),
    measured 3× the whole query, and a second copy of the cast chain
    would risk silently losing oracle bit-identity)."""
    a = e.select(
        F.col("vec_id").alias(src),
        "label",
        F.col("embedding").alias("av"),
        F.sqrt(F.expr(_VNORM)).alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias(dst),
        F.col("label").alias("blabel"),
        F.col("embedding").alias("bv"),
        F.sqrt(F.expr(_VNORM)).alias("nb"),
    )
    return a, b


@q(
    "sim_knn_graph",
    sql=f"""
    WITH v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
    ), scored AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, a.label AS label,
             list_sum(list_transform(generate_series(1, 64),
                                     i -> a.ev[i] * b.ev[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, 64),
                                               i -> a.ev[i] * a.ev[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, 64),
                                                 i -> b.ev[i] * b.ev[i]))))
               AS cosine
      FROM v a JOIN v b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT src, dst, label, cosine, rn
    FROM (
      SELECT src, dst, label, cosine,
             ROW_NUMBER() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst) AS rn
      FROM scored) t
    WHERE rn <= {_KNN_K}
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor GRAPH over the embedding corpus (every vector's
    top-k cosine neighbors), blocked by partition label — the primitive
    under SemDeDup-style semantic dedup, diversity sampling, and
    graph-based clustering. sim_search ranks a handful of queries
    against the corpus; this ranks EVERY vector against its block.

    Scale notes: the label column stands in for a coarse-quantizer cell
    assignment (sim_search_ivf_lloyd computes real ones); within-block
    work is quadratic ONLY in the block size, so at 100 TB the cell
    count is chosen to keep blocks task-sized (~1e4 vectors → 1e8
    multiply-adds per task) — never O(n²) global. One equi-join shuffle
    keyed on the block, one src-keyed window (src is high-cardinality,
    so no low-cardinality funnel). Edges carry ids + one double. Norms
    are projected ONCE PER VECTOR before the join (O(n·d)), not inside
    the pair expression (O(pairs·d) — measured 3× the whole query);
    sqrt(na)·sqrt(nb) over the same operands keeps the IEEE value
    bit-identical to the oracle's per-pair form.

    The 64-dim dot-product fold is the whole cost, and cosine is
    bitwise SYMMETRIC here (zip_with's per-element products and the
    sequential sum are operand-order-independent, as is na·nb), so each
    unordered pair is scored ONCE (src < dst) and exploded map-side
    into both directed edges — half the fold evaluations of the naive
    src != dst join for an identical result (r6: −40% wall)."""
    e = table(spark, sf_dir, "embeddings")
    a, b = _norm_sides(e, "src", "dst")
    scored = (
        a.join(b, (F.col("label") == F.col("blabel")) & (F.col("src") < F.col("dst")))
        .select(
            "src",
            "dst",
            "label",
            (F.expr(_DOT_AB) / (F.col("na") * F.col("nb"))).alias("cosine"),
        )
    )
    both = scored.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("s"), F.col("dst").alias("d")),
                F.struct(F.col("dst").alias("s"), F.col("src").alias("d")),
            )
        ).alias("e"),
        "label",
        "cosine",
    ).select(
        F.col("e.s").alias("src"), F.col("e.d").alias("dst"), "label", "cosine"
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), "dst")
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KNN_K)
        .select("src", "dst", "label", "cosine", "rn")
    )


_SEM_TAU = 0.4  # data-dependent: real text embeddings use ~0.95+; this
                # synthetic corpus' cosine tail tops out near 0.5, and 0.4
                # is the highest cut that still yields multi-node clusters
                # at every shipped SF (so the closure logic is exercised)


@q(
    "dedup_semantic",
    sql=f"""
    WITH RECURSIVE v AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM v a JOIN v b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, 64),
                                    i -> a.ev[i] * b.ev[i]))
              / (sqrt(list_sum(list_transform(generate_series(1, 64),
                                              i -> a.ev[i] * a.ev[i])))
                 * sqrt(list_sum(list_transform(generate_series(1, 64),
                                                i -> b.ev[i] * b.ev[i]))))
              >= {_SEM_TAU}
    ), edges AS (
      SELECT src, dst FROM pairs
      UNION ALL SELECT dst AS src, src AS dst FROM pairs
    ), reach(vec_id, lbl) AS (
      SELECT vec_id, vec_id FROM v
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.vec_id
    ), comp AS (
      SELECT vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY vec_id
    ), sizes AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
    )
    SELECT comp.vec_id, comp.cluster_id, sizes.cluster_size,
           (comp.vec_id = comp.cluster_id) AS is_rep
    FROM comp JOIN sizes USING (cluster_id)
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication: cosine-similar embedding
    pairs (blocked by the label/cell column, like sim_knn_graph) become
    edges, connected components merge transitively-similar groups, and
    each cluster keeps its minimum-id member as the representative
    (``is_rep``). The composition the SemDeDup paper runs — cluster,
    then drop all-but-one per semantic duplicate group — built from
    this repo's own primitives: the blocked pair scoring of
    sim_knn_graph and the large-star/small-star contraction of
    dedup.connected_components. The DuckDB oracle computes the identical
    closure with a recursive CTE (the dedup_cluster recipe).

    Scale notes: pair scoring is quadratic only within a block (cell
    sizing as in sim_knn_graph); each contraction round shuffles the
    shrinking edge set with lineage cut per round; cluster sizes come
    from an aggregate + join, not a per-cluster window (giant-cluster
    safe). Edges carry two ids — vectors never enter the contraction."""
    from .dedup import connected_components

    e = table(spark, sf_dir, "embeddings")
    a, b = _norm_sides(e, "src", "dst")
    cos = F.expr(_DOT_AB) / (F.col("na") * F.col("nb"))
    edges = (
        a.join(b, (F.col("label") == F.col("blabel")) & (F.col("src") < F.col("dst")))
        .filter(cos >= _SEM_TAU)
        .select("src", "dst")
    )
    comp = connected_components(edges).select(
        F.col("node").alias("vec_id"), F.col("label").alias("__cl")
    )
    labels = (
        e.select("vec_id")
        .join(comp, "vec_id", "left")
        .select("vec_id", F.coalesce("__cl", "vec_id").alias("cluster_id"))
    )
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return labels.join(sizes, "cluster_id").select(
        "vec_id",
        "cluster_id",
        "cluster_size",
        (F.col("vec_id") == F.col("cluster_id")).alias("is_rep"),
    )


# --- Product quantization (PQ) ANN --------------------------------------

_PQ_M = 16  # subspaces
_PQ_D = 4  # dims per subspace (16 × 4 = the 64-dim embedding)
_PQ_K = 16  # centroids per subspace → 16-byte code per vector


def _pq_subvec(j: int) -> F.Column:
    return F.slice(F.col("embedding"), j * _PQ_D + 1, _PQ_D)


def _pq_code(j: int, codebook: list[list[list[float]]]) -> F.Column:
    """argmin centroid index for subspace ``j`` (ties -> lowest index,
    matching Python's min()). The 16 centroids ride as ONE nested array
    literal with a single transform/aggregate HOF over it — one compact
    expression node per subspace instead of 16 separate fold trees
    (16× smaller plans; analysis time was the dominant serve cost), and
    HOFs stay interpreter-evaluated leaves so whole-stage codegen never
    balloons (the flat scalar form OOM'd a 1 GiB driver heap —
    measured)."""
    sv = _pq_subvec(j)
    cb = F.lit([[float(x) for x in c] for c in codebook[j]])
    dists = F.transform(
        cb,
        lambda c: F.aggregate(
            F.zip_with(sv, c, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


# Trained codebooks memoized per (caller-supplied identity, iters): the
# testdata is immutable and training is deterministic, so re-deriving the
# 4 KB model on every query construction (bench best-of-2, repeated
# driver calls) would re-pay 3 Lloyd jobs for an identical result — the
# _DISPATCH_CACHE recipe (skew.py) applied to a model artifact. In a
# persistent pipeline this cache is a parquet/JSON model file.
_PQ_MODELS: dict[tuple, list[list[list[float]]]] = {}


def pq_train(
    e: DataFrame, iters: int = 3, cache_key: tuple | None = None
) -> list[list[list[float]]]:
    """Train a PQ codebook: per subspace, seed ``_PQ_K`` centroids from
    the first vectors (the `_seed_centroids` recipe) then run ``iters``
    distributed Lloyd steps. Each step is ONE job for ALL subspaces:
    every row explodes into its 16 (subspace, code, subvector) triples
    — map-side nearest-centroid assignment against broadcast-literal
    centroids — and one (subspace, code) groupBy averages the 4 dims
    (256 groups total, partial-agg friendly). The model is 16×16×4
    floats (4 KB): collecting it is a model fetch, the same
    metadata-sized collect() class as the IVF seeds. Empty cells keep
    their previous centroid (standard k-means practice)."""
    k = (*cache_key, iters) if cache_key is not None else None
    if k is not None and k in _PQ_MODELS:
        return _PQ_MODELS[k]
    seeds = sorted(
        e.filter(F.col("vec_id") < _PQ_K).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    codebook = [
        [[float(x) for x in r["embedding"]][j * _PQ_D : (j + 1) * _PQ_D] for r in seeds]
        for j in range(_PQ_M)
    ]
    for _ in range(iters):
        triples = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    _pq_code(j, codebook).alias("code"),
                    _pq_subvec(j).alias("sv"),
                )
                for j in range(_PQ_M)
            ]
        )
        means = (
            e.select(F.explode(triples).alias("t"))
            .groupBy(F.col("t.j").alias("j"), F.col("t.code").alias("code"))
            .agg(*[F.avg(F.element_at("t.sv", i + 1)).alias(f"d{i}") for i in range(_PQ_D)])
            .collect()
        )
        for r in means:
            codebook[r["j"]][r["code"]] = [float(r[f"d{i}"]) for i in range(_PQ_D)]
    if k is not None:
        _PQ_MODELS[k] = codebook
    return codebook


def pq_encode(e: DataFrame, codebook: list[list[list[float]]]) -> DataFrame:
    """Map-side PQ encoding: per subspace, argmin squared distance over
    the 16 broadcast-literal centroids → ``codes`` array<int> of length
    ``_PQ_M``. Zero shuffle; the 256-byte vector compresses to 16 codes
    (16 bytes — the compression that lets a 100 TB corpus's serving
    index live in memory)."""
    codes = F.array(*[_pq_code(j, codebook) for j in range(_PQ_M)])
    return e.select("vec_id", "label", codes.alias("codes"))


@q("sim_search_pq")
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011): the third leg
    of the ANN family next to LSH (sim_search_lsh) and IVF
    (sim_search_ivf_lloyd). The corpus is compressed 16× into 16-byte PQ
    codes (16 subspaces × 1 byte); each query precomputes a 16×16 lookup
    table of squared distances to every centroid (asymmetric distance
    computation), and scoring a vector is 16 table lookups + adds —
    no per-pair float vector math at all.

    Rows-only by design (approximate distances; recall < 1). The Spark
    pipeline is pinned EXACTLY against a pure-Python PQ reimplementation
    sharing the codebook, and recall vs exact L2 is bounded below, in
    tests/test_scale_refinements.py.

    Scale notes: training is one Lloyd step per subspace (16-cell
    groupBy, partial-agg friendly); encoding is map-side expression-only
    over broadcast-literal centroids; serving broadcasts the 10 queries'
    LUTs (tiny) against the CODES frame — the shuffle/scan carries
    (vec_id, 16 small ints), never embeddings, which is why PQ is the
    memory-resident serving index at corpus scales where raw vectors
    cannot be. Real deployments compose IVF (prune cells) × PQ (score
    cheap) — both halves exist in this module."""
    e = table(spark, sf_dir, "embeddings")
    codebook = pq_train(e, cache_key=("sim_search_pq", sf_dir))
    encoded = pq_encode(e, codebook)
    qrows = sorted(
        e.filter(F.col("vec_id") < _N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    queries = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in qrows]
    return _pq_serve(e.sparkSession, encoded, codebook, queries, _TOP_K)


def _pq_serve(
    spark: SparkSession,
    encoded: DataFrame,
    codebook: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    top_k: int,
) -> DataFrame:
    """Shared ADC serving plan: per query a 16×16 LUT of exact squared
    subspace distances computed driver-side (tiny), broadcast against
    the codes frame; approx distance = 16 lookups + adds per vector;
    per-query top-k. One definition so the in-memory (sim_search_pq)
    and persisted-index (pq_search_indexed) paths cannot drift."""
    lut_rows = []
    for qid, qv in queries:
        lut = [
            [
                sum((float(qv[j * _PQ_D + i]) - c[i]) ** 2 for i in range(_PQ_D))
                for c in codebook[j]
            ]
            for j in range(_PQ_M)
        ]
        lut_rows.append((qid, lut))
    luts = spark.createDataFrame(lut_rows, "query_id long, luts array<array<double>>")
    adc = F.expr(
        f"aggregate(sequence(1, {_PQ_M}), cast(0 as double), "
        "(acc, j) -> acc + element_at(element_at(luts, j), element_at(codes, j) + 1))"
    )
    scored = (
        F.broadcast(luts)
        .join(encoded, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.alias("approx_dist"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_dist", "vec_id")
    return scored.select(
        "query_id", "vec_id", "approx_dist", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= top_k)


def build_pq_index(e: DataFrame, path: str, iters: int = 3) -> list[list[list[float]]]:
    """Persist the PQ serving index: train the codebook, write the
    encoded corpus as parquet at ``path`` (vec_id, label, codes), and
    write the codebook itself alongside under ``<path>/_codebook.json``
    (a 4 KB model artifact — the durable form of the ``_PQ_MODELS``
    memo). At 100 TB this is the build-once step: later queries read the
    16-byte-per-vector codes and never touch raw embeddings (the
    build_lsh_index recipe applied to vectors). Returns the codebook."""
    import json as _json
    import os as _os

    codebook = pq_train(e, iters=iters)
    pq_encode(e, codebook).write.mode("overwrite").parquet(path)
    with open(_os.path.join(path, "_codebook.json"), "w") as f:
        _json.dump(codebook, f)
    return codebook


def pq_search_indexed(
    spark: SparkSession, path: str, queries: list[tuple[int, list[float]]], top_k: int = _TOP_K
) -> DataFrame:
    """Serve ANN queries against a persisted ``build_pq_index`` dataset:
    load the 4 KB codebook, compute each query's 16×16 LUT driver-side,
    and score the CODES parquet — the scan reads 16 bytes per vector,
    never an embedding. ``queries`` are (query_id, vector) pairs.
    Test-locked against the self-contained sim_search_pq plan
    (tests/test_scale_refinements.py)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_codebook.json")) as f:
        codebook = _json.load(f)
    encoded = spark.read.parquet(path)
    return _pq_serve(spark, encoded, codebook, queries, top_k)


_IVFPQ_CENTROIDS: dict[tuple, list[list[float]]] = {}


@q("sim_search_ivfpq")
def sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF×PQ — the production ANN composition (the FAISS IVFADC
    layout): the Lloyd-refined coarse quantizer prunes the corpus to
    ``_N_PROBE`` of ``_N_CELLS`` cells per query, and ASYMMETRIC
    PQ distance scores only the surviving cells' 16-byte codes — the
    scan does cells/probed× less work than sim_search_pq and touches no
    raw vectors, which is the serving shape when neither the corpus nor
    even its codes fit one machine's scan budget.

    Both trained models are memoized per immutable input (the
    `_PQ_MODELS` recipe); rows-only by design, pinned exactly against a
    pure-Python reimplementation in tests/test_scale_refinements.py.

    Scale notes: cell assignment and PQ encoding are one map-side pass;
    the serve is a broadcast of (query, probed-cell, LUT) rows joined on
    the CELL key — an equi-join that touches only probed partitions
    (partition the codes dataset by cell on disk and the scan prunes to
    probed cells before reading a byte)."""
    e = table(spark, sf_dir, "embeddings")
    ck = ("ivfpq_cells", sf_dir)
    if ck not in _IVFPQ_CENTROIDS:
        _IVFPQ_CENTROIDS[ck] = _lloyd_refine(e, _seed_centroids(e), iters=3)
    cvs = _IVFPQ_CENTROIDS[ck]
    codebook = pq_train(e, cache_key=("sim_search_pq", sf_dir))  # shared PQ model

    # one nested-literal HOF over the 8 centroids (the _pq_code trick):
    # per-centroid fold semantics identical to _ivf_serve's dot_with
    cb = F.lit([[float(x) for x in c] for c in cvs])
    cell_scores = F.transform(
        cb,
        lambda c: F.aggregate(
            F.zip_with(F.col("embedding"), c, lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    scored = e.select("vec_id", "embedding", cell_scores.alias("cell_scores"))
    encoded = scored.select(
        "vec_id",
        (F.array_position(F.col("cell_scores"), F.array_max("cell_scores")) - 1)
        .cast("int")
        .alias("cell"),
        F.array(*[_pq_code(j, codebook) for j in range(_PQ_M)]).alias("codes"),
    )

    qrows = sorted(
        e.filter(F.col("vec_id") < _N_QUERIES).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    lut_rows = []
    for r in qrows:
        qv = [float(x) for x in r["embedding"]]
        cell_scores = [sum(qv[i] * c[i] for i in range(len(qv))) for c in cvs]
        probed = sorted(
            range(len(cvs)), key=lambda ci: (-cell_scores[ci], ci)
        )[:_N_PROBE]
        lut = [
            [
                sum((qv[j * _PQ_D + i] - c[i]) ** 2 for i in range(_PQ_D))
                for c in codebook[j]
            ]
            for j in range(_PQ_M)
        ]
        for cell in probed:
            lut_rows.append((r["vec_id"], cell, lut))
    luts = spark.createDataFrame(
        lut_rows, "query_id long, cell int, luts array<array<double>>"
    )
    adc = F.expr(
        f"aggregate(sequence(1, {_PQ_M}), cast(0 as double), "
        "(acc, j) -> acc + element_at(element_at(luts, j), element_at(codes, j) + 1))"
    )
    pairs = F.broadcast(luts).join(
        encoded, (luts.cell == encoded.cell) & (F.col("vec_id") != F.col("query_id"))
    )
    scored_q = pairs.select("query_id", "vec_id", adc.alias("approx_dist"))
    w = Window.partitionBy("query_id").orderBy("approx_dist", "vec_id")
    return scored_q.select(
        "query_id", "vec_id", "approx_dist", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _TOP_K)
