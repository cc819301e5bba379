#!/usr/bin/env python
"""A/B of the persisted index's DataFrame serve under its two cosine
trees (``operators/vector_index.py`` ``_cosine_col``): the
``aggregate``/``zip_with`` fold a vanilla session gets, and the
bit-identical unrolled tree the session selects by setting
``spark.sql.codegen.hugeMethodLimit=8000``. Arms are interleaved
(fold, unrolled, fold, unrolled, …) so a drifting host hits both; every
wall is printed, and the two arms' rows must be bit-identical.

Synthetic 64-dim hash vectors (the vector_refresh_probe recipe) over a
100k-vector index, n_probe 2; corpus and query builds happen OUTSIDE
the clock, and one 64-query serve per arm warms the JVM first.

Usage: python tools/serve_scale_probe.py [n_queries] [n_cells] [reps]
       # defaults 2000 queries, 64 cells, 2 interleaved rounds
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from vector_refresh_probe import synth_vectors  # noqa: E402

_HUGE = "spark.sql.codegen.hugeMethodLimit"
_ARMS = {"fold": "65535", "unrolled": "8000"}


def main() -> None:
    n_queries = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000
    n_cells = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    from pyspark.sql import functions as F

    from synthetic_data_transfer_to_relational_database_spark.operators.vector_index import (
        build_vector_index,
        search_vector_index_df,
    )
    from synthetic_data_transfer_to_relational_database_spark.session import get_spark

    spark = get_spark("sdt-serve-probe")
    tmp = tempfile.mkdtemp(prefix="sdt_serve_")
    prev_huge = spark.conf.get(_HUGE, "65535")
    try:
        idx = os.path.join(tmp, "idx")
        build_vector_index(spark, synth_vectors(spark, 100_000), idx, n_cells=n_cells)
        qdf = (
            synth_vectors(spark, n_queries, id_offset=5_000_000)
            .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
            .persist()
        )
        qdf.count()

        def serve(arm: str, q, eager: bool = False):
            # the tree is chosen from the conf when the serve is built,
            # and runs under it at the materialization below
            spark.conf.set(_HUGE, _ARMS[arm])
            return search_vector_index_df(spark, idx, q, top_k=5, n_probe=2, eager=eager)

        def timed(arm: str, q) -> float:
            # eager=False: the noop write is the one materialization
            t0 = time.perf_counter()
            serve(arm, q).write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 3)

        for arm in _ARMS:
            timed(arm, qdf.limit(64))  # warm-up (codegen/JIT), discarded
        walls: dict[str, list[float]] = {arm: [] for arm in _ARMS}
        for _ in range(reps):
            for arm in _ARMS:
                walls[arm].append(timed(arm, qdf))
        rows = {}
        for arm in _ARMS:
            res = serve(arm, qdf, eager=True)
            rows[arm] = sorted(map(tuple, res.collect()))
            res.unpersist()
        print(
            json.dumps(
                {
                    "n_queries": n_queries,
                    "n_cells": n_cells,
                    "corpus": 100_000,
                    "cpus": spark.sparkContext.defaultParallelism,
                    "walls": walls,
                    "rows_bit_identical": rows["fold"] == rows["unrolled"],
                    "n_rows": len(rows["fold"]),
                }
            )
        )
    finally:
        spark.conf.set(_HUGE, prev_huge)
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
