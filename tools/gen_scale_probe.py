#!/usr/bin/env python
"""Scale-linearity probe for the generation engine (SCALE.md §4).

Times the two flagship generator pipelines at 1× and 10× row count,
each config in its own fresh JVM (subprocess), so the probe measures
how the fixed cost (driver-side plan construction + 85 unique janino
compiles for the full schema; one compile for gen_1m) amortizes as row
work grows:

- ``gen_full_schema``: the reference's 85-table schema via the parquet
  write path at 10k rows/table (the bench config, 850k rows) and at
  100k rows/table (8.5M rows).
- ``gen_1m``: 10k-parent dim + FK-sampled fact at 1M and 10M rows via
  the noop sink.

Reports wall seconds per config, the 10×/1× ratio, the implied scaling
exponent log10(T10/T1), and the marginal per-row cost derived from the
two-point model T(N) = fixed + m·N (the same cancellation trick as
SCALE.md's "Ingest cost model"). Prints one JSON line; paste the table
into SCALE.md.

Usage: python tools/gen_scale_probe.py            # both pipelines
       python tools/gen_scale_probe.py full_schema
       python tools/gen_scale_probe.py gen1m
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

CONFIGS = {
    "full_schema_1x": ("full_schema", 10_000),
    "full_schema_10x": ("full_schema", 100_000),
    "gen1m_1x": ("gen1m", 1_000_000),
    "gen1m_10x": ("gen1m", 10_000_000),
}


def run_child(kind: str, n: int) -> float:
    import bench
    from synthetic_data_transfer_to_relational_database_spark.session import get_spark

    spark = get_spark("sdt-gen-scale-probe")
    # Same warm-up posture as bench.py: one flagship query so JVM/codegen
    # warm-up isn't charged to the probe (honoring SPARK_GRAFT_SF_DIR
    # like every other harness entry point).
    from synthetic_data_transfer_to_relational_database_spark import registry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.path.exists(os.path.join(sf_dir, "nation.parquet")):
        bench._materialize(registry.all_queries()["revenue_by_nation"](spark, sf_dir))
    else:
        # r10 advice: no testdata on this machine — the probe measures
        # generator scaling and does not NEED the warm-up corpus; skip it
        # loudly rather than dying with the cause buried in child stderr.
        print(
            f"gen_scale_probe: warm-up skipped — {sf_dir} has no testdata "
            "(set SPARK_GRAFT_SF_DIR); first sample includes JVM warm-up",
            file=sys.stderr,
        )
    t0 = time.perf_counter()
    if kind == "full_schema":
        bench._gen_full_schema(spark, rows=n)
    else:
        bench._gen_1m(spark, fact_rows=n)
    dt = time.perf_counter() - t0
    spark.stop()
    return dt


def main() -> None:
    if os.environ.get("SDT_PROBE_CHILD"):
        kind, n = CONFIGS[sys.argv[1]]
        print(json.dumps({"config": sys.argv[1], "sec": round(run_child(kind, n), 3)}))
        return

    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    keys = [
        k
        for k in CONFIGS
        if which == "both" or k.startswith({"full_schema": "full_schema", "gen1m": "gen1m"}[which])
    ]
    out: dict[str, float] = {}
    for key in keys:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), key],
            env=dict(os.environ, SDT_PROBE_CHILD="1"),
            capture_output=True,
            text=True,
        )
        line = next(
            (l for l in reversed(proc.stdout.splitlines()) if l.startswith("{")), None
        )
        if proc.returncode != 0 or not line:
            sys.exit(f"{key} failed (rc={proc.returncode}):\n" + proc.stderr[-2000:])
        out[key] = json.loads(line)["sec"]
        print(f"# {key}: {out[key]} s", file=sys.stderr)

    report: dict = {"walls": out}
    for fam, (n1, n10) in (("full_schema", (850_000, 8_500_000)), ("gen1m", (1_000_000, 10_000_000))):
        a, b = out.get(f"{fam}_1x"), out.get(f"{fam}_10x")
        if a is None or b is None:
            continue
        # two-point linear model: T = fixed + m*N  (N = total rows)
        m = (b - a) / (n10 - n1)
        report[fam] = {
            "ratio_10x": round(b / a, 2),
            "scaling_exponent": round(math.log10(b / a), 2),
            "marginal_us_per_row": round(m * 1e6, 3),
            "fixed_sec": round(a - m * n1, 2),
        }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
