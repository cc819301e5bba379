"""Local replica of the driver's correctness gate.

Runs each registered query on Spark AND its DuckDB oracle at a given
sf dir, converts both results to pandas the way a pandas-based harness
would (``DataFrame.toPandas()`` / ``duckdb .df()``), then compares:

- row count,
- schema (column names, sorted),
- a value hash over the stringified, column-name-sorted, row-sorted frame.

The string form is deliberately representation-sensitive: ``Decimal('1.00')``
!= ``1.0`` != ``1``. That is the property that made 11 value-exact queries
fail the round-1 driver hash (DuckDB's pandas client converts HUGEINT and
DECIMAL to float64, Spark keeps int64 / decimal objects). A query only
counts as green here if both engines emit the same canonical primitives.

Usage:
    python tools/driver_sim.py [--scalable] [query ...]   # default: all queries
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/driver_sim.py

``--scalable`` zeroes ``skew.RANK_SMALL_INPUT_BYTES``, forcing every
cost-based rank dispatch (window_rank, window_ranks_pct, window_ntile,
multimodal_dyn_batch, corpus_quantile_filter) onto its scalable branch,
so THAT plan is what gets strict-oracle-checked. The percentile sites
stay exact.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _cell_str(v) -> str:
    """Representation-sensitive cell stringification (the strict view)."""
    if v is None:
        return "NULL"
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, np.floating):
        return repr(float(v))
    if isinstance(v, np.integer):
        return repr(int(v))
    if isinstance(v, (np.ndarray, list)):
        return "[" + ",".join(_cell_str(x) for x in v) + "]"
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        if isinstance(v, pd.Timestamp) and v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return repr(v)


def canon(df: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(df.columns)
    df = df[cols]
    rows = sorted(
        tuple(_cell_str(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return len(rows), cols, h.hexdigest()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from synthetic_data_transfer_to_relational_database_spark import registry
    from synthetic_data_transfer_to_relational_database_spark.operators import skew
    from synthetic_data_transfer_to_relational_database_spark.session import get_spark

    args = sys.argv[1:]
    if "--scalable" in args:
        args.remove("--scalable")
        skew.RANK_SMALL_INPUT_BYTES = 0
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    names = args or [n for n in queries if n in oracles]

    spark = get_spark("driver-sim")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    results: dict[str, dict] = {}
    n_fail = 0
    for name in names:
        if name not in queries:
            print(f"{name}: UNKNOWN", flush=True)
            continue
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
            if name not in oracles:
                results[name] = {"err": "no_oracle", "spark_rows": len(sdf)}
                print(f"{name}: no_oracle ({len(sdf)} rows)", flush=True)
                continue
            odf = con.execute(oracles[name]).df()
            s_rows, s_cols, s_hash = canon(sdf)
            o_rows, o_cols, o_hash = canon(odf)
            rec = {
                "rows_match": s_rows == o_rows,
                "schema_match": s_cols == o_cols,
                "hash_match": s_hash == o_hash,
                "spark_rows": s_rows,
                "oracle_rows": o_rows,
                "err": None,
            }
            results[name] = rec
            ok = all((rec["rows_match"], rec["schema_match"], rec["hash_match"]))
            if not ok:
                n_fail += 1
                # show first differing stringified cell for debugging
                detail = ""
                if rec["rows_match"] and rec["schema_match"]:
                    scan = sdf[sorted(sdf.columns)]
                    ocan = odf[sorted(odf.columns)]
                    srows = sorted(
                        tuple(_cell_str(v) for v in r)
                        for r in scan.itertuples(index=False, name=None)
                    )
                    orows = sorted(
                        tuple(_cell_str(v) for v in r)
                        for r in ocan.itertuples(index=False, name=None)
                    )
                    for i, (a, b) in enumerate(zip(srows, orows)):
                        if a != b:
                            for j, (x, y) in enumerate(zip(a, b)):
                                if x != y:
                                    detail = f" first diff row {i} col {sorted(sdf.columns)[j]}: spark={x!r} oracle={y!r}"
                                    break
                            break
                print(f"{name}: FAIL {rec}{detail}", flush=True)
            else:
                print(f"{name}: ok ({s_rows} rows)", flush=True)
        except Exception as e:  # noqa: BLE001 - harness reports all failures
            results[name] = {"err": f"{type(e).__name__}: {e}"}
            n_fail += 1
            print(f"{name}: ERROR {type(e).__name__}: {str(e)[:300]}", flush=True)

    out = os.environ.get("DRIVER_SIM_OUT")
    if out:
        with open(out, "w") as f:
            json.dump(results, f, indent=2)
    print(f"\n{len(names) - n_fail}/{len(names)} green", flush=True)
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
