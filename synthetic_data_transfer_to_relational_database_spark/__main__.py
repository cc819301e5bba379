"""Command-line entry points mirroring the reference's three scripts, so
a reference user can switch workflows one-for-one:

- ``deploy``   ≙ apply_mssql.py (read dump → GO batches → sanitize →
  replay with per-batch error containment, optional check-then-create)
- ``rules``    ≙ generate_config_v2.py (schema source → inferred
  provider-rule config → data_rules.json) — with the difference the
  reference never shipped: OUR generate command actually consumes the
  file (SURVEY.md §0: data_rules.json is written but read by nothing).
- ``generate`` ≙ fill_db.py / run_engine.py (dependency-ordered
  referentially-consistent synthetic data), writing parquet or
  bulk-loading a live database with identity read-back.

Usage:

    python -m synthetic_data_transfer_to_relational_database_spark deploy \
        --script script.sql --url "jdbc:derby:/tmp/erp" --dialect derby --create-db
    python -m synthetic_data_transfer_to_relational_database_spark rules \
        --script script.sql --out data_rules.json
    python -m synthetic_data_transfer_to_relational_database_spark generate \
        --script script.sql --rules data_rules.json --rows 1000 --out /tmp/gen
"""

from __future__ import annotations

import argparse
import json
import sys


def _schema(args):
    """Load TableSpecs from whichever schema source was given (both
    parsers wire FK rules)."""
    if args.script:
        from .sources.ddl import parse_schema_script

        return parse_schema_script(args.script, encoding=args.encoding)
    if args.jsonl:
        from .sources.jsonl_schema import parse_jsonl_schema

        return parse_jsonl_schema(args.jsonl)
    raise SystemExit("one of --script/--jsonl is required")


def _target(url: str, dialect: str, driver: str | None):
    from .sinks.jdbc import JdbcTarget

    return JdbcTarget(url=url, driver=driver, dialect=dialect)


def _spark(app: str):
    """(session, owned): stop only sessions this command created — a CLI
    invoked in-process (tests, notebooks) must not kill the caller's.
    Ownership is decided by the GLOBAL SparkContext, not
    getActiveSession(): the active session is thread-local, so a call
    from a worker thread of a session-owning host app would otherwise
    look unowned, grab the existing session via getOrCreate, and stop
    it."""
    from pyspark import SparkContext

    from .session import get_spark

    existing = SparkContext._active_spark_context is not None  # noqa: SLF001
    return get_spark(app), not existing


def _add_schema_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--script", help="T-SQL DDL dump (script.sql shape)")
    p.add_argument("--jsonl", help="schema-description JSONL (S3 source)")
    p.add_argument(
        "--encoding", default="utf-16",
        help="DDL dump encoding (default utf-16, the SSMS dump default; "
        "falls back automatically on decode failure)",
    )


def cmd_deploy(args) -> int:
    from .sinks.deploy import deploy_script

    spark, owned = _spark("sdt-deploy")
    try:
        log = deploy_script(
            spark,
            _target(args.url, args.dialect, args.driver),
            args.script,
            encoding=args.encoding,
            target_db=args.target_db,
            source_db=args.source_db,
            create_db=args.create_db,
            admin_target=(
                _target(args.admin_url, args.dialect, args.driver)
                if args.admin_url
                else None
            ),
        )
    finally:
        if owned:
            spark.stop()
    failed = [(stmt, err) for stmt, err in log if err]
    print(f"deployed {len(log) - len(failed)}/{len(log)} batches")
    for stmt, err in failed:
        print(f"FAILED: {stmt[:80]!r}: {err}", file=sys.stderr)
    return 1 if failed and not args.continue_on_error else 0


def cmd_rules(args) -> int:
    from .plans.rules import dump_rules

    tables = _schema(args)
    config = dump_rules(tables)
    with open(args.out, "w") as f:
        json.dump(config, f, indent=2, ensure_ascii=False)
    n_rules = sum(len(v) for v in config.values())
    print(f"wrote {args.out}: {len(config)} tables, {n_rules} column rules")
    return 0


def _row_counts(args, tables) -> dict[str, int]:
    counts: dict[str, int] = {}
    for part in args.row_counts.split(",") if args.row_counts else []:
        name, eq, n = part.partition("=")
        if not eq or not n.isdigit():
            raise SystemExit(
                f"--row-counts: expected table=N, got {part!r}"
            )
        if name not in tables:
            raise SystemExit(f"--row-counts: unknown table {name!r}")
        counts[name] = int(n)
    return counts


def cmd_generate(args) -> int:
    from .plans.executor import GenerationPlan

    tables = _schema(args)
    if args.rules:
        from .plans.rules import load_rules

        with open(args.rules) as f:
            load_rules(tables, json.load(f))
    spark, owned = _spark("sdt-generate")
    try:
        plan = GenerationPlan(
            spark,
            tables,
            seed=args.seed,
            default_rows=args.rows,
            row_counts=_row_counts(args, tables),
            fk_skew=args.fk_skew,
        )
        if args.load_url:
            from .sinks.jdbc import load_plan_to_live_db

            order = load_plan_to_live_db(
                plan,
                _target(args.load_url, args.dialect, args.driver),
                batchsize=args.batchsize,
                num_partitions=args.num_partitions,
                parallelism=args.parallelism,
            )
            print(f"loaded {len(order)} tables: {', '.join(order)}")
        else:
            plan.materialize_dir = args.out
            built = plan.run(materialize="write", parallelism=args.parallelism)
            print(f"wrote {len(built)} tables under {args.out}")
    finally:
        if owned:
            spark.stop()
    return 0


def cmd_query(args) -> int:
    from . import registry

    queries = registry.all_queries()
    if args.list:
        for name in queries:
            print(name)
        return 0
    if not args.name:
        raise SystemExit("--name is required (or --list)")
    if args.name not in queries:
        raise SystemExit(f"unknown query {args.name!r} (see --list)")
    spark, owned = _spark("sdt-query")
    try:
        df = queries[args.name](spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.out}")
        else:
            df.show(args.limit, truncate=False)
    finally:
        if owned:
            spark.stop()
    return 0


def cmd_ingest(args) -> int:
    from .streaming.ingest import (
        ensure_index,
        stream_documents,
        write_stream_dedup_ingest,
    )

    spark, owned = _spark("sdt-ingest")
    try:
        # register-or-bootstrap, never overwrite: a second CLI invocation
        # is a NEW process whose in-memory catalog forgot the table, but
        # the index files at --index-path are the accumulated crawl state
        ensure_index(spark, args.index_table, args.index_path, docs_src=args.src)
        write_stream_dedup_ingest(
            stream_documents(spark, args.src),
            args.index_table,
            args.out,
            args.checkpoint,
            threshold=args.threshold,
            compact_every=args.compact_every,
        ).awaitTermination()
        n = spark.read.parquet(f"{args.out}/data").count()
        print(f"corpus now holds {n} documents")
    finally:
        if owned:
            spark.stop()
    return 0


def cmd_index(args) -> int:
    from .operators.vector_index import (
        build_vector_index,
        refresh_vector_index,
        verify_vector_index,
    )

    spark, owned = _spark("sdt-index")
    try:
        if args.action == "verify":
            report = verify_vector_index(spark, args.path)
            print(json.dumps(report))
            return 0 if report["ok"] else 1
        if args.action == "heal":
            from .operators.vector_index import heal_vector_index

            # crashed-refresh orphans: verify names them, heal deletes
            # exactly those scope directories and re-verifies
            report = heal_vector_index(spark, args.path)
            print(json.dumps(report))
            return 0 if report["ok"] else 1
        if args.action == "compact":
            from .operators.vector_index import compact_vector_index

            # small-files maintenance: merge committed refresh scopes
            # into one compaction generation (run with no active writers)
            report = compact_vector_index(spark, args.path, min_scopes=args.min_scopes)
            print(json.dumps(report))
            return 0 if report["ok"] else 1
        if args.action == "maintain":
            from .operators.vector_index import (
                compact_vector_index,
                heal_vector_index,
            )

            # the maintenance-window one-shot (the corpus `maintain full`
            # twin): heal crash leftovers first — markers and orphan
            # scopes would otherwise survive into the compaction — then
            # compact, then re-verify. One JSON report, exit 0 iff ok.
            # The final verify's report is INCLUDED (r14 advice): an
            # exit 1 caused solely by that last check (heal ok, compact
            # ok) must name the failing invariant in the printed JSON,
            # not leave the operator diagnosing a bare exit code.
            report = {
                "heal": heal_vector_index(spark, args.path),
                "compact": compact_vector_index(
                    spark, args.path, min_scopes=args.min_scopes
                ),
            }
            report["verify"] = verify_vector_index(spark, args.path)
            report["ok"] = bool(
                report["heal"]["ok"]
                and report["compact"]["ok"]
                and report["verify"]["ok"]
            )
            print(json.dumps(report))
            return 0 if report["ok"] else 1
        if args.action == "search":
            from pyspark.sql import functions as F

            from .operators.vector_index import (
                search_vector_index,
                search_vector_index_df,
            )

            if not args.queries_src:
                raise SystemExit("index search requires --queries-src (parquet of vec_id, embedding)")
            # orderBy BEFORE limit (r11 advice): a bare limit on an
            # unordered parquet read picks a run-dependent subset;
            # persist (r13 review): the sort+limit otherwise re-runs for
            # the count, the serve's own consumers, or the list collect
            qdf = (
                spark.read.parquet(args.queries_src)
                .select("vec_id", "embedding")
                .orderBy("vec_id")
                .limit(args.max_queries)
                .persist()
            )
            n_queries = qdf.count()  # bounded by --max-queries
            # both serve paths' cosine tree follows the session's
            # spark.sql.codegen.hugeMethodLimit (operators/vector_index.py
            # _cosine_col): the fold under a vanilla session, the
            # bit-identical unrolled tree when it is <= 8000 (set it via
            # PYSPARK_SUBMIT_ARGS --conf)
            if n_queries >= args.df_serve_threshold:
                # big query batches ride the DataFrame-native serve:
                # the probe ranking stays distributed instead of a
                # driver loop; row-identical to the list path
                # (test-pinned)
                res = search_vector_index_df(
                    spark,
                    args.path,
                    qdf.select(
                        F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qv"),
                    ),
                    top_k=args.top_k,
                    n_probe=args.n_probe,
                )
            else:
                queries = [(int(r.vec_id), list(r.embedding)) for r in qdf.collect()]
                res = search_vector_index(
                    spark, args.path, queries, top_k=args.top_k, n_probe=args.n_probe
                )
            if args.out:
                res.write.mode("overwrite").parquet(args.out)
                print(json.dumps({"queries": n_queries, "out": args.out}))
            else:
                for r in res.collect():
                    print(json.dumps({"query_id": r.query_id, "vec_id": r.vec_id, "cosine": r.cosine, "rn": r.rn}))
            # release the serve caches (r13 advice): qdf here, and
            # the df-serve path's eagerly-materialized result —
            # repeated searches in one embedding session must not
            # accumulate
            qdf.unpersist()
            res.unpersist()
            return 0
        if not args.src:
            raise SystemExit(f"index {args.action} requires --src (embeddings parquet)")
        vectors = spark.read.parquet(args.src)
        if "label" not in vectors.columns:
            # unlabeled corpora: a constant label keeps the schema whole
            from pyspark.sql import functions as F

            vectors = vectors.withColumn("label", F.lit(0))
        if args.action == "build":
            meta = build_vector_index(
                spark,
                vectors,
                args.path,
                n_cells=args.cells,
                centroids=args.centroids,
            )
            print(
                json.dumps(
                    {"n_vectors": meta["n_vectors"], "cells": len(meta["centroids"])}
                )
            )
            return 0
        # refresh: the day-2 upsert — O(batch), index data untouched
        report = refresh_vector_index(
            spark, vectors, args.path, rebuild_factor=args.rebuild_factor
        )
        print(json.dumps(report))
        return 0
    finally:
        if owned:
            spark.stop()


def _parse_ids(raw: str) -> list[int]:
    ids = []
    for part in raw.split(","):
        part = part.strip()
        if not part:
            continue
        try:
            ids.append(int(part))
        except ValueError:
            raise SystemExit(
                f"--ids must be comma-separated integers, got {part!r}"
            ) from None
    if not ids:
        raise SystemExit("--ids must name at least one doc_id")
    return ids


def cmd_maintain(args) -> int:
    from .streaming.ingest import (
        compact_corpus,
        compact_index,
        ensure_index,
        forget_documents,
        verify_index,
    )

    spark, owned = _spark("sdt-maintain")
    try:
        if args.action == "compact-corpus":
            # pure data-layout maintenance: no LSH index involved
            if not args.out:
                raise SystemExit("compact-corpus requires --out (the corpus path)")
            print(json.dumps(compact_corpus(spark, args.out)))
            return 0
        try:
            # maintenance in a fresh process: re-register the index files
            # into this session's in-memory catalog; a missing index is a
            # loud error, never a silent fresh bootstrap
            ensure_index(spark, args.index_table, args.index_path)
        except ValueError as exc:
            raise SystemExit(str(exc)) from None
        if args.action == "full":
            # the composed day-2 pass: fold committed micro-batch
            # directories into the base (small-files), drop duplicate
            # index rows (crash replays), then verify — the verify runs
            # LAST so its verdict covers the post-maintenance state.
            if not args.out:
                raise SystemExit("full requires --out (the corpus path)")
            corpus_stats = compact_corpus(spark, args.out)
            index_removed = compact_index(spark, args.index_table)
            report = verify_index(spark, args.index_table, args.out)
            print(
                json.dumps(
                    {
                        "compact_corpus": corpus_stats,
                        "compact_index_removed_rows": index_removed,
                        "verify": report,
                        "ok": report["ok"],
                    }
                )
            )
            return 0 if report["ok"] else 1
        if args.action == "compact":
            removed = compact_index(spark, args.index_table)
            print(f"removed {removed} duplicate index rows")
        elif args.action == "forget":
            if not args.out:
                raise SystemExit("forget requires --out (the corpus path)")
            if not args.ids:
                raise SystemExit("forget requires --ids")
            stats = forget_documents(
                spark, args.index_table, args.out, _parse_ids(args.ids)
            )
            print(json.dumps(stats))
        else:  # verify
            if not args.out:
                raise SystemExit("verify requires --out (the corpus path)")
            report = verify_index(spark, args.index_table, args.out)
            print(json.dumps(report))
            return 0 if report["ok"] else 1
    finally:
        if owned:
            spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m synthetic_data_transfer_to_relational_database_spark",
        description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    sub = parser.add_subparsers(dest="command", required=True)

    p = sub.add_parser("deploy", help="replay a DDL dump into a database")
    p.add_argument("--script", required=True)
    p.add_argument(
        "--encoding", default="utf-16",
        help="DDL dump encoding (default utf-16)",
    )
    p.add_argument("--url", required=True, help="JDBC url")
    p.add_argument("--driver", help="JDBC driver class")
    p.add_argument(
        "--dialect", default="generic", choices=["derby", "mssql", "generic"]
    )
    p.add_argument("--target-db", help="rewrite identifiers to this database")
    p.add_argument("--source-db", help="database name to rewrite FROM")
    p.add_argument(
        "--create-db", action="store_true",
        help="check-then-create the database first (K2)",
    )
    p.add_argument(
        "--admin-url",
        help="admin connection for --create-db (mssql master; defaults to --url)",
    )
    p.add_argument(
        "--continue-on-error", action="store_true",
        help="exit 0 even when batches failed (they are always contained)",
    )
    p.set_defaults(fn=cmd_deploy)

    p = sub.add_parser(
        "rules", help="infer a provider-rule config from a schema source"
    )
    _add_schema_args(p)
    p.add_argument("--out", default="data_rules.json")
    p.set_defaults(fn=cmd_rules)

    p = sub.add_parser(
        "generate",
        help="generate referentially-consistent data to parquet or a live DB",
    )
    _add_schema_args(p)
    p.add_argument("--rules", help="data_rules.json to apply (rules command)")
    p.add_argument("--rows", type=int, default=1000, help="default rows/table")
    p.add_argument(
        "--row-counts", help="per-table overrides, e.g. Musteri=100,Hareket=5000"
    )
    p.add_argument("--seed", type=int, default=42)
    p.add_argument(
        "--fk-skew", type=float, default=0.0,
        help="heavy-tailed FK sampling exponent (0 = uniform, reference semantics)",
    )
    p.add_argument("--parallelism", type=int, help="concurrent tables per FK level")
    p.add_argument("--out", default="spark-warehouse/_generated", help="parquet dir")
    p.add_argument("--load-url", help="bulk-load a live DB instead of parquet")
    p.add_argument("--driver", help="JDBC driver class for --load-url")
    p.add_argument(
        "--dialect", default="generic", choices=["derby", "mssql", "generic"]
    )
    p.add_argument("--batchsize", type=int, default=1000)
    p.add_argument("--num-partitions", type=int)
    p.set_defaults(fn=cmd_generate)

    p = sub.add_parser(
        "query", help="run a registered catalog query over a testdata dir"
    )
    p.add_argument("--name", help="query key (registry.all_queries())")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--out", help="write result parquet instead of printing")
    p.add_argument("--limit", type=int, default=20, help="rows to print")
    p.add_argument("--list", action="store_true", help="list query names")
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser(
        "ingest",
        help="stream a documents directory through incremental near-dup "
        "rejection into a corpus + LSH index",
    )
    p.add_argument("--src", required=True, help="directory of documents parquet")
    p.add_argument("--out", required=True, help="corpus output path")
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--index-table", default="corpus_lsh_index")
    p.add_argument("--index-path", default="spark-warehouse/_corpus_index")
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--compact-every", type=int)
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser(
        "maintain",
        help="corpus/index maintenance: compact | forget | verify | full",
    )
    p.add_argument(
        "action", choices=["compact", "compact-corpus", "forget", "verify", "full"]
    )
    p.add_argument("--index-table", default="corpus_lsh_index")
    p.add_argument("--index-path", default="spark-warehouse/_corpus_index")
    p.add_argument(
        "--out",
        help="corpus path (ingest --out); required for forget/verify/full, "
        "unused by compact",
    )
    p.add_argument("--ids", help="comma-separated doc_ids for forget")
    p.set_defaults(fn=cmd_maintain)

    p = sub.add_parser(
        "index",
        help="persisted vector index: build | refresh (day-2 upsert) | "
        "verify | heal (drop crashed-refresh orphan scopes) | compact "
        "(merge committed refresh scopes — small-files maintenance) | "
        "maintain (heal + compact + verify, one report, exit 0 iff ok) | "
        "search",
    )
    p.add_argument(
        "action",
        choices=["build", "refresh", "verify", "heal", "compact", "maintain", "search"],
    )
    p.add_argument("--path", default="spark-warehouse/_vector_index")
    p.add_argument("--src", help="embeddings parquet (vec_id, embedding[, label])")
    p.add_argument("--cells", type=int, default=8)
    p.add_argument("--centroids", choices=["kmeans", "by_label"], default="kmeans")
    p.add_argument(
        "--queries-src",
        help="query vectors parquet for search (vec_id, embedding); results "
        "exclude any indexed vector whose vec_id equals the query's vec_id "
        "— external query sets must use ids disjoint from the corpus",
    )
    p.add_argument("--top-k", type=int, default=5)
    p.add_argument("--n-probe", type=int, default=2)
    p.add_argument(
        "--max-queries",
        type=int,
        default=100,
        help="serve the first N queries by vec_id rank (default 100)",
    )
    p.add_argument(
        "--df-serve-threshold",
        type=int,
        default=64,
        help="at or above this many queries, serve via the DataFrame-native "
        "path (distributed probe ranking, equi-joined cells) instead of the "
        "driver-list path — the two are row-identical (test-pinned)",
    )
    p.add_argument("--out", help="write search results parquet instead of printing")
    p.add_argument(
        "--rebuild-factor",
        type=float,
        default=2.0,
        help="recommend re-cluster when arrival mean d2 exceeds this × build-time mean",
    )
    p.add_argument(
        "--min-scopes",
        type=int,
        default=2,
        help="compact only when at least this many committed refresh scopes "
        "exist on disk (below it the merge would not reduce files)",
    )
    p.set_defaults(fn=cmd_index)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
