"""CLI parity tests: python -m synthetic_data_transfer_to_relational_database_spark
mirrors the reference's three scripts (deploy ≙ apply_mssql.py,
rules ≙ generate_config_v2.py, generate ≙ fill_db.py/run_engine.py), so a
reference user switches workflows one-for-one. Invoked in-process via
main(argv) — the CLI must not stop a SparkSession it did not create."""

from __future__ import annotations

import glob
import json
import os

import pytest

from synthetic_data_transfer_to_relational_database_spark.__main__ import main

from .full_schema import full_schema_script

MINI_SPEC = """CREATE TABLE [dbo].[Musteri](
\t[Id] [uniqueidentifier] NOT NULL,
\t[Unvan] [nvarchar](100) NOT NULL,
 CONSTRAINT [PK_Musteri] PRIMARY KEY CLUSTERED ([Id] ASC)
)
GO
CREATE TABLE [dbo].[Siparis](
\t[Id] [uniqueidentifier] NOT NULL,
\t[MusteriId] [uniqueidentifier] NOT NULL,
\t[Tutar] [numeric](18, 2) NULL,
 CONSTRAINT [PK_Siparis] PRIMARY KEY CLUSTERED ([Id] ASC)
)
GO
ALTER TABLE [dbo].[Siparis] WITH CHECK ADD CONSTRAINT [FK_Siparis_Musteri] FOREIGN KEY([MusteriId]) REFERENCES [dbo].[Musteri] ([Id])
GO
"""


def test_cli_rules_writes_consumable_config(tmp_path):
    spec = tmp_path / "spec.sql"
    spec.write_text(MINI_SPEC, encoding="utf-16")
    out = tmp_path / "data_rules.json"
    assert main(["rules", "--script", str(spec), "--out", str(out)]) == 0
    cfg = json.loads(out.read_text())
    assert set(cfg) == {"Musteri", "Siparis"}
    # FK binding wins over provider rules (generate_config_v2.py:81-93)
    assert cfg["Siparis"]["MusteriId"].startswith("foreign_key:Musteri")
    assert cfg["Musteri"]["Id"]  # every column got a rule


def test_cli_generate_parquet_with_rules_and_row_counts(spark, tmp_path):
    spec = tmp_path / "spec.sql"
    spec.write_text(MINI_SPEC, encoding="utf-16")
    rules = tmp_path / "data_rules.json"
    assert main(["rules", "--script", str(spec), "--out", str(rules)]) == 0
    out = tmp_path / "gen"
    assert (
        main(
            [
                "generate", "--script", str(spec), "--rules", str(rules),
                "--rows", "30", "--row-counts", "Musteri=10",
                "--seed", "5", "--out", str(out),
            ]
        )
        == 0
    )
    assert sorted(os.path.basename(p) for p in glob.glob(f"{out}/*")) == [
        "Musteri", "Siparis",
    ]
    m = spark.read.parquet(f"{out}/Musteri")
    s = spark.read.parquet(f"{out}/Siparis")
    assert m.count() == 10 and s.count() == 30
    parents = {r[0] for r in m.select("Id").collect()}
    for (v,) in s.select("MusteriId").collect():
        assert v in parents  # FK closure through the CLI path
    # the in-process invocation did NOT stop the caller's session
    assert spark.range(1).count() == 1


def test_cli_deploy_then_generate_into_live_db(spark, tmp_path):
    """The reference's full workflow through the CLI: deploy a dump into
    a fresh database (create-db bracket), then generate + bulk-load
    referentially-consistent rows into it."""
    from synthetic_data_transfer_to_relational_database_spark.sinks.jdbc import (
        JdbcTarget,
        query_values,
    )

    dump = tmp_path / "dump.sql"
    dump.write_text(
        "CREATE TABLE Musteri (Id VARCHAR(36) NOT NULL PRIMARY KEY,"
        " Unvan VARCHAR(100) NOT NULL)\nGO\n"
        "CREATE TABLE Siparis (Id VARCHAR(36) NOT NULL PRIMARY KEY,"
        " MusteriId VARCHAR(36) NOT NULL REFERENCES Musteri(Id),"
        " Tutar DECIMAL(18,2))\nGO\n",
        encoding="utf-16",
    )
    db = tmp_path / "clidb"
    url = f"jdbc:derby:{db}"
    assert (
        main(
            [
                "deploy", "--script", str(dump), "--url", url,
                "--dialect", "derby", "--create-db",
            ]
        )
        == 0
    )

    spec = tmp_path / "spec.sql"
    spec.write_text(MINI_SPEC, encoding="utf-16")
    assert (
        main(
            [
                "generate", "--script", str(spec), "--rows", "25",
                "--row-counts", "Musteri=8", "--load-url", url,
                "--dialect", "derby",
            ]
        )
        == 0
    )
    target = JdbcTarget(url=url, dialect="derby")
    assert query_values(spark, target, "SELECT COUNT(*) FROM Musteri") == [8]
    assert query_values(spark, target, "SELECT COUNT(*) FROM Siparis") == [25]
    # live FK constraint held throughout the load (child references real
    # parent rows — the reference's ID-cache guarantee, run_engine.py:142)
    assert query_values(
        spark,
        target,
        "SELECT COUNT(*) FROM Siparis s WHERE NOT EXISTS "
        "(SELECT 1 FROM Musteri m WHERE m.Id = s.MusteriId)",
    ) == [0]


def test_cli_deploy_reports_contained_failures(tmp_path):
    dump = tmp_path / "dump.sql"
    dump.write_text(
        "CREATE TABLE OkT (N INT)\nGO\nCREATE GARBAGE SYNTAX\nGO\n",
        encoding="utf-16",
    )
    db = tmp_path / "faildb"
    args = ["deploy", "--script", str(dump), "--url", f"jdbc:derby:{db}",
            "--dialect", "derby", "--create-db"]
    assert main(args) == 1  # failed batch -> nonzero
    # same failures, flag set -> exit 0 (containment is the contract)
    assert main(args + ["--continue-on-error"]) == 0


def test_cli_row_counts_rejects_malformed_input(tmp_path):
    spec = tmp_path / "spec.sql"
    spec.write_text(MINI_SPEC, encoding="utf-16")
    for bad in ["Musteri", "Musteri=ten", "Musteri=5,"]:
        with pytest.raises(SystemExit, match="row-counts"):
            main(
                ["generate", "--script", str(spec), "--row-counts", bad,
                 "--out", str(tmp_path / "x")]
            )


def test_cli_rules_on_full_reference_schema(tmp_path):
    out = tmp_path / "data_rules.json"
    assert main(["rules", "--script", full_schema_script(), "--out", str(out)]) == 0
    cfg = json.loads(out.read_text())
    assert len(cfg) == 85  # the reference's data_rules.json covers 85 tables


def test_cli_query_list_and_run(spark, tmp_path, capsys):
    assert main(["query", "--list"]) == 0
    names = capsys.readouterr().out.splitlines()
    assert "revenue_by_nation" in names and len(names) >= 140
    out = tmp_path / "res"
    assert (
        main(
            ["query", "--name", "revenue_by_nation",
             "--sf-dir", "/root/testdata/sf0.001", "--out", str(out)]
        )
        == 0
    )
    res = spark.read.parquet(str(out))
    assert res.count() > 0 and "revenue" in res.columns
    with pytest.raises(SystemExit, match="unknown query"):
        main(["query", "--name", "nope"])


def test_cli_ingest_and_maintain_workflow(spark, tmp_path, capsys):
    """The corpus pipeline end-to-end through the CLI: ingest a crawl
    directory (near-dup rejected), verify the index, forget a document,
    verify again."""
    import pandas as pd

    src = tmp_path / "src"
    src.mkdir()
    base = "the quick brown fox jumps over the lazy dog again and again"
    pd.DataFrame(
        [
            {"doc_id": 1, "text": base, "lang": "en", "source": "s",
             "n_chars": len(base)},
            {"doc_id": 2, "text": base + " twin", "lang": "en", "source": "s",
             "n_chars": len(base) + 5},
            {"doc_id": 3, "text": "completely different words about engines",
             "lang": "en", "source": "s", "n_chars": 40},
        ]
    ).to_parquet(src / "crawl.parquet", index=False)

    idx = "t_cli_ingest_idx"
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    out = str(tmp_path / "corpus")
    assert (
        main(
            ["ingest", "--src", str(src), "--out", out,
             "--checkpoint", str(tmp_path / "ckpt"),
             "--index-table", idx, "--index-path", str(tmp_path / "idx"),
             "--compact-every", "1"]
        )
        == 0
    )
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs == {1, 3}, docs  # 2 is a near-dup of 1 (cluster rule)

    assert main(["maintain", "verify", "--index-table", idx, "--out", out]) == 0
    assert main(
        ["maintain", "forget", "--index-table", idx, "--out", out, "--ids", "1"]
    ) == 0
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs == {3}
    assert main(["maintain", "verify", "--index-table", idx, "--out", out]) == 0
    # compact needs no corpus path — --out must not be demanded for it
    assert main(
        ["maintain", "compact", "--index-table", idx,
         "--index-path", str(tmp_path / "idx")]
    ) == 0

    # day-2 crawl in a FRESH process (simulated by dropping the catalog
    # entry — the external index files persist): ingest must re-register
    # the index, not bootstrap over it, so day-1 near-dups still reject
    spark.sql(f"DROP TABLE {idx}")
    doc3 = "completely different words about engines"
    pd.DataFrame(
        [
            {"doc_id": 10, "text": doc3 + " too", "lang": "en", "source": "s",
             "n_chars": len(doc3) + 4},  # near-dup of surviving doc 3
            {"doc_id": 11, "text": "brand new totally unrelated sentence content",
             "lang": "en", "source": "s", "n_chars": 44},
        ]
    ).to_parquet(src / "crawl2.parquet", index=False)
    assert (
        main(
            ["ingest", "--src", str(src), "--out", out,
             "--checkpoint", str(tmp_path / "ckpt"),
             "--index-table", idx, "--index-path", str(tmp_path / "idx")]
        )
        == 0
    )
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs == {3, 11}, docs  # 10 rejected against the day-1 index

    with pytest.raises(SystemExit, match="comma-separated integers"):
        main(["maintain", "forget", "--index-table", idx, "--out", out,
              "--ids", "17;93"])

    # small-files maintenance: both crawls' batch dirs merge into the
    # base partition, the corpus contents unchanged
    assert main(["maintain", "compact-corpus", "--out", out]) == 0
    docs = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs == {3, 11}, docs
    spark.sql(f"DROP TABLE IF EXISTS {idx}")


def test_cli_maintain_full_over_crashed_and_replayed_corpus(
    spark, tmp_path, capsys
):
    """`maintain full` composes the whole day-2 pass — compact_corpus
    (fold committed micro-batch dirs into the base), compact_index (drop
    crash-replay twin signature rows), verify_index LAST — and emits one
    JSON report. Drill: two CLI ingests build a multi-batch corpus, a
    simulated crash-replay re-appends one batch's index rows, then one
    `maintain full` restores the clean state with ok=true."""
    import pandas as pd

    from synthetic_data_transfer_to_relational_database_spark.operators.dedup import (
        build_lsh_index,
    )
    from synthetic_data_transfer_to_relational_database_spark.sinks.parquet_layout import (
        write_bucketed,
    )
    from synthetic_data_transfer_to_relational_database_spark.streaming.ingest import (
        _N_BUCKETS,
    )

    src = tmp_path / "src"
    src.mkdir()

    def mk(doc_id, text):
        return {"doc_id": doc_id, "text": text, "lang": "en",
                "source": "s", "n_chars": len(text)}

    pd.DataFrame(
        [
            mk(1, "the quick brown fox jumps over the lazy dog once"),
            mk(2, "completely different words about spark engines here"),
        ]
    ).to_parquet(src / "crawl1.parquet", index=False)
    pd.DataFrame(
        [mk(3, "a third unrelated document about parquet file layouts")]
    ).to_parquet(src / "crawl2.parquet", index=False)

    idx = "t_cli_maintain_full_idx"
    spark.sql(f"DROP TABLE IF EXISTS {idx}")
    out = str(tmp_path / "corpus")
    assert main(
        ["ingest", "--src", str(src), "--out", out,
         "--checkpoint", str(tmp_path / "ckpt"),
         "--index-table", idx, "--index-path", str(tmp_path / "idx")]
    ) == 0
    docs_before = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs_before == {1, 2, 3}
    clean = spark.table(idx).count()

    # crash between a batch's index append and its ledger commit, then
    # replay: the batch's signatures land twice (exact twins)
    replayed = build_lsh_index(spark.read.parquet(f"{out}/data"))
    write_bucketed(
        replayed, idx, ["band", "band_sig"], _N_BUCKETS, mode="append"
    )
    assert spark.table(idx).count() == 2 * clean

    capsys.readouterr()
    assert main(
        ["maintain", "full", "--index-table", idx,
         "--index-path", str(tmp_path / "idx"), "--out", out]
    ) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["ok"] is True
    assert report["verify"]["ok"] is True
    assert report["compact_index_removed_rows"] == clean
    assert report["compact_corpus"]["batches_merged"] >= 1

    # the pass is maintenance only: corpus contents and clean-index
    # invariant restored, nothing semantically changed
    docs_after = {r.doc_id for r in spark.read.parquet(f"{out}/data").collect()}
    assert docs_after == docs_before
    assert spark.table(idx).count() == clean

    # idempotent: a second full pass is a no-op that still verifies ok
    capsys.readouterr()
    assert main(
        ["maintain", "full", "--index-table", idx,
         "--index-path", str(tmp_path / "idx"), "--out", out]
    ) == 0
    report2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report2["ok"] is True
    assert report2["compact_index_removed_rows"] == 0
    spark.sql(f"DROP TABLE IF EXISTS {idx}")


def test_cli_vector_index_lifecycle(spark, tmp_path, capsys):
    """`index build` → `refresh` → `verify` through the CLI: a second CLI
    invocation is a NEW process whose session state is gone, so every
    step must stand on the path alone (the vector index is path-based by
    design — no catalog to re-register)."""
    import json as _json

    src = tmp_path / "vecs"
    base = tmp_path / "base"
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e.filter("vec_id < 400").write.parquet(str(base))
    e.filter("vec_id >= 400").write.parquet(str(src))
    idx = str(tmp_path / "vidx")

    assert main(["index", "build", "--path", idx, "--src", str(base)]) == 0
    built = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["cells"] == 8 and built["n_vectors"] == 400

    assert main(["index", "refresh", "--path", idx, "--src", str(src)]) == 0
    report = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["n_added"] == 100 and "rebuild_recommended" in report

    assert main(["index", "verify", "--path", idx]) == 0
    v = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v["ok"] and v["n_data"] == 500

    # refresh without --src must fail loudly, not invent an input
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="requires --src"):
        main(["index", "refresh", "--path", idx])

    # serve through the CLI: results land in parquet, all ranks <= top_k
    qsrc = tmp_path / "queries"
    e.filter("vec_id < 5").write.parquet(str(qsrc))
    res_out = str(tmp_path / "res")
    assert main([
        "index", "search", "--path", idx, "--queries-src", str(qsrc),
        "--top-k", "3", "--n-probe", "8", "--out", res_out,
    ]) == 0
    res = spark.read.parquet(res_out)
    assert res.count() == 15 and res.filter("rn > 3").count() == 0
    # same search forced onto the DataFrame-native serve (threshold 1):
    # the same in-JVM HOF fold under this session, so the result is
    # row-identical to the list path, bit for bit
    res_out_df = str(tmp_path / "res_df")
    assert main([
        "index", "search", "--path", idx, "--queries-src", str(qsrc),
        "--top-k", "3", "--n-probe", "8", "--out", res_out_df,
        "--df-serve-threshold", "1",
    ]) == 0
    got = sorted(map(tuple, spark.read.parquet(res_out_df).collect()))
    assert got == sorted(map(tuple, res.collect()))
    # compact: two committed scopes (r1 + a second refresh) fold into c1
    assert main(["index", "refresh", "--path", idx, "--src", str(qsrc)]) == 0
    capsys.readouterr()
    assert main(["index", "compact", "--path", idx]) == 0
    comp = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert comp["ok"] and sorted(comp["merged_scopes"]) == ["r1", "r2"]
    assert main(["index", "verify", "--path", idx]) == 0
    v2 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert v2["ok"] and v2["n_data"] == 505
    with _pytest.raises(SystemExit, match="requires --queries-src"):
        main(["index", "search", "--path", idx])
    # maintain = heal + compact + verify in one shot: plant both crash
    # leftovers (a stale scope-lock marker and a rogue uncommitted
    # scope), and one invocation must clear them and exit 0
    from synthetic_data_transfer_to_relational_database_spark.operators import (
        vector_index as _vi,
    )

    _vi._acquire_scope_marker(idx, "r9", spark)
    e.filter("vec_id < 3").selectExpr(
        "99 as cell_id", "vec_id", "label", "embedding", "0.0d as d2",
        "'rogue' as ingest_batch",
    ).write.mode("append").partitionBy("cell_id", "ingest_batch").parquet(
        f"{idx}/cells"
    )
    assert main(["index", "verify", "--path", idx]) == 1  # red before
    capsys.readouterr()
    assert main(["index", "maintain", "--path", idx]) == 0
    m = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["ok"]
    assert m["heal"]["removed_markers"] == ["r9"]
    assert m["heal"]["removed_scopes"] == ["rogue"]
    # the final verify's full report is in the JSON (r14 advice): an
    # exit-1 caused solely by it must name the failing invariant
    assert m["verify"]["ok"] and m["verify"]["stale_markers"] == []
    assert main(["index", "verify", "--path", idx]) == 0  # green after
