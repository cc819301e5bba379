"""Tests of the benchmark itself: the census dump's shape, BENCHMARK.json
agreeing with what run.py prints, and smoke runs of every workload.

    python3 -m pytest perfbench/tests -q

The smoke runs start one Spark JVM each (a few minutes in total).
"""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import census  # noqa: E402
import run  # noqa: E402


def test_census_dump_parses_to_survey_shape(tmp_path):
    from synthetic_data_transfer_to_relational_database_spark.sources.ddl import parse_schema_script

    path = tmp_path / "census.sql"
    census.write_dump(str(path), seed=7)
    assert path.read_bytes()[:2] == b"\xff\xfe"  # UTF-16 LE with BOM
    tables = parse_schema_script(str(path))
    assert len(tables) == 85
    assert sum(len(t.columns) for t in tables.values()) == 1431
    fks = [f for t in tables.values() for f in t.fks]
    assert len(fks) == 131
    assert sum(f.on_delete_cascade for f in fks) == 19
    assert sum(len(t.pk) > 1 for t in tables.values()) == 5
    assert sum(any(c.identity for c in t.columns) for t in tables.values()) == 4
    assert sum(len(t.unique_indexes) for t in tables.values()) == 31
    assert {f.columns[0] for f in tables["CariHesap"].self_fks()} == {"FaturaHesapId", "MusterekHesapId"}
    assert tables["Il"].column("UlkeNumKod").rule == "foreign_key:Ulke.NumKod"
    assert sum(t.shared_pk_fk() is not None for t in tables.values()) == len(census.SUBTYPES)
    widths = sorted((len(t.columns) for t in tables.values()), reverse=True)
    assert widths[:3] == [94, 87, 76]
    dtypes = collections.Counter(c.dtype for t in tables.values() for c in t.columns)
    assert dtypes["uuid"] == 223 and dtypes["decimal(25,6)"] == 181
    assert dtypes["int"] == 141 and dtypes["short"] == 112 and dtypes["date"] == 42
    assert dtypes["string"] == 610 + 1  # nvarchar plus the computed column
    assert dtypes["binary"] == 53 + 1  # rowversion plus varbinary(max)


def test_census_seed_changes_order_not_shape():
    a, b = census.render_dump(1), census.render_dump(2)
    assert a != b
    assert sorted(a.splitlines()) == sorted(b.splitlines())
    assert census.render_dump(1) == a


def test_benchmark_json_matches_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    import workloads

    listed = [w["name"] for w in spec["workloads"]]
    assert listed == run.LISTED and set(listed) <= set(workloads.WORKLOADS)
    for name in listed:
        assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units(name)
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s")


def test_op_stats_tail_is_mean_of_slowest_quarter():
    class Op:
        def __init__(self, latency, ok=True):
            self.latency, self.ok = latency, ok

    st = run.op_stats([Op(x) for x in [3, 1, 6, 2, 5, 4]] + [Op(100, ok=False)], 12.0)
    assert st["ops_per_s"] == 0.5 and st["op_p50_s"] == 3.5
    assert st["tail_ops"] == 2 and st["op_tail_s"] == 5.5  # ceil(6 / 4) slowest: 5 and 6
    st = run.op_stats([Op(float(x)) for x in range(36)], 1.0)
    assert st["tail_ops"] == 9 and st["op_tail_s"] == 31.0


def _smoke(workload: str, trace: int, seed: int = 3) -> tuple[dict, list[str]]:
    env = dict(os.environ, PERFBENCH_SMOKE="1")
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines


def _git_status() -> str:
    return subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                          cwd=ROOT, capture_output=True, text=True).stdout


@pytest.mark.parametrize("workload", ["erp_gen", "analytics", "ingest"])
def test_smoke_prints_every_metric_with_its_unit(workload):
    before = _git_status()
    rigs = []
    for trace, units in ((0, run.END_TO_END), (1, run.per_layer_units(workload))):
        res, lines = _smoke(workload, trace)
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, lines[-40:]
        assert {k: v["unit"] for k, v in res["metrics"].items()} == units
        for name, unit in units.items():
            assert any(line.startswith(f"{name} = ") and line.endswith(f" {unit}") for line in lines)
        rig = json.loads(next(line for line in lines if line.startswith("rig "))[4:])
        assert rig["nproc"] == len(os.sched_getaffinity(0))
        assert rig["master"] == f"local[{rig['nproc']}]"
        if trace == 0:
            assert all(v["value"] > 0 for v in res["metrics"].values())
        rigs.append(rig)
    if workload == "ingest":  # same seed, same corpus
        assert rigs[0]["accepted"] == rigs[1]["accepted"]
    assert _git_status() == before


def test_missing_program_exits_nonzero_without_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(BENCH, name), "rb").read())
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "erp_gen", "--seed", "1",
                          "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
