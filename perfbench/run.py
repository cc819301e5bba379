#!/usr/bin/env python3
"""Benchmark of the engine's three jobs on ``local[nproc]``.

One run:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

runs one workload (``analytics``, ``ingest`` or ``erp_gen``) in a fresh
process and a private working directory under ``.perfbench_runs/`` (removed
at the end), checks every output, and prints the rig record, each metric
with its unit, and as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on Spark's event log, GC
readings, Catalyst phase timing and spans, prints the spans, and reports
the per-layer metrics instead.

Steadiness report:

    python3 perfbench/run.py --report 5 --seconds 15 [--workload analytics]

runs each listed workload (or the one named) with seeds 1..k untraced plus
one traced run, and prints per end-to-end metric the median, quartiles,
(q3-q1)/median and the tracing overhead (traced minus untraced median).

A missing program package or input exits non-zero without a result.
``erp_gen`` is runnable but not listed in BENCHMARK.json: the program
repeats a primary key it should keep unique on about 40 % of its builds, so
its runs report ``"correct": false``. NOTES.md explains the workloads, that
defect and the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "synthetic_data_transfer_to_relational_database_spark"
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
LISTED = ["analytics", "ingest"]  # the workloads BENCHMARK.json lists
TAIL_PCT = 75

END_TO_END = {
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "retained_mb": "MB",
}
SPARK_COUNTS = {"spark.jobs", "spark.stages", "spark.tasks", "spark.task_failures"}


def per_layer_units(workload: str | None = None) -> dict[str, str]:
    """Every per-layer metric with its unit, in report order. The listed
    workloads (``analytics``, ``ingest``) print the same set, each reading 0
    on the layers it bypasses; ``erp_gen`` adds the generator's layers."""
    from workloads import MIX, STREAM_PHASES

    u: dict[str, str] = {"session.start_s": "s"}
    if workload == "erp_gen":
        u.update({"sources.ddl.parse_s": "s", "plans.driver_s": "s", "plans.level_wait_s": "s",
                  "plans.tables": "count"})
    u.update({"operators.build_s": "s", "spark.analyze_s": "s", "spark.optimize_s": "s",
              "spark.physical_s": "s"})
    for k in ["spark.jobs", "spark.stages", "spark.tasks", "spark.job_s", "spark.task_run_s",
              "spark.task_cpu_s", "spark.task_wait_s", "spark.shuffle_read_mb",
              "spark.shuffle_write_mb", "spark.spill_mb", "spark.task_failures"]:
        u[k] = "count" if k in SPARK_COUNTS else ("MB" if k.endswith("_mb") else "s")
    u["jvm.gc_s"], u["jvm.gc_count"] = "s", "count"
    for q in MIX:
        u[f"operators.{q}_s"] = "s"
    u["streaming.trigger_s"] = "s"
    for ph in STREAM_PHASES:
        u[f"streaming.{ph}_s"] = "s"
    u.update({"streaming.docs_in": "count", "streaming.docs_accepted": "count",
              "streaming.accept_ratio": "ratio", "streaming.compact_corpus_s": "s",
              "streaming.compact_index_s": "s", "streaming.verify_index_s": "s",
              "streaming.files_before": "count", "streaming.files_after": "count",
              "streaming.index_rows_dropped": "count"})
    u.update({"sinks.bytes_written_mb": "MB", "sinks.files_written": "count",
              "sinks.bytes_per_row": "B", "process.peak_rss_mb": "MB",
              "host.steal_pct": "%", "host.loadavg_1": "load"})
    return u


def op_stats(ops: list, timed_wall: float) -> dict:
    """Throughput and latency over every completed op of the run: p50,
    and as the tail the mean latency of the slowest ``100 - TAIL_PCT``
    percent of the ops (rounded up, at least one op). A single order
    statistic there falls between two query types of the analytics mix
    and jumps between their latencies from run to run."""
    xs = sorted(o.latency for o in ops if o.ok)
    n_tail = max(1, math.ceil((100 - TAIL_PCT) / 100 * len(xs)))
    return {
        "ops_per_s": len(xs) / timed_wall, "op_p50_s": statistics.median(xs),
        "op_tail_s": statistics.fmean(xs[-n_tail:]), "tail_ops": n_tail,
    }


def configure_env(run_dir: str, cpus: int, trace: bool) -> None:
    """Pin the rig and keep every file the run makes inside ``run_dir``."""
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    args = [
        "--conf spark.ui.showConsoleProgress=false",
        f"--driver-java-options '-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}'",
    ]
    if trace:
        args += ["--conf spark.eventLog.enabled=true",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false",
                 f"--conf spark.eventLog.dir={os.path.join(run_dir, 'eventlog')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    from measure import process_age_s

    t_start = time.time() - process_age_s()  # interpreter start-up counts as set-up
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: program package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    import measure
    import workloads

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(RUNS_DIR, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(run_dir, cpus, trace)
    cwd = os.getcwd()
    os.chdir(run_dir)  # spark-warehouse/ and derby.log land here
    spark = None
    try:
        from synthetic_data_transfer_to_relational_database_spark.session import get_spark

        tracer = measure.Tracer(trace)
        t = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench")
        session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        w = workloads.WORKLOADS[workload](spark, run_dir, seed, cpus, tracer)
        w.setup()
        setup_s = time.time() - t_start - w.own_s
        own_before = w.own_s

        calib0 = measure.calibration_ms()
        cpu0, load0 = measure.cpu_times(), measure.loadavg_1()
        gc0 = measure.gc_totals(spark) if trace else (0.0, 0)
        t_timed0 = time.time()
        w.run(seconds)
        t_timed1 = time.time()
        cpu1, load1 = measure.cpu_times(), measure.loadavg_1()
        calib1 = measure.calibration_ms()
        gc1 = measure.gc_totals(spark) if trace else (0.0, 0)
        retained = measure.retained_mb(spark)
        w.check()
        peak_rss = measure.vm_hwm_mb() + measure.vm_hwm_mb(measure.jvm_pid(spark))
        rig = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "nproc": cpus, "master": spark.sparkContext.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "generator_threads": cpus if workload == "erp_gen" else 0,
            "spark": spark.version, "python": platform.python_version(),
            "host.steal_pct": round(measure.steal_pct(cpu0, cpu1), 3),
            "host.loadavg_1": round((load0 + load1) / 2, 3),
            "host.calib_ms": round((calib0 + calib1) / 2, 2),
        }
        written = w.written()
        stored = w.stored()
        measure.stop(spark)  # also flushes the event log
        spark = None
        events = measure.read_event_log(os.path.join(run_dir, "eventlog")) if trace else []
    finally:
        if spark is not None:
            measure.stop(spark)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # kept while another run uses it
            os.rmdir(RUNS_DIR)

    n_ok = sum(1 for o in w.ops if o.ok)
    if not n_ok:
        print(f"error: no op completed; {w.errors[:3]}", file=sys.stderr)
        return 3
    st = op_stats(w.ops, sum(w.pass_walls))
    e2e = {"setup_s": setup_s, **{k: st[k] for k in ("ops_per_s", "op_p50_s", "op_tail_s")},
           "retained_mb": retained}
    rig.update({
        "ops": len(w.ops), "ops_failed": len(w.ops) - n_ok,
        "pass_walls_s": [round(x, 3) for x in w.pass_walls],
        "op_latencies_s": [[o.label, round(o.latency, 3)] for o in w.ops],
        "tail_percentile": TAIL_PCT, "peak_rss_mb": round(peak_rss, 1), "tail_ops": st["tail_ops"],
        "bench_own_s": round(w.own_s, 3), "bench_own_in_setup_s": round(own_before, 3),
        **w.info,
    })
    print("rig " + json.dumps(rig))
    for e in w.errors:
        print(f"FAILED: {e}")

    if trace:
        spark_layer, groups = measure.spark_summary(events, t_timed0, t_timed1)
        w.layers(groups)
        units = per_layer_units(workload)
        layer = {name: 0.0 for name in units}
        layer.update(spark_layer)
        layer.update(w.layer)
        layer["session.start_s"] = session_s
        layer["jvm.gc_s"], layer["jvm.gc_count"] = gc1[0] - gc0[0], gc1[1] - gc0[1]
        layer["sinks.bytes_written_mb"] = written[0] / 2**20
        layer["sinks.files_written"] = written[1]
        layer["sinks.bytes_per_row"] = stored[0] / stored[1] if stored and stored[1] else 0.0
        layer["process.peak_rss_mb"] = peak_rss
        layer["host.steal_pct"] = rig["host.steal_pct"]
        layer["host.loadavg_1"] = rig["host.loadavg_1"]
        for sp in w.tracer.spans:
            print("span " + json.dumps(sp))
        for name, secs in sorted(w.tracer.self_times().items()):
            print(f"self time {name}: {secs:.4f} s")
        # the traced run's own end-to-end figures, for the overhead report
        print("traced_end_to_end " + json.dumps(e2e))
        metrics = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
    else:
        if stored and stored[1]:
            print(f"bytes_per_row = {stored[0] / stored[1]:.2f} B")
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"tail: mean of the {st['tail_ops']} slowest of {n_ok} completed ops (from p{TAIL_PCT} up); "
          f"attempted {len(w.ops)} ops in {len(w.pass_walls)} passes, failed {len(w.ops) - n_ok}")
    print(json.dumps({
        "correct": not w.errors, "attempted": len(w.ops),
        "failed": len(w.ops) - n_ok, "metrics": metrics,
    }))
    return 0


def _child(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace))]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}: {out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    for line in lines:
        if line.startswith("traced_end_to_end "):
            res["traced_end_to_end"] = json.loads(line.split(" ", 1)[1])
        if line.startswith("rig "):
            res["rig"] = json.loads(line.split(" ", 1)[1])
    return res


def report(workload_names: list[str], k: int, seconds: float) -> int:
    """Steadiness report: k untraced seeds and one traced run per workload."""
    print(f"steadiness report: {k} seeds per workload, --seconds {seconds}")
    print(f"{'workload':10} {'metric':12} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} "
          f"{'overhead':>9}  unit")
    bad = 0
    for wl in workload_names:
        runs = [_child(wl, s, seconds, False) for s in range(1, k + 1)]
        traced = _child(wl, 1, seconds, True)
        bad += sum(1 for r in runs + [traced] if not r["correct"] or r["failed"])
        for name, unit in END_TO_END.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            over = traced["traced_end_to_end"][name] - med
            print(f"{wl:10} {name:12} {med:10.4g} {q1:10.4g} {q3:10.4g} {(q3 - q1) / med:7.3f} "
                  f"{over:+9.3g}  {unit}")
        for name in END_TO_END:
            print(f"{wl:10} {name} per run: {[round(r['metrics'][name]['value'], 3) for r in runs]}")
        steal = [r["rig"]["host.steal_pct"] for r in runs]
        print(f"{wl:10} host calibration loop ms per run: {[r['rig']['host.calib_ms'] for r in runs]}")
        print(f"{wl:10} host steal % per run: {steal}; ops per run: "
              f"{[r['attempted'] for r in runs]}; failed: {[r['failed'] for r in runs]}")
    return 1 if bad else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["erp_gen", "analytics", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--report", type=int, metavar="K", help="steadiness report over K seeds")
    a = ap.parse_args(argv)
    if a.report:
        names = [a.workload] if a.workload else LISTED
        return report(names, a.report, a.seconds)
    if not a.workload:
        ap.error("--workload is required without --report")
    return run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.exit(main())
