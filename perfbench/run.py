#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ga_sync --seed 1 --seconds 15 --trace 0

Run from the repository root. Inputs are generated from ``--seed``; every
file the run writes (inputs, the sync target, Spark scratch, the JVM's
temporary files) goes under ``.perfbench_tmp/`` in the repository root and
is removed at the end, except the run record kept in
``.perfbench_tmp/results/``. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it carries everything else the run saw:
the tail percentile, the fail ratio, the peak memory, the ga_sync storage
figures, every check that failed and the host's steal and iowait shares.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path
from types import SimpleNamespace

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = "googleanalytics_etl_spark"
sys.path[:0] = [str(HERE), str(ROOT)]

WORKLOADS = ("ga_sync", "hit_reports", "corpus_curation")
TAIL_BEYOND = 10  # the tail percentile keeps at least this many samples above it


def host_sample() -> dict[str, int] | None:
    """Absolute /proc/stat cpu jiffies (the first eight fields: guest time
    is already inside user and nice)."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return {"total": sum(vals), "iowait": vals[4], "steal": vals[7]}


def host_noise(a, b) -> dict[str, float]:
    """Steal and iowait as percent of the jiffies between two samples."""
    if not a or not b or b["total"] <= a["total"]:
        return {"steal_pct": -1.0, "iowait_pct": -1.0}
    tot = b["total"] - a["total"]
    return {k + "_pct": 100.0 * (b[k] - a[k]) / tot for k in ("steal", "iowait")}


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tail(latencies: list[float]) -> tuple[float, float]:
    """Nearest-rank latency at the highest percentile with at least
    TAIL_BEYOND samples above it, never below the median rank; returns
    (value, percentile)."""
    xs = sorted(latencies)
    i = max(len(xs) - 1 - TAIL_BEYOND, (len(xs) - 1) // 2)
    return xs[i], 100.0 * (i + 1) / len(xs)


def sandbox(workdir: Path) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``workdir`` before pyspark starts its JVM."""
    tmp = workdir / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.chdir(workdir)  # derby.log, spark-warehouse


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when the gateway
    pipe on its standard input closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def make_workload(name: str, workdir: Path, seed: int):
    import workloads

    if name == "ga_sync":
        return workloads.GaSync(workdir, seed)
    if name == "hit_reports":
        return workloads.HitReports(workdir, seed)
    return workloads.CorpusCuration(workdir, seed)


def setup(wl, tracer):
    """Engine import, registry population, session start and one warm-up
    pass on the small slice: the timed set-up."""
    import importlib

    t0 = time.perf_counter()
    engine = SimpleNamespace(
        **{m: importlib.import_module(f"{ENGINE}.{m}") for m in ("io", "etl", "registry", "session")}
    )
    spark = tracer.call("session.get_spark", engine.session.get_spark, "perfbench")
    tracer.call("registry.populate", engine.registry.queries)
    if tracer.enabled:
        install_wrappers(tracer, engine)
    wl.bind(spark, engine, tracer)
    wl.warmup()
    return spark, time.perf_counter() - t0


def install_wrappers(tracer, engine) -> None:
    from pyspark.sql import DataFrame

    tracer.wrap_everywhere(ENGINE, engine.io.load, "io.load")
    tracer.wrap(engine.etl.SyncPipeline, "sync", "etl.sync")
    tracer.wrap(engine.etl.SyncPipeline, "high_water_mark", "etl.hwm")
    tracer.wrap(engine.etl.SyncPipeline, "project", "etl.project")
    tracer.wrap(engine.etl, "upsert_append", "sinks.upsert")
    tracer.wrap(DataFrame, "materialize", "materialize")


def measure(wl, seconds, tracer, probe):
    """Closed loop of whole cycles until ``seconds`` have passed. A traced
    run alternates untraced and traced cycles, untraced first and last
    (at least three), so the overhead estimate is not skewed by the first
    cycle running colder."""
    from workloads import Op, Outcome

    out = Outcome()
    cycles = []  # (traced, wall seconds, ops)
    start = time.perf_counter()
    while True:
        traced = probe is not None and len(cycles) % 2 == 1
        tracer.enabled = traced
        if traced:
            probe.delta()  # drop the untraced cycle's jobs
        c0 = time.perf_counter()
        ops = wl.cycle(len(out.ops))
        for key, fn in ops:
            tracer.op = len(out.ops)
            out.attempted += 1
            a = time.perf_counter()
            try:
                res, ok = fn(), True
            except Exception as e:  # a failing operation is counted, the loop goes on
                res, ok = -1, False
                out.fail(1, f"{key}: raised {type(e).__name__}: {str(e)[:300]}")
            lat = time.perf_counter() - a
            rows = wl.op_rows(res) if ok else 0
            out.ops.append(Op(key, lat, rows, res, ok, traced, probe.delta() if traced else None))
        cycles.append((traced, time.perf_counter() - c0, len(ops)))
        # whole cycles keep every key's share of the samples fixed; start
        # another only if it should end nearer the deadline than this one
        left = seconds - (time.perf_counter() - start)
        mean_cycle = (time.perf_counter() - start) / len(cycles)
        if left < mean_cycle / 2 and (probe is None or len(cycles) >= 3 and len(cycles) % 2):
            break
    tracer.enabled = False
    tracer.op = None
    return out, cycles


def end_to_end(out, setup_s):
    lats = [op.latency_s for op in out.ops]
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(lats), "s"),
        "rows_per_s": (sum(op.rows for op in out.ops) / sum(lats), "rows/s"),
    }


def per_layer(out, cycles, tracer, cores, noise, rss_mb, all_keys):
    traced = [op for op in out.ops if op.traced]
    n = len(traced)
    spark = {k: sum(op.spark[k] for op in traced) for k in traced[0].spark}
    wall = sum(op.latency_s for op in traced)
    rows = sum(op.rows for op in traced)
    run_ms = max(spark["executorRunTime"], 1)
    spans = tracer.summary()

    def span(name, field="s"):
        return spans.get(name, {}).get(field, 0.0) / n

    per_op = {True: [0.0, 0], False: [0.0, 0]}
    for is_traced, w, k in cycles:
        per_op[is_traced][0] += w
        per_op[is_traced][1] += k
    m = {
        "spark.jobs_per_op": (spark["jobs"] / n, "count"),
        "spark.tasks_per_op": (spark["numTasks"] / n, "count"),
        "spark.busy_share": (spark["executorRunTime"] / 1000.0 / (wall * cores), "ratio"),
        "spark.cpu_share": (spark["executorCpuTime"] / 1e6 / run_ms, "ratio"),
        "spark.gc_share": (spark["jvmGcTime"] / run_ms, "ratio"),
        "spark.input_bytes_per_op": (spark["inputBytes"] / n, "B"),
        "spark.shuffle_bytes_per_row": (spark["shuffleWriteBytes"] / max(rows, 1), "B/row"),
        "spark.spill_bytes_per_op": (spark["diskBytesSpilled"] / n, "B"),
        "spark.output_bytes_per_op": (spark["outputBytes"] / n, "B"),
        "session.get_spark_s": (tracer.outside_ops("session.get_spark"), "s"),
        "registry.populate_s": (tracer.outside_ops("registry.populate"), "s"),
        "ops.build_s": (span("ops.build"), "s"),
        "ops.exec_s": (span("ops.exec"), "s"),
        "io.load_calls_per_op": (span("io.load", "calls"), "count"),
        "etl.hwm_s": (span("etl.hwm"), "s"),
        "etl.sync_self_s": (span("etl.sync", "self_s"), "s"),
        "sinks.upsert_s": (span("sinks.upsert"), "s"),
        "sinks.buckets_touched_per_sync": (out.extra.get("buckets_touched_per_sync", 0.0), "count"),
        "sinks.fresh_ratio": (out.extra.get("fresh_ratio", 0.0), "ratio"),
        "sinks.stored_bytes_per_row": (out.extra.get("stored_bytes_per_row", 0.0), "B/row"),
        "sinks.stored_files_per_sync": (out.extra.get("stored_files_per_sync", 0.0), "count"),
        "materialize.calls_per_op": (span("materialize", "calls"), "count"),
        "materialize.s_per_op": (span("materialize"), "s"),
        "tracing.overhead_share": (
            (per_op[True][0] / per_op[True][1]) / (per_op[False][0] / per_op[False][1]) - 1.0,
            "ratio",
        ),
        "host.steal_pct": (noise["steal_pct"], "%"),
        "host.iowait_pct": (noise["iowait_pct"], "%"),
        "driver_peak_rss_mb": (rss_mb, "MB"),
    }
    for key in all_keys:
        lats = [op.latency_s for op in out.ops if op.key == key]
        m[f"op.{key}.p50_s"] = (statistics.median(lats) if lats else 0.0, "s")
    return m


def run(args, workdir: Path, results: Path) -> tuple[dict, dict]:
    from spans import StageProbe, Tracer
    import workloads

    phases = {}  # wall seconds of each part of the run, for the run's cost
    t = time.perf_counter()
    wl = make_workload(args.workload, workdir, args.seed)
    wl.generate()
    phases["generate_s"] = time.perf_counter() - t
    sandbox(workdir)
    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    spark, setup_s = setup(wl, tracer)
    try:
        probe = StageProbe(spark) if args.trace else None
        h0 = host_sample()
        t = time.perf_counter()
        out, cycles = measure(wl, args.seconds, tracer, probe)
        noise = host_noise(h0, host_sample())
        phases["measure_s"] = time.perf_counter() - t
        # peak memory of set-up and the window, before the checks add theirs
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        t = time.perf_counter()
        wl.check(out)
        phases["check_s"] = time.perf_counter() - t
        cores = spark.sparkContext.defaultParallelism
    finally:
        tracer.unwrap()
        t = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t

    e2e = end_to_end(out, setup_s)
    tail_s, pct = tail([op.latency_s for op in out.ops])
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "ops": len(out.ops),
        "op_tail_s": tail_s,
        "op_tail_percentile": pct,
        "fail_ratio": out.failed / out.attempted,
        "driver_peak_rss_mb": rss_mb,
        "problems": out.problems,
        "host": noise,
        "cores": cores,
        "phases": {"setup_s": setup_s, **phases},
        **{k: v for k, v in out.extra.items() if k.startswith("stored_")},
    }
    if args.trace:
        all_keys = [k for cls in (workloads.GaSync, workloads.HitReports, workloads.CorpusCuration)
                    for k in cls.keys]
        metrics = per_layer(out, cycles, tracer, cores, noise, rss_mb, all_keys)
        tracer.dump(results / f"{args.workload}-seed{args.seed}-spans.jsonl")
    else:
        metrics = e2e
    summary["end_to_end"] = {k: v[0] for k, v in e2e.items()}
    record = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as fh:
        json.dump({"summary": summary, "result": record,
                   "ops": [op.__dict__ for op in out.ops]}, fh)
    return summary, record


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / ENGINE).is_dir():
        print(f"engine package {ENGINE}/ not found next to {HERE.name}/", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench_tmp"
    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    workdir = Path(tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base))
    try:
        summary, record = run(args, workdir, results)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(summary), flush=True)
    print(json.dumps(record), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
