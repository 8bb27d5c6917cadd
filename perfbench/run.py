#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload per run, one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload priority_sidecar_crawl --seed 1 --seconds 5 --trace 0

A run starts its own local Spark session, builds the workload's inputs
from ``--seed`` and warms up (set-up, its CPU time is ``setup_s``), then
runs measured units until ``--seconds`` of unit time have passed and at
least the workload's MIN_UNITS have run, and checks every unit's output. Metric lines go to
stdout as ``name value unit``; the last stdout line is the JSON result. With
``--trace 1`` the run also makes one traced unit, prints the per-layer
metrics instead and writes its spans to
``.perfbench_out/trace-<workload>-seed<n>.json``.

The process exits 1 when an output check fails and 2 when the
``crab_spark`` sources are not next to this directory.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
WORKLOAD_NAMES = ("priority_sidecar_crawl", "reparse_export")
MAX_CORES = 4
JVM_HEAP = "2g"


def pin_environment() -> int:
    """Everything the engine reads from the environment, fixed here so a
    run does not depend on the caller's shell. Returns the core count."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONHASHSEED"] = "0"
    # every JVM (the spark-submit launcher too): temp files under WORK,
    # no hsperfdata files in the system temp directory, and the C1 JIT
    # only: a run lives about a minute, too short for C2's compile cost
    # to pay back (runs with C2 used about half again as much CPU and
    # took about a fifth longer)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))
    return cores


def start_spark(cores: int):
    from crab_spark.session import get_spark

    return get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def collect_garbage(spark) -> None:
    """Full GC in the JVM and here before each unit, so no unit pays for
    garbage an earlier one left."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the Spark JVM."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(units, setup_cpu_s: float) -> dict:
    """The gated metrics (BENCHMARK.json end_to_end). Both times are CPU
    seconds of this process, the JVM and its Python workers: ``setup_s``
    over the whole set-up (session start, input build, warm-up), the
    per-URL figure over the measured units. Wall-clock figures are
    printed too (``reported``) but not gated: on a shared 4-vCPU machine
    their run-to-run spread reached 0.2-0.4 of the median in busy
    periods, above the largest allowed bound, while the CPU time the same
    work costs stayed near 0.1."""
    return {
        "setup_s": (setup_cpu_s, "s"),
        "cpu_ms_per_url": (median([1000 * u.cpu_s / u.urls for u in units]), "ms"),
        "store_bytes_per_url": (median([u.store_bytes / u.registered for u in units]), "B"),
    }


def reported(units, setup_wall_s: float, rss: float) -> dict:
    """Printed by name on stdout, not in the JSON: wall-clock figures
    (too noisy to gate, see end_to_end), the crawl figures (urls_per_s,
    epoch_*), rows_per_s (export only) and failed_frac (0 when correct)."""
    out = {
        "setup_wall_s": (setup_wall_s, "s"),
        "wall_s": (median([u.wall_s for u in units]), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    epochs = [e["seconds"] for u in units for e in u.epochs]
    if epochs:
        out["urls_per_s"] = (median([u.urls / u.wall_s for u in units]), "1/s")
        out["epoch_p50_s"] = (median(epochs), "s")
        out["epoch_max_s"] = (max(epochs), "s")
    if any(u.rows for u in units):
        out["rows_per_s"] = (median([u.rows / u.wall_s for u in units]), "1/s")
    checked = sum(u.checked for u in units)
    out["failed_frac"] = (sum(u.failed for u in units) / max(checked, 1), "1")
    return out


def per_layer(tracer, traced, untraced, jobs: int, tasks: int) -> dict:
    epochs = traced.epochs
    phase = lambda k: sum(e["phases"].get(k, 0.0) for e in epochs)  # noqa: E731
    cands = tracer.counts.get("register_cands", 0)
    new = tracer.counts.get("register_new", 0)
    n_epochs = len(epochs)
    rescore = tracer.total("frontier.rescore")
    return {
        "frontier.seed_s": (tracer.total("frontier.seed"), "s"),
        "frontier.register_s": (tracer.total("frontier.register"), "s"),
        "frontier.mark_fetched_s": (tracer.total("frontier.mark_fetched"), "s"),
        "frontier.rescore_s": (rescore, "s"),
        # crawl() times the rescore pass inside its dequeue phase
        "frontier.dequeue_s": (max(phase("dequeue") - rescore, 0.0), "s"),
        "frontier.register_calls": (tracer.calls("frontier.register"), "count"),
        "frontier.register_cands": (cands, "count"),
        "frontier.register_new": (new, "count"),
        "frontier.new_per_cand": (new / cands if cands else 0.0, "1"),
        "crawler.fetch_navigate_s": (phase("plan"), "s"),
        "crawler.epochs": (n_epochs, "count"),
        "crawler.requests": (traced.urls if n_epochs else 0, "count"),
        "crawler.spark_jobs": (jobs if n_epochs else 0, "count"),
        "crawler.spark_tasks": (tasks if n_epochs else 0, "count"),
        "crawler.spark_jobs_per_epoch": (jobs / n_epochs if n_epochs else 0.0, "count"),
        "store.append_s": (tracer.total("store.append"), "s"),
        "store.append_rows_s": (tracer.total("store.append_rows"), "s"),
        "store.compact_s": (tracer.total("store.compact"), "s"),
        "store.commits": (traced.commits, "count"),
        "store.files": (traced.store_files, "count"),
        "store.bytes": (traced.store_bytes, "B"),
        "bloom.fold_s": (tracer.total("bloom.fold"), "s"),
        "bloom.fold_calls": (tracer.calls("bloom.fold"), "count"),
        "bloom.sidecar_bytes": (traced.sidecar_bytes, "B"),
        "tabulator.export_table_s": (tracer.total("tabulator.export_table"), "s"),
        "tabulator.write_csv_s": (tracer.total("tabulator.write_csv"), "s"),
        "tabulator.rows": (traced.rows, "count"),
        "tabulator.columns": (traced.columns, "count"),
        "trace.overhead_s": (traced.wall_s - median([u.wall_s for u in untraced]), "s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "crab_spark" / "__init__.py").is_file():
        print(f"perfbench: no crab_spark package under {ROOT}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    cores = pin_environment()
    spark = None
    try:
        import spans

        cpu_start = spans.process_tree_cpu_s()
        t0 = time.monotonic()
        spark = start_spark(cores)
        session_s = time.monotonic() - t0

        from workloads import WORKLOADS

        tap = spans.install_tap()
        wl = WORKLOADS[args.workload](spark, args.seed, WORK, tap)
        t = time.monotonic()
        wl.build_inputs()
        build_s = time.monotonic() - t
        wl.prepare()
        setup_wall_s = time.monotonic() - t0
        setup_cpu_s = spans.process_tree_cpu_s() - cpu_start
        print(f"setup: session {session_s:.2f}s, input build {build_s:.2f}s, "
              f"prepare {setup_wall_s - session_s - build_s:.2f}s, cpu {setup_cpu_s:.2f}s")

        units = []
        while len(units) < wl.MIN_UNITS or sum(u.wall_s for u in units) < args.seconds:
            collect_garbage(spark)
            before = spans.spark_job_ids(spark)
            units.append(wl.run_unit(None))
            new_jobs = spans.spark_job_ids(spark) - before
        rss = peak_rss_mb(spark)

        traced = tracer = None
        if args.trace:
            # job counts come from the last untraced unit: the tracer's
            # own candidate counts would add jobs
            jobs, tasks = len(new_jobs), spans.spark_task_count(spark, new_jobs)
            tracer = spans.SpanRecorder()
            collect_garbage(spark)
            traced = wl.run_unit(tracer)
    finally:
        if spark is not None:
            stop_spark(spark)
        sys.stderr = sys.__stderr__
        shutil.rmtree(WORK, ignore_errors=True)

    checked = units + ([traced] if traced is not None else [])
    attempted = sum(u.checked for u in checked)
    failed = sum(u.failed for u in checked)
    for u in checked:
        for p in u.problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)

    if args.trace:
        metrics = per_layer(tracer, traced, units, jobs, tasks)
        tracer.dump(OUT / f"trace-{args.workload}-seed{args.seed}.json",
                    {k: v for k, (v, _) in metrics.items()})
        from spans import LAYER_MAP

        for name, (value, unit) in metrics.items():
            moves = LAYER_MAP.get(name)
            note = f"  -> {moves[0]} on {moves[1]}" if moves else ""
            print(f"{name} {value:.6g} {unit}{note}")
    else:
        metrics = end_to_end(units, setup_cpu_s)
        for name, (value, unit) in {**metrics, **reported(units, setup_wall_s, rss)}.items():
            print(f"{name} {value:.6g} {unit}")
    print(f"units {len(units)} (" + ", ".join(f"{u.wall_s:.2f}s/{u.cpu_s:.1f}cpu/{u.store_files}files"
                                               for u in units)
          + f")  checked {attempted}  failed {failed}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
