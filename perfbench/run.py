"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (see ``perfbench/README.md`` and ``BENCHMARK.json``).  The
line before it carries the live session's environment and the raw
samples; a fuller record is written to ``perfbench/_out/``.

One process drives the engine, one call at a time; Spark runs
``local[<nproc>]`` (``SPARK_GRAFT_CPUS`` is set to the CPU count the
process may use).  Inputs are generated from ``--seed`` and cached under
``perfbench/_cache/``.  A run measures a fixed amount of work (a cold
and a warm cycle, 30-60 s of wall on a 4-core box) rather than a time
budget, so ``--seconds`` is recorded but does not change what is
measured.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"

# --- metric catalogue (BENCHMARK.json lists the same names) --------------

END_TO_END = {
    "setup_s": "s",
    "cycles_cpu_s": "s",
}

# call spans that get the full Spark roll-up
FULL_SPANS = [
    "txlog.tx_merge_partitioned", "gold.build_star_schema",
    "release.release_corpus",
    "queries.build", "queries.execute_warehouse", "queries.execute_dedup",
]
FULL_FIELDS = {
    "wall_s": "s", "jobs": "count", "tasks": "count",
    "empty_task_share": "share", "exec_run_s": "s",
    "shuffle_write_mb": "MB", "gc_s": "s",
}
# call spans that only record their wall
WALL_SPANS = [
    "ingest.read_raw_auctions", "silver.transform_records",
    "sinks.write_text_queue", "txlog.tx_read_latest",
    "cache.release_build_caches",
]
STORAGE = {
    "txlog.commits": "count", "txlog.log_bytes": "B",
    "txlog.live_files": "count", "txlog.write_amp": "ratio",
}
RUN_LEVEL = {
    "trace_overhead_share": "share", "span_coverage_share": "share",
    "failed_op_share": "share", "unattributed_jobs": "count",
    "setup.gen_s": "s", "cold_cycle_s": "s", "warm_cycle_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{s}.{f}": u for s in FULL_SPANS for f, u in FULL_FIELDS.items()}
    units.update({f"{s}.wall_s": "s" for s in WALL_SPANS})
    units.update(STORAGE)
    units.update(RUN_LEVEL)
    return units


# set-up samples per run: this process, then fresh child processes; a
# sample costs a JVM start (about 7 s on a 4-core box), so a run takes two
SETUP_SAMPLES = 2


# --- process and session helpers -----------------------------------------


def _process_age() -> float:
    """Seconds since this process was started (from /proc)."""
    with open("/proc/self/stat") as f:  # field 22: start, ticks after boot
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return (time.clock_gettime(time.CLOCK_BOOTTIME)
            - start_ticks / os.sysconf("SC_CLK_TCK"))


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of process ``root`` and every process
    below it (the JVM and its Python workers), reaped children included.
    Time the hypervisor gives to other guests (steal) is not in it."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # fields 14-17
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> float:
    """Peak RSS (VmHWM) of this process plus the JVM it launched."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm = _vm_hwm_kb(proc.pid) if proc is not None else 0
    return (_vm_hwm_kb("self") + jvm) / 1024


def engine_env() -> None:
    """Point Spark at the CPUs this process may use and a scratch
    directory inside the benchmark, and make the engine importable from
    the repository root (raises ``ImportError`` when it is not there)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    sys.path.insert(0, str(ROOT))
    import cars_bids_data_pipeline_v0__spark  # noqa: F401


def start_session(event_log: Path | None = None):
    from cars_bids_data_pipeline_v0__spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            # the default codec is zstd; the roll-up parser reads plain JSON
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log.as_uri(),
        })
    return get_session(app_name="perfbench", extra_conf=conf)


def stop_spark() -> None:
    """Stop the active SparkContext and the JVM it launched, waiting until
    the JVM has exited.  Safe to call when nothing is running."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def environment(spark) -> dict:
    import pyspark

    head = ROOT / ".git" / "HEAD"
    rev = None
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            rev = ref_file.read_text().strip() if ref_file.exists() else ref
        else:
            rev = ref
    sc = spark.sparkContext
    return {
        "spark.master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions":
            spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_revision": rev,
    }


# --- the run ---------------------------------------------------------------


def setup_samples(first: float) -> list[float]:
    """``first`` (this process) plus ``SETUP_SAMPLES - 1`` fresh child
    processes, each timed from its own start until its session and query
    registry are up (``setup_probe.py``)."""
    samples = [first]
    for _ in range(SETUP_SAMPLES - 1):
        probe = subprocess.run(
            [sys.executable, str(HERE / "setup_probe.py")],
            capture_output=True, text=True, timeout=150, check=True)
        samples.append(float(probe.stdout.split()[-1]))
    return samples


def _last_cycle_s(tr) -> float:
    cyc = next(s for s in reversed(tr.spans) if s.kind == "cycle")
    return cyc.end - cyc.start


def run(workload_name: str, seed: int, trace: bool) -> dict:
    """One cold cycle, then one warm cycle; with ``trace`` one more warm
    cycle after a session restart with Spark's event log on.  The cycle
    count is fixed, so every run measures the same work however fast the
    engine is.  The end-to-end ``cycles_cpu_s`` is the CPU time the
    driver, its JVM and their workers spend on the cold and the warm cycle
    together: on a shared virtual machine it varies between runs by a
    third as much as their wall, which moves with other guests' load."""
    import spans as tracing
    from workloads import WORKLOADS, Ops

    from cars_bids_data_pipeline_v0__spark.plans.queries import queries

    work = WORKLOADS[workload_name]
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)

    spark = start_session()
    queries()
    setup = setup_samples(_process_age())

    # generation and expectations are cached per seed; timed apart
    t = time.perf_counter()
    wl = work(seed, WORK / workload_name)
    wl.inputs()
    gen_s = time.perf_counter() - t
    wl.open(spark)
    env = environment(spark)

    ops = Ops()
    tr = tracing.Tracer()
    # the cold cycle: JIT, code caches and tables are not warm yet
    cpu = tree_cpu_s(os.getpid())
    wl.cycle(tr, ops)
    cold = _last_cycle_s(tr)
    wl.cycle(tr, ops)
    warm = _last_cycle_s(tr)
    cpu = tree_cpu_s(os.getpid()) - cpu
    out: dict = {"workload": workload_name, "seed": seed, "trace": trace,
                 "env": env, "setup_s": setup, "setup.gen_s": gen_s,
                 "cold_cycle_s": cold, "warm_cycle_s": warm,
                 "cycles_cpu_s": cpu}
    if not trace:
        stop_spark()
        out["spans"] = tr.to_json()
        metrics = {"setup_s": statistics.median(setup),
                   "cycles_cpu_s": cpu}
    else:
        spark.stop()
        log_dir = WORK / "eventlog"
        spark = start_session(event_log=log_dir)
        wl.open(spark)
        tr = tracing.Tracer()
        with tr.span("traced", kind="run"):
            wl.cycle(tr, ops)
        traced = _last_cycle_s(tr)
        rss = peak_rss_mb(spark)
        stop_spark()  # also flushes the event log
        jobs, stages = tracing.parse_event_log(log_dir)
        roll = tracing.rollup(tr.spans, jobs, stages)
        out.update({"traced_cycle_s": traced, "spans": tr.to_json(),
                    "rollup": roll})
        metrics = layer_metrics(
            roll, wl.storage(),
            overhead=traced / warm - 1,
            coverage=tracing.span_coverage(tr.spans),
            failed_share=ops.failed_share(),
            unattributed=len(
                tracing.assign_jobs(tr.spans, jobs).get(None, [])),
            gen_s=gen_s, cold_cycle=cold, warm_cycle=warm, peak_rss=rss)
    out.update({"attempted": ops.attempted, "failed": ops.failed,
                "failures": ops.failures()[:20], "metrics": metrics})
    return out


def layer_metrics(roll: dict, storage: dict, *, overhead, coverage,
                  failed_share, unattributed, gen_s, cold_cycle,
                  warm_cycle, peak_rss) -> dict:
    """Every per-layer metric of the traced cycle; a span the workload
    never calls reads 0."""
    m: dict[str, float] = {}
    for s in FULL_SPANS + WALL_SPANS:
        r = roll.get(s, {})
        fields = FULL_FIELDS if s in FULL_SPANS else {"wall_s": "s"}
        for f in fields:
            if f == "empty_task_share":
                m[f"{s}.{f}"] = (r["empty_tasks"] / r["tasks"]
                                 if r.get("tasks") else 0.0)
            else:
                m[f"{s}.{f}"] = r.get(f, 0)
    for k in STORAGE:
        m[k] = storage.get(k.split(".", 1)[1], 0)
    m.update({
        "trace_overhead_share": overhead, "span_coverage_share": coverage,
        "failed_op_share": failed_share, "unattributed_jobs": unattributed,
        "setup.gen_s": gen_s, "cold_cycle_s": cold_cycle,
        "warm_cycle_s": warm_cycle, "peak_rss_mb": peak_rss,
    })
    return m


def result_line(out: dict, trace: bool) -> dict:
    units = per_layer_units() if trace else END_TO_END
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": out["metrics"][k], "unit": u}
                    for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal measuring time; the work is fixed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        engine_env()
    except ImportError as e:
        print(f"perfbench: the engine package is not importable: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    try:
        out = run(args.workload, args.seed, bool(args.trace))
    finally:
        stop_spark()
    out["seconds"] = args.seconds
    res_dir = HERE / "_out"
    res_dir.mkdir(exist_ok=True)
    (res_dir / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(out, indent=1, default=str))
    print(json.dumps({k: out[k] for k in ("workload", "seed", "env",
                                          "setup_s", "cold_cycle_s",
                                          "warm_cycle_s", "failures")}))
    print(json.dumps(result_line(out, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
