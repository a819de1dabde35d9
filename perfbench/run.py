"""Benchmark entry point.

    python3 perfbench/run.py --workload wc_zipf --seed 1 --seconds 8 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed (cached under ``.bench_build/perfbench``), starts a fresh benchmark
process with a pinned environment, checks every output, and prints
as its last line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Exits non-zero without a
result when the program is missing or a benchmark process fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEADLINE_S = 165  # every run must end within 180 s
DRIVER_MEM = "2g"  # fits a 4-core, 15 GB host next to other tenants

# Times are CPU seconds (user + system) of the benchmark process and the
# Spark JVM under it. Wall times swing by 2x and more with the CPU time
# the hypervisor steals on a shared host; CPU seconds do not include
# stolen time. Wall times are printed on the line before the result.
END_TO_END = {
    "setup_s": "s", "one_shot_cpu_s": "s", "job_cpu_s": "s",
    "nonheap_rss_mb": "MB", "success_rate": "ratio",
}
PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "sources.scan_s": "s", "sources.scan_tasks": "count", "sources.rows": "count",
    "sources.scans_per_call": "ratio",
    "functions.tokenize_s": "s", "functions.tokens": "count",
    "operators.word_count_s": "s", "operators.combine_ratio": "ratio",
    "operators.shuffle_write_mb": "MB", "operators.spill_mb": "MB",
    "cli.sink_s": "s", "cli.output_rows": "count", "cli.jobs_per_call": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.driver_s": "s",
    "plans.parse_monitor_s": "s", "plans.stage_metrics_s": "s",
    "plans.averaged_series_s": "s", "plans.wide_report_s": "s",
    "plans.csv_sink_s": "s", "plans.charts_s": "s", "plans.tree_scans_per_call": "ratio",
    "trace.overhead_s": "s", "trace.overhead_cpu_s": "s",
}


def pinned_env(work: Path) -> dict[str, str]:
    """Environment of every benchmark process: every core as a task
    thread, a fixed driver heap that fits it, scratch inside
    the checkout, and the program imported from the checkout."""
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_MASTER", "SPARK_ENV_LOADED")}
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # The heap starts at its maximum size (committed, not touched).
        # Left to grow, the JVM sizes it by the share of wall time GC
        # takes, which the host's load sets, and GC work follows the
        # size: over ten wc_unique runs, heaps above 1.07 GB went with
        # 6.2-6.9 CPU-s per call and smaller ones with 6.7-9.7.
        SPARK_SUBMIT_OPTS=f"-Xms{DRIVER_MEM}",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        PYTHONPATH=os.pathsep.join([str(ROOT), str(HERE)]),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


def _children() -> list[int]:
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[1] == me:
                pids.append(int(entry))
    return pids


def _reap(grace_s: float = 20.0) -> None:
    """Wait until every descendant has ended. This process is a child
    subreaper, so the Spark JVM and its helpers are re-parented here
    when the worker exits; any still alive after ``grace_s`` are
    killed."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_worker(args: list[str], env: dict, work: Path, log: Path, end: float) -> dict:
    """Run ``worker.py args`` to completion (killed at ``end``) and
    return the JSON result it wrote."""
    result = work / "result.json"
    result.unlink(missing_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), args[0], str(result), *args[1:]],
            cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
        )
        try:
            code = proc.wait(timeout=max(1.0, end - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            code = "timeout"
        finally:
            proc.wait()
            _reap()
    if code != 0 or not result.exists():
        with open(log) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"worker {args[0]} ended with {code}; log {log}:\n{tail}")
    return json.loads(result.read_text())


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    # A run makes a fixed number of calls (see worker.STEADY_CALLS), so
    # that a slow host runs the same calls as a fast one; --seconds is
    # recorded, and BENCHMARK.json's run_seconds is what the steady calls
    # take on a 4-core host.
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    start = time.monotonic()
    end = start + DEADLINE_S

    if not (ROOT / "mapreduce511_spark" / "cli.py").is_file():
        print(f"no program to benchmark: {ROOT}/mapreduce511_spark is missing", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]

    work = ROOT / ".bench_build" / "perfbench"
    for sub in ("logs", "out", "trace", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    env = pinned_env(work)
    inputs, gen_s = workloads.prepare(workload, str(work / "inputs"), args.seed)
    out = str(work / "out" / workload.name)
    tag = f"{workload.name}-s{args.seed}"
    job = [workload.name, inputs, out]

    try:
        if args.trace:
            trace_path = work / "trace" / f"{tag}.json"
            res = run_worker(["trace", *job, str(trace_path)], env, work,
                             work / "logs" / f"{tag}-trace.log", end)
            values, units = res["metrics"], PER_LAYER
            info = {"trace_file": str(trace_path), "self_s": res["self_s"]}
        else:
            res = run_worker(["run", *job], env, work, work / "logs" / f"{tag}-run.log", end)
            values = {k: res[k] for k in ("setup_s", "one_shot_cpu_s", "job_cpu_s", "nonheap_rss_mb")}
            values["success_rate"] = 1 - res["failed"] / res["attempted"]
            units = END_TO_END
            info = {
                "wall": {k: res[k] for k in ("setup_wall_s", "first_job_s", "job_s")},
                "first_job_cpu_s": res["first_job_cpu_s"],
                "steady_cpu_s": res["steady_cpu_s"], "steady_wall_s": res["steady_s"],
                **{k: res[k] for k in ("peak_rss_mb", "heap_rss_mb")},
            }
    except RuntimeError as err:
        print(err, file=sys.stderr)
        return 1

    info.update(workload=workload.name, seed=args.seed, seconds=args.seconds,
                inputs=inputs, gen_s=gen_s,
                error_rate=res["failed"] / res["attempted"], problems=res["problems"],
                env=res["env"])
    print(json.dumps(info))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
