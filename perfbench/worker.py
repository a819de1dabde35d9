"""One benchmark process: builds the session, then runs a workload.

    python3 perfbench/worker.py run   RESULT.json WORKLOAD INPUTS OUT
    python3 perfbench/worker.py trace RESULT.json WORKLOAD INPUTS OUT TRACE.json

Both measure the session set-up first. ``run`` times the workload's
CLI call with tracing off: the first call, two warm-up calls, then
``STEADY_CALLS`` steady calls. ``trace`` repeats the
steady calls alternately with and without tracing, runs the per-layer
probes and writes the spans to TRACE.json. Every call's output is
checked outside its timed region. ``run.py`` starts these processes
with the pinned environment.
"""

import time

T0 = time.perf_counter()  # set-up time counts from process start

import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402


def set_up() -> tuple[object, dict]:
    from mapreduce511_spark.session import get_spark

    spark = get_spark("perfbench")
    t_spark = time.perf_counter()
    spark.range(1).count()  # warm-up action
    t_warm = time.perf_counter()
    return spark, {
        "setup_s": cpu_s(),
        "setup_wall_s": t_warm - T0,
        "get_spark_s": t_spark - T0,
        "warmup_s": t_warm - t_spark,
    }


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds, user plus system, used so far by this process and
    every process under it (the Spark JVM and its helpers), counting
    children they already reaped. Unlike wall time, this does not grow
    with CPU time stolen by the hypervisor."""
    ppid, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while we looked
                continue
            pid = int(entry)
            ppid[pid] = int(fields[1])
            ticks[pid] = sum(int(f) for f in fields[11:15])
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [c for c, p in ppid.items() if p == pid and c not in tree]
    return sum(ticks.get(pid, 0) for pid in tree) * _TICK_S


def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise RuntimeError(f"no {field} for pid {pid}")


def _heap_range(spark) -> tuple[int, int]:
    """Address range of the Java heap, from the JVM's own ``GC.heap_info``
    diagnostic command (``... [0x...80000000, 0x...100000000)``)."""
    jcmd = os.path.join(spark._jvm.System.getProperty("java.home"), "bin", "jcmd")
    info = subprocess.run([jcmd, str(spark.sparkContext._gateway.proc.pid), "GC.heap_info"],
                          capture_output=True, text=True, timeout=60, check=True).stdout
    lo, hi = re.search(r"\[(0x[0-9a-f]+), (0x[0-9a-f]+)\)", info).groups()
    return int(lo, 16), int(hi, 16)


def _resident_kb_in(pid: int, lo: int, hi: int) -> int:
    """Resident kB of the mappings of ``pid`` that lie in [lo, hi)."""
    total, inside = 0, False
    with open(f"/proc/{pid}/smaps") as fh:
        for line in fh:
            head = line.split(None, 1)[0]
            if "-" in head and not head.endswith(":"):
                a, b = (int(x, 16) for x in head.split("-"))
                inside = lo <= a and b <= hi
            elif inside and head == "Rss:":
                total += int(line.split()[1])
    return total


def memory(spark) -> dict:
    """Resident memory of the driver Python process plus the Spark JVM.

    ``peak_rss_mb`` is the peak of both. Most of it is Java heap, and the
    JVM grows its heap when GC takes a larger share of wall time, which
    the host's load sets: the peak moves by up to a fifth between runs
    of the same code. ``nonheap_rss_mb`` leaves the heap out: the Python
    process's peak plus what the JVM holds outside its heap at the end
    of the calls (code cache, metaspace, thread stacks, native and
    network buffers), which moves by a few per cent between runs."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    lo, hi = _heap_range(spark)
    heap_kb = _resident_kb_in(jvm_pid, lo, hi)
    py_peak_kb = _status_kb(os.getpid(), "VmHWM")
    return {
        "peak_rss_mb": (py_peak_kb + _status_kb(jvm_pid, "VmHWM")) / 1024,
        "heap_rss_mb": heap_kb / 1024,
        "nonheap_rss_mb": (py_peak_kb + _status_kb(jvm_pid, "VmRSS") - heap_kb) / 1024,
    }


def environment(spark) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        **{k: os.environ.get(k) for k in (
            "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS",
            "SPARK_SUBMIT_OPTS")},
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
    }


class Calls:
    """Runs and checks the workload's CLI call; counts attempts and
    failures."""

    def __init__(self, workload, inputs: str, out: str):
        from mapreduce511_spark import cli

        self.cli = cli
        self.workload, self.inputs, self.out = workload, inputs, out
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.cpu: list[float] = []  # CPU seconds of each call

    def __call__(self, around=contextlib.nullcontext) -> float:
        """Wall seconds of one call, made inside the context ``around()``
        returns. A call that raised, returned non-zero or failed the
        output check counts as failed."""
        shutil.rmtree(self.out, ignore_errors=True)
        self.attempted += 1
        cpu0, start = cpu_s(), time.perf_counter()
        try:
            with around():
                code = self.cli.main(self.workload.argv(self.inputs, self.out))
        except Exception:  # a failed call is a measured outcome
            traceback.print_exc()
            code = "raised"
        wall = time.perf_counter() - start
        self.cpu.append(cpu_s() - cpu0)
        try:
            problems = [f"exit {code}"] if code != 0 else self.workload.check(self.inputs, self.out)
        except Exception as err:  # malformed output fails the check
            problems = [f"check raised {err!r}"]
        if problems:
            self.failed += 1
            self.problems += problems[:3]
            print(f"check failed: {problems[:3]}", file=sys.stderr)
        return wall


STEADY_CALLS = 2  # measured calls per run; see warm_up for the budget


def warm_up(calls: Calls, n: int = 2) -> None:
    """Calls after the first whose cost is not measured: per-call CPU
    falls steeply over the two calls after the first, as the JIT
    compiles the hot paths, then more slowly (wc_zipf: 8.9, 8.2, then
    6.2-6.5 CPU-s per call; telemetry_analyze: 24.4, 17.7, then 14.9,
    14.1 and 11-12 from the sixth call on). With one warm-up call, the
    first steady call of wc_zipf ranged from 5.0 to 9.7 CPU-s over ten
    runs, so two; and two steady calls, not three, keep a
    telemetry_analyze run near a minute on a 4-core host."""
    for _ in range(n):
        calls()


def run(spark, setup: dict, calls: Calls, n_steady: int) -> dict:
    first = calls()
    warm_up(calls)
    steady = [calls() for _ in range(n_steady)]
    return {
        **setup,
        "first_job_s": first,
        "steady_s": steady,
        "job_s": statistics.median(steady),
        "first_job_cpu_s": calls.cpu[0],
        "one_shot_cpu_s": setup["setup_s"] + calls.cpu[0],
        "steady_cpu_s": calls.cpu[-n_steady:],
        # CPU seconds add up, and JIT work shifts between consecutive
        # calls, so the steady calls' total is steadier than any one call.
        "job_cpu_s": statistics.fmean(calls.cpu[-n_steady:]),
        **memory(spark),
        "attempted": calls.attempted,
        "failed": calls.failed,
        "problems": calls.problems,
    }


def main(argv: list[str]) -> int:
    mode, result_path, name, inputs, out = argv[:5]
    spark, setup = set_up()
    import workloads

    workload = workloads.WORKLOADS[name]
    calls = Calls(workload, inputs, out)
    if mode == "run":
        result = run(spark, setup, calls, STEADY_CALLS)
    else:
        import probes

        calls()
        warm_up(calls)
        result = probes.trace(spark, setup, workload, inputs, out, calls, STEADY_CALLS, argv[5])
    result["env"] = environment(spark)
    with open(result_path, "w") as fh:
        json.dump(result, fh)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
