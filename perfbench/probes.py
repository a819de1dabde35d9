"""The traced run: per-layer metrics for one workload.

Two sources of numbers:

- traced CLI calls. Spans wrap the program's public functions that the
  CLI calls, plus the Spark actions and sinks they trigger, from the
  outside (the program is not edited). Traced and untraced calls
  alternate, so the tracing overhead is their median difference.
- probe actions on the workload's own input. Each probe forces one
  more layer than the one before it (scan, then scan+tokenize, then
  scan+tokenize+word_count), so a layer's time is its action's time
  minus the previous action's. Every probe runs twice; the faster run
  counts.
"""

from __future__ import annotations

import os
import statistics

from tracing import Tracer
from workloads import Telemetry

_PLANS_PROBES = (
    "plans.parse_monitor_s", "plans.stage_metrics_s", "plans.averaged_series_s",
    "plans.wide_report_s",
)
_PLANS_ATTRS = (
    "parse_monitor_lines", "parse_progress_lines", "stage_metrics",
    "stage_summary", "averaged_series", "config_metric_mean", "wide_report",
)


def _targets(spark) -> list[tuple[object, str, str]]:
    """(owner, attribute, span name) for every call the traced CLI call
    records."""
    from pyspark.sql import DataFrameWriter

    import mapreduce511_spark.operators.wordcount as wordcount
    import mapreduce511_spark.plans as plans
    import mapreduce511_spark.plans.charts as charts
    import mapreduce511_spark.plans.report as report
    import mapreduce511_spark.plans.runs as runs
    import mapreduce511_spark.session as session

    DataFrame = type(spark.range(0))  # the concrete class, not the API base
    out = [
        (session, "get_spark", "session.get_spark"),
        (DataFrameWriter, "text", "spark.write"),
        (DataFrameWriter, "csv", "spark.write"),
        (DataFrame, "first", "spark.action"),
        (DataFrame, "count", "spark.action"),
        (DataFrame, "collect", "spark.action"),
    ]
    return out + [(wordcount, "word_count", "operators.word_count")] + [
        (plans, a, f"plans.{a}") for a in _PLANS_ATTRS] + [
        (runs, "experiment_lines", "plans.experiment_lines"),
        (report, "result_raw", "plans.result_raw"),
        (report, "write_report_csv", "plans.write_report_csv"),
        (charts, "prepare_chart_series", "plans.prepare_chart_series"),
        (charts, "render_charts", "plans.render_charts"),
    ]


def _input_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _probe_lines(spark, workload, inputs: str):
    """The workload's input as one ``value`` column of text lines."""
    if not isinstance(workload, Telemetry):
        return spark.read.text(workload.source(inputs), recursiveFileLookup=True)
    from mapreduce511_spark.plans.runs import experiment_lines

    tree = workload.source(inputs)
    return experiment_lines(spark, tree, "monitor.log").unionByName(
        experiment_lines(spark, tree, "job_output.log")
    )


def _probe(tracer: Tracer, name: str, action) -> tuple[float, object, dict]:
    """Best of two runs of ``action``: (wall s, its value, the
    status-store totals of that run)."""
    best = None
    for _ in range(2):
        with tracer.span(name) as rec:
            value = action()
        tracer.collect(rec)
        wall = rec["end"] - rec["start"]
        if best is None or wall < best[0]:
            best = (wall, value, tracer.totals(rec))
    return best


def _plans_probes(spark, tracer: Tracer, tree: str) -> dict[str, float]:
    """Telemetry-only breakdown of the analyze plan's stages, each as
    its action's time minus the action on its input."""
    from mapreduce511_spark.plans import (
        averaged_series, parse_monitor_lines, parse_progress_lines,
        stage_metrics, stage_summary, wide_report,
    )
    from mapreduce511_spark.plans.runs import experiment_lines

    mon_lines = experiment_lines(spark, tree, "monitor.log")
    job_lines = experiment_lines(spark, tree, "job_output.log")
    mon = parse_monitor_lines(mon_lines)
    stg = stage_metrics(parse_progress_lines(job_lines))
    t = {
        name: _probe(tracer, f"probe.{name}", df.count)[0]
        for name, df in [
            ("monitor_lines", mon_lines), ("job_lines", job_lines),
            ("parse_monitor", mon), ("stage_metrics", stg),
            ("averaged_series", averaged_series(mon, "cpu")),
            ("stage_summary", stage_summary(stg)),
            ("wide_report", wide_report(stage_summary(stg), "total_s", "min")),
        ]
    }
    return {
        "plans.parse_monitor_s": t["parse_monitor"] - t["monitor_lines"],
        "plans.stage_metrics_s": t["stage_metrics"] - t["job_lines"],
        "plans.averaged_series_s": t["averaged_series"] - t["parse_monitor"],
        "plans.wide_report_s": t["wide_report"] - t["stage_summary"],
    }


def trace(spark, setup: dict, workload, inputs: str, out: str, calls, n_steady: int,
          trace_path: str) -> dict:
    """Per-layer metrics; ``calls`` has made its first and warm-up calls."""
    from pyspark.sql import functions as F

    from mapreduce511_spark.functions.text import tokenize
    from mapreduce511_spark.operators.wordcount import word_count

    tracer = Tracer(spark, f"{workload.name}-{os.getpid()}")
    targets = _targets(spark)
    plain, plain_cpu, traced_cpu, roots = [], [], [], []

    def untraced():
        plain.append(calls())
        plain_cpu.append(calls.cpu[-1])

    def traced():
        first = len(tracer.spans)
        with tracer.patched(targets):
            calls(around=lambda: tracer.span("cli.call"))
        traced_cpu.append(calls.cpu[-1])
        roots.append(tracer.spans[first])
        tracer.collect(roots[-1])
        roots[-1]["output_rows"] = workload.output_rows(out)

    # Per-call cost still drifts down as the JIT warms, so the side that
    # goes first alternates between pairs.
    for i in range(n_steady):
        for step in (untraced, traced) if i % 2 == 0 else (traced, untraced):
            step()

    def call_median(fn) -> float:
        return statistics.median(fn(r) for r in roots)

    def named(root, name):
        return sum(s["end"] - s["start"] for s in tracer.subtree(root) if s["name"] == name)

    in_bytes = _input_bytes(workload.source(inputs))
    totals = [tracer.totals(r) for r in roots]
    metrics = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.warmup_s": setup["warmup_s"],
        "cli.sink_s": call_median(lambda r: named(r, "spark.write")),
        "cli.output_rows": call_median(lambda r: r["output_rows"]),
        "cli.jobs_per_call": statistics.median(t["jobs"] for t in totals),
        "sources.scans_per_call": statistics.median(t["input_bytes"] for t in totals) / in_bytes,
    }
    for key, name in (
        ("stages", "stages"), ("tasks", "tasks"), ("run_s", "task_run_s"),
        ("cpu_s", "task_cpu_s"), ("gc_s", "gc_s"), ("shuffle_read_mb", "shuffle_read_mb"),
        ("shuffle_write_mb", "shuffle_write_mb"), ("spill_mb", "spill_mb"),
        ("driver_s", "driver_s"),
    ):
        metrics[f"spark.{name}"] = statistics.median(t[key] for t in totals)
    metrics["trace.overhead_s"] = (
        statistics.median(r["end"] - r["start"] for r in roots) - statistics.median(plain)
    )
    metrics["trace.overhead_cpu_s"] = statistics.fmean(traced_cpu) - statistics.fmean(plain_cpu)

    lines = _probe_lines(spark, workload, inputs)
    scan_s, rows, scan = _probe(tracer, "probe.scan", lines.count)
    tok_s, tokens, _ = _probe(
        tracer, "probe.tokenize", lambda: lines.select(F.sum(F.size(tokenize("value")))).first()[0])
    wc_s, _, wc = _probe(
        tracer, "probe.word_count",
        lambda: word_count(lines, text_col="value").write.format("noop").mode("overwrite").save())
    metrics.update({
        "sources.scan_s": scan_s,
        "sources.scan_tasks": scan["tasks"],
        "sources.rows": rows,
        "functions.tokenize_s": tok_s - scan_s,
        "functions.tokens": tokens,
        "operators.word_count_s": wc_s - tok_s,
        "operators.combine_ratio": wc["shuffle_write_records"] / tokens,
        "operators.shuffle_write_mb": wc["shuffle_write_mb"],
        "operators.spill_mb": wc["spill_mb"],
    })

    # The plans layer is on telemetry's path only; on the wordcount
    # workloads no plans function runs and these read 0.
    metrics.update({
        "plans.csv_sink_s": call_median(lambda r: named(r, "plans.write_report_csv")),
        "plans.charts_s": call_median(
            lambda r: named(r, "plans.prepare_chart_series") + named(r, "plans.render_charts")),
        "plans.tree_scans_per_call":
            metrics["sources.scans_per_call"] if isinstance(workload, Telemetry) else 0.0,
        **(_plans_probes(spark, tracer, workload.source(inputs))
           if isinstance(workload, Telemetry) else dict.fromkeys(_PLANS_PROBES, 0.0)),
    })
    self_s = {
        layer: statistics.median(tracer.self_times(r).get(layer, 0.0) for r in roots)
        for layer in sorted({s["name"].split(".", 1)[0] for r in roots for s in tracer.subtree(r)})
    }
    tracer.dump(trace_path, {
        "workload": workload.name, "metrics": metrics,
        "self_s": self_s, "traced_s": [r["end"] - r["start"] for r in roots],
        "untraced_s": plain, "input_bytes": in_bytes,
    })
    return {
        "metrics": metrics,
        "self_s": self_s,
        "attempted": calls.attempted,
        "failed": calls.failed,
        "problems": calls.problems,
    }
