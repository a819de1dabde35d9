"""Command-line entry points mirroring the reference's user surface.

Reference → here:

- ``wheel/run_mr_real.sh IN OUT SS``  → ``python -m mapreduce511_spark.cli
  wordcount --input ... --output ...`` (slowstart has no Spark analog;
  the sweepable knob is ``--shuffle-partitions``, see ``sweep``).
- ``analyze/analyze_cpu_slowstart.py`` / ``analyze_mem_slowstart.py`` →
  ``... analyze --tree MapReduceLog --out results/`` (parses the whole
  experiment tree, writes result_raw + the six wide CSVs, renders
  charts when matplotlib exists).
- ``wheel/run_batch.sh`` → ``... sweep --sf-dir ...`` (parameter sweep
  with per-run wall metrics + best-value report).

Everything is driver-thin: each subcommand builds the same DataFrame
plans the query registry exposes and writes with the engine's sinks.
"""

from __future__ import annotations

import argparse
import sys


def _spark(cpus: int | None):
    from mapreduce511_spark.session import get_spark

    return get_spark("mapreduce511-cli", cpus=cpus)


def cmd_wordcount(args: argparse.Namespace) -> int:
    """Text/parquet corpus → sorted word\\tcount TSV (S1, F8, A1/A2,
    O5, S5/S6)."""
    from pyspark.sql import functions as F

    from mapreduce511_spark.operators.wordcount import word_count

    spark = _spark(args.cpus)
    if args.input.endswith(".parquet") or args.format == "parquet":
        docs = spark.read.parquet(args.input)
        if args.text_column not in docs.columns:
            print(f"no {args.text_column!r} column in {args.input}", file=sys.stderr)
            return 2
        docs = docs.withColumnRenamed(args.text_column, "text")
    else:
        docs = spark.read.text(
            args.input, recursiveFileLookup=True
        ).withColumnRenamed("value", "text")
    counts = word_count(docs)
    out = counts.orderBy("word") if args.sorted else counts
    # Emit raw `word\tcount` lines like the reference reducer's
    # TextOutputFormat — the text sink never CSV-quotes/escapes tokens
    # containing quotes, unlike the csv writer with sep='\t'.
    (
        out.select(
            F.concat_ws("\t", F.col("word"), F.col("cnt").cast("string")).alias(
                "value"
            )
        )
        .coalesce(args.output_files)
        .write.mode("overwrite")
        .text(args.output)
    )
    # One action for both totals: each action re-runs scan+aggregate.
    distinct, total = counts.agg(F.count("*"), F.sum("cnt")).first()
    print(f"wordcount: {distinct} distinct words, {total} tokens -> {args.output}")
    return 0


def cmd_analyze(args: argparse.Namespace) -> int:
    """Experiment tree → result_raw.csv + six wide reports (+charts).

    The seven reports and the charts all derive from two small frames,
    the per-config stage summary and the averaged CPU series. Both are
    built once per call and pinned with an eager ``localCheckpoint``,
    so each sink and the chart collect plans over a few thousand rows
    instead of re-reading and re-parsing every log file. A lost
    executor makes the later reads fail loudly (``Checkpoint block …
    not found``) rather than return wrong answers (DEPLOY.md "Session
    memos and executor loss").
    """
    import os

    from mapreduce511_spark.plans import (
        averaged_series,
        config_metric_mean,
        parse_monitor_lines,
        parse_progress_lines,
        stage_metrics,
        stage_summary,
        wide_report,
    )
    from mapreduce511_spark.plans.report import result_raw, write_report_csv
    from mapreduce511_spark.plans.runs import experiment_lines

    spark = _spark(args.cpus)
    mon = parse_monitor_lines(experiment_lines(spark, args.tree, "monitor.log"))
    stg = stage_metrics(
        parse_progress_lines(experiment_lines(spark, args.tree, "job_output.log"))
    )
    summ = stage_summary(stg).localCheckpoint()
    cpu_series = averaged_series(mon, "cpu").localCheckpoint()
    cpu = config_metric_mean(cpu_series, "cpu")

    os.makedirs(args.out, exist_ok=True)
    write_report_csv(result_raw(summ, cpu), os.path.join(args.out, "result_raw"))
    for metric, direction, name in [
        ("total_s", "min", "result_time"),
        ("map_s", "min", "result_map"),
        ("shuffle_s", "min", "result_shuffle"),
        ("reduce_s", "min", "result_reduce"),
        ("overlap_pct", "max", "result_overlap"),
    ]:
        write_report_csv(
            wide_report(summ, metric, direction), os.path.join(args.out, name)
        )
    write_report_csv(
        wide_report(cpu, "avg_cpu", "max"), os.path.join(args.out, "result_cpu")
    )

    from mapreduce511_spark.plans.charts import prepare_chart_series, render_charts

    charts = render_charts(
        prepare_chart_series(cpu_series, "cpu"), os.path.join(args.out, "charts"), "cpu"
    )
    print(
        f"analyze: 7 report tables -> {args.out}"
        + (f", {len(charts)} charts" if charts else " (charts skipped: no matplotlib)")
    )
    return 0


def cmd_sweep(args: argparse.Namespace) -> int:
    """run_batch.sh analog: sweep shuffle partitions over WordCount."""
    from mapreduce511_spark.operators.wordcount import word_count
    from mapreduce511_spark.sources.tables import load_table
    from mapreduce511_spark.sweep import run_sweep, sweep_report

    spark = _spark(args.cpus)

    def job(s):
        return word_count(load_table(s, args.sf_dir, "documents"))

    results = run_sweep(
        spark, job, values=args.values, runs_per_value=args.runs
    )
    for row in sweep_report(results).collect():
        marker = "  <- best" if row["is_best"] else ""
        print(
            f"shuffle.partitions={int(row['param_value'])}: "
            f"{row['mean_wall_s']}s over {row['n_runs']} runs{marker}"
        )
    return 0


def cmd_clean(args: argparse.Namespace) -> int:
    """Training-data cleaning job: dedup -> quality gate -> split, the
    cleaned corpus written as split-partitioned parquet (plus the
    census printed). The sink partitioning means downstream training
    readers prune to their split at the scan."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from mapreduce511_spark.functions.text import normalize_text, tokenize
    from mapreduce511_spark.operators.dedup import hash60
    from mapreduce511_spark.sources.tables import load_table

    spark = _spark(args.cpus)
    docs = load_table(spark, args.sf_dir, "documents")
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    survivors = (
        docs.withColumn("fingerprint", F.md5(normalize_text("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("fingerprint", "rn")
        .withColumn("n_tok", F.size(tokenize("text")))
        .filter(F.col("n_tok") >= args.min_tokens)
    )
    bucket = hash60(F.col("doc_id").cast("string")) % 100
    split = F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    cleaned = survivors.withColumn("split", split)
    cleaned.write.mode("overwrite").partitionBy("split").parquet(args.output)
    for r in (
        cleaned.groupBy("split")
        .agg(F.count("*").alias("docs"), F.sum("n_tok").alias("tokens"))
        .orderBy("split")
        .collect()
    ):
        print(f"{r['split']}: {r['docs']} docs, {r['tokens']} tokens")
    return 0


def cmd_compact(args: argparse.Namespace) -> int:
    """Small-file compaction job (streaming/skew-split litter -> files
    near the target size)."""
    from mapreduce511_spark.operators.maintenance import compact_parquet

    spark = _spark(args.cpus)
    n = compact_parquet(
        spark,
        args.input,
        args.output,
        target_file_bytes=args.target_mb * 1024 * 1024,
        partition_by=args.partition_by,
    )
    print(f"compacted {args.input} -> {args.output} ({n} file(s) requested)")
    return 0


def cmd_audit(args: argparse.Namespace) -> int:
    """Data-contract audit: referential integrity + range/null rules;
    nonzero exit when any check reports violations (CI-gate shape)."""
    from mapreduce511_spark.queries import all_queries

    spark = _spark(args.cpus)
    rows = all_queries()["data_quality_audit"](spark, args.sf_dir).collect()
    bad = 0
    for r in rows:
        print(f"{r.check_name}\t{r.n_violations}")
        bad += int(r.n_violations)
    return 1 if bad else 0


def cmd_export(args: argparse.Namespace) -> int:
    """Export a table to JSONL shards (trainer-interchange format)."""
    from mapreduce511_spark.sources.jsonl import write_jsonl
    from mapreduce511_spark.sources.tables import load_table

    spark = _spark(args.cpus)
    df = load_table(spark, args.sf_dir, args.table)
    write_jsonl(df, args.output, num_shards=args.shards)
    print(f"exported {args.table} -> {args.output} ({args.shards} shard(s))")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="mapreduce511_spark")
    p.add_argument("--cpus", type=int, default=None)
    sub = p.add_subparsers(dest="cmd", required=True)

    wc = sub.add_parser("wordcount", help="corpus -> sorted word\\tcount TSV")
    wc.add_argument("--input", required=True)
    wc.add_argument("--output", required=True)
    wc.add_argument("--format", choices=["text", "parquet"], default="text")
    wc.add_argument("--text-column", default="text")
    wc.add_argument(
        "--sorted", action=argparse.BooleanOptionalAction, default=True,
        help="key-sort output like the reference reducer (--no-sorted to skip)",
    )
    wc.add_argument("--output-files", type=int, default=1)
    wc.set_defaults(fn=cmd_wordcount)

    an = sub.add_parser("analyze", help="experiment tree -> report CSVs + charts")
    an.add_argument("--tree", required=True)
    an.add_argument("--out", required=True)
    an.set_defaults(fn=cmd_analyze)

    sw = sub.add_parser("sweep", help="parameter sweep over WordCount")
    sw.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sw.add_argument("--values", type=int, nargs="+", default=[8, 32])
    sw.add_argument("--runs", type=int, default=1)
    sw.set_defaults(fn=cmd_sweep)

    cl = sub.add_parser(
        "clean", help="dedup+quality+split -> split-partitioned parquet"
    )
    cl.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    cl.add_argument("--output", required=True)
    cl.add_argument("--min-tokens", type=int, default=30)
    cl.set_defaults(fn=cmd_clean)

    ex = sub.add_parser("export", help="table -> JSONL shards")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument("--table", default="documents")
    ex.add_argument("--shards", type=int, default=8)
    ex.add_argument("output")
    ex.set_defaults(fn=cmd_export)

    au = sub.add_parser(
        "audit", help="data-contract checks; exit 1 on any violation"
    )
    au.add_argument("--sf-dir", required=True)
    au.set_defaults(fn=cmd_audit)

    cp = sub.add_parser("compact", help="rewrite parquet into ~target-size files")
    cp.add_argument("--input", required=True)
    cp.add_argument("--output", required=True)
    cp.add_argument("--target-mb", type=int, default=128)
    cp.add_argument("--partition-by", nargs="*", default=None)
    cp.set_defaults(fn=cmd_compact)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
