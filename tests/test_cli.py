"""CLI smoke tests (the reference's user surface: run_mr_real.sh /
analyze_*.py / run_batch.sh analogs)."""

from __future__ import annotations

import glob
import os

from mapreduce511_spark.cli import main
from tests.conftest import SF_SMOKE


def test_cli_wordcount_parquet(spark, tmp_path, capsys):
    out = str(tmp_path / "wc")
    rc = main(
        [
            "wordcount",
            "--input", f"{SF_SMOKE}/documents.parquet",
            "--format", "parquet",
            "--output", out,
        ]
    )
    assert rc == 0
    files = glob.glob(out + "/part-*")
    assert len(files) == 1
    first = open(files[0]).readline().rstrip("\n").split("\t")
    assert len(first) == 2 and first[1].isdigit()
    assert "distinct words" in capsys.readouterr().out


def test_cli_analyze_reference_tree(spark, tmp_path, capsys):
    tree = "/root/reference/MapReduceLog"
    if not os.path.isdir(tree):
        import pytest

        pytest.skip("reference tree not available")
    out = str(tmp_path / "results")
    rc = main(["analyze", "--tree", tree, "--out", out])
    assert rc == 0
    for name in (
        "result_raw result_time result_map result_shuffle "
        "result_reduce result_overlap result_cpu"
    ).split():
        assert glob.glob(f"{out}/{name}/part-*.csv"), name
    assert "7 report tables" in capsys.readouterr().out


WIDE_HEADER = "dataset,0.2,0.5,0.8,1.0,best_slowstart"
REPORT_HEADERS = {
    "result_raw": "dataset,slowstart,total_s,avg_cpu,map_s,shuffle_s,reduce_s,overlap_pct",
    **{
        name: WIDE_HEADER
        for name in (
            "result_time result_map result_shuffle result_reduce "
            "result_overlap result_cpu"
        ).split()
    },
}


def test_cli_analyze_fixture_tree(spark, tmp_path, capsys):
    """`analyze` over the synthetic two-layout tree: seven single-file
    reports with their headers, result_raw equal to the library plan,
    one chart per dataset, and a bounded number of Spark jobs (the
    shared frames are built once, not once per report)."""
    from mapreduce511_spark.plans import (
        averaged_series,
        config_metric_mean,
        parse_monitor_lines,
        parse_progress_lines,
        result_raw,
        stage_metrics,
        stage_summary,
    )
    from mapreduce511_spark.plans.fixtures import build_fixture_tree
    from mapreduce511_spark.plans.runs import experiment_lines

    tree = build_fixture_tree(str(tmp_path / "tree"))
    out = str(tmp_path / "results")
    sc = spark.sparkContext
    sc.setJobGroup("cli-analyze-fixture", "cli analyze job count")
    try:
        rc = main(["analyze", "--tree", tree, "--out", out])
    finally:
        sc._jsc.clearJobGroup()
    assert rc == 0
    assert "7 report tables" in capsys.readouterr().out
    jobs = sc.statusTracker().getJobIdsForGroup("cli-analyze-fixture")
    assert 0 < len(jobs) <= 30, len(jobs)

    for name, header in REPORT_HEADERS.items():
        parts = glob.glob(f"{out}/{name}/part-*.csv")
        assert len(parts) == 1, name
        with open(parts[0]) as fh:
            assert fh.readline().rstrip("\n") == header, name

    mon = parse_monitor_lines(experiment_lines(spark, tree, "monitor.log"))
    stg = stage_metrics(
        parse_progress_lines(experiment_lines(spark, tree, "job_output.log"))
    )
    series = averaged_series(mon, "cpu")
    want = result_raw(stage_summary(stg), config_metric_mean(series, "cpu"))
    got = spark.read.csv(f"{out}/result_raw", header=True, schema=want.schema)

    def key(r):
        return (r["dataset"], r["slowstart"])

    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)

    datasets = {r["dataset"] for r in series.select("dataset").distinct().collect()}
    assert sorted(os.listdir(f"{out}/charts")) == sorted(
        f"averaged_cpu_{ds}.svg" for ds in datasets
    )


def test_cli_sweep(spark, capsys):
    rc = main(["sweep", "--sf-dir", SF_SMOKE, "--values", "4", "8"])
    assert rc == 0
    out = capsys.readouterr().out
    assert out.count("shuffle.partitions=") == 2
    assert "<- best" in out


def test_cli_clean_writes_partitioned_parquet(spark, tmp_path, capsys):
    """`clean` materializes the dedup+quality+split pipeline as
    split-partitioned parquet whose census equals the oracled
    pipeline_clean_corpus query."""
    out = str(tmp_path / "clean")
    rc = main(["clean", "--sf-dir", SF_SMOKE, "--output", out])
    assert rc == 0
    assert {os.path.basename(p) for p in glob.glob(out + "/split=*")} <= {
        "split=train",
        "split=val",
        "split=test",
    }
    printed = capsys.readouterr().out
    assert "train:" in printed
    # read back; census must match the registered query's totals
    from pyspark.sql import functions as F

    from mapreduce511_spark.queries.text import pipeline_clean_corpus

    back = spark.read.parquet(out)
    got = {
        (r.split,): (r.docs, r.toks)
        for r in back.groupBy("split")
        .agg(F.count("*").alias("docs"), F.sum("n_tok").alias("toks"))
        .collect()
    }
    want = {}
    for r in pipeline_clean_corpus(spark, SF_SMOKE).collect():
        d, t = want.get((r.split,), (0, 0))
        want[(r.split,)] = (d + r.n_docs, t + r.n_tokens)
    assert got == want


def test_cli_export_jsonl_round_trip(spark, tmp_path, capsys):
    out = str(tmp_path / "jsonl")
    rc = main(["export", "--sf-dir", SF_SMOKE, "--shards", "3", out])
    assert rc == 0
    assert "exported documents" in capsys.readouterr().out

    from mapreduce511_spark.sources.jsonl import read_jsonl
    from mapreduce511_spark.sources.tables import load_table

    n_orig = load_table(spark, SF_SMOKE, "documents").count()
    assert read_jsonl(spark, out, "documents").count() == n_orig


def test_cli_audit_clean_data_exits_zero(spark, capsys):
    rc = main(["audit", "--sf-dir", SF_SMOKE])
    assert rc == 0
    out = capsys.readouterr().out
    # all seven named checks print a zero-violation row on testdata
    assert out.count("\t0") == 7
    assert "orders_orphan_custkey" in out
