"""The __main__ CLI: list/run/explain/oracle/schedule against a shared
session (main() takes injectable spark/out so no subprocess JVM)."""

from __future__ import annotations

import io
import json

from serverless_mapreduce_spark.__main__ import main


def test_cli_list(spark):
    out = io.StringIO()
    assert main(["list"], spark=spark, out=out) == 0
    names = out.getvalue().split()
    assert "tpch_q1" in names and len(names) > 100


def test_cli_run_prints_rows_and_report(spark, sf_dir):
    out = io.StringIO()
    rc = main(
        ["--sf-dir", sf_dir, "run", "q1_filter_scan", "--show", "3"],
        spark=spark,
        out=out,
    )
    assert rc == 0
    text = out.getvalue()
    # rows table first, then the report as an indented JSON object
    report = json.loads(text[text.index('{\n'):])
    rec = report["q1_filter_scan"]
    assert rec["runs"] == 1 and rec["succeeded"] == 1
    assert "\njvm archive: " in text[: text.index('{\n')]
    assert rec["task_time_ms"] >= 0 and rec["input_bytes"] > 0


def test_cli_explain_and_oracle(spark, sf_dir):
    out = io.StringIO()
    assert main(["--sf-dir", sf_dir, "explain", "tpch_q1"], spark=spark, out=out) == 0
    assert "Physical Plan" in out.getvalue() or "Exchange" in out.getvalue()

    out2 = io.StringIO()
    assert main(["oracle", "tpch_q1"], spark=spark, out=out2) == 0
    assert "SELECT" in out2.getvalue().upper()


def test_cli_unknown_query(spark):
    out = io.StringIO()
    assert main(["run", "nope_not_here"], spark=spark, out=out) == 1
    assert "unknown query" in out.getvalue()


def test_cli_schedule_bounded(spark, sf_dir):
    out = io.StringIO()
    rc = main(
        ["--sf-dir", sf_dir, "schedule", "q1_filter_scan", "--every", "0.2",
         "--times", "2"],
        spark=spark,
        out=out,
    )
    assert rc == 0
    report = json.loads(out.getvalue()[out.getvalue().index('{\n'):])
    assert report["q1_filter_scan"]["runs"] == 2
