"""Engine run/status surface: per-run metrics are captured, failures are
recorded, and the registry listing matches the driver contract."""

from __future__ import annotations

import pytest

from serverless_mapreduce_spark.engine import Engine
from serverless_mapreduce_spark.session import jvm_archive_state


def test_engine_lists_registered_queries(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    names = eng.queries()
    assert "q1_filter_scan" in names and "dedup_exact" in names
    import __spark_entry__ as entry

    assert names == list(entry.queries())


def test_engine_run_records_metrics(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    eng.run("q1_filter_scan")
    eng.run("dedup_exact")
    eng.run("q1_filter_scan")

    st = eng.status("q1_filter_scan")["q1_filter_scan"]
    assert len(st) == 2
    for rec in st:
        assert rec["status"] == "SUCCEEDED"
        assert rec["rows"] > 0
        assert rec["wall_s"] > 0
        assert rec["num_jobs"] >= 1
        assert rec["num_tasks"] >= 1
        assert rec["error"] is None
    assert set(eng.status()) == {"q1_filter_scan", "dedup_exact"}
    # the repeat run's generated classes are still in the codegen cache,
    # and the JVM classes its plan needs are loaded: a warm run loads a
    # few dozen at most (a cold one thousands)
    assert st[1]["codegen_compiles"] == 0
    assert st[1]["codegen_compile_ms"] == 0
    assert 0 <= st[1]["jvm_classes_loaded"] < 100
    assert st[1]["jvm_jit_ms"] >= 0
    # the JIT code cache's level rides every record: JIT-compiled code
    # from the session so far, under the JVM's reserved cache size
    assert all(0 < r["jvm_code_cache_mb"] < 2048 for r in st)
    # the session's class-data archive state rides every run record
    assert {r["jvm_archive"] for r in st} == {jvm_archive_state()}
    assert jvm_archive_state() in ("mapped", "recording", "off")


def test_engine_run_records_codegen_compiles(spark, sf_dir):
    """A plan with a literal no earlier plan had compiles fresh classes
    (Spark inlines a long literal into the generated Java) and the run
    record counts them with their compile time; the same plan again is
    served from the codegen cache and compiles none."""
    import uuid

    import serverless_mapreduce_spark.registry as registry

    k = uuid.uuid4().int % (1 << 40) + 2
    registry._QUERIES["_fresh_literal"] = lambda s, d: s.range(64).selectExpr(f"id * {k} AS x")
    registry._PRIORITY["_fresh_literal"] = 999
    eng = Engine(spark, sf_dir)
    try:
        cold = eng.run_info("_fresh_literal")
        warm = eng.run_info("_fresh_literal")
    finally:
        registry._QUERIES.pop("_fresh_literal", None)
        registry._PRIORITY.pop("_fresh_literal", None)
    assert cold["codegen_compiles"] >= 1
    assert cold["codegen_compile_ms"] > 0
    assert (warm["codegen_compiles"], warm["codegen_compile_ms"]) == (0, 0)


def test_engine_records_failures(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    with pytest.raises(KeyError):
        eng.run("no_such_query")
    # Unknown names never reach a run record; a failing query does.
    import serverless_mapreduce_spark.registry as registry

    registry._QUERIES.setdefault("_boom", lambda s, d: 1 / 0)
    registry._PRIORITY.setdefault("_boom", 999)
    try:
        with pytest.raises(ZeroDivisionError):
            eng.run("_boom")
    finally:
        registry._QUERIES.pop("_boom", None)
        registry._PRIORITY.pop("_boom", None)
    rec = eng.status("_boom")["_boom"][0]
    assert rec["status"] == "FAILED"
    assert "ZeroDivisionError" in rec["error"]


def test_engine_explain_returns_physical_plan(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    plan = eng.explain("q1_filter_scan")
    assert "Physical Plan" in plan
    assert "Scan parquet" in plan or "FileScan" in plan


def test_engine_cost_report_fields(spark, sf_dir):
    """The E17 substitute: a run captures executor task time and bytes
    moved from the driver's status store; report() aggregates per query.
    q2_groupby_sum both scans parquet and shuffles, so input bytes and
    shuffle write must be non-zero."""
    eng = Engine(spark, sf_dir)
    eng.run("q2_groupby_sum")
    rec = eng.status("q2_groupby_sum")["q2_groupby_sum"][0]
    assert rec["task_time_ms"] > 0
    assert rec["input_bytes"] > 0
    assert rec["shuffle_write_bytes"] > 0

    rep = eng.report()["q2_groupby_sum"]
    assert rep["runs"] == rep["succeeded"] == 1
    assert rep["task_time_ms"] == rec["task_time_ms"]
    assert rep["shuffle_read_bytes"] == rec["shuffle_read_bytes"]
    assert rep["input_bytes"] == rec["input_bytes"]


def test_engine_schedule_runs_and_cancels(spark, sf_dir):
    """schedule() = the reference's cron schedule-job endpoint in-process:
    ticks land in the same run history, max_runs self-stops, cancel stops
    an unbounded loop."""
    eng = Engine(spark, sf_dir)
    job = eng.schedule("q1_filter_scan", every_s=0.05, max_runs=2)
    job.join(timeout=120)
    assert not job.active
    assert job.runs == 2
    assert len(eng.status("q1_filter_scan")["q1_filter_scan"]) == 2

    forever = eng.schedule("q1_filter_scan", every_s=3600)
    assert forever.active
    forever.cancel()
    forever.join(timeout=10)
    assert not forever.active
