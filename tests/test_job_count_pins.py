"""Job-count pins for the heavy single-query lines and the DML commits.

A warm run's Spark jobs are the query's own work: every fixture table's
schema comes from the catalog's schema memo, so no footer-scan inference
job rides along. The first run may still infer (a table this process has
not read yet), so each pin is taken on a second run. A higher count means
a per-read job crept back in; a lower one means a plan lost work and the
pin should be re-derived alongside the change that did it.

The copy-on-write DML lines (``snapshot_*`` merges and predicate DML,
``dedup_purge_rewrite``, ``stream_cdc_replication``) and the per-commit
pins below count the one DML kernel (``SnapshotTable._cow_dml``).
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.engine import Engine
from serverless_mapreduce_spark.sources.snapshots import SnapshotTable

WARM_JOBS = {
    "tpch_q2": 12,
    "tpch_q3": 4,
    "q3_top1": 3,
    "sort_by_value": 7,
    "snapshot_merge_upsert": 13,
    "snapshot_merge_conditional": 22,
    "snapshot_merge_sync": 13,
    "snapshot_merge_multi_clause": 13,
    "snapshot_merge_nmbs_flag": 13,
    "snapshot_sql_merge": 8,
    "snapshot_delete_where": 5,
    "snapshot_update_where": 5,
    "dedup_purge_rewrite": 8,
    "stream_cdc_replication": 24,
}


@pytest.mark.parametrize("name", sorted(WARM_JOBS))
def test_warm_job_count(spark, sf_dir, name):
    engine = Engine(spark, sf_dir)
    engine.run_info(name)
    assert engine.run_info(name)["num_jobs"] == WARM_JOBS[name]


def _jobs(spark, fn) -> tuple[int, object]:
    """Run ``fn`` in a fresh job group; (Spark jobs it ran, its result)."""
    sc = spark.sparkContext
    group = f"pins-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "job-count pin")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_dml_commit_job_counts(spark, sf_dir, tmp_path):
    """One commit of each DML the table_lifecycle bench runs, on a table of
    its shape: four orderkey-range appends with stats, then an upsert that
    rewrites 5 % of the keys and adds 2 % new ones, a predicate delete and
    a predicate update, all with change feed. The upsert batch's schema is
    resolved before the count starts (the bench reads it from parquet)."""
    stats = ("o_orderkey",)
    orders = table(spark, sf_dir, "orders").drop("o_orderdate")
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    cuts = [lo + i * (hi + 1 - lo) // 4 for i in range(4)] + [hi + 1]
    t = SnapshotTable(str(tmp_path / "t"))
    for a, b in zip(cuts, cuts[1:]):
        t.commit(orders.filter(F.col("o_orderkey").between(a, b - 1)), stats_cols=stats)
    batch = str(tmp_path / "upsert")
    orders.filter(F.col("o_orderkey") % 20 == 3).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 50 == 7).withColumn(
            "o_orderkey", F.col("o_orderkey") + hi
        )
    ).write.parquet(batch)
    updates = spark.read.parquet(batch)
    jobs, v = _jobs(
        spark,
        lambda: t.merge_upsert(spark, updates, ("o_orderkey",), stats_cols=stats, change_feed=True),
    )
    assert (v, jobs) == (5, 9)  # 15 before the one-kernel DML
    jobs, v = _jobs(
        spark,
        lambda: t.delete_where(
            spark, "o_orderpriority = '5-LOW' AND o_totalprice < 60000",
            stats_cols=stats, change_feed=True,
        ),
    )
    assert (v, jobs) == (6, 1)
    jobs, v = _jobs(
        spark,
        lambda: t.update_where(
            spark, "o_orderstatus = 'P' AND o_totalprice > 100000", {"o_orderstatus": "'F'"},
            stats_cols=stats, change_feed=True,
        ),
    )
    assert (v, jobs) == (7, 1)
