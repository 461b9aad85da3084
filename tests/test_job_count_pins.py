"""Job-count pins for the heavy single-query lines.

A warm run's Spark jobs are the query's own work: every fixture table's
schema comes from the catalog's schema memo, so no footer-scan inference
job rides along. The first run may still infer (a table this process has
not read yet), so each pin is taken on a second run. A higher count means
a per-read job crept back in; a lower one means a plan lost work and the
pin should be re-derived alongside the change that did it.
"""

from __future__ import annotations

import pytest

from serverless_mapreduce_spark.engine import Engine

WARM_JOBS = {
    "tpch_q2": 12,
    "tpch_q3": 4,
    "q3_top1": 3,
    "sort_by_value": 7,
}


@pytest.mark.parametrize("name", sorted(WARM_JOBS))
def test_warm_job_count(spark, sf_dir, name):
    engine = Engine(spark, sf_dir)
    engine.run_info(name)
    assert engine.run_info(name)["num_jobs"] == WARM_JOBS[name]
