"""The bucketed co-located join must not shuffle either join side: the
bucket layout replaces the per-query Exchange (the point of paying the
bucketed write once)."""

from __future__ import annotations

from serverless_mapreduce_spark.operators.relational import (
    _lineitem_bkt,
    _orders_bkt,
    join_bucketed_colocated,
)
from serverless_mapreduce_spark.paths import sf_tag


def test_bucketed_join_has_no_exchange_on_join_inputs(spark, sf_dir):
    df = join_bucketed_colocated(spark, sf_dir)
    df.collect()  # materialize so the adaptive plan is final
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE appends the pre-AQE plan
    assert "SortMergeJoin" in final, final
    # Both join inputs read the bucket layout directly …
    assert final.count("Bucketed: true") == 2, final
    assert final.count("SelectedBucketsCount: 8 out of 8") == 2, final
    # … so the ONLY exchange in the plan is the final groupBy re-key.
    assert final.count("Exchange") <= 1, final


def test_bucketed_tables_are_reused(spark, sf_dir):
    for bkt in (_orders_bkt, _lineitem_bkt):
        first = bkt(spark, sf_dir)
        assert bkt.built(spark, sf_dir)  # second call: no rewrite
        again = bkt(spark, sf_dir)
        assert spark.catalog.tableExists(f"{bkt.name}_{sf_tag(sf_dir)}")
        assert first.count() == again.count() > 0
