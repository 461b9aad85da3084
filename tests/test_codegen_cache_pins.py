"""Warm runs compile no Java: codegen-cache pins.

A query's whole-stage and expression code is compiled to Java classes once
and kept in Spark's codegen cache (``spark.sql.codegen.cache.maxEntries``,
sized in ``session.get_spark``). A warm run of a plan whose classes are
still cached compiles nothing. When the cache is smaller than the classes
a workload cycles through, its LRU evicts every class before its next use
and each warm pass compiles them all again: at Spark's default of 100
entries, a pass of the benchmark's 13-query mix compiled ~145 classes cold
and 140 on every warm pass.

Counts are Spark's process-wide codegen counters
(``monitoring.codegen_counters``), the same deltas ``engine.QueryRun``
records per run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.engine import Engine
from serverless_mapreduce_spark.monitoring import codegen_counters
from serverless_mapreduce_spark.session import CODEGEN_CACHE_ENTRIES
from serverless_mapreduce_spark.sources.snapshots import SnapshotTable

#: the benchmark's query_mix workload: registered queries, one pass
QUERY_MIX = (
    "q1_filter_scan",
    "q2_groupby_sum",
    "q2b_substr_groupby_sum",
    "q3_join",
    "q3_top1",
    "sort_by_value",
    "word_count",
    "url_count",
    "tpch_q1",
    "tpch_q3",
    "tpch_q2",
    "facade_word_count",
    "facade_groupby_sum",
)

#: distinct classes one cold pass of every registered query compiled at
#: sf0.001 at local[4] (with a cache that never evicted); the cache must
#: hold them
REGISTRY_COLD_CLASSES = 4248


def test_cache_holds_a_registry_pass(spark):
    size = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    assert size >= CODEGEN_CACHE_ENTRIES > REGISTRY_COLD_CLASSES


def test_warm_query_mix_pass_compiles_nothing(spark, sf_dir):
    """Two back-to-back passes of the mix: the second compiles at most
    5 % of the first's classes, or at most 7 when earlier tests already
    warmed the first."""
    engine = Engine(spark, sf_dir)

    def one_pass() -> int:
        return sum(engine.run_info(name)["codegen_compiles"] for name in QUERY_MIX)

    first = one_pass()
    second = one_pass()
    assert second <= max(0.05 * first, 7), (first, second)


def test_profile_orders_third_run_compiles_nothing(spark, sf_dir):
    """The profile's distinct counts plan the same on every run. Five
    ``countDistinct`` aggregates in one ``agg`` did not: Spark's
    multi-distinct rewrite orders its expand by a hash of the columns'
    expression ids, new on every run, so each run recompiled ~10 classes
    (34, 11, 10 in one session)."""
    engine = Engine(spark, sf_dir)
    compiles = [engine.run_info("profile_orders")["codegen_compiles"] for _ in range(3)]
    assert compiles[2] == 0, compiles


def test_corpus_datacard_warm_runs_compile_nothing(spark, sf_dir):
    """The data card's three distinct counts go through the same explicit
    two-level aggregate as profile_orders. As three ``countDistinct`` in
    one ``agg`` a run recompiled ~4 classes whenever the expand came out
    in an order no earlier run had used (5, 4, 0, ... in one session), so
    every run after the first is pinned, not only the third."""
    engine = Engine(spark, sf_dir)
    compiles = [engine.run_info("corpus_datacard")["codegen_compiles"] for _ in range(5)]
    assert compiles[1:] == [0, 0, 0, 0], compiles


def test_persistent_index_warm_runs_compile_nothing(spark, sf_dir):
    """AQE numbers codegen stages in the order they materialize, which
    varies with task timing when a plan has independent branches (here
    the two probe batches of the persistent index). With the stage id in
    the generated class name, the same pipeline under another id compiled
    again (76, 4, 6, 0, ... in one session); the session leaves the id
    out of the name, so runs 2-5 compile nothing."""
    engine = Engine(spark, sf_dir)
    compiles = [engine.run_info("dedup_persistent_index")["codegen_compiles"] for _ in range(5)]
    assert compiles[1:] == [0, 0, 0, 0], compiles


def _lifecycle_table(spark, sf_dir, root) -> tuple[SnapshotTable, int, int]:
    """The benchmark's table_lifecycle shape: four orderkey-range appends
    with stats, then an upsert, a predicate delete and a predicate update,
    all with change feed. Returns (table, last append, head)."""
    stats = ("o_orderkey",)
    orders = table(spark, sf_dir, "orders").drop("o_orderdate")
    lo, hi = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).first()
    cuts = [lo + i * (hi + 1 - lo) // 4 for i in range(4)] + [hi + 1]
    t = SnapshotTable(str(root))
    for a, b in zip(cuts, cuts[1:]):
        appended = t.commit(orders.filter(F.col("o_orderkey").between(a, b - 1)), stats_cols=stats)
    t.merge_upsert(
        spark,
        orders.filter(F.col("o_orderkey") % 20 == 3)
        .withColumn("o_totalprice", F.col("o_totalprice") + 1)
        .unionByName(
            orders.filter(F.col("o_orderkey") % 50 == 7).withColumn("o_orderkey", F.col("o_orderkey") + hi)
        ),
        ("o_orderkey",),
        stats_cols=stats,
        change_feed=True,
    )
    t.delete_where(
        spark, "o_orderpriority = '5-LOW' AND o_totalprice < 60000",
        stats_cols=stats, change_feed=True,
    )
    head = t.update_where(
        spark, "o_orderstatus = 'P' AND o_totalprice > 100000", {"o_orderstatus": "'F'"},
        stats_cols=stats, change_feed=True,
    )
    return t, appended, head


def test_read_changes_on_a_fresh_table_compiles_nothing(spark, sf_dir, tmp_path):
    """Each table's commits carry their own commit times; the change feed's
    generated code must not depend on them, or every new table's first
    ``read_changes`` compiles fresh classes."""

    def feed(t, a, b) -> tuple[int, list]:
        before = codegen_counters(spark)[0]
        rows = (
            t.read_changes(spark, a, b)
            .groupBy("_change_type", "_commit_version", "_commit_timestamp")
            .count()
            .collect()
        )
        compiles = codegen_counters(spark)[0] - before
        for ctype, v, ts, _ in rows:
            assert ts == t._manifest_body(v)["ts"], (ctype, v)
        return compiles, sorted((ctype, v, n) for ctype, v, _, n in rows)

    t1, a1, h1 = _lifecycle_table(spark, sf_dir, tmp_path / "t1")
    _, want = feed(t1, a1, h1)
    t2, a2, h2 = _lifecycle_table(spark, sf_dir, tmp_path / "t2")
    compiles, got = feed(t2, a2, h2)
    assert compiles == 0
    assert got == want
    assert {r[0] for r in got} == {"insert", "delete", "update_preimage", "update_postimage"}
