"""The correctness gate, locally: every registered query with an oracle is
compared against DuckDB at sf0.001 (fast) — the driver repeats this at
sf0.01. Queries without an oracle get a rows-materialize smoke check.
The DML lines whose rewrite matches no row at sf0.001 also run at sf0.01."""

from __future__ import annotations

import pytest

from serverless_mapreduce_spark.registry import all_oracles, all_queries
from serverless_mapreduce_spark.sources.snapshots import DEL_HI, DEL_LO
from tests.conftest import SF_DIR_CORRECTNESS
from tests.oracle import assert_matches_oracle, duck_con

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        n = assert_matches_oracle(df, ORACLES[name], sf_dir)
    else:
        n = df.count()
    assert n >= 0


#: lines that delete, update or merge the DEL_LO..DEL_HI custkey box of
#: orders. At sf0.001 o_custkey tops out at 149, so the 300..400 box holds
#: no row, the DML publishes nothing and the oracle checks an untouched
#: table; at sf0.01 the rewrite runs.
BOX_LINES = (
    "snapshot_delete_where",
    "snapshot_update_where",
    "snapshot_partition_dml_race",
    "snapshot_dv_delete_race",
    "snapshot_sql_merge",
    "snapshot_sql_dml_scoped",
    "snapshot_sql_time_travel",
)


def test_box_holds_rows_at_correctness_scale():
    """Without rows in the box the sf0.01 runs below check an untouched
    table too; the partitioned race merges into the box's '1-URGENT' rows."""
    n, urgent = duck_con(SF_DIR_CORRECTNESS).execute(
        f"SELECT COUNT(*), COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') "
        f"FROM orders WHERE o_custkey BETWEEN {DEL_LO} AND {DEL_HI}"
    ).fetchone()
    assert n >= 1 and urgent >= 1


@pytest.mark.parametrize("name", BOX_LINES)
def test_box_dml_matches_oracle_at_correctness_scale(spark, name):
    df = QUERIES[name](spark, SF_DIR_CORRECTNESS)
    assert assert_matches_oracle(df, ORACLES[name], SF_DIR_CORRECTNESS) >= 1


def test_every_query_has_oracle():
    # every registered query carries a DuckDB oracle. The two historical
    # holdouts now register deterministic contracts instead of raw output:
    # ann_ivf_kmeans_topk hashes its (q_id, rnk) shape (neighbor quality
    # gated in test_ivf_recall.py), approx_distinct_users hashes the
    # within-error-bound boolean (estimates gated in test_edge_cases.py).
    no_oracle = set(QUERIES) - set(ORACLES)
    assert not no_oracle, f"queries missing oracles: {no_oracle}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) == 1
    assert set(e.oracle_sql()) <= set(e.queries())
