"""The artifact memo (``artifacts.py``): a repeat call with the same key
runs no Spark job, a changed ``spark.sql.shuffle.partitions`` rebuilds, and
rewriting a declared input in place rebuilds every artifact that depends on
it, to the same result as a fresh build. All tests share one copy of the
sf0.001 fixtures under a temporary directory; the rewrite test runs last
because it halves that copy.
"""

from __future__ import annotations

import os
import shutil
import uuid

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame

import __spark_entry__
from serverless_mapreduce_spark import artifacts
from serverless_mapreduce_spark.operators.graph import EDGES_SQL


def _jobs(spark, fn) -> tuple[int, object]:
    """Run ``fn`` in a fresh job group; (Spark jobs it ran, its result)."""
    sc = spark.sparkContext
    group = f"artifacts-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "artifact memo test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _summary(spark, value):
    """A comparable fingerprint of an artifact's value: the row count of a
    DataFrame or of each directory it wrote, the value itself otherwise."""
    if isinstance(value, DataFrame):
        return value.count()
    paths = (value,) if isinstance(value, str) else value
    if isinstance(paths, tuple) and paths and all(
        isinstance(p, str) and os.path.isdir(p) for p in paths
    ):
        counts = []
        for p in paths:
            files = [f for _, _, fs in os.walk(p) for f in fs]
            fmt = "parquet" if any(f.endswith(".parquet") for f in files) else "text"
            counts.append(spark.read.format(fmt).load(p).count())
        return tuple(counts)
    return value


@pytest.fixture(scope="module")
def arts():
    __spark_entry__.queries()  # imports every operator module
    found = artifacts.all()
    assert {a.name for a in found} >= {
        "graph_edges",
        "graph_triangle_scalars",
        "ivf_ranked",
        "lineitem_bkt",
        "orders_bkt",
        "dedup_verified_pairs",
        "bpe_merges",
        "dsir_scores",
    }
    return found


@pytest.fixture(scope="module")
def built(spark, sf_dir, arts, tmp_path_factory):
    """A private copy of the fixtures, with every artifact built on it."""
    sf = tmp_path_factory.mktemp("artifacts") / "sf0.001"
    shutil.copytree(sf_dir, sf)
    sf = str(sf)
    return sf, {a.name: _summary(spark, a(spark, sf)) for a in arts}


def test_repeat_call_runs_no_job(spark, arts, built):
    sf, _ = built
    for a in arts:
        assert a.built(spark, sf), a.name
        n, _ = _jobs(spark, lambda: a(spark, sf))
        assert n == 0, a.name


def test_changed_shuffle_partitions_rebuilds(spark, arts, built):
    sf, first = built
    ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "3")
    for a in arts:
        assert not a.built(ss, sf), a.name
        n, value = _jobs(spark, lambda: a(ss, sf))
        assert n > 0, a.name
        assert _summary(ss, value) == first[a.name], a.name
        assert a.built(spark, sf), a.name  # the first setting's entry stays
    for a in arts:  # a table rebuilt from ``ss`` reads fine in ``spark``
        assert _summary(spark, a(spark, sf)) == first[a.name], a.name


def _halve(path: str) -> None:
    """Rewrite ``path`` in place with its first half of rows."""
    t = pq.read_table(path)
    before = os.stat(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)
    if os.stat(path).st_mtime_ns == before.st_mtime_ns:
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 1_000_000))


def test_rewritten_input_rebuilds_every_dependent_artifact(spark, arts, built):
    sf, before = built
    for t in sorted({t for a in arts for t in a.inputs}):
        _halve(os.path.join(sf, f"{t}.parquet"))
    for a in arts:
        assert not a.built(spark, sf), a.name

    after = {a.name: _summary(spark, a(spark, sf)) for a in arts}
    artifacts.clear()
    fresh = {a.name: _summary(spark, a(spark, sf)) for a in arts}
    assert after == fresh

    # the rewrite changed these results, so a stale memo would show
    for name in ("graph_edges", "graph_triangle_scalars", "ivf_ranked",
                 "lineitem_bkt", "orders_bkt"):
        assert after[name] != before[name], name
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf}/lineitem.parquet')"
    )
    n_edges = con.execute(f"WITH {EDGES_SQL} SELECT COUNT(*) FROM edges").fetchone()[0]
    assert after["graph_edges"] == n_edges
    assert after["lineitem_bkt"] == con.execute(
        "SELECT COUNT(*) FROM lineitem"
    ).fetchone()[0]
