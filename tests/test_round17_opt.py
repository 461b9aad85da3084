"""Round-17 OPTIMIZATION pins: the fast paths must be byte-identical
to the paths they replace.

1. `_lift_stats_inline` (driver-side stats lift for tiny commits) must
   produce the SAME manifest entries (rows, min/max stats, bloom
   bitmaps) as the distributed stats jobs it short-circuits, including
   NULL handling and all-NULL files.
2. The one-job MERGE duplicate-key check (count_distinct over a struct
   of the key columns) must treat NULL keys exactly like the two-pass
   `distinct().count()` it replaced: NULL keys compare EQUAL to each
   other for the duplicate check (grouping semantics), so two all-NULL
   key rows are duplicates, while one NULL-key row passes and inserts.
"""

from __future__ import annotations

import pytest

from serverless_mapreduce_spark.sources.snapshots import SnapshotTable


def _entries_views(entries):
    """Comparable view of manifest entries: (rows, stats, bloom) per
    file, in sorted-path order (paths/commit dirs differ per write)."""
    return [
        (
            e.get("rows"),
            e.get("stats"),
            e.get("bloom"),
            e.get("partitions"),
        )
        for e in sorted(entries, key=lambda e: e["path"])
    ]


@pytest.fixture()
def _tbl(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(0, "seed")], "k BIGINT, s STRING"))
    return t


def test_inline_stats_lift_matches_distributed_path(
    spark, _tbl, monkeypatch
):
    """Same tiny batch through both stats paths -> identical entries.

    The batch exercises: several files (repartitionByRange), NULLs in a
    stats column, an ALL-NULL bloom column in one file (must record an
    EMPTY bitmap, not a missing one), int and string stats columns."""
    df = spark.createDataFrame(
        [
            (1, "alpha", 10),
            (2, "bravo", None),
            (3, None, 30),
            (4, "delta", 40),
            (50, "echo", 50),
            (60, None, None),
        ],
        "k BIGINT, s STRING, v BIGINT",
    ).repartitionByRange(3, "k")

    assert SnapshotTable.STATS_INLINE_BYTES_CAP > 0
    inline = _tbl._write_data(df, ("k", "s", "v"), ("s",))
    # sanity: the inline path actually fired for this batch
    called = {"n": 0}
    orig = SnapshotTable._lift_stats_inline

    def spy(self, *a, **kw):
        out = orig(self, *a, **kw)
        called["n"] += out
        return out

    monkeypatch.setattr(SnapshotTable, "_lift_stats_inline", spy)
    inline2 = _tbl._write_data(df, ("k", "s", "v"), ("s",))
    assert called["n"] == 1, "inline lift did not fire on a tiny batch"
    assert _entries_views(inline) == _entries_views(inline2)

    # force the distributed path and compare
    monkeypatch.setattr(SnapshotTable, "_lift_stats_inline", orig)
    monkeypatch.setattr(SnapshotTable, "STATS_INLINE_BYTES_CAP", -1)
    dist = _tbl._write_data(df, ("k", "s", "v"), ("s",))
    assert _entries_views(inline) == _entries_views(dist)


def test_inline_lift_declines_unsafe_types(spark, _tbl, monkeypatch):
    """Floats (NaN ordering) and timestamps must keep the Spark path:
    the inline lift returns False and the distributed jobs run."""
    df = spark.createDataFrame(
        [(1, 1.5), (2, float("nan"))], "k BIGINT, x DOUBLE"
    ).coalesce(1)
    fired = {"n": 0}
    orig = SnapshotTable._lift_stats_inline

    def spy(self, *a, **kw):
        out = orig(self, *a, **kw)
        fired["n"] += out
        return out

    monkeypatch.setattr(SnapshotTable, "_lift_stats_inline", spy)
    ents = _tbl._write_data(df, ("x",), ())
    assert fired["n"] == 0
    assert all("stats" in e for e in ents)


def test_inline_lift_partitioned_write_parity(spark, _tbl, monkeypatch):
    """partition_by writes place files under partition dirs; the inline
    lift must still read each file and match the distributed entries
    (including the parsed partition values)."""
    df = spark.createDataFrame(
        [(1, "a", "g1"), (2, "b", "g1"), (3, "c", "g2")],
        "k BIGINT, s STRING, g STRING",
    )
    inline = _tbl._write_data(df, ("k",), ("k",), ("g",))
    monkeypatch.setattr(SnapshotTable, "STATS_INLINE_BYTES_CAP", -1)
    dist = _tbl._write_data(df, ("k",), ("k",), ("g",))
    assert _entries_views(inline) == _entries_views(dist)


def test_merge_dup_check_null_key_parity(spark, tmp_path):
    """Two NULL-key source rows are DUPLICATES (grouping equality, the
    distinct().count() semantics); a single NULL-key row passes and
    inserts (join equality with NULL matches nothing)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, 10), (2, 20)], "k BIGINT, v BIGINT"))

    dup_null = spark.createDataFrame(
        [(None, 1), (None, 2)], "k BIGINT, v BIGINT"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(spark, dup_null, ("k",))
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_upsert(spark, dup_null, ("k",))

    one_null = spark.createDataFrame(
        [(None, 99), (1, 11)], "k BIGINT, v BIGINT"
    )
    v = t.merge_into(spark, one_null, ("k",))
    rows = {
        (r.k if r.k is not None else None): r.v
        for r in t.read(spark, v).collect()
    }
    assert rows == {1: 11, 2: 20, None: 99}


def test_merge_into_two_key_null_dup_parity(spark, tmp_path):
    """Composite keys: (1, NULL) twice is a duplicate; (1, NULL) and
    (NULL, 1) are distinct — count_distinct(struct(...)) must agree
    with distinct().count() on both."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame([(1, 1, 10)], "a BIGINT, b BIGINT, v BIGINT")
    )
    dup = spark.createDataFrame(
        [(1, None, 5), (1, None, 6)], "a BIGINT, b BIGINT, v BIGINT"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(spark, dup, ("a", "b"))
    ok = spark.createDataFrame(
        [(1, None, 5), (None, 1, 6)], "a BIGINT, b BIGINT, v BIGINT"
    )
    v = t.merge_into(spark, ok, ("a", "b"))
    assert t.read(spark, v).count() == 3  # both inserted, original kept


def test_bpe_merges_memo_hit_and_parity(spark, sf_dir):
    """The session merge-list artifact (``bpe_merges``) must return the
    trainer's exact output on a cold build, and the three BPE queries
    must share one training per (session, sf_dir): a second call is a
    memo hit (same object, no recompute)."""
    from serverless_mapreduce_spark import artifacts
    from serverless_mapreduce_spark.operators import nlp

    artifacts.clear("bpe_merges")
    assert not nlp._trained_merges.built(spark, sf_dir)
    cold = nlp._trained_merges(spark, sf_dir)
    assert nlp._trained_merges.built(spark, sf_dir)  # the cold call built
    warm = nlp._trained_merges(spark, sf_dir)
    assert warm is cold  # memo hit — training ran once
    # parity with an independent, memo-free training on a fresh frame
    from pyspark.sql import functions as F
    from serverless_mapreduce_spark.catalog import table
    from serverless_mapreduce_spark.operators.nlp import (
        TOKEN_SPLIT_RE,
        _learn_merges,
    )

    wf = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), TOKEN_SPLIT_RE)).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(F.regexp_replace("w", "(.)", " $1 ").alias("seq"), "freq")
    ).localCheckpoint(eager=True)
    assert cold == _learn_merges(wf)
