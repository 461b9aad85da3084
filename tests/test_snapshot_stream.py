"""Snapshot table as a streaming SOURCE (round 12): version-offset
micro-batches, checkpointed resume, refusal of non-append history,
ignoreDeletes gating, schema-evolution alignment, and the sink+source
composition (one table simultaneously written by one stream and read by
another)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import StreamingQueryException

from serverless_mapreduce_spark.sources.snapshot_stream import read_stream
from serverless_mapreduce_spark.sources.snapshots import SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _drain_to(spark, base, ckpt, rows: list, **options):
    def sink(batch_df, batch_id):
        rows.extend((r.k, batch_id) for r in batch_df.collect())

    (
        read_stream(spark, base, **options)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def test_resume_consumes_only_new_versions(spark, tmp_path):
    base, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t = SnapshotTable(base)
    t.commit(_df(spark, 0, 5))
    t.commit(_df(spark, 5, 8))
    rows: list = []
    _drain_to(spark, base, ckpt, rows)
    assert sorted(k for k, _ in rows) == list(range(8))
    # no new commits: a re-drain over the same checkpoint adds nothing
    _drain_to(spark, base, ckpt, rows)
    assert len(rows) == 8
    # new version: only its rows arrive (the cursor resumed, no re-read)
    t.commit(_df(spark, 8, 10))
    _drain_to(spark, base, ckpt, rows)
    assert sorted(k for k, _ in rows) == list(range(10))
    assert sorted(k for k, _ in rows[8:]) == [8, 9]


def test_fresh_stream_reads_history_from_starting_version(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_df(spark, 0, 4))
    t.commit(_df(spark, 4, 6))
    rows: list = []
    _drain_to(spark, base, str(tmp_path / "c1"), rows)
    assert sorted(k for k, _ in rows) == list(range(6))
    # startingVersion=1 skips version 1's files
    rows2: list = []
    _drain_to(
        spark, base, str(tmp_path / "c2"), rows2, startingVersion="1"
    )
    assert sorted(k for k, _ in rows2) == [4, 5]


def test_non_append_history_fails_loudly(spark, tmp_path):
    base, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t = SnapshotTable(base)
    t.commit(_df(spark, 0, 4))
    rows: list = []
    _drain_to(spark, base, ckpt, rows)
    t.commit(_df(spark, 100, 104), mode="overwrite")
    with pytest.raises(StreamingQueryException, match="overwrite"):
        _drain_to(spark, base, ckpt, rows)
    assert len(rows) == 4  # nothing half-streamed


def test_mor_delete_commits_gated_on_ignore_deletes(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_df(spark, 0, 6))
    rows: list = []
    _drain_to(spark, base, str(tmp_path / "c1"), rows)
    t.delete_keys_mor(spark, _df(spark, 0, 2), ("k",))
    with pytest.raises(StreamingQueryException, match="delete-mor"):
        _drain_to(spark, base, str(tmp_path / "c1"), rows)
    # with the option: the delete commit is skipped, no retraction, and a
    # later append still streams
    rows2 = list(rows)
    _drain_to(spark, base, str(tmp_path / "c1"), rows2, ignoreDeletes="true")
    assert len(rows2) == 6
    t.commit(_df(spark, 6, 8))
    _drain_to(spark, base, str(tmp_path / "c1"), rows2, ignoreDeletes="true")
    assert sorted(k for k, _ in rows2) == list(range(8))


def test_schema_evolution_aligns_old_files_with_nulls(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_df(spark, 0, 3))
    t.commit(_df(spark, 3, 5).withColumn("tag", F.lit("new")))
    got: list = []

    def sink(batch_df, batch_id):
        got.extend((r.k, r.tag) for r in batch_df.collect())

    (
        read_stream(spark, base)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(got) == [
        (0, None), (1, None), (2, None), (3, "new"), (4, "new"),
    ]


def test_sink_source_composition_on_one_table(spark, tmp_path):
    """A table written by commit_stream_batch is simultaneously a valid
    stream source: downstream sees exactly the ingested rows, and a second
    ingest round flows through incrementally."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    for b in range(2):
        t.commit_stream_batch(_df(spark, b * 10, b * 10 + 10), "ingest", b)
    rows: list = []
    _drain_to(spark, base, str(tmp_path / "ckpt"), rows)
    assert sorted(k for k, _ in rows) == sorted(
        list(range(0, 10)) + list(range(10, 20))
    )
    # replayed ingest batch publishes nothing -> stream sees nothing
    t.commit_stream_batch(_df(spark, 0, 10), "ingest", 1)
    _drain_to(spark, base, str(tmp_path / "ckpt"), rows)
    assert len(rows) == 20
    # genuinely new ingest batch flows through
    t.commit_stream_batch(_df(spark, 20, 25), "ingest", 2)
    _drain_to(spark, base, str(tmp_path / "ckpt"), rows)
    assert sorted(k for k, _ in rows) == list(range(25))


def test_starting_version_validated_at_stream_definition(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_df(spark, 0, 3))
    rows: list = []
    with pytest.raises(StreamingQueryException, match="startingVersion"):
        _drain_to(spark, base, str(tmp_path / "c1"), rows, startingVersion="7")
    assert not rows


def test_partitions_plan_is_o_delta_on_append_history(
    spark, tmp_path, monkeypatch
):
    """r12 review: with an append-only range, the planner diffs the two
    manifests' ref lists and opens ONLY the delta's segments — never the
    standing table's. Drives the reader class in-process (the engine runs
    it in a separate data-source worker where a spy can't see)."""
    from serverless_mapreduce_spark.sources import snapshots as snapmod
    from serverless_mapreduce_spark.sources.snapshot_stream import (
        SnapshotStreamReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    for i in range(7):
        t.commit(_df(spark, i * 10, i * 10 + 10))
    want = set(t._files(7)) - set(t._files(6))
    calls: list = []
    orig = snapmod.SnapshotTable._seg_entries

    def spy(self, ref):
        calls.append(ref)
        return orig(self, ref)

    monkeypatch.setattr(snapmod.SnapshotTable, "_seg_entries", spy)
    reader = SnapshotStreamReader({"path": base}, t._schema(7))
    parts = reader.file_plan({"version": 6}, {"version": 7})
    # partition payload is (path, change_type) since the r13 change feed
    assert {p.value[0] for p in parts} == want and want
    # only the ONE new segment was opened to plan the delta
    assert len(set(calls)) == 1


def test_max_versions_per_trigger_bounds_backfill_batches(spark, tmp_path):
    """Admission control (in-process — availableNow captures ONE end
    offset for the whole run, so only processing-time triggers see the
    per-trigger cap): a from-the-start catch-up over a 5-version history
    with maxVersionsPerTrigger=2 advances the offset 2 versions per
    trigger, each batch planning at most 2 versions' files, and reaches
    the head in ceil(5/2)=3 steps."""
    from serverless_mapreduce_spark.sources.snapshot_stream import (
        SnapshotStreamReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    for i in range(5):
        t.commit(_df(spark, i * 10, i * 10 + 10))
    reader = SnapshotStreamReader(
        {"path": base, "maxVersionsPerTrigger": "2"}, t._schema(5)
    )
    cur = reader.initialOffset()
    assert cur == {"version": 0}
    seen: list[int] = []
    steps = 0
    while True:
        end = reader.latestOffset()
        if end == cur:
            break
        assert end["version"] - cur["version"] <= 2
        parts = reader.file_plan(cur, end)
        assert len(parts) <= 2 * len(t._files(1))
        reader.commit(end)
        seen.append(end["version"])
        cur = end
        steps += 1
    assert seen == [2, 4, 5] and steps == 3
    # uncapped reader reaches the head in one step
    r2 = SnapshotStreamReader({"path": base}, t._schema(5))
    r2.initialOffset()
    assert r2.latestOffset() == {"version": 5}


def test_sources_read_columns_that_need_quoting(spark, tmp_path):
    """Column names that are not bare identifiers (a space, a dot) reach
    both snapshot sources intact: the declared schema is a StructType, so
    no name goes through a DDL parse. A batch read, a change-feed batch
    read and an availableNow drain all return the committed rows."""
    from serverless_mapreduce_spark.sources.snapshot_batch import register

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        spark.range(0, 4).select(
            F.col("id").alias("order id"), (F.col("id") * 10).alias("v.w")
        )
    )
    want = [(k, k * 10) for k in range(4)]
    # the batch reader implements pushFilters, which Spark refuses to
    # call unless this is on (the test_snapshot_batch.py setup)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    batch = spark.read.format("snapshot").option("path", base).load()
    assert batch.columns == ["order id", "v.w"]
    assert sorted(tuple(r) for r in batch.collect()) == want
    feed = (
        spark.read.format("snapshot")
        .option("path", base)
        .option("readChangeFeed", "true")
        .load()
    )
    assert sorted(tuple(r)[:2] for r in feed.collect()) == want
    rows: list = []

    def sink(batch_df, batch_id):
        rows.extend(tuple(r) for r in batch_df.collect())

    sdf = read_stream(spark, base)
    assert sdf.columns == ["order id", "v.w"]
    (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(rows) == want
