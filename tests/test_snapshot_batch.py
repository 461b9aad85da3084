"""Pins for the batch ``spark.read.format("snapshot")`` DataSource
(r13 verdict item 2): pushed-filter planning equals the library's
``plan_files`` pruning, time travel resolves, merge-on-read deletes
apply inside the source, and schema evolution surfaces NULLs through
the Arrow read path."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

from serverless_mapreduce_spark.sources.snapshot_batch import (
    SnapshotBatchReader,
    register,
)
from serverless_mapreduce_spark.sources.snapshots import SnapshotTable


def _pkv(spark, triples):
    return spark.createDataFrame(list(triples), "p string, k bigint, v bigint")


def _pushdown_session(spark):
    # caller session, not a clone: Python DS registration is name-scoped
    # per JVM and clones break once any session registered (r14 bisect)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    return spark


def test_pushed_partition_filter_matches_plan_files(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("c", 4, 40)]),
        partition_by=("p",),
    )
    reader = SnapshotBatchReader({"path": base}, t._schema(1))
    residual = list(reader.pushFilters([EqualTo(("p",), "b")]))
    assert len(residual) == 1  # every filter is returned for row-level eval
    planned = [p.value[0] for p in reader.file_plan()]
    lib, _total = t.plan_files(1, partition_eq={"p": "b"})
    assert sorted(planned) == sorted(lib)
    assert len(planned) < 4  # really pruned


def test_pushed_range_filter_matches_plan_files(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    for lo in (0, 100, 200):
        t.commit(
            _pkv(spark, [("x", lo + i, lo + i) for i in range(4)]).coalesce(1),
            stats_cols=("k",),
        )
    head = t.latest_version()
    reader = SnapshotBatchReader({"path": base}, t._schema(head))
    residual = list(
        reader.pushFilters(
            [GreaterThanOrEqual(("k",), 100), LessThan(("k",), 150)]
        )
    )
    assert len(residual) == 2
    planned = [p.value[0] for p in reader.file_plan()]
    lib, _total = t.plan_files(head, where=("k", 100, 150))
    assert sorted(planned) == sorted(lib)
    assert len(planned) == 1  # only the middle commit's file


def test_batch_source_end_to_end_with_mor_and_time_travel(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_pkv(spark, [("a", 1, 10), ("b", 2, 20)]), partition_by=("p",))
    t.commit(_pkv(spark, [("a", 3, 30), ("b", 4, 40)]), partition_by=("p",))
    t.delete_keys_mor(
        spark, spark.createDataFrame([(2,), (3,)], "k bigint"), ("k",)
    )
    s = _pushdown_session(spark)
    head = s.read.format("snapshot").option("path", base).load()
    assert sorted((r["k"], r["v"]) for r in head.collect()) == [
        (1, 10),
        (4, 40),
    ]
    # pushed partition filter composes with the in-source delete apply
    got = head.filter(F.col("p") == "b").collect()
    assert [(r["k"], r["v"]) for r in got] == [(4, 40)]
    v1 = (
        s.read.format("snapshot")
        .option("path", base)
        .option("versionAsOf", "1")
        .load()
    )
    assert sorted((r["k"], r["v"]) for r in v1.collect()) == [
        (1, 10),
        (2, 20),
    ]


def test_batch_source_schema_evolution_nulls(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    t.commit(
        spark.createDataFrame(
            [(2, 20, "x")], "k bigint, v bigint, w string"
        )
    )
    s = _pushdown_session(spark)
    rows = sorted(
        (r["k"], r["v"], r["w"])
        for r in s.read.format("snapshot").option("path", base).load().collect()
    )
    assert rows == [(1, 10, None), (2, 20, "x")]


def test_batch_source_unknown_version_raises(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    s = _pushdown_session(spark)
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import AnalysisException, PythonException

    with pytest.raises(
        (ValueError, AnalysisException, PythonException, Py4JJavaError)
    ):
        (
            s.read.format("snapshot")
            .option("path", base)
            .option("versionAsOf", "99")
            .load()
            .collect()
        )


def test_batch_source_change_feed_matches_library(spark, tmp_path):
    """format('snapshot') with readChangeFeed=true serves the same rows
    as the library's read_changes, CDF metadata columns included."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)]),
        partition_by=("p",),
    )
    t.replace_where(
        spark, {"p": "a"}, _pkv(spark, [("a", 9, 90)]), change_feed=True
    )
    t.commit(_pkv(spark, [("c", 4, 40)]), partition_by=("p",))
    head = t.latest_version()
    s = _pushdown_session(spark)
    ds = (
        s.read.format("snapshot")
        .option("path", base)
        .option("readChangeFeed", "true")
        .load()
    )
    lib = t.read_changes(spark, 0, head)
    got = sorted(
        (r["_change_type"], r["_commit_version"], r["k"], r["v"])
        for r in ds.collect()
    )
    want = sorted(
        (r["_change_type"], r["_commit_version"], r["k"], r["v"])
        for r in lib.collect()
    )
    assert got == want and len(got) == 3 + 2 + 1 + 1  # v1 ins + v2 del/ins + v3

    # bounded window: only v2's overwrite
    windowed = (
        s.read.format("snapshot")
        .option("path", base)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("endingVersion", "2")
        .load()
    )
    assert sorted(
        (r["_change_type"], r["k"]) for r in windowed.collect()
    ) == [("delete", 1), ("delete", 2), ("insert", 9)]


# --- the write half: df.write.format("snapshot") + streaming sink ----------


def test_ds_writer_prunes_like_library_writes(spark, tmp_path):
    """A DS-written table carries the same manifest metadata a
    library-written one does: partition_eq and stats-box pruning both
    engage on plan_files."""
    base = str(tmp_path / "tbl")
    register(spark)
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("c", 4, 40)],
        "p string, k bigint, v bigint",
    )
    (
        df.write.format("snapshot")
        .option("path", base)
        .option("partitionBy", "p")
        .option("statsCols", "k")
        .mode("append")
        .save()
    )
    t = SnapshotTable(base)
    files_b, total = t.plan_files(1, partition_eq={"p": "b"})
    assert total >= 3 and len(files_b) < total
    assert sorted(
        tuple(r) for r in t.read(spark, 1, partition_eq={"p": "b"}).collect()
    ) == [("b", 3, 30)]
    files_k, _ = t.plan_files(1, where=("k", 4, 9))
    assert len(files_k) < total  # stats box pruned
    # entries carry rows/bytes (admission control + metadata tables)
    for e in t._data_entries(1):
        assert e.get("rows") is not None and e.get("bytes") > 0


def test_ds_writer_overwrite_and_time_travel(spark, tmp_path):
    base = str(tmp_path / "tbl")
    register(spark)
    d1 = spark.createDataFrame([(1, 10)], "k bigint, v bigint")
    d2 = spark.createDataFrame([(2, 20)], "k bigint, v bigint")
    d1.write.format("snapshot").option("path", base).mode("append").save()
    d2.write.format("snapshot").option("path", base).mode("overwrite").save()
    t = SnapshotTable(base)
    assert [tuple(r) for r in t.read(spark).collect()] == [(2, 20)]
    assert [tuple(r) for r in t.read(spark, 1).collect()] == [(1, 10)]


def test_stream_writer_ledger_skips_replayed_batch(spark, tmp_path):
    """The streaming sink's exactly-once half, driven at the writer API:
    commit(messages, batchId) twice for the same batch publishes ONE
    version and deletes the duplicate files."""
    import pyarrow as pa

    from serverless_mapreduce_spark.sources.snapshot_batch import (
        SnapshotStreamWriter,
    )

    base = str(tmp_path / "tbl")
    schema = spark.createDataFrame([(1, 10)], "k bigint, v bigint").schema
    opts = {"path": base, "streamId": "s1"}

    def deliver(rows):
        w = SnapshotStreamWriter(opts, schema, False)
        msg = w.write(
            iter(
                [
                    pa.record_batch(
                        [
                            pa.array([r[0] for r in rows], pa.int64()),
                            pa.array([r[1] for r in rows], pa.int64()),
                        ],
                        names=["k", "v"],
                    )
                ]
            )
        )
        return w, [msg]

    w, msgs = deliver([(1, 10), (2, 20)])
    w.commit(msgs, 0)
    t = SnapshotTable(base)
    assert t.latest_version() == 1
    # engine redelivery of batch 0 (crash between sink commit and
    # checkpoint write): new files staged, then recognized and dropped
    w2, msgs2 = deliver([(1, 10), (2, 20)])
    dup_paths = [e["path"] for m in msgs2 for e in m.entries]
    w2.commit(msgs2, 0)
    assert t.latest_version() == 1  # no second version
    import os as _os

    assert all(not _os.path.exists(p) for p in dup_paths)
    # the next batch id publishes normally
    w3, msgs3 = deliver([(3, 30)])
    w3.commit(msgs3, 1)
    assert t.latest_version() == 2
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 10),
        (2, 20),
        (3, 30),
    ]


def test_batch_writer_abort_cleans_staged_files(spark, tmp_path):
    import pyarrow as pa

    from serverless_mapreduce_spark.sources.snapshot_batch import (
        SnapshotBatchWriter,
    )

    base = str(tmp_path / "tbl")
    schema = spark.createDataFrame([(1,)], "k bigint").schema
    w = SnapshotBatchWriter({"path": base}, schema, False)
    msg = w.write(iter([pa.record_batch([pa.array([1, 2])], names=["k"])]))
    staged = [e["path"] for e in msg.entries]
    assert all(__import__("os").path.exists(p) for p in staged)
    w.abort([msg])
    assert all(not __import__("os").path.exists(p) for p in staged)
    assert SnapshotTable(base).latest_version() is None


def test_timestamp_as_of_iso_and_epoch(spark, tmp_path):
    import time

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    mid = time.time()
    time.sleep(0.05)
    t.commit(spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    s = _pushdown_session(spark)
    epoch = (
        s.read.format("snapshot")
        .option("path", base)
        .option("timestampAsOf", str(mid))
        .load()
    )
    assert [tuple(r) for r in epoch.collect()] == [(1, 10)]
    from datetime import datetime, timezone

    iso = datetime.fromtimestamp(mid, tz=timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f"
    )
    via_iso = (
        s.read.format("snapshot")
        .option("path", base)
        .option("timestampAsOf", iso)
        .load()
    )
    assert [tuple(r) for r in via_iso.collect()] == [(1, 10)]


def test_branch_and_tag_reads(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
    t.commit(spark.createDataFrame([(2, 20)], "k bigint, v bigint"))
    t.set_tag("release-1", 1)
    t.set_branch("audit", 1)
    s = _pushdown_session(spark)

    def rows(**opts):
        r = s.read.format("snapshot").option("path", base)
        for k_, v_ in opts.items():
            r = r.option(k_, v_)
        return sorted(tuple(x) for x in r.load().collect())

    assert rows(tag="release-1") == [(1, 10)]
    assert rows(branch="audit") == [(1, 10)]
    t.set_branch("audit", 2)  # branches move; tags never do
    assert rows(branch="audit") == [(1, 10), (2, 20)]
    assert rows(tag="release-1") == [(1, 10)]


def test_stream_writer_sink_partitioned(spark, tmp_path):
    """writeStream.format('snapshot') with partitionBy: the sink's
    entries record partition values, so plan_files prunes DS-streamed
    tables too."""
    import pyarrow as pa

    from serverless_mapreduce_spark.sources.snapshot_batch import (
        SnapshotStreamWriter,
    )

    base = str(tmp_path / "tbl")
    schema = spark.createDataFrame(
        [("a", 1)], "p string, k bigint"
    ).schema
    w = SnapshotStreamWriter(
        {"path": base, "streamId": "s", "partitionBy": "p"}, schema, False
    )
    msg = w.write(
        iter(
            [
                pa.record_batch(
                    [
                        pa.array(["a", "a", "b"]),
                        pa.array([1, 2, 3], pa.int64()),
                    ],
                    names=["p", "k"],
                )
            ]
        )
    )
    w.commit([msg], 0)
    t = SnapshotTable(base)
    files_b, total = t.plan_files(1, partition_eq={"p": "b"})
    assert total == 2 and len(files_b) == 1
    assert sorted(
        tuple(r) for r in t.read(spark, partition_eq={"p": "b"}).collect()
    ) == [("b", 3)]


def test_expire_versions_dry_run(spark, tmp_path):
    import os as _os

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1,)], "k bigint"))
    t.commit(spark.createDataFrame([(2,)], "k bigint"), mode="overwrite")
    drop, doomed = t.expire_versions(keep_latest=1, dry_run=True)
    assert drop == [1] and doomed
    # nothing was touched
    assert all(_os.path.exists(p) for p in doomed)
    assert t.versions() == [1, 2]
    real_drop, real_doomed = t.expire_versions(keep_latest=1)
    assert (real_drop, real_doomed) == (drop, doomed)  # the report was exact
    assert all(not _os.path.exists(p) for p in real_doomed)
