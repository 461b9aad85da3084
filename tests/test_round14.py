"""Round-14 pins: replace_where change feed (r13 verdict item 1),
loud data-loss holes + staged-orphan tombstones (r13 advice 1 /
verdict item 6), feed-aware byte admission (advice 2), unknown-size
deferral in the maxBytesPerTrigger walk (advice 3), token-scoped
staging supersede (verdict item 4), restart admission clamp via the
catalog cursor (verdict item 3), and change-file GC with retention
(verdict item 6)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from serverless_mapreduce_spark.sources.snapshot_stream import (
    SnapshotStreamReader,
    read_stream,
)
from serverless_mapreduce_spark.sources.snapshots import (
    MultiTableCatalog,
    SnapshotTable,
)


def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k bigint, v bigint")


def _pkv(spark, triples):
    return spark.createDataFrame(list(triples), "p string, k bigint, v bigint")


def _changes(t, spark, lo, hi):
    rows = t.read_changes(spark, lo, hi).collect()
    return sorted(
        (r["_change_type"], r["_commit_version"], r["k"], r["v"])
        for r in rows
    )


# --- replace_where(change_feed=True): batch read_changes -------------------


def test_replace_where_change_feed_batch(spark, tmp_path):
    """The overwrite's pre-images surface as deletes (served from the
    dropped files by reference — no change file is written on the
    MOR-free path) and the replacement batch as inserts (served from
    the version's own data files)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)]),
        partition_by=("p",),
    )
    n_files_before = len(os.listdir(t.data_dir))
    v2 = t.replace_where(
        spark,
        {"p": "a"},
        _pkv(spark, [("a", 1, 11), ("a", 4, 40)]),
        change_feed=True,
    )
    got = _changes(t, spark, 1, v2)
    assert got == [
        ("delete", v2, 1, 10),
        ("delete", v2, 2, 20),
        ("insert", v2, 1, 11),
        ("insert", v2, 4, 40),
    ]
    # zero write amplification: only ONE new commit dir (the replacement
    # batch); pre-images were referenced, not copied
    body = t._manifest_body(v2)
    assert body.get("cdf") and body.get("cdf_pre") and body.get("cdf_ins")
    assert len(os.listdir(t.data_dir)) == n_files_before + 1
    # the table itself reads the post-replace state
    assert sorted(
        (r["k"], r["v"]) for r in t.read(spark).collect()
    ) == [(1, 11), (3, 30), (4, 40)]


def test_replace_where_change_feed_materializes_under_mor(spark, tmp_path):
    """With merge-on-read deletes covering the version, raw dropped
    files would resurrect the deleted rows into the pre-images — the
    commit materializes change files with the deletes applied."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)]),
        partition_by=("p",),
    )
    t.delete_keys_mor(spark, _kv(spark, [(2, 0)]).select("k"), ("k",))
    v3 = t.replace_where(
        spark, {"p": "a"}, _pkv(spark, [("a", 9, 90)]), change_feed=True
    )
    body = t._manifest_body(v3)
    assert "cdf_pre" not in body  # materialized, not referenced
    got = _changes(t, spark, 2, v3)
    assert got == [("delete", v3, 1, 10), ("insert", v3, 9, 90)]


def test_replace_where_change_feed_streams(spark, tmp_path):
    """readChangeFeed emits the overwrite: pre-images as deletes,
    replacement rows as inserts, with commit metadata columns."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)]),
        partition_by=("p",),
    )
    v2 = t.replace_where(
        spark,
        {"p": "a"},
        _pkv(spark, [("a", 1, 11)]),
        change_feed=True,
    )
    got = []

    def sink(df, _bid):
        got.extend(
            (r["_change_type"], r["_commit_version"], r["k"], r["v"])
            for r in df.collect()
        )

    (
        read_stream(spark, base, readChangeFeed="true")
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(got) == sorted(
        [
            ("insert", 1, 1, 10),
            ("insert", 1, 2, 20),
            ("insert", 1, 3, 30),
            ("delete", v2, 1, 10),
            ("delete", v2, 2, 20),
            ("insert", v2, 1, 11),
        ]
    )


# --- loud holes: retention vs tombstoned staged orphans --------------------


def test_read_changes_expired_range_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 1)]))
    t.commit(_kv(spark, [(2, 2)]))
    t.commit(_kv(spark, [(3, 3)]))
    t.expire_versions(keep_latest=1)
    with pytest.raises(ValueError, match="retention-expired"):
        t.read_changes(spark, 1, 3)


def test_stream_raises_on_unexplained_hole(spark, tmp_path):
    """Retention removing an in-window version is DATA LOSS to the
    stream — loud by default, skippable via failOnDataLoss=false."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1)]))
    t.commit(_kv(spark, [(2, 2)]))
    t.commit(_kv(spark, [(3, 3)]))
    os.remove(t._manifest_path(2))  # simulate retention outrunning us
    reader = SnapshotStreamReader({"path": base}, None)
    with pytest.raises(ValueError, match="failOnDataLoss"):
        reader.file_plan({"version": 0}, {"version": 3})
    lax = SnapshotStreamReader(
        {"path": base, "failOnDataLoss": "false"}, None
    )
    parts = lax.file_plan({"version": 0}, {"version": 3})
    # the hole itself is skipped, but v3's delta diffs against the
    # nearest LIVE ancestor (v1) — the hole's still-referenced segment
    # rides along, so for append histories lax mode RECOVERS the rows
    rows = sorted(
        tuple(r)
        for p in parts
        for r in spark.read.parquet(p.value[0]).collect()
    )
    assert rows == [(1, 1), (2, 2), (3, 3)]


def test_stream_skips_tombstoned_orphan_hole(spark, tmp_path):
    """A hole created by staged-orphan GC is PROVABLY unpublished (the
    tombstone record says so) — silently skipped even under the default
    failOnDataLoss=true."""
    root = str(tmp_path)
    t = SnapshotTable(f"{root}/tbl")
    cat = MultiTableCatalog(root)
    v1 = t.commit_onto(None, _kv(spark, [(1, 1)]))
    cat.publish({"tbl": v1})
    t.commit_onto(v1, _kv(spark, [(2, 2)]))  # crashed stage (v2)
    v3 = t.commit_onto(v1, _kv(spark, [(2, 2)]), token="s:1")  # re-stage
    cat.publish({"tbl": v3}, "s", 1)
    collected = cat.collect_staged_orphans({"tbl": t}, grace_seconds=0.0)
    assert collected == {"tbl": [2]}
    assert t._tombstones() == {2}
    reader = SnapshotStreamReader({"path": t.base}, None)
    parts = reader.file_plan({"version": 0}, {"version": 3})
    # v1 + v3 stream exactly once; the tombstoned hole contributes nothing
    rows = sorted(
        tuple(r)
        for p in parts
        for r in spark.read.parquet(p.value[0]).collect()
    )
    assert rows == [(1, 1), (2, 2)]


# --- token-scoped supersede: two stagers interleaved -----------------------


def test_staging_token_scopes_supersede(spark, tmp_path):
    """Writer A stages batch s:0 and crashes; writer B stages AND
    publishes batch s:1; A replays s:0 from the published base. The
    token rule shields A's crashed attempt without hiding B's published
    version — a stream over the window sees each row exactly once
    (pre-token, the range rule either hid B's version or, with replay
    from the new base, double-delivered A's)."""
    root = str(tmp_path)
    t = SnapshotTable(f"{root}/tbl")
    cat = MultiTableCatalog(root)
    v0 = t.commit_onto(None, _kv(spark, [(0, 0)]), token="s:-1")
    cat.publish({"tbl": v0}, "s", -1)
    # writer A stages batch 0, crashes before publish
    t.commit_onto(v0, _kv(spark, [(1, 10)]), token="s:0")          # v2
    # writer B stages batch 1 from the same published base, publishes
    vb = t.commit_onto(v0, _kv(spark, [(2, 20)]), token="s:1")     # v3
    cat.publish({"tbl": vb}, "s", 1)
    # writer A replays batch 0 from the NEW published base
    va = t.commit_onto(vb, _kv(spark, [(1, 10)]), token="s:0")     # v4
    cat.publish({"tbl": va}, "s", 0)
    reader = SnapshotStreamReader({"path": t.base}, None)
    parts = reader.file_plan({"version": 0}, {"version": va})
    files = [p.value[0] for p in parts]
    rows = sorted(
        tuple(r)
        for f in files
        for r in spark.read.parquet(f).collect()
    )
    assert rows == [(0, 0), (1, 10), (2, 20)]  # each batch exactly once


# --- maxBytesPerTrigger: feed accounting + unknown-size deferral -----------


def _strip_summaries(t: SnapshotTable, version: int) -> None:
    p = t._manifest_path(version)
    with open(p) as fh:
        body = json.load(fh)
    body.pop("summaries", None)
    with open(p, "w") as fh:
        json.dump(body, fh)


def test_max_bytes_defers_unknown_size_version(spark, tmp_path):
    """A version whose delta bytes are not derivable is admitted only
    when the batch is otherwise empty — never appended to an
    already-charged batch (r13 advice: the old walk charged it
    max_bytes and then ADMITTED it)."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1)]))
    t.commit(_kv(spark, [(2, 2)]))   # v2: size unknown (stripped below)
    t.commit(_kv(spark, [(3, 3)]))
    _strip_summaries(t, 2)
    reader = SnapshotStreamReader(
        {"path": base, "maxBytesPerTrigger": str(1 << 30)}, None
    )
    reader.initialOffset()
    # batch 1: v1 admitted (known), v2 unknown → batch ends BEFORE v2
    assert reader.latestOffset() == {"version": 1}
    reader.commit({"version": 1})
    # batch 2: v2 admitted ALONE (progress guarantee)
    assert reader.latestOffset() == {"version": 2}
    reader.commit({"version": 2})
    assert reader.latestOffset() == {"version": 3}


def test_feed_bytes_charge_delete_and_change_files(spark, tmp_path):
    """Under readChangeFeed the byte accounting charges delete-key and
    CDF change files — a purge-only version costs its scan volume, not
    zero (r13 advice 2)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(i, i) for i in range(100)]))
    t.delete_keys_mor(
        spark, _kv(spark, [(i, 0) for i in range(0, 100, 2)]).select("k"),
        ("k",),
    )
    t.delete_where(spark, "k % 3 = 0", change_feed=True)
    assert t._delta_bytes(2, feed=False) == 0      # no data files
    assert t._delta_bytes(2, feed=True) > 0        # delete-key volume
    assert t._delta_bytes(3, feed=True) > 0        # change-file volume
    # plain-stream accounting for the COW rewrite stays data-bytes
    assert t._delta_bytes(3, feed=False) >= 0


# --- restart admission clamp via the catalog cursor ------------------------


def test_restart_first_trigger_clamped_by_catalog_cursor(spark, tmp_path):
    root = str(tmp_path)
    t = SnapshotTable(f"{root}/tbl")
    cat = MultiTableCatalog(root)
    for i in range(6):
        t.commit(_kv(spark, [(i, i)]))
    cat.set_stream_cursor("tbl", "s1", 2)
    # simulated RESTART: fresh reader, no initialOffset/commit calls —
    # the engine would go straight to latestOffset
    reader = SnapshotStreamReader(
        {
            "path": t.base,
            "maxVersionsPerTrigger": "2",
            "catalogRoot": root,
            "catalogTableName": "tbl",
            "catalogStreamId": "s1",
        },
        None,
    )
    assert reader.latestOffset() == {"version": 4}  # 2 + cap, not head=6
    # without the catalog options the first trigger is (documented) uncapped
    bare = SnapshotStreamReader(
        {"path": t.base, "maxVersionsPerTrigger": "2"}, None
    )
    assert bare.latestOffset() == {"version": 6}


# --- retention: CDF change files + cursor pins (verdict item 6 trio) -------


def test_change_files_gc_with_their_version(spark, tmp_path):
    """Change files ride carried segments through later appends, but
    they are readable only through their introducing version — expiring
    it must free them (else CDF debris survives retention forever)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(i, i) for i in range(10)]))
    v2 = t.delete_where(spark, "k % 2 = 0", change_feed=True)
    chg = [
        e["path"]
        for e in t._delta_entries(v2)
        if e.get("kind") == "change"
    ]
    assert chg
    t.commit(_kv(spark, [(100, 100)]))
    t.commit(_kv(spark, [(101, 101)]))
    assert ("delete", v2, 0, 0) in _changes(t, spark, 1, v2)
    # change files still live while v2 is retained
    t.expire_versions(keep_latest=3)  # keeps v2..v4
    assert all(os.path.exists(p) for p in chg)
    dropped, doomed = t.expire_versions(keep_latest=2)  # drops v2
    assert 2 in dropped
    assert all(not os.path.exists(p) for p in chg)
    assert all(p in doomed for p in chg)
    # the table head still reads clean (change files were never data)
    assert len(t.read(spark).collect()) == 7


def test_lagging_cdf_cursor_shields_then_releases(spark, tmp_path):
    root = str(tmp_path)
    t = SnapshotTable(f"{root}/tbl")
    cat = MultiTableCatalog(root)
    v1 = t.commit(_kv(spark, [(1, 1)]))
    cat.publish({"tbl": v1})
    v2 = t.delete_where(spark, "k = 1", change_feed=True)
    cat.publish({"tbl": v2})
    v3 = t.commit(_kv(spark, [(3, 3)]))
    cat.publish({"tbl": v3})
    v4 = t.commit(_kv(spark, [(4, 4)]))
    cat.publish({"tbl": v4})
    cat.expire_txns(keep_latest=1)
    # lagging CDF subscriber at version 1: retention must keep v2+ alive
    cat.set_stream_cursor("tbl", "cdf", 1)
    cat.expire_table(t, "tbl", keep_latest=1)
    assert _changes(t, spark, 1, v4) == [
        ("delete", v2, 1, 1),
        ("insert", v3, 3, 3),
        ("insert", v4, 4, 4),
    ]
    # cursor advances to head → retention releases the history
    cat.set_stream_cursor("tbl", "cdf", v4)
    cat.expire_txns(keep_latest=1)
    dropped, _doomed = cat.expire_table(t, "tbl", keep_latest=1)
    assert dropped  # old versions really went
    with pytest.raises(ValueError, match="retention-expired"):
        t.read_changes(spark, 1, v4)


# --- partition-preserving rewrites (replace after merge/delete) ------------


def test_partitioned_rewrites_keep_replace_where_usable(spark, tmp_path):
    """COW rewrites that record partition values (partition_by=) keep
    every data file classifiable, so replace_where still works after a
    merge touched the partitioned table."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)]),
        partition_by=("p",),
    )
    t.merge_upsert(
        spark,
        _pkv(spark, [("a", 1, 111), ("b", 4, 40)]),
        ("k",),
        partition_by=("p",),
    )
    v = t.replace_where(
        spark, {"p": "b"}, _pkv(spark, [("b", 9, 90)]), change_feed=True
    )
    assert sorted((r["k"], r["v"]) for r in t.read(spark).collect()) == [
        (1, 111),
        (2, 20),
        (9, 90),
    ]
    got = _changes(t, spark, v - 1, v)
    assert ("insert", v, 9, 90) in got
    assert ("delete", v, 3, 30) in got and ("delete", v, 4, 40) in got


def test_restart_clamp_end_to_end(spark, tmp_path):
    """Integration of the restart clamp: a checkpointed stream consumes
    version 1 and registers its cursor; it is killed; a 5-version
    backlog lands; on restart with maxVersionsPerTrigger=2 +
    catalog options, the FIRST micro-batch covers at most 2 versions
    (pre-r14 it planned the whole backlog in one batch)."""
    root = str(tmp_path)
    t = SnapshotTable(f"{root}/tbl")
    cat = MultiTableCatalog(root)
    sid = "clamped"
    t.commit(_kv(spark, [(1, 1)]))
    batches: list[list[tuple]] = []

    def sink(df, bid):
        rows = [(r["k"], r["v"]) for r in df.collect()]
        batches.append(rows)
        cat.publish({}, sid, bid, cursors={"tbl": {sid: t.latest_version()}})

    def drain(**opts):
        (
            read_stream(spark, t.base, **opts)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()  # v1 consumed, cursor registered at 1
    assert batches == [[(1, 1)]]
    for i in range(2, 7):  # the backlog: v2..v6
        t.commit(_kv(spark, [(i, i)]))
    # restart with the clamp: availableNow captures ONE end offset per
    # run, so each drain is one batch — the clamp bounds that first
    # (and here only) batch to cursor+2
    clamp = {
        "maxVersionsPerTrigger": "2",
        "catalogRoot": root,
        "catalogTableName": "tbl",
        "catalogStreamId": sid,
    }
    drain(**clamp)
    assert sorted(batches[1]) == [(2, 2), (3, 3)]  # ≤ 2 versions, not 5
    drain(**clamp)
    assert sorted(batches[2]) == [(4, 4), (5, 5)]
    drain(**clamp)
    assert sorted(batches[3]) == [(6, 6)]  # caught up
