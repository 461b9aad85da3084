"""Round-15 pins: boundary retention holes in the per-version ref diff
(r14 advice 1 — ``_delta_entries`` only falls back over tombstoned
staged orphans; any other missing ancestor raises unless the caller
opts in), partition-value rendering parity between the DataSource
writer and the library's hive layout (advice 2), vectorized partition
splits in the DS writer (advice 3), no orphan segment JSON on replayed
streaming batches (advice 4), and single-version pinning of the batch
DataSource's schema + plan (advice 5)."""

from __future__ import annotations

import json
import os

import pytest

from serverless_mapreduce_spark.sources.snapshot_batch import register
from serverless_mapreduce_spark.sources.snapshot_stream import (
    SnapshotStreamReader,
)
from serverless_mapreduce_spark.sources.snapshots import (
    MultiTableCatalog,
    SnapshotTable,
)


def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k bigint, v bigint")


# --- boundary retention holes (r14 advice 1) --------------------------------


def test_delta_entries_raises_on_boundary_retention_hole(spark, tmp_path):
    """A window whose BOUNDARY parent expired must not silently diff
    against an older ancestor: that diff re-delivers rows the consumer
    already consumed, tagged with the wrong _commit_version. The
    in-window hole checks never covered this (the hole sits just BELOW
    the window)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 1)]))
    t.commit(_kv(spark, [(2, 2)]))
    t.commit(_kv(spark, [(3, 3)]))
    t.commit(_kv(spark, [(4, 4)]))
    dropped, _ = t.expire_versions(keep_latest=2)  # v1, v2 manifests gone
    assert dropped == [1, 2]
    with pytest.raises(ValueError, match="not tombstoned"):
        t._delta_entries(3)
    # read_changes / incremental reads from the expired boundary raise
    # too — every in-window body exists, only the parent is the hole
    with pytest.raises(ValueError, match="not tombstoned"):
        t.read_changes(spark, 2, 4)
    with pytest.raises(ValueError, match="not tombstoned"):
        t.read_incremental(spark, 2, 4).collect()
    # explicit opt-in recovers via the wider ancestor diff (appends only
    # ever add segments, so the hole's rows ride along — at-least-once)
    ents = t._delta_entries(3, allow_holes=True)
    assert len(ents) >= 1


def test_stream_boundary_hole_honors_fail_on_data_loss(spark, tmp_path):
    """A restarted stream whose checkpointed cursor was retention-expired
    plans (cursor, head] — every in-window manifest exists, but the
    cursor version itself is the hole. Loud under the default
    failOnDataLoss=true; lax mode opts into the recovery diff."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1)]))
    t.commit(_kv(spark, [(2, 2)]))
    t.commit(_kv(spark, [(3, 3)]))
    os.remove(t._manifest_path(2))  # retention outran the cursor
    reader = SnapshotStreamReader({"path": base}, None)
    with pytest.raises(ValueError, match="not tombstoned"):
        reader.file_plan({"version": 2}, {"version": 3})
    lax = SnapshotStreamReader({"path": base, "failOnDataLoss": "false"}, None)
    parts = lax.file_plan({"version": 2}, {"version": 3})
    rows = sorted(
        tuple(r)
        for p in parts
        for r in spark.read.parquet(p.value[0]).collect()
    )
    # lax recovery: the hole's still-referenced segment rides along
    assert rows == [(2, 2), (3, 3)]


def test_delta_entries_still_falls_back_over_tombstoned_orphan(spark, tmp_path):
    """The provably-never-published case the fallback was built for —
    staged-orphan GC tombstones the hole — keeps working loudly-silent
    under the default."""
    root = str(tmp_path)
    t = SnapshotTable(f"{root}/tbl")
    cat = MultiTableCatalog(root)
    v1 = t.commit_onto(None, _kv(spark, [(1, 1)]))
    cat.publish({"tbl": v1})
    t.commit_onto(v1, _kv(spark, [(2, 2)]))  # crashed stage (v2)
    v3 = t.commit_onto(v1, _kv(spark, [(2, 2)]), token="s:1")  # re-stage
    cat.publish({"tbl": v3}, "s", 1)
    assert cat.collect_staged_orphans({"tbl": t}, grace_seconds=0.0) == {
        "tbl": [2]
    }
    ents = t._delta_entries(v3)  # parent v2 tombstoned: no raise
    assert len(ents) >= 1


# --- hive partition-value rendering parity (r14 advice 2) -------------------


def test_bool_date_partition_roundtrip_library_vs_probe(spark, tmp_path):
    """Library-written bool/date partitions must match typed probes:
    Spark's hive layout renders True as 'true', Python str() as 'True'
    — the shared renderer makes partition_eq typed-probe-safe."""
    import datetime

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [
            (True, datetime.date(2024, 1, 1), 1),
            (True, datetime.date(2024, 1, 2), 2),
            (False, datetime.date(2024, 1, 1), 3),
            (False, datetime.date(2024, 1, 2), 4),
        ],
        "flag boolean, d date, v bigint",
    )
    t.commit(df, partition_by=("flag", "d"))
    # library recorded hive renderings
    vals = {
        (e["partitions"]["flag"], e["partitions"]["d"])
        for e in t._data_entries(1)
    }
    assert vals == {
        ("true", "2024-01-01"),
        ("true", "2024-01-02"),
        ("false", "2024-01-01"),
        ("false", "2024-01-02"),
    }
    # a TYPED probe (python bool/date, not pre-rendered strings) prunes
    # to exactly the one matching file — str(True)='True' used to prune
    # EVERYTHING out (silent wrong-prune)
    kept, total = t.plan_files(
        partition_eq={"flag": True, "d": datetime.date(2024, 1, 2)}
    )
    assert total == 4 and len(kept) == 1
    rows = (
        t.read(spark, partition_eq={"flag": True, "d": datetime.date(2024, 1, 2)})
        .collect()
    )
    assert sorted(r.v for r in rows) == [2]


def test_ds_writer_partition_values_match_library_rendering(spark, tmp_path):
    """DataSource-written partition values must render exactly as the
    library's hive-layout parse does, or partition_eq mismatches prune
    matching DS-written files out of results (r14 advice 2)."""
    import datetime

    base = str(tmp_path / "tbl")
    register(spark)
    df = spark.createDataFrame(
        [
            (True, datetime.date(2024, 3, 1), 1),
            (False, datetime.date(2024, 3, 2), 2),
        ],
        "flag boolean, d date, v bigint",
    )
    (
        df.write.format("snapshot")
        .option("path", base)
        .option("partitionBy", "flag,d")
        .mode("append")
        .save()
    )
    t = SnapshotTable(base)
    vals = {
        (e["partitions"]["flag"], e["partitions"]["d"])
        for e in t._data_entries(1)
    }
    assert vals == {("true", "2024-03-01"), ("false", "2024-03-02")}
    kept, total = t.plan_files(partition_eq={"flag": True})
    assert total == 2 and len(kept) == 1
    rows = t.read(spark, partition_eq={"flag": True}).collect()
    assert [r.v for r in rows] == [1]


# --- no orphan segment JSON on replayed batches (r14 advice 4) --------------


def test_replayed_ledgered_publish_leaves_no_segment_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    df = _kv(spark, [(1, 1), (2, 2)])
    entries = t._write_data(df, ())
    v = t.publish_entries(entries, schema=df.schema, stream_id="s", batch_id=0)
    assert v == 1
    segs_after_first = sorted(os.listdir(t.manifest_dir))
    # a zombie twin replays the same (stream, batch): recognized as a
    # duplicate, publishes nothing — and writes NO segment JSON either
    dup_entries = t._write_data(df, ())
    assert (
        t.publish_entries(
            dup_entries, schema=df.schema, stream_id="s", batch_id=0
        )
        is None
    )
    assert sorted(os.listdir(t.manifest_dir)) == segs_after_first


# --- schema and plan pinned to ONE resolved version (r14 advice 5) ----------


def test_batch_ds_schema_and_plan_pin_same_version(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_batch import (
        SnapshotBatchDataSource,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1)]))
    ds = SnapshotBatchDataSource(options={"path": base})
    ds.schema()  # analysis resolves the head (v1) and pins it
    t.commit(_kv(spark, [(2, 2)]))  # a commit lands before reader()
    reader = ds.reader(t._schema(1))
    assert reader._version == 1  # plan comes from the pinned snapshot
    planned = {p.value[0] for p in reader.file_plan()}
    assert planned == set(t._files(1))


# --- write-serializable RMW: conflict classification + auto-rebase ----------
# (r14 verdict item 2)


def _pkv(spark, triples):
    return spark.createDataFrame(list(triples), "p string, k bigint, v bigint")


def _inject_once(monkeypatch, fn):
    """Deterministic race: run ``fn`` (the interloper's commit) right
    before the victim's FIRST _publish_cow attempt, so the victim loses
    the CAS and must classify + rebase (or raise)."""
    import serverless_mapreduce_spark.sources.snapshots as S

    orig = S.SnapshotTable._publish_cow
    state = {"armed": True}

    def wrapper(self, *a, **k):
        if state["armed"]:
            state["armed"] = False
            fn()
        return orig(self, *a, **k)

    monkeypatch.setattr(S.SnapshotTable, "_publish_cow", wrapper)


def test_merge_rebases_over_disjoint_partition_append(spark, tmp_path, monkeypatch):
    """Merge on partition 'a' concurrent with an append to partition 'b'
    lands WITHOUT caller retry — the interloper's files record a
    partition value outside the source's key set, so the rebase is
    provably serializable."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)]),
        partition_by=("p",),
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(
            _pkv(spark, [("b", 9, 90)]), partition_by=("p",)
        ),
    )
    v = t.merge_into(
        spark,
        _pkv(spark, [("a", 1, 11), ("a", 7, 70)]),
        ("p", "k"),
    )
    # the interloper claimed v2; the rebased merge published v3
    assert v == 3
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [
        ("a", 1, 11),   # matched update
        ("a", 2, 20),   # untouched
        ("a", 7, 70),   # unmatched insert
        ("b", 3, 30),   # untouched
        ("b", 9, 90),   # interloper's concurrent append SURVIVES
    ]


def test_merge_conflicts_on_overlapping_partition_append(spark, tmp_path, monkeypatch):
    from serverless_mapreduce_spark.sources.snapshots import CommitConflict

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("b", 3, 30)]), partition_by=("p",)
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(
            _pkv(spark, [("a", 8, 80)]), partition_by=("p",)
        ),
    )
    with pytest.raises(CommitConflict, match="read set"):
        t.merge_into(spark, _pkv(spark, [("a", 1, 11)]), ("p", "k"))


def test_concurrent_rewrites_of_same_files_still_conflict(spark, tmp_path, monkeypatch):
    """Two writers rewriting the same files = lost update; must raise
    regardless of predicates."""
    from serverless_mapreduce_spark.sources.snapshots import CommitConflict

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20)]), partition_by=("p",)
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.merge_into(
            spark, _pkv(spark, [("a", 2, 22)]), ("p", "k")
        ),
    )
    with pytest.raises(CommitConflict, match="rewrites"):
        t.merge_into(spark, _pkv(spark, [("a", 1, 11)]), ("p", "k"))


def test_delete_where_rebases_over_out_of_box_append(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1), (2, 2), (100, 100)]), stats_cols=("k",))
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(_kv(spark, [(500, 500)]), stats_cols=("k",)),
    )
    v = t.delete_where(spark, "k <= 2", prune=("k", 0, 2), stats_cols=("k",))
    assert v == 3  # rebased over the interloper's v2
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [(100, 100), (500, 500)]


def test_delete_where_conflicts_on_in_box_append(spark, tmp_path, monkeypatch):
    from serverless_mapreduce_spark.sources.snapshots import CommitConflict

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1), (100, 100)]), stats_cols=("k",))
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(_kv(spark, [(2, 2)]), stats_cols=("k",)),
    )
    with pytest.raises(CommitConflict, match="read set"):
        t.delete_where(spark, "k <= 2", prune=("k", 0, 2), stats_cols=("k",))


def test_compaction_rebases_over_any_append(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    for i in range(4):
        t.commit(_kv(spark, [(i, i)]).coalesce(1))
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(_kv(spark, [(99, 99)]).coalesce(1)),
    )
    v = t.compact_small_files(spark, target_bytes=1 << 30)
    assert v == t.latest_version()
    rows = sorted(r.k for r in t.read(spark).collect())
    assert rows == [0, 1, 2, 3, 99]  # the concurrent append survives


def test_mor_delete_conflicts_rmw_but_retries_itself(spark, tmp_path, monkeypatch):
    """(a) An interleaved MOR delete makes a concurrent COW merge raise
    (rebasing would sequence the delete below the rewrite and disarm
    it); (b) delete_keys_mor itself auto-retries across a lost race to
    a plain append — write-serializable order: the delete sees the
    appended rows."""
    from serverless_mapreduce_spark.sources.snapshots import CommitConflict

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("b", 3, 30)]), partition_by=("p",)
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.delete_keys_mor(
            spark, spark.createDataFrame([(3,)], "k bigint"), ("k",)
        ),
    )
    with pytest.raises(CommitConflict, match="merge-on-read"):
        t.merge_into(spark, _pkv(spark, [("a", 1, 11)]), ("p", "k"))


def test_rebased_merge_keeps_change_feed_and_ledger_consistent(spark, tmp_path, monkeypatch):
    """Through a rebase: the merge's CDF rows carry the REBASED commit
    version, the interloper's insert rows carry theirs, and the
    streaming ledger survives (carried from the new parent)."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    df = _pkv(spark, [("a", 1, 10), ("b", 3, 30)])
    ents = t._write_data(df, ())
    assert (
        t.publish_entries(
            ents, schema=df.schema, stream_id="ing", batch_id=0,
            partition_by=("p",),
        )
        == 1
    )
    # re-commit partitioned so partition values are recorded
    t.commit(df, mode="overwrite", partition_by=("p",))  # v2
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(
            _pkv(spark, [("b", 9, 90)]), partition_by=("p",)
        ),
    )
    v = t.merge_into(
        spark,
        _pkv(spark, [("a", 1, 11)]),
        ("p", "k"),
        change_feed=True,
    )
    assert v == 4  # interloper took v3
    # ledger carried through the rebase: the replayed batch still no-ops
    assert t.stream_batch_committed("ing", 0)
    changes = sorted(
        (r["_change_type"], r["_commit_version"], r["p"], r["k"], r["v"])
        for r in t.read_changes(spark, 2, 4).collect()
    )
    assert changes == [
        ("insert", 3, "b", 9, 90),
        ("update_postimage", 4, "a", 1, 11),
        ("update_preimage", 4, "a", 1, 10),
    ]


# --- branch commit chains + fast-forward (r14 verdict item 3) ----------------


def test_branch_commits_are_invisible_to_main(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshots import CommitConflict

    t = SnapshotTable(str(tmp_path / "tbl"))
    v1 = t.commit(_kv(spark, [(1, 1)]))
    t.set_branch("audit", v1)
    b1 = t.commit_to_branch("audit", _kv(spark, [(2, 2)]))
    b2 = t.commit_to_branch("audit", _kv(spark, [(3, 3)]))
    assert t.resolve_branch("audit") == b2 and b2 > b1 > v1
    # MAIN head resolution, reads, and time travel never see the branch
    assert t.latest_version() == v1
    assert sorted(r.k for r in t.read(spark).collect()) == [1]
    assert t.resolve_as_of(t._manifest_body(b2)["ts"] + 1) == v1
    # branch reads see the whole chain
    assert sorted(
        r.k for r in t.read(spark, t.resolve_branch("audit")).collect()
    ) == [1, 2, 3]
    # a main append interleaves without caring: next global number,
    # base-linked to the true main parent
    v4 = t.commit(_kv(spark, [(9, 9)]))
    assert v4 > b2 and t.latest_version() == v4
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 9]
    # main's change feed never serves branch rows
    changes = sorted(
        (r["_change_type"], r["_commit_version"], r["k"])
        for r in t.read_changes(spark, v1, v4).collect()
    )
    assert changes == [("insert", v4, 9)]
    # main moved past the fork: fast-forward now refuses
    with pytest.raises(CommitConflict, match="fast-forward"):
        t.fast_forward("audit")


def test_fast_forward_publishes_branch_series_atomically(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    v1 = t.commit(_kv(spark, [(1, 1)]))
    t.set_branch("wap", v1)
    t.commit_to_branch("wap", _kv(spark, [(2, 2)]))
    b2 = t.commit_to_branch("wap", _kv(spark, [(3, 3)]))
    # audit on the branch, then publish
    assert t.read(spark, b2).count() == 3
    ff = t.fast_forward("wap")
    assert t.latest_version() == ff and ff > b2
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 3]
    # the whole series lands as ONE data-changing main version: the
    # change feed over (v1, ff] is exactly the branch rows at ff
    changes = sorted(
        (r["_change_type"], r["_commit_version"], r["k"])
        for r in t.read_changes(spark, v1, ff).collect()
    )
    assert changes == [("insert", ff, 2), ("insert", ff, 3)]
    # a stream planning (0, ff] sees v1's and ff's files, nothing twice
    from serverless_mapreduce_spark.sources.snapshot_stream import (
        SnapshotStreamReader,
    )

    reader = SnapshotStreamReader({"path": t.base}, None)
    parts = reader.file_plan({"version": 0}, {"version": ff})
    rows = sorted(
        r.k
        for p in parts
        for r in spark.read.parquet(p.value[0]).collect()
    )
    assert rows == [1, 2, 3]


def test_vacuum_keeps_branch_chain_live(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    v1 = t.commit(_kv(spark, [(1, 1)]))
    t.set_branch("exp", v1)
    b = t.commit_to_branch("exp", _kv(spark, [(2, 2)]))
    for i in range(5):
        t.commit(_kv(spark, [(10 + i, 0)]))
    dropped, _deleted = t.expire_versions(keep_latest=1)
    # the branch tip AND its fork-point ancestor survive retention
    assert b not in dropped and v1 not in dropped
    assert sorted(
        r.k for r in t.read(spark, t.resolve_branch("exp")).collect()
    ) == [1, 2]


def test_orphan_gc_never_collects_branch_commits(spark, tmp_path):
    root = str(tmp_path)
    t = SnapshotTable(f"{root}/tbl")
    cat = MultiTableCatalog(root)
    v1 = t.commit_onto(None, _kv(spark, [(1, 1)]))
    cat.publish({"tbl": v1})
    t.set_branch("keep", v1)
    b = t.commit_to_branch("keep", _kv(spark, [(2, 2)]))
    # catalog never published b, and it is older than any grace window —
    # but it is branch-referenced, not a crashed stage
    assert cat.collect_staged_orphans({"tbl": t}, grace_seconds=0.0) == {}
    assert sorted(
        r.k for r in t.read(spark, t.resolve_branch("keep")).collect()
    ) == [1, 2]
    assert b in t.versions()


# --- multi-clause MERGE: first-match-wins + per-clause CDC (item 6) ----------


def test_merge_multi_clause_precedence_and_kept_rows(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        _kv(spark, [(1, 10), (2, 20), (3, 30), (6, 60), (9, 90)]).coalesce(1)
    )
    src = _kv(spark, [(2, 200), (3, 300), (6, 600), (9, 900), (50, 500)])
    v = t.merge_into(
        spark,
        src,
        ("k",),
        when_matched=[
            ("k % 3 = 0", "delete"),   # 3, 6, 9 die
            ("k % 2 = 0", "update"),   # 2 updates (6 already claimed!)
        ],
        insert_unmatched=True,          # 50 inserts
        change_feed=True,
    )
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    # 1 untouched (unmatched target), 2 updated, 3/6/9 deleted by the
    # FIRST clause (6 satisfies both — delete wins), 50 inserted
    assert rows == [(1, 10), (2, 200), (50, 500)]
    changes = sorted(
        (r["_change_type"], r["k"], r["v"])
        for r in t.read_changes(spark, 1, v).collect()
    )
    assert changes == [
        ("delete", 3, 30),
        ("delete", 6, 60),
        ("delete", 9, 90),
        ("insert", 50, 500),
        ("update_postimage", 2, 200),
        ("update_preimage", 2, 20),
    ]


def test_merge_multi_clause_no_clause_fired_keeps_row(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(5, 50), (8, 80)]).coalesce(1))
    v = t.merge_into(
        spark,
        _kv(spark, [(5, 555), (8, 888)]),
        ("k",),
        when_matched=[
            ("k % 2 = 0", "update"),
            ("k % 99 = 0", "delete"),
        ],
        insert_unmatched=False,
    )
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    # 8 updated; 5 matched but fired NO clause: kept unchanged, and its
    # source row NOT inserted
    assert rows == [(5, 50), (8, 888)]
    assert v == 2


def test_merge_multi_clause_validation(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 1)]))
    with pytest.raises(ValueError, match="unreachable"):
        t.merge_into(
            spark,
            _kv(spark, [(1, 2)]),
            ("k",),
            when_matched=[(None, "update"), ("k > 0", "delete")],
        )
    with pytest.raises(ValueError, match="string form"):
        t.merge_into(
            spark,
            _kv(spark, [(1, 2)]),
            ("k",),
            when_matched=[("k > 0", "update")],
            matched_condition="k > 0",
        )
    with pytest.raises(ValueError, match="at least one"):
        t.merge_into(spark, _kv(spark, [(1, 2)]), ("k",), when_matched=[])


# --- z-order inside the snapshot format (item 5) -----------------------------


def test_zorder_compaction_prunes_multidim_boxes(spark, tmp_path):
    """Same data, same file count: a plain range cluster on the leading
    column cannot make a two-predicate box prune on BOTH dimensions;
    the z-order mode must. Pins cluster_mode='zorder' vs 'range'.

    The range exchange's boundary SAMPLE is seeded from the RDD id, so
    the file cut points — and with them the pruning ratios asserted
    below — depended on how many jobs ran earlier in the session (the
    test flaked under full-suite ordering). An exhaustive sample (size
    >= every partition's rows) makes the cut points a deterministic
    function of the data, which is the property the assertions pin."""
    from pyspark.sql import functions as F

    sample_key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    old_sample = spark.conf.get(sample_key)
    spark.conf.set(sample_key, 40000)
    try:
        _run_zorder_case(spark, tmp_path)
    finally:
        spark.conf.set(sample_key, old_sample)


def _run_zorder_case(spark, tmp_path):
    from pyspark.sql import functions as F

    rows = spark.range(20000).select(
        (F.col("id") % 997).alias("x"),
        ((F.col("id") * 7919) % 983).alias("y"),
        F.col("id").alias("v"),
    )

    def build(mode):
        t = SnapshotTable(str(tmp_path / f"tbl_{mode}"))
        t.commit(rows.repartition(16, "v"), stats_cols=("x", "y"))
        ents = t._data_entries(1)
        target = max(1, sum(t._entry_bytes(e) for e in ents) // 8)
        v = t.compact_small_files(
            spark,
            small_bytes=1 << 30,
            target_bytes=target,
            cluster_by=("x", "y"),
            cluster_mode=mode,
            stats_cols=("x", "y"),
        )
        bx, total = t.plan_files(v, where=("x", 100, 199))
        by, _ = t.plan_files(v, where=("y", 100, 199))
        both = (len(set(bx) & set(by)), len(by))
        # correctness of the pruned read regardless of layout
        got = (
            t.read(spark, v, where=("x", 100, 199))
            .filter(
                (F.col("x").between(100, 199)) & (F.col("y").between(100, 199))
            )
            .count()
        )
        want = rows.filter(
            (F.col("x").between(100, 199)) & (F.col("y").between(100, 199))
        ).count()
        assert got == want
        return both, total

    (both_range, y_range), total_range = build("range")
    (both_z, y_z), total_z = build("zorder")
    assert total_z >= 4 and total_range >= 4
    # the TRAILING dimension is where the modes differ: a lexicographic
    # range cluster on (x, y) leaves y spanning ~everything per file
    # (no pruning), while the z-interleave keeps y tight too
    assert y_range == total_range  # range mode: y-box prunes nothing
    assert y_z * 2 <= total_z      # z mode: y-box alone prunes a majority out
    # and the two-predicate intersection never regresses vs range mode
    assert both_z <= both_range
    assert both_z * 2 <= total_z


# --- CDF across schema evolution (item 7) ------------------------------------


def test_change_feed_window_spanning_add_column_is_schema_consistent(
    spark, tmp_path
):
    """A feed window spanning an add-column commit must serve ONE
    consistent evolved schema: pre-evolution inserts and pre-images
    NULL-fill the added column — via the library read_changes AND via
    format('snapshot').option('readChangeFeed')."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))       # v1
    evolved = spark.createDataFrame(
        [(3, 30, "x")], "k bigint, v bigint, tag string"
    )
    t.commit(evolved, mode="append")                            # v2: + tag
    v3 = t.delete_where(spark, "k = 1", change_feed=True)       # v3: purge
    feed = t.read_changes(spark, 0, v3)
    assert set(feed.columns) == {
        "k", "v", "tag", "_change_type", "_commit_version", "_commit_timestamp"
    }
    rows = sorted(
        (r["_change_type"], r["_commit_version"], r["k"], r["v"], r["tag"])
        for r in feed.collect()
    )
    assert rows == [
        ("delete", 3, 1, 10, None),   # pre-image: evolved shape, tag NULL
        ("insert", 1, 1, 10, None),   # pre-evolution insert, NULL-filled
        ("insert", 1, 2, 20, None),
        ("insert", 2, 3, 30, "x"),
    ]
    # the reader-API half serves the identical frame
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)
    ds = (
        spark.read.format("snapshot")
        .option("path", base)
        .option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .option("endingVersion", v3)
        .load()
    )
    got = sorted(
        (r["_change_type"], r["_commit_version"], r["k"], r["v"], r["tag"])
        for r in ds.collect()
    )
    assert got == rows


# --- branch writes through the DataSource writer ------------------------------


def test_ds_writer_branch_option_stages_and_fast_forwards(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    v1 = t.commit(_kv(spark, [(1, 1)]))
    t.set_branch("stage", v1)
    register(spark)
    (
        _kv(spark, [(2, 2), (3, 3)])
        .write.format("snapshot")
        .option("path", base)
        .option("branch", "stage")
        .mode("append")
        .save()
    )
    # main blind; branch sees the staged write
    assert t.latest_version() == v1
    assert sorted(r.k for r in t.read(spark).collect()) == [1]
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    audited = (
        spark.read.format("snapshot")
        .option("path", base)
        .option("branch", "stage")
        .load()
    )
    assert sorted(r.k for r in audited.collect()) == [1, 2, 3]
    ff = t.fast_forward("stage")
    assert t.latest_version() == ff
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 3]
    # overwrite-to-branch is refused (staging is append-only WAP)
    with pytest.raises(Exception, match="append-only"):
        (
            _kv(spark, [(9, 9)])
            .write.format("snapshot")
            .option("path", base)
            .option("branch", "stage")
            .mode("overwrite")
            .save()
        )


# --- update_where: the predicate-UPDATE DML verb ------------------------------


def test_update_where_simultaneous_sets_and_null_condition(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (3, None, 300)],
        "k bigint, a bigint, b bigint",
    )
    t.commit(df.coalesce(1))
    # both SETs read the PRE-update row: a := b, b := a must SWAP
    v = t.update_where(
        spark, "a < 15", {"a": "b", "b": "a"}, change_feed=True
    )
    rows = sorted(
        tuple(r) for r in t.read(spark).collect()
    )
    # k=1 swapped; k=2 unmatched; k=3: condition NULL -> NOT matched
    assert rows == [(1, 100, 10), (2, 20, 200), (3, None, 300)]
    changes = sorted(
        (r["_change_type"], r["k"], r["a"], r["b"])
        for r in t.read_changes(spark, 1, v).collect()
    )
    assert changes == [
        ("update_postimage", 1, 100, 10),
        ("update_preimage", 1, 10, 100),
    ]


def test_update_where_prunes_and_validates(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        spark.range(1000)
        .selectExpr("id AS k", "id AS v")
        .repartitionByRange(8, "k"),
        stats_cols=("k",),
    )
    before = set(t._files(1))
    v = t.update_where(
        spark,
        "k BETWEEN 100 AND 120",
        {"v": "v * 10"},
        prune=("k", 100, 120),
        stats_cols=("k",),
    )
    after = set(t._files(v))
    # pruned rewrite: most range-clustered files carry byte-identical
    assert len(before & after) >= 6
    got = {r.k: r.v for r in t.read(spark).filter("k IN (99, 100, 120, 121)").collect()}
    assert got == {99: 99, 100: 1000, 120: 1200, 121: 121}
    # SET of an unknown column refuses (UPDATE never adds columns)
    with pytest.raises(ValueError, match="do not exist"):
        t.update_where(spark, "k = 1", {"nope": "1"})
    with pytest.raises(ValueError, match="at least one"):
        t.update_where(spark, "k = 1", {})
    # type preservation: an expression yielding a wider type casts back
    t.update_where(spark, "k = 5", {"v": "1.9"})
    r5 = t.read(spark).filter("k = 5").collect()[0]
    assert r5.v == 1 and isinstance(r5.v, int)


# --- MERGE grammar completion: insert_condition + NMBS UPDATE ----------------


def test_merge_insert_condition_filters_source_rows(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10)]).coalesce(1))
    t.merge_into(
        spark,
        _kv(spark, [(1, 11), (2, 20), (3, -5)]),
        ("k",),
        insert_condition="v > 0",   # row (3, -5) fails -> not inserted
    )
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [(1, 11), (2, 20)]


def test_merge_nmbs_update_flags_stale_rows(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [(1, 10, "live"), (2, 20, "live"), (3, 30, "live")],
        "k bigint, v bigint, status string",
    )
    t.commit(df.coalesce(1))
    src = spark.createDataFrame(
        [(1, 11, "live")], "k bigint, v bigint, status string"
    )
    v = t.merge_into(
        spark,
        src,
        ("k",),
        insert_unmatched=False,
        not_matched_by_source="update",
        nmbs_condition="v >= 30",     # only k=3 is flagged
        nmbs_set={"status": "'stale'", "v": "v + 1"},
        change_feed=True,
    )
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    # k=1 updated by the matched clause, k=2 untouched (condition
    # false), k=3 transformed in place (SETs read the pre-update row)
    assert rows == [
        (1, 11, "live"),
        (2, 20, "live"),
        (3, 31, "stale"),
    ]
    changes = sorted(
        (r["_change_type"], r["k"], r["v"], r["status"])
        for r in t.read_changes(spark, 1, v).collect()
    )
    assert changes == [
        ("update_postimage", 1, 11, "live"),
        ("update_postimage", 3, 31, "stale"),
        ("update_preimage", 1, 10, "live"),
        ("update_preimage", 3, 30, "live"),
    ]
    # validation: nmbs_set without update / update without set refuse
    with pytest.raises(ValueError, match="requires nmbs_set"):
        t.merge_into(spark, src, ("k",), not_matched_by_source="update")
    with pytest.raises(ValueError, match="only composes"):
        t.merge_into(
            spark, src, ("k",),
            not_matched_by_source="delete", nmbs_set={"v": "1"},
        )


# --- CHECK constraints (Delta ADD CONSTRAINT) ---------------------------------


def test_check_constraints_enforced_across_write_paths(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))
    v = t.add_check_constraint(spark, "v_pos", "v >= 0")
    assert t.constraints() == {"v_pos": "v >= 0"}
    # declaring an invariant the table already violates is refused
    with pytest.raises(ValueError, match="existing rows violate"):
        t.add_check_constraint(spark, "v_big", "v > 15")
    # append / merge / update / replace of violating rows all refuse,
    # atomically (head never moves)
    with pytest.raises(ValueError, match="v_pos"):
        t.commit(_kv(spark, [(3, -1)]))
    with pytest.raises(ValueError, match="v_pos"):
        t.merge_upsert(spark, _kv(spark, [(1, -5)]), ("k",))
    with pytest.raises(ValueError, match="v_pos"):
        t.update_where(spark, "k = 1", {"v": "-9"})
    assert t.latest_version() == v
    # NULL passes (SQL CHECK three-valued logic)
    t.commit(
        spark.createDataFrame([(9, None)], "k bigint, v bigint").coalesce(1)
    )
    # constraints carry through ordinary commits (ledger-style)
    assert t.constraints() == {"v_pos": "v >= 0"}
    # the DataSource writer validates too (publish_entries path)
    register(spark)
    with pytest.raises(Exception, match="CHECK constraint"):
        (
            _kv(spark, [(4, -4)])
            .write.format("snapshot")
            .option("path", t.base)
            .mode("append")
            .save()
        )
    # drop: violating rows commit again; unknown names refuse
    t.drop_check_constraint("v_pos")
    t.commit(_kv(spark, [(5, -5)]).coalesce(1))
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 5, 9]
    with pytest.raises(ValueError, match="no CHECK constraint"):
        t.drop_check_constraint("nope")


# --- shallow clone + stream startingTimestamp ---------------------------------


def test_shallow_clone_is_zero_copy_and_diverges(spark, tmp_path):
    src = SnapshotTable(str(tmp_path / "src"))
    src.commit(_kv(spark, [(1, 1), (2, 2), (10, 10)]).coalesce(1))
    src.delete_keys_mor(
        spark, spark.createDataFrame([(10,)], "k bigint"), ("k",)
    )
    src.add_check_constraint(spark, "v_pos", "v >= 0")
    clone = SnapshotTable(str(tmp_path / "clone"))
    v = clone.clone_from(src)
    assert v == 1
    # zero-copy: the clone references the SOURCE's data files
    assert set(clone._files(1)) <= set(src._files(src.latest_version()))
    # MOR delete visibility survives the clone (seq stamps carried)
    assert sorted(r.k for r in clone.read(spark).collect()) == [1, 2]
    # constraints carried; source-private ledger/branches do not apply
    assert clone.constraints() == {"v_pos": "v >= 0"}
    with pytest.raises(ValueError, match="v_pos"):
        clone.commit(_kv(spark, [(5, -5)]))
    # histories diverge independently
    clone.commit(_kv(spark, [(7, 7)]).coalesce(1))
    src.commit(_kv(spark, [(9, 9)]).coalesce(1))
    assert sorted(r.k for r in clone.read(spark).collect()) == [1, 2, 7]
    assert sorted(r.k for r in src.read(spark).collect()) == [1, 2, 9]
    # a clone is a CREATE: cloning into a non-empty table refuses
    with pytest.raises(ValueError, match="empty target"):
        clone.clone_from(src)


def test_stream_starting_timestamp(spark, tmp_path):
    import time

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1)]))
    cut = time.time()
    # make v2's clamped timestamp land strictly after the cut
    time.sleep(0.05)
    t.commit(_kv(spark, [(2, 2)]))
    reader = SnapshotStreamReader(
        {"path": base, "startingTimestamp": str(cut)}, None
    )
    assert reader.initialOffset() == {"version": 1}
    parts = reader.file_plan({"version": 1}, {"version": 2})
    rows = sorted(
        r.k for p in parts for r in spark.read.parquet(p.value[0]).collect()
    )
    assert rows == [2]  # only the post-cut commit streams
    # predating the table = stream everything
    early = SnapshotStreamReader(
        {"path": base, "startingTimestamp": "1970-01-02"}, None
    )
    assert early.initialOffset() == {"version": 0}
    with pytest.raises(ValueError, match="mutually exclusive"):
        SnapshotStreamReader(
            {"path": base, "startingTimestamp": str(cut),
             "startingVersion": "1"},
            None,
        )


# --- CONVERT TO SNAPSHOT: in-place parquet onboarding -------------------------


def test_convert_parquet_in_place(spark, tmp_path):
    src_dir = str(tmp_path / "plain")
    (
        spark.range(1000)
        .selectExpr("id AS k", "id % 7 AS g", "id * 2 AS v")
        .repartitionByRange(8, "k")
        .write.parquet(src_dir)
    )
    t = SnapshotTable.convert_parquet(
        spark,
        src_dir,
        str(tmp_path / "tbl"),
        partition_by=("g",),
        stats_cols=("k",),
    )
    # zero-copy: v1 references the original files
    assert all(f.startswith(src_dir) for f in t._files(1))
    assert t.read(spark).count() == 1000
    # lifted stats prune immediately
    kept, total = t.plan_files(1, where=("k", 100, 120))
    assert total == 8 and len(kept) <= 2
    got = sorted(
        r.k
        for r in t.read(spark, where=("k", 100, 120))
        .filter("k BETWEEN 100 AND 120")
        .collect()
    )
    assert got == list(range(100, 121))
    # the converted table is a NORMAL table: appends, deletes, schema all work
    t.commit(
        spark.createDataFrame([(5000, 1, 2)], "k bigint, g bigint, v bigint")
    )
    assert t.read(spark).count() == 1001
    # hive layouts refuse with guidance
    hive_dir = str(tmp_path / "hive")
    spark.range(10).selectExpr("id AS k", "id % 2 AS p").write.partitionBy(
        "p"
    ).parquet(hive_dir)
    with pytest.raises(ValueError, match="hive-layout"):
        SnapshotTable.convert_parquet(spark, hive_dir, str(tmp_path / "t2"))
    # unknown columns refuse
    with pytest.raises(ValueError, match="not present"):
        SnapshotTable.convert_parquet(
            spark, src_dir, str(tmp_path / "t3"), stats_cols=("nope",)
        )


def test_convert_parquet_single_value_files_record_partitions(spark, tmp_path):
    src_dir = str(tmp_path / "clustered")
    (
        spark.range(400)
        .selectExpr("id AS k", "CAST(id % 4 AS STRING) AS tenant")
        .repartition(4, "tenant")
        .write.parquet(src_dir)
    )
    t = SnapshotTable.convert_parquet(
        spark, src_dir, str(tmp_path / "tbl"), partition_by=("tenant",)
    )
    ents = [e for e in t._data_entries(1) if e.get("rows")]
    # hash-clustered on tenant: single-valued files record the value
    assert any("partitions" in e for e in ents)
    kept, total = t.plan_files(1, partition_eq={"tenant": "2"})
    assert len(kept) < total
    rows = t.read(spark, partition_eq={"tenant": "2"}).filter(
        "tenant = '2'"
    )
    assert rows.count() == 100


# --- IN-list filter pushdown in the batch DataSource ---------------------------


def test_pushed_in_filter_prunes_partitions_and_stats(spark, tmp_path):
    from pyspark.sql.datasource import In

    from serverless_mapreduce_spark.sources.snapshot_batch import (
        SnapshotBatchReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3), ("d", 4)], "p string, v bigint"
        ),
        partition_by=("p",),
    )
    reader = SnapshotBatchReader({"path": base}, t._schema(1))
    residual = list(reader.pushFilters([In(("p",), ("a", "c"))]))
    assert len(residual) == 1  # returned for row-level re-eval
    planned = [p.value[0] for p in reader.file_plan()]
    assert len(planned) == 2  # only the a and c partitions
    rows = sorted(
        r.v
        for f in planned
        for r in spark.read.parquet(f).collect()
    )
    assert rows == [1, 3]
    # numeric IN prunes via stats on an unpartitioned layout too
    t2 = SnapshotTable(str(tmp_path / "tbl2"))
    for lo in (0, 100, 200):
        t2.commit(
            spark.range(lo, lo + 10).selectExpr("id AS k").coalesce(1),
            stats_cols=("k",),
        )
    r2 = SnapshotBatchReader({"path": str(tmp_path / "tbl2")}, t2._schema(3))
    list(r2.pushFilters([In(("k",), (5, 7))]))
    planned2 = [p.value[0] for p in r2.file_plan()]
    assert len(planned2) == 1  # only the 0..9 file can hold 5 or 7


def test_pushed_startswith_and_null_filters_prune(spark, tmp_path):
    from pyspark.sql.datasource import IsNotNull, IsNull, StringStartsWith

    from serverless_mapreduce_spark.sources.snapshot_batch import (
        SnapshotBatchReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        spark.createDataFrame(
            [("alpha", 1), ("beta", 2), (None, 3), ("alto", 4)],
            "p string, v bigint",
        ),
        partition_by=("p",),
    )
    # startsWith('al') keeps exactly the alpha and alto partitions
    r = SnapshotBatchReader({"path": base}, t._schema(1))
    list(r.pushFilters([StringStartsWith(("p",), "al")]))
    vals = sorted(
        row.v
        for part in r.file_plan()
        for row in spark.read.parquet(part.value[0]).collect()
    )
    assert vals == [1, 4]
    # IsNotNull drops the NULL partition; IsNull keeps only it
    r2 = SnapshotBatchReader({"path": base}, t._schema(1))
    list(r2.pushFilters([IsNotNull(("p",))]))
    vals2 = sorted(
        row.v
        for part in r2.file_plan()
        for row in spark.read.parquet(part.value[0]).collect()
    )
    assert vals2 == [1, 2, 4]
    r3 = SnapshotBatchReader({"path": base}, t._schema(1))
    list(r3.pushFilters([IsNull(("p",))]))
    vals3 = sorted(
        row.v
        for part in r3.file_plan()
        for row in spark.read.parquet(part.value[0]).collect()
    )
    assert vals3 == [3]
    # string stats prune startsWith on an UNpartitioned clustered layout
    t2 = SnapshotTable(str(tmp_path / "tbl2"))
    t2.commit(
        spark.createDataFrame(
            [("apple", 1), ("axe", 2), ("melon", 3), ("zebra", 4)],
            "s string, v bigint",
        ).repartitionByRange(2, "s"),
        stats_cols=("s",),
    )
    r4 = SnapshotBatchReader({"path": t2.base}, t2._schema(1))
    list(r4.pushFilters([StringStartsWith(("s",), "a")]))
    planned = [p.value[0] for p in r4.file_plan()]
    assert len(planned) == 1
    vals4 = sorted(
        row.v for f in planned for row in spark.read.parquet(f).collect()
    )
    assert vals4 == [1, 2]


def test_pushed_equality_probes_bloom_bitmaps(spark, tmp_path):
    from pyspark.sql.datasource import EqualTo, In

    from serverless_mapreduce_spark.sources.snapshot_batch import (
        SnapshotBatchReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    # scattered high-cardinality keys: min/max spans everything, only
    # the bloom bitmap can skip files
    for lo in (0, 1, 2):
        t.commit(
            spark.range(lo, 3000, 3).selectExpr("id AS k").coalesce(1),
            bloom_cols=("k",),
        )
    r = SnapshotBatchReader({"path": base}, t._schema(3))
    list(r.pushFilters([EqualTo(("k",), 42)]))   # 42 % 3 == 0: file 1
    planned = [p.value[0] for p in r.file_plan()]
    assert len(planned) == 1
    assert [row.k for row in spark.read.parquet(planned[0]).filter("k = 42").collect()] == [42]
    r2 = SnapshotBatchReader({"path": base}, t._schema(3))
    list(r2.pushFilters([In(("k",), (42, 43))]))  # files 1 and 2
    assert len(r2.file_plan()) == 2


def test_fast_forward_rebase_appends(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshots import CommitConflict

    t = SnapshotTable(str(tmp_path / "tbl"))
    v1 = t.commit(_kv(spark, [(1, 1)]))
    t.set_branch("bf", v1)
    t.commit_to_branch("bf", _kv(spark, [(2, 2)]))
    t.commit(_kv(spark, [(9, 9)]))  # main keeps appending meanwhile
    # strict FF refuses; the append-classified rebase lands BOTH histories
    with pytest.raises(CommitConflict, match="rebase_appends"):
        t.fast_forward("bf")
    ff = t.fast_forward("bf", rebase_appends=True)
    assert t.latest_version() == ff
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2, 9]
    # the FF version introduces ONLY the branch's rows to the feed
    changes = sorted(
        (r["_change_type"], r["_commit_version"] == ff, r["k"])
        for r in t.read_changes(spark, v1, ff).collect()
    )
    assert ("insert", True, 2) in changes and ("insert", False, 9) in changes
    # row-REMOVING main movement still refuses the rebase
    t.set_branch("bg", ff)
    t.commit_to_branch("bg", _kv(spark, [(3, 3)]))
    t.delete_where(spark, "k = 9")
    with pytest.raises(CommitConflict, match="escape"):
        t.fast_forward("bg", rebase_appends=True)


# --- partition-spec evolution: mixed specs coexist per-entry -------------------


def test_partition_spec_evolution_prunes_per_entry(spark, tmp_path):
    """Iceberg partition-spec EVOLUTION falls out of per-entry value
    recording: a table committed first unpartitioned, then under an
    identity spec, then under a transform spec serves one read while
    each probe prunes exactly the entries whose recorded values prove
    exclusion — unrecorded entries stay conservatively scanned."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20)], "p string, k bigint, v bigint"
    )
    t.commit(df.coalesce(1))                                    # no spec
    t.commit(
        spark.createDataFrame(
            [("a", 3, 30), ("c", 4, 40)], "p string, k bigint, v bigint"
        ),
        partition_by=("p",),                                    # identity
    )
    t.commit(
        spark.createDataFrame(
            [("ax", 5, 50), ("cx", 6, 60)], "p string, k bigint, v bigint"
        ),
        partition_by=("truncate(1, p)",),                       # transform
    )
    head = t.latest_version()
    # probe p='c': the unspec'd file is kept (no proof), the identity
    # entries prune to the 'c' file, the truncate entries prune to 'cx'
    kept, total = t.plan_files(head, partition_eq={"p": "c"})
    assert total == 5 and len(kept) == 3
    rows = sorted(
        r.v for r in t.read(spark, partition_eq={"p": "c"}).filter("p = 'c'").collect()
    )
    assert rows == [40]
    # full read is spec-agnostic
    assert t.read(spark).count() == 6


def test_replace_where_rebases_and_conflicts(spark, tmp_path, monkeypatch):
    from serverless_mapreduce_spark.sources.snapshots import CommitConflict

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("b", 2, 20)]), partition_by=("p",)
    )
    other = SnapshotTable(base)
    # disjoint: backfill of partition 'a' races an append to 'b' -> lands
    _inject_once(
        monkeypatch,
        lambda: other.commit(_pkv(spark, [("b", 9, 90)]), partition_by=("p",)),
    )
    v = t.replace_where(
        spark, {"p": "a"}, _pkv(spark, [("a", 7, 70)]),
    )
    rows = sorted(tuple(r) for r in t.read(spark, v).collect())
    assert rows == [("a", 7, 70), ("b", 2, 20), ("b", 9, 90)]


def test_replace_where_conflicts_on_target_partition_append(
    spark, tmp_path, monkeypatch
):
    from serverless_mapreduce_spark.sources.snapshots import CommitConflict

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("b", 2, 20)]), partition_by=("p",)
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(_pkv(spark, [("a", 8, 80)]), partition_by=("p",)),
    )
    # overlapping: a concurrent append INTO the replaced partition would
    # be silently erased by a rebase -> must surface
    with pytest.raises(CommitConflict, match="read set"):
        t.replace_where(spark, {"p": "a"}, _pkv(spark, [("a", 7, 70)]))


def test_update_where_rebases_over_out_of_box_append(spark, tmp_path, monkeypatch):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1), (100, 100)]).coalesce(1), stats_cols=("k",))
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(_kv(spark, [(500, 500)]), stats_cols=("k",)),
    )
    v = t.update_where(
        spark, "k <= 2", {"v": "v * 10"}, prune=("k", 0, 2), stats_cols=("k",)
    )
    rows = sorted(tuple(r) for r in t.read(spark, v).collect())
    # both the update AND the concurrent append survive
    assert rows == [(1, 10), (100, 100), (500, 500)]
