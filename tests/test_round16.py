"""Round-16 pins for the r15 ADVICE items: (1) an auto-REBASED RMW
commit must not carry the interleaved commit's CDF change files into
its own manifest (they would re-emit the interloper's CDC rows under
the rebased version), (2) WAP staging through the DataSource branch
writer and fast_forward must enforce CHECK constraints like every
other write path, (3) concurrent BRANCH staging must not spuriously
conflict a provably-disjoint RMW rebase (branch slots are invisible to
main), (4) streaming startingTimestamp is INCLUSIVE of exact-equality
commits and parses compact ISO dates as dates, not epoch seconds."""

from __future__ import annotations

import pytest

from serverless_mapreduce_spark.sources.snapshot_stream import (
    SnapshotStreamReader,
)
from serverless_mapreduce_spark.sources.snapshots import (
    CommitConflict,
    SnapshotTable,
)


def _kv(spark, pairs):
    return spark.createDataFrame(list(pairs), "k bigint, v bigint")


def _inject_once(monkeypatch, fn):
    """Deterministic race: run ``fn`` (the interloper's commits) right
    before the victim's FIRST _publish_cow attempt."""
    import serverless_mapreduce_spark.sources.snapshots as S

    orig = S.SnapshotTable._publish_cow
    state = {"armed": True}

    def wrapper(self, *a, **k):
        if state["armed"]:
            state["armed"] = False
            fn()
        return orig(self, *a, **k)

    monkeypatch.setattr(S.SnapshotTable, "_publish_cow", wrapper)


# --- advice 1: rebase must not re-introduce interloper CDF files --------------


def test_rebase_does_not_reemit_interloper_change_files(
    spark, tmp_path, monkeypatch
):
    """Victim update_where on the k<=2 box races an interloper
    delete_where(change_feed=True) on k>=100. The interloper's fresh
    segment holds BOTH its change file and residual entries the victim
    rewrites, so the victim's rebase folds that segment — before the
    fix, the change file rode into the rebased commit's new segment and
    read_changes re-emitted the interloper's delete CDC row a second
    time under the rebased _commit_version."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    # range-cluster so k<=2 and k=100 land in DIFFERENT files with no
    # stats-less empty files (those would be rewritten by both boxes)
    t.commit(
        _kv(spark, [(1, 1), (2, 2), (100, 100)]).repartitionByRange(
            2, "k"
        ),
        stats_cols=("k",),
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.delete_where(
            spark,
            "k >= 100",
            prune=("k", 100, 10**9),
            stats_cols=("k",),
            change_feed=True,
        ),
    )
    v = t.update_where(
        spark,
        "k <= 2",
        {"v": "v + 1"},
        prune=("k", 0, 2),
        stats_cols=("k",),
        change_feed=True,
    )
    assert v == 3  # rebased over the interloper's v2
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [(1, 2), (2, 3)]
    chg = t.read_changes(spark, 0, 3).collect()
    deletes = [r for r in chg if r["_change_type"] == "delete"]
    # exactly ONE delete pre-image, under the INTERLOPER's version
    assert [(r.k, r["_commit_version"]) for r in deletes] == [(100, 2)]
    # the rebased commit contributes only its own update pair
    ups = sorted(
        (r["_change_type"], r.k, r.v)
        for r in chg
        if r["_commit_version"] == 3 and r["_change_type"] != "insert"
    )
    assert ups == [
        ("update_postimage", 1, 2),
        ("update_postimage", 2, 3),
        ("update_preimage", 1, 1),
        ("update_preimage", 2, 2),
    ]
    # the head manifest carries its OWN change entries (v3 is their
    # introducing version) but never the interloper's — change files
    # drop out of later manifests by construction, rebased or not
    interloper_chg = {
        e["path"] for e in t._entries(2) if e.get("kind") == "change"
    }
    assert interloper_chg  # the interloper did record CDF files
    assert interloper_chg.isdisjoint(e["path"] for e in t._entries(v))


# --- advice 3: branch slots are not main movement in the rebase walk ----------


def test_rmw_rebases_over_concurrent_branch_staging(
    spark, tmp_path, monkeypatch
):
    """A branch commit landing in (base, head] is invisible to main —
    the rebase classifier must walk past its slot without diffing the
    branch's divergent file set, even when the branch's rows land
    INSIDE the victim's read box (they are not on main). A concurrent
    MAIN append outside the box still rebases cleanly."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    v1 = t.commit(
        _kv(spark, [(1, 1), (2, 2), (100, 100)]).repartitionByRange(
            2, "k"
        ),
        stats_cols=("k",),
    )
    t.set_branch("stage", v1)
    other = SnapshotTable(base)

    def interlope():
        # branch commit INSIDE the victim's read box (k=1): invisible
        other.commit_to_branch("stage", _kv(spark, [(1, 999)]))
        # main append OUTSIDE the box: provably disjoint, rebases
        other.commit(_kv(spark, [(500, 500)]).coalesce(1), stats_cols=("k",))

    _inject_once(monkeypatch, interlope)
    v = t.delete_where(
        spark, "k <= 2", prune=("k", 0, 2), stats_cols=("k",)
    )
    assert v == t.latest_version()
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [(100, 100), (500, 500)]
    # the branch still sees its own staged row on top of the fork
    assert sorted(r.k for r in t.read(spark, t.resolve_branch("stage")).collect()) == [
        1,
        1,
        2,
        100,
    ]


# --- advice 2: WAP staging + fast_forward enforce CHECK constraints -----------


def test_branch_ds_publish_enforces_constraints(spark, tmp_path):
    """publish_entries_to_branch (the df.write.option('branch',...)
    path) validates new files against the constraints in force at the
    branch head — the staging-time mirror of publish_entries."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    v1 = t.commit(_kv(spark, [(1, 1)]))
    t.add_check_constraint(spark, "v_pos", "v >= 0")
    t.set_branch("stage", t.latest_version())
    bad = t._write_data(_kv(spark, [(2, -5)]), ())
    with pytest.raises(ValueError, match="v_pos"):
        t.publish_entries_to_branch("stage", bad)
    # valid rows stage fine and fast-forward onto main
    good = t._write_data(_kv(spark, [(3, 3)]), ())
    t.publish_entries_to_branch("stage", good)
    t.fast_forward("stage")
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]


def test_fast_forward_validates_constraints_added_after_fork(
    spark, tmp_path
):
    """A CHECK constraint added on MAIN after the branch forked was
    never seen by the branch's staging-time enforcement — fast_forward
    validates the branch delta's files against exactly the post-fork
    constraints before they land on main."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    v1 = t.commit(_kv(spark, [(1, 1)]))
    t.set_branch("stage", v1)
    t.commit_to_branch("stage", _kv(spark, [(2, -5)]))  # no constraint yet
    t.add_check_constraint(spark, "v_pos", "v >= 0")
    with pytest.raises(ValueError, match="v_pos"):
        t.fast_forward("stage", rebase_appends=True)
    # a clean branch passes the post-fork constraint and publishes
    t.set_branch("ok", v1)
    t.commit_to_branch("ok", _kv(spark, [(3, 3)]))
    ff = t.fast_forward("ok", rebase_appends=True)
    assert t.latest_version() == ff
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]


# --- advice 4: startingTimestamp inclusivity + ISO-first parsing --------------


def test_starting_timestamp_exact_equality_is_included(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1)]))
    t.commit(_kv(spark, [(2, 2)]))
    v2_ts = t._manifest_body(2)["ts"]
    reader = SnapshotStreamReader(
        {"path": base, "startingTimestamp": str(v2_ts)}, None
    )
    # Delta semantics: 'changes committed AT or after the timestamp' —
    # the commit whose wall-clock equals the option exactly streams
    assert reader.initialOffset() == {"version": 1}
    # strictly after v2's ts: nothing old streams
    late = SnapshotStreamReader(
        {"path": base, "startingTimestamp": str(v2_ts + 0.001)}, None
    )
    assert late.initialOffset() == {"version": 2}


def test_starting_timestamp_compact_iso_parses_as_date(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 1)]))
    # '29991231' as a DATE is far future (stream nothing old); as
    # epoch-seconds it would be 1970 (stream everything) — ISO wins
    reader = SnapshotStreamReader(
        {"path": base, "startingTimestamp": "29991231"}, None
    )
    assert reader.initialOffset() == {"version": 1}
    # a plain float string still reads as epoch seconds
    early = SnapshotStreamReader(
        {"path": base, "startingTimestamp": "86400.5"}, None
    )
    assert early.initialOffset() == {"version": 0}


# --- r15 verdict item 1: shared triangle memo ---------------------------------


def test_metrics_summary_shares_triangle_memo(spark):
    """graph_metrics_summary must serve the SAME triangle count as
    graph_triangles from the session memo, and the memoized value must
    equal a fresh 3-way wedge-closure join over the edge table — the
    plan it replaced."""
    from pyspark.sql import functions as F

    import serverless_mapreduce_spark.operators.graph as G
    from serverless_mapreduce_spark import artifacts

    sf_dir = "/root/testdata/sf0.001"
    artifacts.clear("graph_triangle_scalars")
    tri_df = G.graph_triangles(spark, sf_dir).collect()[0]
    assert G._triangle_scalars.built(spark, sf_dir)  # first call built it
    summary = G.graph_metrics_summary(spark, sf_dir).collect()[0]
    assert summary["n_triangles"] == tri_df["n_triangles"]
    assert summary["n_nodes"] == tri_df["n_nodes"]
    assert summary["n_edges"] == tri_df["n_edges"]
    # ground truth: the oriented 3-way join the summary used to re-run
    edges = G._edges(spark, sf_dir)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    fresh = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .count()
    )
    assert tri_df["n_triangles"] == fresh


# --- r15 verdict item 3: disjoint-partition mutate-vs-mutate rebase -----------


def _pkv(spark, triples):
    return spark.createDataFrame(
        list(triples), "p string, k bigint, v bigint"
    )


def test_merge_rebases_over_disjoint_partition_delete(
    spark, tmp_path, monkeypatch
):
    """Merge on partition 'a' racing a partition_eq-scoped delete on
    partition 'b': disjoint file sets + disjoint read regions, so the
    merge rebases mechanically and BOTH mutations' rows survive, with
    the change feed single-sourced through the rebase."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30), ("b", 4, 40)]),
        partition_by=("p",),
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.delete_where(
            spark,
            "p = 'b' and k = 4",
            partition_eq={"p": "b"},
            partition_by=("p",),
            change_feed=True,
        ),
    )
    v = t.merge_into(
        spark,
        _pkv(spark, [("a", 1, 11), ("a", 7, 70)]),
        ("p", "k"),
        change_feed=True,
    )
    assert v == 3  # delete took v2; the merge rebased onto it
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [
        ("a", 1, 11),  # merged update
        ("a", 2, 20),
        ("a", 7, 70),  # merged insert
        ("b", 3, 30),
        # (b, 4, 40) deleted by the interloper — survives the rebase
    ]
    chg = t.read_changes(spark, 1, 3).collect()
    got = sorted(
        (r["_commit_version"], r["_change_type"], r.p, r.k, r.v)
        for r in chg
    )
    assert got == [
        (2, "delete", "b", 4, 40),
        (3, "insert", "a", 7, 70),
        (3, "update_postimage", "a", 1, 11),
        (3, "update_preimage", "a", 1, 10),
    ]


def test_merge_conflicts_on_same_partition_delete(
    spark, tmp_path, monkeypatch
):
    """Same race, but the delete hits the partition the merge rewrites:
    overlapping file sets = lost update, must raise."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("a", 2, 20), ("b", 3, 30)]),
        partition_by=("p",),
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.delete_where(
            spark, "p = 'a' and k = 2", partition_eq={"p": "a"},
            partition_by=("p",),
        ),
    )
    with pytest.raises(CommitConflict, match="rewrites"):
        t.merge_into(spark, _pkv(spark, [("a", 1, 11)]), ("p", "k"))


def test_partition_eq_prune_keeps_other_partitions_byte_identical(
    spark, tmp_path
):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("b", 3, 30), ("c", 5, 50)]),
        partition_by=("p",),
    )
    before = {
        e["path"]: e.get("partitions", {}).get("p")
        for e in t._data_entries(1)
    }
    a_paths = {p for p, part in before.items() if part == "a"}
    rest = set(before) - a_paths
    v = t.delete_where(
        spark, "p = 'a'", partition_eq={"p": "a"}, partition_by=("p",)
    )
    after = {e["path"] for e in t._data_entries(v)}
    assert rest <= after  # untouched partitions carry path-identical
    assert a_paths.isdisjoint(after)
    assert sorted(r.p for r in t.read(spark).collect()) == ["b", "c"]


def test_update_where_partition_eq_rebases_over_disjoint_delete(
    spark, tmp_path, monkeypatch
):
    """Both sides partition-scoped: UPDATE on 'a' races DELETE on 'b' —
    lands without retry; both effects visible."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("b", 3, 30), ("b", 4, 40)]),
        partition_by=("p",),
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.delete_where(
            spark, "p = 'b' and k = 3", partition_eq={"p": "b"},
            partition_by=("p",),
        ),
    )
    v = t.update_where(
        spark,
        "p = 'a'",
        {"v": "v * 2"},
        partition_eq={"p": "a"},
        partition_by=("p",),
    )
    assert v == 3
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [("a", 1, 20), ("b", 4, 40)]


# --- r15 verdict item 5: column mapping (rename/drop without rewrite) ---------


def _kvs(spark, rows):
    return spark.createDataFrame(
        list(rows), "k bigint, v bigint, s string"
    )


def test_rename_is_metadata_only_and_translates_everywhere(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        _kvs(spark, [(1, 10, "x"), (2, 20, "y"), (100, 1, "z")])
        .repartitionByRange(2, "k"),
        stats_cols=("k", "v"),
    )
    files = sorted(t._files(1))
    v = t.rename_column("v", "amount")
    assert sorted(t._files(v)) == files  # zero bytes moved
    # reads serve the new logical name; time travel serves the old one
    assert t.read(spark).columns == ["k", "amount", "s"]
    assert t.read(spark, 1).columns == ["k", "v", "s"]
    # stats pruning translates: the box on the RENAMED column still
    # prunes via the physical stats recorded at v1
    planned, total = t.plan_files(where=("amount", 15, 25))
    assert total >= 2 and len(planned) < total
    # DML on the renamed column: prune + condition + SET
    t.update_where(
        spark,
        "amount <= 10",
        {"amount": "amount + 1"},
        prune=("amount", 0, 10),
        stats_cols=("k",),
        change_feed=True,
    )
    rows = sorted((r.k, r.amount) for r in t.read(spark).collect())
    assert rows == [(1, 11), (2, 20), (100, 2)]
    # CDF window spanning the rename serves the POST-rename schema
    chg = t.read_changes(spark, 0, t.latest_version())
    assert "amount" in chg.columns and "v" not in chg.columns


def test_drop_then_readd_isolation(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kvs(spark, [(1, 10, "secret"), (2, 20, "hidden")]))
    t.drop_column("s")
    assert t.read(spark).columns == ["k", "v"]
    # plain evolving re-add refuses (old bytes would resurface)
    with pytest.raises(ValueError, match="add_column_mapped"):
        t.commit(_kvs(spark, [(3, 30, "w")]))
    t.add_column_mapped("s", "string")
    t.commit(_kvs(spark, [(3, 30, "fresh")]))
    rows = sorted(
        (r.k, r.s) for r in t.read(spark).collect()
    )
    # pre-drop rows read NULL — never 'secret'/'hidden'
    assert rows == [(1, None), (2, None), (3, "fresh")]
    # time travel before the drop still serves the old values
    old = sorted((r.k, r.s) for r in t.read(spark, 1).collect())
    assert old == [(1, "secret"), (2, "hidden")]


def test_rename_guards(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kvs(spark, [(1, 10, "x")]))
    t.add_check_constraint(spark, "v_pos", "v >= 0")
    with pytest.raises(ValueError, match="v_pos"):
        t.rename_column("v", "amount")
    with pytest.raises(ValueError, match="v_pos"):
        t.drop_column("v")
    t.drop_check_constraint("v_pos")
    t.rename_column("v", "amount")
    # renaming another column INTO a physical name in play refuses
    with pytest.raises(ValueError, match="physical"):
        t.rename_column("s", "v")
    # renaming back to the own physical name is the identity restore
    t.rename_column("amount", "v")
    assert t.column_mapping() == {}


def test_rmw_conflicts_on_concurrent_rename(spark, tmp_path, monkeypatch):
    """A rename landing between an RMW's derive and publish changes what
    the written files MEAN — must surface as CommitConflict, never a
    silent rebase (Delta's MetadataChangedException)."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _kvs(spark, [(1, 10, "x"), (100, 1, "y")]).repartitionByRange(
            2, "k"
        ),
        stats_cols=("k",),
    )
    other = SnapshotTable(base)
    _inject_once(monkeypatch, lambda: other.rename_column("v", "amount"))
    with pytest.raises(CommitConflict, match="column mapping"):
        t.delete_where(spark, "k <= 1", prune=("k", 0, 1), stats_cols=("k",))


def test_batch_ds_reads_and_pushdown_across_rename(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_batch import register

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _kvs(spark, [(1, 10, "x"), (2, 20, "y"), (100, 1, "z")])
        .repartitionByRange(2, "k"),
        stats_cols=("k", "v"),
    )
    t.rename_column("v", "amount")
    register(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("snapshot")
        .option("path", base)
        .load()
        .filter("amount >= 15")
    )
    assert sorted((r.k, r.amount) for r in df.collect()) == [(2, 20)]
    # the DS writer to a mapped table writes the stable PHYSICAL name
    (
        spark.createDataFrame([(7, 70, "w")], "k bigint, amount bigint, s string")
        .write.format("snapshot")
        .option("path", base)
        .option("statsCols", "amount")
        .mode("append")
        .save()
    )
    rows = sorted((r.k, r.amount) for r in t.read(spark).collect())
    assert rows == [(1, 10), (2, 20), (7, 70), (100, 1)]
    # physical invariant: the new file's parquet column is 'v', not
    # 'amount', and its stats ride under the physical key
    new = [
        e
        for e in t._data_entries(t.latest_version())
        if e.get("stats", {}).get("v") == [70, 70]
    ]
    assert len(new) == 1
    import pyarrow.parquet as pq

    assert "v" in pq.read_schema(new[0]["path"]).names


def test_stream_reads_renamed_table(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_stream import (
        SnapshotStreamReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kvs(spark, [(1, 10, "x")]))
    t.rename_column("v", "amount")
    t.commit(
        spark.createDataFrame(
            [(2, 20, "y")], "k bigint, amount bigint, s string"
        )
    )
    reader = SnapshotStreamReader({"path": base}, t._schema(t.latest_version()))
    parts = reader.partitions({"version": 0}, {"version": 3})
    vals = sorted(
        (b.column(0)[i].as_py(), b.column(1)[i].as_py())
        for p in parts
        for b in reader.read(p)
        for i in range(b.num_rows)
    )
    # both the pre-rename file (physical 'v') and the post-rename file
    # serve the logical 'amount' column with real values, never NULLs
    assert vals == [(1, 10), (2, 20)]


# --- r15 verdict item 6: SQL-text DML front end --------------------------------


def test_sql_merge_clause_order_parity_with_library(spark, tmp_path):
    """The SQL statement and the equivalent library call must publish
    byte-identical table states — clause order included (DELETE before
    UPDATE, first-match-wins)."""
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    rows = [(1, 10), (2, 20), (3, 30), (6, 60), (9, 90)]
    src_rows = [(2, 200), (3, 300), (6, 600), (9, 900), (50, 500)]

    lib = SnapshotTable(str(tmp_path / "lib"))
    lib.commit(_kv(spark, rows).coalesce(1))
    lib.merge_into(
        spark,
        _kv(spark, src_rows),
        ("k",),
        when_matched=[("k % 3 = 0", "delete"), ("k % 2 = 0", "update")],
        insert_unmatched=True,
    )

    via_sql = SnapshotTable(str(tmp_path / "sql"))
    via_sql.commit(_kv(spark, rows).coalesce(1))
    _kv(spark, src_rows).createOrReplaceTempView("parity_src")
    sql_dml(
        spark,
        """MERGE INTO tbl t USING parity_src s ON t.k = s.k
           WHEN MATCHED AND t.k % 3 = 0 THEN DELETE
           WHEN MATCHED AND t.k % 2 = 0 THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
        {"tbl": via_sql},
    )
    a = sorted(tuple(r) for r in lib.read(spark).collect())
    b = sorted(tuple(r) for r in via_sql.read(spark).collect())
    assert a == b == [(1, 10), (2, 200), (50, 500)]


def test_sql_update_delete_insert_shapes(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10), (2, 20), (9, 90)]).coalesce(1))
    tables = {"tbl": t}
    sql_dml(spark, "UPDATE tbl SET v = v * 2 WHERE k <= 2", tables)
    sql_dml(spark, "DELETE FROM tbl WHERE k = 9;", tables)
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 20),
        (2, 40),
    ]
    # partitioned replace + plain insert
    p = SnapshotTable(str(tmp_path / "p"))
    p.commit(
        spark.createDataFrame([("a", 1), ("b", 2)], "p string, k bigint"),
        partition_by=("p",),
    )
    spark.createDataFrame([("b", 99)], "p string, k bigint").createOrReplaceTempView(
        "sqlr_newb"
    )
    sql_dml(
        spark,
        "INSERT OVERWRITE ptbl PARTITION (p = 'b') SELECT * FROM sqlr_newb",
        {"ptbl": p},
        partition_by=("p",),
    )
    assert sorted(tuple(r) for r in p.read(spark).collect()) == [
        ("a", 1),
        ("b", 99),
    ]


def test_sql_merge_guards(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10)]).coalesce(1))
    _kv(spark, [(1, 11)]).createOrReplaceTempView("guard_src")
    with pytest.raises(ValueError, match="key-based"):
        sql_dml(
            spark,
            "MERGE INTO tbl t USING guard_src s ON t.k > s.k "
            "WHEN MATCHED THEN DELETE",
            {"tbl": t},
        )
    with pytest.raises(ValueError, match="full-row"):
        sql_dml(
            spark,
            "MERGE INTO tbl t USING guard_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = 1",
            {"tbl": t},
        )
    with pytest.raises(ValueError, match="target columns only"):
        sql_dml(
            spark,
            "MERGE INTO tbl t USING guard_src s ON t.k = s.k "
            "WHEN MATCHED AND s.v > 0 THEN DELETE",
            {"tbl": t},
        )
    with pytest.raises(ValueError, match="unknown snapshot table"):
        sql_dml(spark, "DELETE FROM nope WHERE k = 1", {"tbl": t})


def test_sql_ddl_and_maintenance_shapes(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))
    tables = {"tbl": t}
    sql_dml(spark, "ALTER TABLE tbl RENAME COLUMN v TO amount", tables)
    assert t.read(spark).columns == ["k", "amount"]
    sql_dml(
        spark,
        "ALTER TABLE tbl ADD CONSTRAINT amt_pos CHECK (amount >= 0)",
        tables,
    )
    assert "amt_pos" in t.constraints()
    with pytest.raises(ValueError, match="amt_pos"):
        t.commit(
            spark.createDataFrame([(3, -3)], "k bigint, amount bigint")
        )
    sql_dml(spark, "ALTER TABLE tbl DROP CONSTRAINT amt_pos", tables)
    sql_dml(spark, "ALTER TABLE tbl ADD COLUMN note string", tables)
    assert t.read(spark).columns == ["k", "amount", "note"]
    sql_dml(spark, "ALTER TABLE tbl DROP COLUMN note", tables)
    # maintenance verbs parse and dispatch
    for _ in range(3):
        t.commit(_kv_named(spark, [(5, 50)]).coalesce(1))
    v = sql_dml(spark, "OPTIMIZE tbl", tables)
    assert v == t.latest_version()
    sql_dml(spark, "VACUUM tbl RETAIN 2 VERSIONS", tables)
    assert len(t.versions()) <= 4  # retention dropped the old manifests


def _kv_named(spark, pairs):
    return spark.createDataFrame(list(pairs), "k bigint, amount bigint")


# --- type widening: metadata-only ALTER COLUMN TYPE ---------------------------


def test_widen_column_type_metadata_only(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        spark.createDataFrame([(1, 10), (2, 2_000_000)], "k int, v int")
        .repartitionByRange(2, "k"),
        stats_cols=("v",),
    )
    files = sorted(t._files(1))
    v = sql_dml(
        spark, "ALTER TABLE tbl ALTER COLUMN v TYPE bigint", {"tbl": t}
    )
    assert sorted(t._files(v)) == files  # zero bytes moved
    assert dict(t.read(spark).dtypes)["v"] == "bigint"
    # old INT32 files read under the bigint pin with values intact
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == [
        (1, 10),
        (2, 2_000_000),
    ]
    # a wider-than-int value now commits (the point of the widen)...
    t.commit(
        spark.createDataFrame([(3, 2**40)], "k int, v bigint"),
        stats_cols=("v",),
    )
    # ...and an append that KEPT the old narrow type still lands too
    t.commit(spark.createDataFrame([(4, 44)], "k int, v int"))
    rows = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert rows == [(1, 10), (2, 2_000_000), (3, 2**40), (4, 44)]
    # stats pruning still works across narrow- and wide-typed files
    planned, total = t.plan_files(where=("v", 2**39, 2**41))
    assert len(planned) < total
    # narrowing and cross-family changes refuse
    with pytest.raises(ValueError, match="read-compatible"):
        t.widen_column_type("v", "int")
    with pytest.raises(ValueError, match="read-compatible"):
        t.widen_column_type("v", "string")
    # a wider BATCH type without the declared ALTER refuses with a hint
    t2 = SnapshotTable(str(tmp_path / "t2"))
    t2.commit(spark.createDataFrame([(1, 1)], "k int, v int"))
    with pytest.raises(ValueError, match="widen_column_type"):
        t2.commit(spark.createDataFrame([(2, 2)], "k int, v bigint"))


def test_widen_then_rename_compose(spark, tmp_path):
    """Widening composes with column mapping: widen, rename, read —
    the physical file column is still the original narrow-typed name."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, 7)], "k int, v int"))
    t.widen_column_type("v", "bigint")
    t.rename_column("v", "amount")
    rows = t.read(spark).collect()
    assert [(r.k, r.amount) for r in rows] == [(1, 7)]
    assert dict(t.read(spark).dtypes)["amount"] == "bigint"


def test_sql_restore_and_describe_history(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10)]).coalesce(1))
    t.commit(_kv(spark, [(2, 20)]).coalesce(1))
    tables = {"tbl": t}
    v = sql_dml(spark, "RESTORE TABLE tbl TO VERSION AS OF 1", tables)
    assert v == t.latest_version()
    assert sorted(r.k for r in t.read(spark).collect()) == [1]
    hist = sql_dml(spark, "DESCRIBE HISTORY tbl", tables)
    modes = [r["mode"] for r in hist.collect()]
    assert "restore" in modes and "append" in modes
    with pytest.raises(ValueError, match="unknown snapshot table"):
        sql_dml(spark, "DESCRIBE HISTORY nope", tables)


# --- round-16 self-review fixes ------------------------------------------------


def test_restore_restores_column_mapping(spark, tmp_path):
    """RESTORE carries the restored version's mapping/tombstones, not
    the head's — restoring past a drop+re-add must serve the ORIGINAL
    values, never NULLs under the head's fresh physical name."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kvs(spark, [(1, 10, "secret")]))
    t.drop_column("s")
    t.add_column_mapped("s", "string")
    t.commit(_kvs(spark, [(2, 20, "fresh")]))
    t.restore_version(1)
    rows = sorted((r.k, r.s) for r in t.read(spark).collect())
    assert rows == [(1, "secret")]  # original bytes, original mapping
    assert t.column_mapping() == {}
    # and the restored head keeps working as a normal table
    t.commit(_kvs(spark, [(3, 30, "post")]))
    assert sorted(r.s for r in t.read(spark).collect()) == [
        "post",
        "secret",
    ]


def test_add_column_mapped_refuses_live_physical_shadow(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10)]))
    t.rename_column("v", "amount")  # physical 'v' still live
    with pytest.raises(ValueError, match="live physical"):
        t.add_column_mapped("v", "bigint")


def test_drop_column_refuses_live_mor_delete_key(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kvs(spark, [(1, 10, "x"), (2, 20, "y")]))
    t.delete_keys_mor(spark, spark.createDataFrame([("x",)], "s string"), ("s",))
    with pytest.raises(ValueError, match="merge-on-read delete"):
        t.drop_column("s")
    # after compaction materializes the delete, the drop lands
    t.compact_small_files(spark)
    t.drop_column("s")
    assert sorted(r.k for r in t.read(spark).collect()) == [2]


def test_sql_update_where_inside_subquery_or_literal(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kvs(spark, [(1, 10, "a"), (2, 20, "b")]).coalesce(1))
    tables = {"tbl": t}
    spark.createDataFrame([(7,)], "x bigint").createOrReplaceTempView("u16")
    # WHERE inside the SET subquery must not split the statement
    sql_dml(
        spark,
        "UPDATE tbl SET v = (SELECT max(x) FROM u16 WHERE x > 0)",
        tables,
    )
    assert sorted(r.v for r in t.read(spark).collect()) == [7, 7]
    # WHERE inside a string literal must not split either; the real
    # statement-level WHERE after it must still apply
    sql_dml(
        spark,
        "UPDATE tbl SET s = 'where it goes' WHERE k = 1",
        tables,
    )
    rows = sorted((r.k, r.s) for r in t.read(spark).collect())
    assert rows == [(1, "where it goes"), (2, "b")]


def test_sql_merge_without_aliases_uses_table_names(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10)]).coalesce(1))
    _kv(spark, [(1, 11), (2, 22)]).createOrReplaceTempView("srcnames")
    sql_dml(
        spark,
        "MERGE INTO tbl USING srcnames ON tbl.k = srcnames.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *",
        {"tbl": t},
    )
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 11),
        (2, 22),
    ]
    with pytest.raises(ValueError, match="needs an alias"):
        sql_dml(
            spark,
            "MERGE INTO tbl USING (SELECT 1 AS k, 2 AS v) "
            "ON tbl.k = s.k WHEN MATCHED THEN DELETE",
            {"tbl": t},
        )


def test_rmw_rebase_tolerates_identity_restore_mapping(
    spark, tmp_path, monkeypatch
):
    """An interloper whose commit leaves the mapping SEMANTICALLY
    identity (rename away and back) must not trip the metadata-change
    guard: {} and absent compare equal."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _kv(spark, [(1, 1), (100, 100)]).repartitionByRange(2, "k"),
        stats_cols=("k",),
    )
    other = SnapshotTable(base)

    def interlope():
        other.rename_column("v", "w")
        other.rename_column("w", "v")  # identity restore: cmap == {}
        other.commit(_kv(spark, [(500, 500)]).coalesce(1), stats_cols=("k",))

    _inject_once(monkeypatch, interlope)
    v = t.delete_where(spark, "k <= 1", prune=("k", 0, 1), stats_cols=("k",))
    assert v == t.latest_version()
    assert sorted(r.k for r in t.read(spark).collect()) == [100, 500]


# --- round-16 second-review fixes ----------------------------------------------


def test_branch_staging_survives_post_fork_main_rename(spark, tmp_path):
    """Files staged on a branch after main renamed a column must stay
    readable on the branch (written + manifested under the BRANCH
    head's mapping, not main's); fast_forward still refuses the
    divergence."""
    from serverless_mapreduce_spark.sources.snapshot_batch import register

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    v1 = t.commit(_kv(spark, [(1, 10)]))
    t.set_branch("stage", v1)
    t.rename_column("v", "amount")  # main moves AFTER the fork
    # library staging path (commit_to_branch -> commit_onto)
    t.commit_to_branch("stage", _kv(spark, [(2, 20)]))
    got = sorted(
        (r.k, r.v) for r in t.read(spark, t.resolve_branch("stage")).collect()
    )
    assert got == [(1, 10), (2, 20)]  # staged row NOT null
    # DS writer staging path
    register(spark)
    (
        _kv(spark, [(3, 30)])
        .write.format("snapshot")
        .option("path", base)
        .option("branch", "stage")
        .mode("append")
        .save()
    )
    got = sorted(
        (r.k, r.v) for r in t.read(spark, t.resolve_branch("stage")).collect()
    )
    assert got == [(1, 10), (2, 20), (3, 30)]
    # main's reads are untouched and the divergent publish refuses
    assert t.read(spark).columns == ["k", "amount"]
    with pytest.raises(CommitConflict, match="renamed/dropped"):
        t.fast_forward("stage", rebase_appends=True)


def test_sql_where_edge_cases(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kvs(spark, [(1, 10, "a"), (2, 20, "b")]).coalesce(1))
    tables = {"tbl": t}
    # a bare trailing WHERE is malformed, never a full-table update
    with pytest.raises(ValueError, match="no condition"):
        sql_dml(spark, "UPDATE tbl SET v = 0 WHERE", tables)
    assert sorted(r.v for r in t.read(spark).collect()) == [10, 20]
    # multi-byte uppercase in a literal must not desynchronize the
    # WHERE scan (str.upper can grow the string)
    sql_dml(spark, "UPDATE tbl SET s = 'straße' WHERE k = 1", tables)
    rows = sorted((r.k, r.s) for r in t.read(spark).collect())
    assert rows == [(1, "straße"), (2, "b")]
    # a backslash-escaped quote inside the literal stays inside it
    sql_dml(spark, r"UPDATE tbl SET s = 'don\'t' WHERE k = 2", tables)
    rows = sorted((r.k, r.s) for r in t.read(spark).collect())
    assert rows == [(1, "straße"), (2, "don't")]


def test_sql_merge_dotted_target_name_qualifier(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10)]).coalesce(1))
    _kv(spark, [(1, 11)]).createOrReplaceTempView("dot_src")
    sql_dml(
        spark,
        "MERGE INTO db.tbl USING dot_src ON tbl.k = dot_src.k "
        "WHEN MATCHED THEN UPDATE SET *",
        {"db.tbl": t},
    )
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [(1, 11)]


# --- SQL DML auto-derived pruning scope ----------------------------------------


def test_sql_dml_derives_prune_and_partition_scope(spark, tmp_path):
    """SQL DELETE/UPDATE derive a sound stats box / partition scope
    from their WHERE conjuncts — scale-correct by default, no kwargs."""
    from serverless_mapreduce_spark.sources.snapshot_sql import (
        _derive_scope,
        sql_dml,
    )

    # unit: the analyzer reads conjuncts, ignores OR/complex shapes
    assert _derive_scope("k BETWEEN 5 AND 10") == {"prune": ("k", 5.0, 10.0)}
    assert _derive_scope("k >= 5 AND k <= 10 AND note = 'x'") == {
        "prune": ("k", 5.0, 10.0),
        "partition_eq": {"note": "x"},
    }
    assert _derive_scope("k = 1 OR p = 'x'") == {}
    assert _derive_scope("NOT (k = 1)") == {}
    assert _derive_scope("upper(s) = 'X'") == {}

    # integration: an un-hinted SQL DELETE leaves out-of-box files
    # byte-identical (derived stats box) on a stats-committed table
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        _kv(spark, [(1, 10), (2, 20), (100, 100)]).repartitionByRange(
            2, "k"
        ),
        stats_cols=("k",),
    )
    before = {e["path"] for e in t._data_entries(1)}
    hot = {
        e["path"]
        for e in t._data_entries(1)
        if e.get("stats", {}).get("k", [0, 0])[1] is not None
        and e["stats"]["k"][1] >= 100
    }
    sql_dml(spark, "DELETE FROM tbl WHERE k >= 100", {"tbl": t})
    after = {e["path"] for e in t._data_entries(t.latest_version())}
    assert (before - hot) <= after  # out-of-box files untouched
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]


def test_sql_dml_partition_scope_enables_disjoint_rebase(
    spark, tmp_path, monkeypatch
):
    """The derived partition scope is a real read-set declaration: an
    un-hinted SQL DELETE on partition 'a' rebases over a concurrent
    append to partition 'b'."""
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(
        _pkv(spark, [("a", 1, 10), ("b", 3, 30)]), partition_by=("p",)
    )
    other = SnapshotTable(base)
    _inject_once(
        monkeypatch,
        lambda: other.commit(
            _pkv(spark, [("b", 9, 90)]), partition_by=("p",)
        ),
    )
    v = sql_dml(spark, "DELETE FROM tbl WHERE p = 'a'", {"tbl": t})
    assert v == 3  # rebased over the interloper's v2, no caller retry
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [("b", 3, 30), ("b", 9, 90)]


def test_sql_dml_explicit_hints_win(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshot_sql import sql_dml

    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kv(spark, [(1, 10), (2, 20)]).coalesce(1), stats_cols=("k",))
    # an explicit (wrong-box) hint is honored verbatim: nothing matches
    # the box, so the statement is a no-op commit — proving derivation
    # did not overwrite the caller's scope
    v = sql_dml(
        spark,
        "DELETE FROM tbl WHERE k <= 2",
        {"tbl": t},
        prune=("k", 500, 600),
    )
    assert v == 1  # no candidate files -> unchanged version
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]


# --- column mapping x streaming CDF / maintenance (test-only hardening) --------


def test_stream_change_feed_across_rename(spark, tmp_path):
    """readChangeFeed on a renamed table: insert rows from pre-rename
    files AND delete pre-images from a post-rename CDF commit must both
    serve real values under the new logical name."""
    from pyspark.sql.types import StructType

    from serverless_mapreduce_spark.sources.snapshot_stream import (
        SnapshotStreamReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kv(spark, [(1, 10), (2, 20)]).coalesce(1))
    t.rename_column("v", "amount")
    t.delete_where(spark, "k = 2", change_feed=True)
    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in t._schema(t.latest_version()).fields
    )
    schema = StructType.fromDDL(
        ddl + ", _change_type string, _commit_version bigint,"
        " _commit_timestamp double"
    )
    reader = SnapshotStreamReader(
        {"path": base, "readChangeFeed": "true"}, schema
    )
    parts = reader.partitions({"version": 0}, {"version": 3})
    rows = sorted(
        (
            b.column(schema.names.index("_change_type"))[i].as_py(),
            b.column(0)[i].as_py(),
            b.column(1)[i].as_py(),
        )
        for p in parts
        for b in reader.read(p)
        for i in range(b.num_rows)
    )
    # pre-rename inserts carry amounts (physical 'v' translated), the
    # delete pre-image carries the deleted row's amount — never NULL
    assert rows == [
        ("delete", 2, 20),
        ("insert", 1, 10),
        ("insert", 2, 20),
    ]


def test_compaction_on_mapped_table(spark, tmp_path):
    """compact_small_files on a renamed table: rewritten files keep the
    PHYSICAL column name, values survive, and stats pruning on the new
    logical name still prunes the compacted layout."""
    import pyarrow.parquet as pq

    t = SnapshotTable(str(tmp_path / "tbl"))
    for k, v in [(1, 10), (2, 20), (100, 1000)]:
        t.commit(_kv(spark, [(k, v)]).coalesce(1), stats_cols=("v",))
    t.rename_column("v", "amount")
    v_new = t.compact_small_files(
        spark, cluster_by=("amount",), stats_cols=("amount",)
    )
    rows = sorted(tuple(r) for r in t.read(spark).collect())
    assert rows == [(1, 10), (2, 20), (100, 1000)]
    ents = t._data_entries(v_new)
    # physical invariant: compacted parquet still holds column 'v',
    # stats recorded under the physical key
    for e in ents:
        assert "v" in pq.read_schema(e["path"]).names
        assert "amount" not in pq.read_schema(e["path"]).names
        assert "v" in e.get("stats", {})
    planned, total = t.plan_files(where=("amount", 900, 2000))
    assert len(planned) < total or total == 1
