"""Round-13 pins: advice fixes (replace_where guard, resolve_as_of
ordering, monotonic commit timestamps, job-side row counts) and the
maintenance/stream interop work (data_change=false, change feed,
transforms, cursor-pinned retention, staged-orphan GC)."""

from __future__ import annotations

import json
import os

import pytest

from serverless_mapreduce_spark.sources.snapshots import SnapshotTable


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x bigint")


# --- replace_where: empty probe is a loud validation error -----------------


def test_replace_where_empty_probe_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, [1, 2, 3]), partition_by=("x",))
    with pytest.raises(ValueError, match="at least one partition equality"):
        t.replace_where(spark, {}, _df(spark, [9]))


# --- resolve_as_of: ts-less manifests in a mixed-writer history ------------


def _strip_ts(t: SnapshotTable, version: int) -> None:
    p = t._manifest_path(version)
    with open(p) as fh:
        body = json.load(fh)
    body.pop("ts", None)
    with open(p, "w") as fh:
        json.dump(body, fh)


def _set_ts(t: SnapshotTable, version: int, ts: float) -> None:
    p = t._manifest_path(version)
    with open(p) as fh:
        body = json.load(fh)
    body["ts"] = ts
    with open(p, "w") as fh:
        json.dump(body, fh)


def test_resolve_as_of_tsless_after_newer_commit(spark, tmp_path):
    """A ts-less version written AFTER a commit already newer than the
    target (mixed-writer upgrade window) must not resolve — the scan
    stops at the first version known to exceed the target."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))  # v1
    t.commit(_df(spark, [2]))  # v2
    t.commit(_df(spark, [3]))  # v3, ts-less (pre-r12 writer)
    _set_ts(t, 1, 100.0)
    _set_ts(t, 2, 200.0)
    _strip_ts(t, 3)
    assert t.resolve_as_of(150.0) == 1
    # a ts-less version NOT preceded by a too-new commit stays eligible
    assert t.resolve_as_of(250.0) == 3


def test_resolve_as_of_tsless_prefix_still_eligible(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))  # v1 ts-less (legacy)
    t.commit(_df(spark, [2]))  # v2
    _strip_ts(t, 1)
    _set_ts(t, 2, 200.0)
    assert t.resolve_as_of(150.0) == 1


def test_publish_clamps_ts_monotonic(spark, tmp_path):
    """A parent manifest with a future clock must not let the child
    publish an OLDER timestamp — resolve_as_of's early exit depends on
    monotonic history."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, [1]))
    import time

    future = time.time() + 10_000.0
    _set_ts(t, 1, future)
    t.commit(_df(spark, [2]))
    assert t._manifest_body(2)["ts"] >= future


# --- row counts come from the write job, not driver footer opens -----------


def test_commit_records_row_counts_without_stats(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, list(range(37))))
    ents = t._data_entries(1)
    assert all("rows" in e for e in ents)
    assert sum(e["rows"] for e in ents) == 37


def test_commit_records_rows_and_stats_one_pass(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_df(spark, [5, 7, 11]), stats_cols=("x",))
    ents = t._data_entries(1)
    assert sum(e["rows"] for e in ents) == 3
    los = [e["stats"]["x"][0] for e in ents if "stats" in e]
    his = [e["stats"]["x"][1] for e in ents if "stats" in e]
    assert min(los) == 5 and max(his) == 11


# --- data_change=false: maintenance never kills a stream -------------------


def _kdf(spark, lo, hi):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _drain_to(spark, base, ckpt, rows: list, **options):
    from serverless_mapreduce_spark.sources.snapshot_stream import read_stream

    def sink(batch_df, batch_id):
        rows.extend(tuple(r) for r in batch_df.collect())

    (
        read_stream(spark, base, **options)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def test_stream_survives_compaction(spark, tmp_path):
    """drain → compact_small_files → append → drain over the SAME
    checkpoint streams only the new append (r12 verdict item 1)."""
    base, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t = SnapshotTable(base)
    t.commit(_kdf(spark, 0, 5))
    t.commit(_kdf(spark, 5, 8))
    rows: list = []
    _drain_to(spark, base, ckpt, rows)
    assert sorted(k for (k,) in rows) == list(range(8))
    v = t.compact_small_files(spark, small_bytes=1 << 30)
    assert v == 3
    assert t._manifest_body(v).get("data_change") is False
    t.commit(_kdf(spark, 8, 10))
    _drain_to(spark, base, ckpt, rows)
    assert sorted(k for (k,) in rows) == list(range(10))
    assert len(rows) == 10  # compacted files were NOT re-streamed


def test_stream_catches_up_across_compacted_appends(spark, tmp_path):
    """A fresh stream whose backlog CONTAINS a compaction still delivers
    each append exactly once, from the original files the compaction
    folded away (compaction deletes nothing)."""
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kdf(spark, 0, 5))
    t.commit(_kdf(spark, 5, 8))
    t.compact_small_files(spark, small_bytes=1 << 30)
    t.commit(_kdf(spark, 8, 10))
    rows: list = []
    _drain_to(spark, base, str(tmp_path / "c"), rows)
    assert sorted(k for (k,) in rows) == list(range(10))
    assert len(rows) == 10


def test_stream_survives_delete_materializing_compaction(spark, tmp_path):
    """Compaction that materializes MOR deletes away changes no VISIBLE
    rows: the stream (ignoreDeletes) sees nothing from it."""
    base, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t = SnapshotTable(base)
    t.commit(_kdf(spark, 0, 8))
    t.delete_keys_mor(spark, _kdf(spark, 0, 3), ("k",))
    rows: list = []
    _drain_to(spark, base, ckpt, rows, ignoreDeletes="true")
    assert sorted(k for (k,) in rows) == list(range(8))
    t.compact_small_files(spark, small_bytes=1 << 30)
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(3, 8))
    t.commit(_kdf(spark, 8, 9))
    _drain_to(spark, base, ckpt, rows, ignoreDeletes="true")
    assert sorted(k for (k,) in rows) == list(range(9))


def test_stream_skip_change_commits(spark, tmp_path):
    """skipChangeCommits=true skips a COW rewrite instead of dying;
    without it the rewrite still fails loudly."""
    import pytest
    from pyspark.sql.utils import StreamingQueryException

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kdf(spark, 0, 6), stats_cols=("k",))
    rows: list = []
    _drain_to(spark, base, str(tmp_path / "c1"), rows)
    t.delete_where(spark, "k < 2", stats_cols=("k",))
    t.commit(_kdf(spark, 6, 8), stats_cols=("k",))
    with pytest.raises(StreamingQueryException, match="delete"):
        _drain_to(spark, base, str(tmp_path / "c1"), rows)
    rows2: list = []
    _drain_to(
        spark, base, str(tmp_path / "c2"), rows2, skipChangeCommits="true"
    )
    # fresh stream: append v1 + append v3; the COW delete's rewritten
    # files are skipped (v1's original files still stream 0..5)
    assert sorted(k for (k,) in rows2) == list(range(8))


def test_read_incremental_skips_compaction(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kdf(spark, 0, 5))   # v1
    t.commit(_kdf(spark, 5, 8))   # v2
    t.compact_small_files(spark, small_bytes=1 << 30)  # v3
    t.commit(_kdf(spark, 8, 10))  # v4
    # across the compaction: only the appends' rows, exactly once
    assert sorted(
        r.k for r in t.read_incremental(spark, 1, 4).collect()
    ) == list(range(5, 10))
    # range ending AT the compaction still serves the folded append's rows
    assert sorted(
        r.k for r in t.read_incremental(spark, 1, 3).collect()
    ) == list(range(5, 8))
    # compaction-only window is an empty delta
    assert t.read_incremental(spark, 2, 3).count() == 0


def test_stream_change_feed_emits_inserts_and_deletes(spark, tmp_path):
    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    t.commit(_kdf(spark, 0, 6))                          # v1: insert 0..5
    t.delete_keys_mor(spark, _kdf(spark, 0, 2), ("k",))  # v2: delete 0,1
    t.commit(_kdf(spark, 6, 8))                          # v3: insert 6,7
    rows: list = []
    _drain_to(spark, base, str(tmp_path / "c"), rows, readChangeFeed="true")
    inserts = sorted(k for k, ct, *_ in rows if ct == "insert")
    deletes = sorted(k for k, ct, *_ in rows if ct == "delete")
    assert inserts == list(range(8))
    assert deletes == [0, 1]
    # folding the feed reproduces the table head
    survivors = sorted(
        k for k, ct, *_ in rows if ct == "insert" and k not in set(deletes)
    )
    assert survivors == sorted(r.k for r in t.read(spark).collect())


# --- partition-transform family: year/hour/bucket/truncate (r13 item 3) ----


def _spy_opens(monkeypatch):
    from serverless_mapreduce_spark.sources import snapshots as snapmod

    calls: list = []
    orig = snapmod.SnapshotTable._seg_entries

    def spy(self, ref):
        calls.append(ref)
        return orig(self, ref)

    monkeypatch.setattr(snapmod.SnapshotTable, "_seg_entries", spy)
    return calls


def test_bucket_transform_point_lookup_prunes(spark, tmp_path, monkeypatch):
    """bucket(N, col): files record the crc32-mod-N bucket, a raw-column
    equality probe prunes to the matching bucket's files, and segment
    summaries let non-matching partition-aligned segments stay unopened."""
    import zlib

    df = spark.range(0, 200).withColumnRenamed("id", "k")
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(df, partition_by=("bucket(8,k)",))
    ents = t._data_entries(1)
    assert all(list(e["partitions"]) == ["bucket(8,k)"] for e in ents)
    want_bucket = str(zlib.crc32(b"42") % 8)
    # raw equality probe through read(): only matching-bucket files planned
    fresh = SnapshotTable(t.base)
    calls = _spy_opens(monkeypatch)
    files, total = fresh.plan_files(partition_eq={"k": 42})
    assert files and total == len(ents)
    by_path = {e["path"]: e for e in ents}
    assert all(
        by_path[f]["partitions"]["bucket(8,k)"] == want_bucket for f in files
    )
    # partition-aligned layout: only the covering segment was opened
    assert len(set(calls)) == 1
    # rows are value-exact after the caller's own filter
    got = [r.k for r in t.read(spark, partition_eq={"k": 42}).filter("k = 42").collect()]
    assert got == [42]
    # point-lookup planner prunes through the bucket hash too
    f2, _ = t.plan_files_keys("k", [42])
    assert set(f2) == set(files)


def test_bucket_rejects_unparity_types(spark, tmp_path):
    df = spark.createDataFrame([(1.5,)], "x double")
    t = SnapshotTable(str(tmp_path / "tbl"))
    with pytest.raises(ValueError, match="integer and string"):
        t.commit(df, partition_by=("bucket(4,x)",))


def test_truncate_transform_int_and_string(spark, tmp_path):
    # integer widths: floor to W-multiple, range boxes prune
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(df, partition_by=("truncate(20,k)",))
    ents = t._data_entries(1)
    vals = {e["partitions"]["truncate(20,k)"] for e in ents}
    assert vals == {"0", "20", "40", "60", "80"}
    files, _ = t.plan_files(where=("k", 45, 55))
    by_path = {e["path"]: e for e in ents}
    assert files and {
        by_path[f]["partitions"]["truncate(20,k)"] for f in files
    } == {"40"}
    # equality probe prunes through the floor too
    f2, _ = t.plan_files(partition_eq={"k": 63})
    assert f2 and {
        by_path[f]["partitions"]["truncate(20,k)"] for f in f2
    } == {"60"}
    # string widths: prefix clustering
    sdf = spark.createDataFrame(
        [("apple",), ("apricot",), ("banana",), ("berry",)], "w string"
    )
    ts = SnapshotTable(str(tmp_path / "tbl2"))
    ts.commit(sdf, partition_by=("truncate(2,w)",))
    e2 = ts._data_entries(1)
    assert {e["partitions"]["truncate(2,w)"] for e in e2} == {"ap", "ba", "be"}
    f3, _ = ts.plan_files(partition_eq={"w": "apple"})
    bp = {e["path"]: e for e in e2}
    assert f3 and {bp[f]["partitions"]["truncate(2,w)"] for f in f3} == {"ap"}


def test_year_hour_transforms(spark, tmp_path):
    rows = [
        (1, "1996-03-14 10:30:00"),
        (2, "1996-03-14 11:30:00"),
        (3, "1997-07-01 10:05:00"),
    ]
    df = spark.createDataFrame(rows, "k bigint, d string").selectExpr(
        "k", "CAST(d AS TIMESTAMP) AS d"
    )
    ty = SnapshotTable(str(tmp_path / "y"))
    ty.commit(df, partition_by=("year(d)",))
    ey = ty._data_entries(1)
    assert {e["partitions"]["year(d)"] for e in ey} == {"1996", "1997"}
    fy, _ = ty.plan_files(where=("d", "1996-01-01", "1996-12-31 23:59:59"))
    bp = {e["path"]: e for e in ey}
    assert fy and {bp[f]["partitions"]["year(d)"] for f in fy} == {"1996"}

    th = SnapshotTable(str(tmp_path / "h"))
    th.commit(df, partition_by=("hour(d)",))
    eh = th._data_entries(1)
    assert {e["partitions"]["hour(d)"] for e in eh} == {
        "1996-03-14 10", "1996-03-14 11", "1997-07-01 10"
    }
    fh, _ = th.plan_files(
        where=("d", "1996-03-14 10:00:00", "1996-03-14 10:59:59")
    )
    bph = {e["path"]: e for e in eh}
    assert fh and {bph[f]["partitions"]["hour(d)"] for f in fh} == {
        "1996-03-14 10"
    }
    # a date-only probe string is too short to derive an hour: kept
    fall, _ = th.plan_files(partition_eq={"d": "1996-03-14"})
    assert len(fall) == len(eh)


def test_replace_where_on_bucket_partition(spark, tmp_path):
    """replace_where's stray guard evaluates the bucket transform, so an
    atomic per-bucket overwrite works on hash-hidden partitioning."""
    import zlib

    df = spark.range(0, 40).withColumnRenamed("id", "k")
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(df, partition_by=("bucket(4,k)",))
    b_of = lambda k: zlib.crc32(str(k).encode()) % 4  # noqa: E731
    target = b_of(7)
    in_bucket = [k for k in range(40) if b_of(k) == target]
    repl = spark.createDataFrame([(k,) for k in in_bucket[:3]], "k bigint")
    v = t.replace_where(
        spark,
        {f"bucket(4,k)": str(target)},
        repl,
        partition_by=("bucket(4,k)",),
    )
    got = sorted(r.k for r in t.read(spark, v).collect())
    want = sorted(
        [k for k in range(40) if b_of(k) != target] + in_bucket[:3]
    )
    assert got == want
    # a stray row (wrong bucket) is refused
    stray = spark.createDataFrame(
        [(next(k for k in range(40) if b_of(k) != target),)], "k bigint"
    )
    with pytest.raises(ValueError, match="outside the target"):
        t.replace_where(spark, {f"bucket(4,k)": str(target)}, stray)


# --- retention respects lagging stream cursors (r13 item 4) ----------------


def test_retention_respects_lagging_stream_cursor(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshots import MultiTableCatalog

    root = str(tmp_path)
    base, ckpt = root + "/tbl", root + "/ckpt"
    t = SnapshotTable(base)
    cat = MultiTableCatalog(root)
    t.commit(_kdf(spark, 0, 4))
    t.commit(_kdf(spark, 4, 8))
    rows: list = []
    _drain_to(spark, base, ckpt, rows)
    assert sorted(k for (k,) in rows) == list(range(8))
    # register a LAGGING cursor: retention must keep everything >= it
    cat.set_stream_cursor("tbl", "s", 1)
    assert cat.min_stream_cursor("tbl") == 1
    dropped, _ = cat.expire_table(t, "tbl", keep_latest=1)
    assert dropped == [] and t.versions() == [1, 2]
    # cursor advances (monotone: a stale replay cannot move it back)
    cat.set_stream_cursor("tbl", "s", 2)
    cat.set_stream_cursor("tbl", "s", 1)
    assert cat.min_stream_cursor("tbl") == 2
    t.commit(_kdf(spark, 8, 10))
    dropped2, _ = cat.expire_table(t, "tbl", keep_latest=1)
    assert dropped2 == [1] and t.versions() == [2, 3]
    # the checkpointed stream resumes green across the vacuum
    _drain_to(spark, base, ckpt, rows)
    assert sorted(k for (k,) in rows) == list(range(10))


# --- staged-but-unpublished orphan GC (r13 item 7) --------------------------


def test_collect_staged_orphans_crash_injection(spark, tmp_path):
    from serverless_mapreduce_spark.sources.snapshots import MultiTableCatalog

    root = str(tmp_path)
    t = SnapshotTable(root + "/t")
    cat = MultiTableCatalog(root)
    v1 = t.commit_onto(None, _kdf(spark, 0, 4))
    cat.publish({"t": v1})
    # crash injection: batch staged, publish never happened
    v2 = t.commit_onto(v1, _kdf(spark, 10, 14))
    # replay re-stages from the published base and publishes
    v3 = t.commit_onto(v1, _kdf(spark, 4, 8))
    cat.publish({"t": v3})
    assert t.versions() == [1, 2, 3]
    orphan_files = set(t._files(v2)) - set(t._files(v1)) - set(t._files(v3))
    assert orphan_files
    got = cat.collect_staged_orphans({"t": t}, grace_seconds=0.0)
    assert got == {"t": [2]}
    assert t.versions() == [1, 3]
    assert not any(os.path.exists(f) for f in orphan_files)
    # the catalog-visible pair still reads consistently
    vis = cat.visible("t")
    assert sorted(r.k for r in t.read(spark, vis).collect()) == list(range(8))
    # grace period protects an IN-FLIGHT stage from a concurrent GC
    v4 = t.commit_onto(v3, _kdf(spark, 8, 9))
    got2 = cat.collect_staged_orphans({"t": t}, grace_seconds=3600.0)
    assert got2 == {} and v4 in t.versions()
    # a registered cursor floor also shields would-be orphans
    cat.set_stream_cursor("t", "s", 4)
    got3 = cat.collect_staged_orphans({"t": t}, grace_seconds=0.0)
    assert got3 == {} and v4 in t.versions()


# --- hybrid-ranker MRR datacard: fusion provably beats both singles ---------


def test_hybrid_mrr_fusion_beats_singles(spark, tmp_path):
    """Crafted corpus: the one relevant doc (matches BOTH query facets)
    sits at rank 2 in the bm25 list and rank 2 in the keyword list, but
    reciprocal-rank fusion lifts it to rank 1 — so RRF's MRR strictly
    exceeds both single rankers', and the whole datacard is value-exact
    against the DuckDB oracle on the same corpus (ties in the fused
    list break deterministically by doc_id on both engines)."""
    import pandas as pd

    from oracle import assert_matches_oracle
    from serverless_mapreduce_spark.operators.text import (
        eval_hybrid_retrieval_mrr,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": [
                "query hash dup query hash dup query hash dup",
                "spark window merge spark window merge spark window merge",
                "query spark",
                "lorem ipsum nothing relevant here at all",
                "more filler words without any probe terms",
            ],
        }
    )
    d = tmp_path / "corpus"
    d.mkdir()
    docs.to_parquet(d / "documents.parquet")
    df = eval_hybrid_retrieval_mrr(spark, str(d))
    assert_matches_oracle(df, __import__("serverless_mapreduce_spark.registry", fromlist=["all_oracles"]).all_oracles()["eval_hybrid_retrieval_mrr"], str(d))
    rows = {r.ranker: r for r in df.collect()}
    assert rows["bm25"].first_rel_rank == 2 and rows["bm25"].rr_ppm == 500000
    assert rows["keyword"].first_rel_rank == 2
    assert rows["keyword"].rr_ppm == 500000
    assert rows["rrf"].first_rel_rank == 1 and rows["rrf"].rr_ppm == 1000000
    assert rows["rrf"].rr_ppm > max(rows["bm25"].rr_ppm, rows["keyword"].rr_ppm)


# --- CDF change files: COW predicate deletes join the change feed -----------


def test_cow_delete_change_feed(spark, tmp_path):
    """delete_where(change_feed=True) records removed rows' pre-images
    as change files: the feed emits them as _change_type='delete', the
    rewritten survivors are not re-streamed, and no read path ever sees
    a change file as data."""
    from pyspark.sql.utils import StreamingQueryException

    base, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t = SnapshotTable(base)
    t.commit(_kdf(spark, 0, 8), stats_cols=("k",))
    rows: list = []
    _drain_to(spark, base, ckpt, rows, readChangeFeed="true")
    assert sorted(k for k, ct, *_ in rows) == list(range(8))
    v_del = t.delete_where(spark, "k < 3", stats_cols=("k",), change_feed=True)
    # reads never see change files — current or time-traveled
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(3, 8))
    assert sorted(r.k for r in t.read(spark, v_del).collect()) == list(
        range(3, 8)
    )
    t.commit(_kdf(spark, 8, 10), stats_cols=("k",))
    _drain_to(spark, base, ckpt, rows, readChangeFeed="true")
    new = rows[8:]
    assert sorted(k for k, ct, *_ in new if ct == "delete") == [0, 1, 2]
    assert sorted(k for k, ct, *_ in new if ct == "insert") == [8, 9]
    assert len(new) == 5  # survivors (3..7) were NOT re-streamed
    # folding the feed reproduces the table head
    dels = {k for k, ct, *_ in rows if ct == "delete"}
    survivors = sorted(k for k, ct, *_ in rows if ct == "insert" and k not in dels)
    assert survivors == sorted(r.k for r in t.read(spark).collect())
    # a COW delete WITHOUT recorded change files still refuses under CDF
    t.delete_where(spark, "k = 5", stats_cols=("k",))
    with pytest.raises(StreamingQueryException, match="delete"):
        _drain_to(spark, base, ckpt, rows, readChangeFeed="true")


# --- commit_stream_batch: CAS retry + zombie-twin dedup ---------------------


def test_commit_stream_batch_survives_cas_race(spark, tmp_path, monkeypatch):
    """A concurrent writer stealing the version mid-publish makes the
    streaming append re-derive and land on the next version — not fail,
    not drop the batch."""
    from serverless_mapreduce_spark.sources import snapshots as snapmod

    base = str(tmp_path / "tbl")
    t, other = SnapshotTable(base), SnapshotTable(base)
    t.commit(_kdf(spark, 0, 2))
    fired = {"n": 0}
    orig = snapmod.SnapshotTable._publish_list

    def racy(self, segments, mode, schema, parent, extra=None, seq_source=None):
        if self is t and fired["n"] == 0:
            fired["n"] = 1
            other.commit(_kdf(spark, 90, 92))  # concurrent writer wins v2
        return orig(self, segments, mode, schema, parent, extra, seq_source)

    monkeypatch.setattr(snapmod.SnapshotTable, "_publish_list", racy)
    v = t.commit_stream_batch(_kdf(spark, 2, 4), "s", 0)
    assert v == 3 and fired["n"] == 1
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 2, 3, 90, 91]


def test_commit_stream_batch_zombie_twin_is_noop(spark, tmp_path, monkeypatch):
    """Two queries racing on the SAME (stream_id, batch_id) — a zombie
    beside its replacement — commit exactly one copy: the loser's retry
    re-checks the ledger and becomes the no-op."""
    from serverless_mapreduce_spark.sources import snapshots as snapmod

    base = str(tmp_path / "tbl")
    t, twin = SnapshotTable(base), SnapshotTable(base)
    t.commit(_kdf(spark, 0, 2))
    fired = {"n": 0}
    orig = snapmod.SnapshotTable._publish_list

    def racy(self, segments, mode, schema, parent, extra=None, seq_source=None):
        if self is t and fired["n"] == 0:
            fired["n"] = 1
            twin.commit_stream_batch(_kdf(spark, 2, 4), "s", 1)
        return orig(self, segments, mode, schema, parent, extra, seq_source)

    monkeypatch.setattr(snapmod.SnapshotTable, "_publish_list", racy)
    assert t.commit_stream_batch(_kdf(spark, 2, 4), "s", 1) is None
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 2, 3]


# --- CDF for merge_upsert and delete_keys -----------------------------------


def test_merge_upsert_change_feed(spark, tmp_path):
    """merge_upsert(change_feed=True) records replaced rows as
    update_preimage, their replacements as update_postimage, and
    unmatched update rows as insert — and the feed folds back to the
    table head."""
    base, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t = SnapshotTable(base)
    kv = lambda pairs: spark.createDataFrame(pairs, "k bigint, v bigint")  # noqa: E731
    t.commit(kv([(1, 10), (2, 20), (3, 30)]))
    rows: list = []
    _drain_to(spark, base, ckpt, rows, readChangeFeed="true")
    assert len(rows) == 3
    t.merge_upsert(spark, kv([(2, 99), (7, 70)]), ("k",), change_feed=True)
    # reads see the merged state, never change files
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == [
        (1, 10), (2, 99), (3, 30), (7, 70)
    ]
    _drain_to(spark, base, ckpt, rows, readChangeFeed="true")
    new = rows[3:]
    assert sorted((k, v, ct) for k, v, ct, *_ in new) == [
        (2, 20, "update_preimage"),
        (2, 99, "update_postimage"),
        (7, 70, "insert"),
    ]
    # survivors (1, 3) were rewritten on disk but NOT re-streamed
    # fold: inserts + postimages - (preimage keys not re-asserted)
    state = {}
    for k, v, ct, *_ in rows:
        if ct in ("insert", "update_postimage"):
            state[k] = v
        elif ct == "update_preimage":
            pass  # superseded by its postimage
    assert sorted(state.items()) == [(1, 10), (2, 99), (3, 30), (7, 70)]


def test_delete_keys_change_feed(spark, tmp_path):
    base, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t = SnapshotTable(base)
    t.commit(_kdf(spark, 0, 6))
    rows: list = []
    _drain_to(spark, base, ckpt, rows, readChangeFeed="true")
    t.delete_keys(spark, _kdf(spark, 1, 3), ("k",), change_feed=True)
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 3, 4, 5]
    _drain_to(spark, base, ckpt, rows, readChangeFeed="true")
    new = rows[6:]
    assert sorted((k, ct) for k, ct, *_ in new) == [(1, "delete"), (2, "delete")]


def test_calendar_probe_requires_iso_shape(spark, tmp_path):
    """A probe string that is not provably the writer's ISO rendering
    must keep every file (conservative), while a T-separated ISO
    timestamp normalizes and still prunes."""
    rows = [(1, "1996-03-14 10:30:00"), (2, "1997-07-01 11:05:00")]
    df = spark.createDataFrame(rows, "k bigint, d string").selectExpr(
        "k", "CAST(d AS TIMESTAMP) AS d"
    )
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(df, partition_by=("month(d)",))
    n_all = len(t._data_entries(1))
    # sloppy-but-parseable date string: NOT derivable -> keep all
    f1, _ = t.plan_files(partition_eq={"d": "1996-3-14"})
    assert len(f1) == n_all
    # T-separated ISO timestamp: normalizes to the writer's rendering
    f2, _ = t.plan_files(partition_eq={"d": "1996-03-14T10:30:00"})
    by_path = {e["path"]: e for e in t._data_entries(1)}
    assert f2 and {by_path[f]["partitions"]["month(d)"] for f in f2} == {
        "1996-03"
    }


def test_expire_table_pins_all_retained_published_versions(spark, tmp_path):
    """A reader resolving through an OLDER retained txn's map must not
    race the vacuum: expire_table pins every version any retained txn
    names, not just the head's visible one."""
    from serverless_mapreduce_spark.sources.snapshots import MultiTableCatalog

    root = str(tmp_path)
    t = SnapshotTable(root + "/t")
    cat = MultiTableCatalog(root)
    for lo in (0, 4, 8, 12):
        v = t.commit_onto(t.latest_version(), _kdf(spark, lo, lo + 4))
        cat.publish({"t": v})
    assert cat.published_versions("t") == {1, 2, 3, 4}
    dropped, _ = cat.expire_table(t, "t", keep_latest=1)
    assert dropped == []  # every version still named by a retained txn
    cat.expire_txns(keep_latest=2)  # txn window tightens first
    assert cat.published_versions("t") == {3, 4}
    dropped2, _ = cat.expire_table(t, "t", keep_latest=1)
    assert dropped2 == [1, 2] and t.versions() == [3, 4]


# --- r13 review-pass regressions --------------------------------------------


def test_read_incremental_applies_in_range_mor_deletes(spark, tmp_path):
    """A MOR purge followed by a delete-materializing compaction inside
    the range must NOT resurrect the purged row: the walk serves the
    appends' original files WITH the in-range delete files applied."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kdf(spark, 0, 5))                               # v1
    t.commit(_kdf(spark, 11, 21))                             # v2
    t.delete_keys_mor(spark, _kdf(spark, 15, 16), ("k",))     # v3: purge 15
    t.compact_small_files(spark, small_bytes=1 << 30)         # v4: materializes
    got = sorted(r.k for r in t.read_incremental(spark, 1, 4).collect())
    assert got == [k for k in range(11, 21) if k != 15]
    # and the head itself agrees
    assert 15 not in {r.k for r in t.read(spark).collect()}


def test_truncate_probe_on_numeric_string_column(spark, tmp_path):
    """truncate() on a STRING column holding numeric-looking values: the
    planner cannot see the column type, so the probe accepts BOTH the
    prefix and the integer-floor rendering — never a wrong prune."""
    sdf = spark.createDataFrame(
        [("12345",), ("12999",), ("99001",)], "zip string"
    )
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(sdf, partition_by=("truncate(2,zip)",))
    ents = t._data_entries(1)
    assert {e["partitions"]["truncate(2,zip)"] for e in ents} == {"12", "99"}
    files, _ = t.plan_files(partition_eq={"zip": "12345"})
    by_path = {e["path"]: e for e in ents}
    got = {by_path[f]["partitions"]["truncate(2,zip)"] for f in files}
    assert "12" in got  # the matching file SURVIVES the probe
    rows = [
        r.zip
        for r in t.read(spark, partition_eq={"zip": "12345"})
        .filter("zip = '12345'")
        .collect()
    ]
    assert rows == ["12345"]


def test_delete_keys_zero_match_is_noop_with_change_files(spark, tmp_path):
    """A zero-match delete_keys on a head that carries CDF change files
    must stay a no-op — not publish a spurious stream-killing version."""
    base, ckpt = str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    t = SnapshotTable(base)
    t.commit(_kdf(spark, 0, 6), stats_cols=("k",))
    v = t.delete_where(spark, "k < 2", stats_cols=("k",), change_feed=True)
    assert t.delete_keys(spark, _kdf(spark, 100, 103), ("k",)) == v
    assert t.latest_version() == v
    # a CDF subscriber keeps working across the would-have-been version
    rows: list = []
    _drain_to(spark, base, ckpt, rows, readChangeFeed="true")
    assert sorted(k for k, ct, *_ in rows if ct == "insert") == list(range(6))


def test_hour_box_with_t_separator_bounds(spark, tmp_path):
    rows = [(1, "2024-01-01 05:30:00"), (2, "2024-01-01 07:30:00")]
    df = spark.createDataFrame(rows, "k bigint, d string").selectExpr(
        "k", "CAST(d AS TIMESTAMP) AS d"
    )
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(df, partition_by=("hour(d)",))
    files, _ = t.plan_files(
        where=("d", "2024-01-01T05:00:00", "2024-01-01T05:59:59")
    )
    by_path = {e["path"]: e for e in t._data_entries(1)}
    assert files and {
        by_path[f]["partitions"]["hour(d)"] for f in files
    } == {"2024-01-01 05"}


def test_staged_orphan_streams_and_reads_exactly_once(spark, tmp_path):
    """A crashed-then-restaged catalog batch: the replacement records its
    TRUE base, so per-version consumers skip the superseded orphan —
    the batch arrives exactly once, before AND after the orphan is
    collected."""
    from serverless_mapreduce_spark.sources.snapshots import MultiTableCatalog

    root = str(tmp_path)
    t = SnapshotTable(root + "/t")
    cat = MultiTableCatalog(root)
    v1 = t.commit_onto(None, _kdf(spark, 0, 4))
    cat.publish({"t": v1})
    t.commit_onto(v1, _kdf(spark, 4, 8))        # v2: crashed stage
    v3 = t.commit_onto(v1, _kdf(spark, 4, 8))   # v3: replay, same rows
    cat.publish({"t": v3})
    # incremental read over the whole range: the batch appears ONCE
    got = sorted(r.k for r in t.read_incremental(spark, 0, 3).collect())
    assert got == list(range(8))
    # fresh stream catch-up: same exactly-once delivery
    rows: list = []
    _drain_to(spark, root + "/t", root + "/c1", rows)
    assert sorted(k for (k,) in rows) == list(range(8))
    # after the orphan is GC'd (mid-history manifest hole), both repeat
    assert cat.collect_staged_orphans({"t": t}, grace_seconds=0.0) == {
        "t": [2]
    }
    rows2: list = []
    _drain_to(spark, root + "/t", root + "/c2", rows2)
    assert sorted(k for (k,) in rows2) == list(range(8))
    got2 = sorted(r.k for r in t.read_incremental(spark, 0, 3).collect())
    assert got2 == list(range(8))


# --- per-entry bytes + maxBytesPerTrigger -----------------------------------


def test_entry_bytes_recorded_and_compaction_manifest_only(
    spark, tmp_path, monkeypatch
):
    """Commits record per-file byte sizes; compaction's decision pass
    reads the manifest, never stat-ing live data files."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kdf(spark, 0, 5))
    t.commit(_kdf(spark, 5, 9))
    ents = t._data_entries(2)
    assert all(e.get("bytes", 0) > 0 for e in ents)
    data_paths = {e["path"] for e in ents}
    import os as _os

    orig = _os.path.getsize

    def guarded(p):
        assert p not in data_paths, "compaction stat-ed a data file"
        return orig(p)

    monkeypatch.setattr(_os.path, "getsize", guarded)
    v = t.compact_small_files(spark, small_bytes=1 << 30)
    assert v == 3
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(9))


def test_max_bytes_per_trigger_bounds_batches(spark, tmp_path):
    """With a tiny bytes cap, each trigger admits exactly one version of
    the backlog; a data_change=false maintenance version costs nothing
    and rides along free."""
    from serverless_mapreduce_spark.sources.snapshot_stream import (
        SnapshotStreamReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    for i in range(3):
        t.commit(_kdf(spark, i * 10, i * 10 + 10))
    reader = SnapshotStreamReader(
        {"path": base, "maxBytesPerTrigger": "1"}, t._schema(3)
    )
    off = reader.initialOffset()
    ends = []
    for _ in range(3):
        end = reader.latestOffset()
        reader.file_plan(off, end)
        reader.commit(end)
        ends.append(end["version"])
        off = end
    assert ends == [1, 2, 3]
    # summaries carry byte sums so the walk never opens segments
    assert all(t._delta_bytes(v) > 0 for v in (1, 2, 3))
    t.compact_small_files(spark, small_bytes=1 << 30)
    assert t._delta_bytes(4) == 0


# --- batch change feed (read_changes) ---------------------------------------


def test_read_changes_batch_feed(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kdf(spark, 0, 5))                                # v1
    t.delete_keys_mor(spark, _kdf(spark, 1, 3), ("k",))        # v2
    t.delete_where(spark, "k = 4", change_feed=True)           # v3 CDF
    t.compact_small_files(spark, small_bytes=1 << 30)          # v4 (silent)
    t.commit(_kdf(spark, 10, 12))                              # v5
    feed = t.read_changes(spark, 0, 5)
    got = sorted(
        (r.k, r._change_type, r._commit_version) for r in feed.collect()
    )
    assert got == sorted(
        [
            (0, "insert", 1),
            (1, "insert", 1),
            (1, "delete", 2),
            (2, "insert", 1),
            (2, "delete", 2),
            (3, "insert", 1),
            (4, "insert", 1),
            (4, "delete", 3),
            (10, "insert", 5),
            (11, "insert", 5),
        ]
    )
    # empty window: schema-true empty frame with the metadata columns
    empty = t.read_changes(spark, 3, 4)
    assert empty.count() == 0
    assert empty.columns[-3:] == [
        "_change_type", "_commit_version", "_commit_timestamp"
    ]
    # a rewrite without recorded change files is underivable
    t.delete_where(spark, "k = 0")                             # v6, no CDF
    with pytest.raises(ValueError, match="change_feed=True"):
        t.read_changes(spark, 5, 6)


# --- second-review regressions ----------------------------------------------


def test_capped_stream_skips_superseded_stage_across_windows(spark, tmp_path):
    """The supersede scan runs through the table HEAD: a re-stage beyond
    a capped planning window still shields its crashed predecessor, so
    version-at-a-time consumption delivers the batch exactly once."""
    from serverless_mapreduce_spark.sources.snapshot_stream import (
        SnapshotStreamReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    v1 = t.commit_onto(None, _kdf(spark, 0, 4))
    t.commit_onto(v1, _kdf(spark, 4, 8))  # crashed stage (v2)
    t.commit_onto(v1, _kdf(spark, 4, 8))  # re-stage (v3)
    reader = SnapshotStreamReader(
        {"path": base, "maxVersionsPerTrigger": "1"}, t._schema(3)
    )
    off = reader.initialOffset()
    paths: list = []
    for _ in range(3):
        end = reader.latestOffset()
        paths += [p.value[0] for p in reader.file_plan(off, end)]
        reader.commit(end)
        off = end
    got = sorted(r.k for r in spark.read.parquet(*paths).collect())
    assert got == list(range(8))  # each row exactly once
    # window-split incremental reads agree
    a = [r.k for r in t.read_incremental(spark, 1, 2).collect()]
    b = [r.k for r in t.read_incremental(spark, 2, 3).collect()]
    assert a == [] and sorted(b) == list(range(4, 8))


def test_max_bytes_walk_tolerates_orphan_hole(spark, tmp_path):
    """latestOffset's byte walk skips a GC'd staged-orphan manifest hole
    instead of dying on FileNotFoundError."""
    from serverless_mapreduce_spark.sources.snapshot_stream import (
        SnapshotStreamReader,
    )
    from serverless_mapreduce_spark.sources.snapshots import MultiTableCatalog

    root = str(tmp_path)
    t = SnapshotTable(root + "/t")
    cat = MultiTableCatalog(root)
    v1 = t.commit_onto(None, _kdf(spark, 0, 4))
    cat.publish({"t": v1})
    t.commit_onto(v1, _kdf(spark, 4, 8))        # crashed stage
    v3 = t.commit_onto(v1, _kdf(spark, 4, 8))   # re-stage
    cat.publish({"t": v3})
    assert cat.collect_staged_orphans({"t": t}, grace_seconds=0.0) == {
        "t": [2]
    }
    reader = SnapshotStreamReader(
        {"path": root + "/t", "maxBytesPerTrigger": "1"}, t._schema(3)
    )
    off = reader.initialOffset()
    paths: list = []
    for _ in range(3):
        end = reader.latestOffset()
        paths += [p.value[0] for p in reader.file_plan(off, end)]
        reader.commit(end)
        off = end
    got = sorted(r.k for r in spark.read.parquet(*paths).collect())
    assert got == list(range(8))


# --- randomized model check: fold(change feed) == table head -----------------


def test_random_history_feed_folds_to_head(spark, tmp_path):
    """Model-based invariant over randomized histories (appends, MOR key
    purges, CDF predicate deletes, compactions): replaying the change
    feed in _commit_version order must reproduce the table head exactly
    — via BOTH the batch API (read_changes) and a streaming CDF drain.
    Any planner bug class this round touched (maintenance skipping,
    delta walks, change-file emission, ordering) breaks the fold."""
    import random

    for seed in (7, 13, 29):
        rng = random.Random(seed)
        base = str(tmp_path / f"t{seed}")
        t = SnapshotTable(base)
        t.commit(_kdf(spark, 0, 5))
        nxt = 5
        for _ in range(6):
            op = rng.choice(["append", "append", "mor", "cow", "compact"])
            if op == "append":
                n = rng.randint(1, 5)
                t.commit(_kdf(spark, nxt, nxt + n))
                nxt += n
            elif op == "mor":
                present = sorted(r.k for r in t.read(spark).collect())
                if present:
                    doomed = rng.sample(present, min(2, len(present)))
                    t.delete_keys_mor(
                        spark,
                        spark.createDataFrame(
                            [(k,) for k in doomed], "k bigint"
                        ),
                        ("k",),
                    )
            elif op == "cow":
                t.delete_where(
                    spark,
                    f"k % 7 = {rng.randint(0, 6)}",
                    change_feed=True,
                )
            else:
                t.compact_small_files(spark, small_bytes=1 << 30)
        head = t.latest_version()
        expect = sorted(r.k for r in t.read(spark).collect())
        # batch feed fold
        state: dict = {}
        for r in sorted(
            t.read_changes(spark, 0, head).collect(),
            key=lambda r: r._commit_version,
        ):
            if r._change_type == "insert":
                state[r.k] = True
            elif r._change_type == "delete":
                state.pop(r.k, None)
        assert sorted(state) == expect, f"batch fold diverged (seed {seed})"
        # streaming feed fold
        rows: list = []
        _drain_to(
            spark, base, str(tmp_path / f"c{seed}"), rows,
            readChangeFeed="true",
        )
        state2: dict = {}
        for k, ct, ver, ts in sorted(rows, key=lambda x: x[2]):
            if ct == "insert":
                state2[k] = True
            elif ct == "delete":
                state2.pop(k, None)
        assert sorted(state2) == expect, f"stream fold diverged (seed {seed})"


# --- metadata table: manifests only, zero segment opens ----------------------


def test_versions_metadata_zero_segment_opens(spark, tmp_path, monkeypatch):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kdf(spark, 0, 5))
    t.commit(_kdf(spark, 5, 8))
    t.delete_keys_mor(spark, _kdf(spark, 0, 2), ("k",))
    fresh = SnapshotTable(t.base)
    calls = _spy_opens(monkeypatch)
    md = {r.version: r for r in fresh.versions_metadata(spark).collect()}
    assert calls == []  # summaries answered everything
    assert md[1].n_rows == 5 and md[2].n_rows == 8
    assert md[3].n_rows == 8 and md[3].n_delete_files >= 1
    assert md[2].n_bytes > 0 and md[2].n_data_files >= 2
    assert md[3].mode == "delete-mor" and md[1].data_change is True
    assert all(md[v].committed_at is not None for v in md)


def test_files_metadata_listing(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(_kdf(spark, 0, 40), partition_by=("bucket(4,k)",), )
    t.delete_keys_mor(spark, _kdf(spark, 0, 2), ("k",))
    fm = t.files_metadata(spark).collect()
    kinds = {r.kind for r in fm}
    assert kinds == {"data", "delete"}
    data = [r for r in fm if r.kind == "data"]
    assert all(r.n_rows > 0 and r.n_bytes > 0 for r in data)
    assert all("bucket(4,k)" in r.partitions for r in data)
    assert sum(r.n_rows for r in data) == 40
    dels = [r for r in fm if r.kind == "delete"]
    assert all(r.seq == 2 for r in dels)
