"""Shape assertions for the round-10 table-format operators: the specific
plan/planning properties their docstrings promise — copy-on-write reads
touch only candidate files, point lookups plan metadata-first, the merge
key probe broadcasts the KEY side, and the streaming-dedup probe
broadcasts the BATCH side (the r10 review's inverted-broadcast fix, which
lives inside foreachBatch where the registry-wide lint cannot see it)."""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_mapreduce_spark.sources.snapshots import SnapshotTable


def test_merge_key_probe_is_broadcast_semi_on_the_key_side(spark, tmp_path):
    """The copy-on-write DML kernel's file-location join
    (``SnapshotTable._cow_dml``) must build on the (small) key set:
    BroadcastHashJoin ... LeftSemi, BuildRight — semi supports
    BuildRight, so the hint on the RIGHT side is honorable. If this plan
    ever degrades to a shuffle or a right-side-table broadcast, merge
    cost stops being O(batch)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(spark.range(0, 1000).withColumnRenamed("id", "k"))
    keys = spark.createDataFrame([(5,)], "k BIGINT")
    src = t._reader(spark, 1).parquet(*t._files(1))
    probe = (
        src.withColumn("_file", F.input_file_name())
        .join(F.broadcast(keys), ["k"], "left_semi")
        .select("_file")
        .distinct()
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "BuildRight" in plan


def test_stream_dedup_probe_broadcasts_the_batch_bands(spark):
    """The r10 review fix, pinned: inner join with broadcast(bands_b) on
    the LEFT plans BuildLeft (batch side shipped), never a broadcast of
    the index side. The pre-fix left_semi form silently broadcast the
    GROWING index (semi only builds right)."""
    bands_b = spark.createDataFrame(
        [(1, 0, "h0")], "doc_id BIGINT, band_idx INT, band_hash STRING"
    )
    idx = spark.range(0, 100000).selectExpr(
        "CAST(id % 8 AS INT) AS band_idx", "CAST(md5(string(id)) AS STRING) AS band_hash"
    )
    fixed = (
        F.broadcast(bands_b)
        .join(idx, ["band_idx", "band_hash"])
        .select("doc_id")
        .distinct()
    )
    plan = fixed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "BuildLeft" in plan


def test_delete_where_plans_only_candidate_files(spark, tmp_path):
    """Copy-on-write delete reads the CANDIDATE files, not the table: the
    stats box picks ~2 of 10 range-clustered files and the survivor scan's
    file list is exactly that subset (planning-level assertion — the scan
    never sees the other 8 files at all, stronger than a filter)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    t.commit(df.repartitionByRange(10, "k"), stats_cols=("k",))
    entries = t._entries(1)
    box = ("k", 150, 250)
    cand = [
        e for e in entries
        if e.get("stats", {}).get("k") is None
        or (e["stats"]["k"][0] <= box[2] and e["stats"]["k"][1] >= box[1])
    ]
    assert 1 <= len(cand) <= 3  # range clustering makes the box thin
    v2 = t.delete_where(spark, "k BETWEEN 150 AND 250", prune=box)
    # untouched = everything outside the candidate set, carried by path
    untouched = {e["path"] for e in entries} - {e["path"] for e in cand}
    assert untouched <= set(t._files(v2))


def test_point_lookup_scan_reads_only_bloom_kept_files(spark, tmp_path):
    """The planned scan's input files are exactly plan_files_keys' output
    — the metadata decision reaches the physical plan (FileScan shows the
    thin file list, not the table)."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.commit(
        spark.range(0, 2000).withColumnRenamed("id", "k").repartition(16, "k"),
        bloom_cols=("k",),
    )
    files, total = t.plan_files_keys("k", [42])
    assert total == 16 and 1 <= len(files) <= 3
    df = t._reader(spark, 1).parquet(*files).filter("k = 42")
    scanned = {r[0] for r in df.select(F.input_file_name()).distinct().collect()}
    # every scanned file is one the planner kept (prefix-normalize)
    from urllib.parse import unquote, urlparse

    assert {unquote(urlparse(f).path) for f in scanned} <= {
        __import__("os").path.abspath(f) for f in files
    }
    assert [r.k for r in df.collect()] == [42]
