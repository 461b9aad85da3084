"""The split-packing contract of the Python DataSources (``splits.pack``).

Every reader plans one unit per file and ``partitions()`` packs that plan
by Spark's file-split rule in contiguous runs of plan order. These tests
pin the rule itself (coverage, order, the large-file and
tiny-file cases, parity with Spark's own file scan), the session inputs
it reads and how registration carries them, and on a table with the
benchmark's history: a replayed batch packs identically, and a
change-feed stream drain runs one task wave.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.datasource import InputPartition

from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.sources.snapshot_stream import (
    SnapshotStreamDataSource,
    SnapshotStreamReader,
    read_stream,
)
from serverless_mapreduce_spark.sources.snapshots import SnapshotTable
from serverless_mapreduce_spark.sources.splits import (
    PlannedFile,
    SplitConf,
    max_split_bytes,
    pack,
    session_split_conf,
)

MB = 1 << 20

sizes_st = st.lists(st.integers(min_value=0, max_value=64 * MB), max_size=60)
conf_st = st.builds(
    SplitConf,
    max_partition_bytes=st.integers(min_value=1, max_value=256 * MB),
    open_cost_bytes=st.integers(min_value=0, max_value=8 * MB),
    min_partitions=st.integers(min_value=1, max_value=16),
)


def _plan(sizes) -> list[PlannedFile]:
    return [PlannedFile(("f", i), n) for i, n in enumerate(sizes)]


@settings(max_examples=200, deadline=None)
@given(sizes_st, conf_st)
def test_every_unit_in_one_partition_in_plan_order(sizes, conf):
    plan = _plan(sizes)
    parts = pack(plan, conf)
    flat = [u for p in parts for u in p.value]
    # concatenating the partitions in index order IS the plan: each unit
    # lands in exactly one partition and reading in order keeps plan order
    assert flat == [f.value for f in plan]
    assert all(p.value for p in parts)


@settings(max_examples=200, deadline=None)
@given(sizes_st, conf_st, st.integers(min_value=0, max_value=60))
def test_file_larger_than_split_gets_own_partition(sizes, conf, at):
    sizes = list(sizes)
    at = min(at, len(sizes))
    # maxSplitBytes never exceeds maxPartitionBytes, so this file is larger
    sizes.insert(at, conf.max_partition_bytes + 1)
    plan = _plan(sizes)
    parts = [list(p.value) for p in pack(plan, conf)]
    assert [plan[at].value] in parts
    limit = max_split_bytes(sizes, conf)
    for held in parts:
        if any(plan[u[1]].nbytes > limit for u in held):
            assert len(held) == 1


@settings(max_examples=200, deadline=None)
@given(
    st.integers(min_value=1, max_value=500),
    st.integers(min_value=0, max_value=4096),
    st.integers(min_value=1, max_value=64),
)
def test_equal_tiny_files_fill_at_most_min_partitions(n, size, min_parts):
    conf = SplitConf(min_partitions=min_parts)
    # tiny: the files and their open costs fit min_parts full-size splits
    assume(n * (size + conf.open_cost_bytes) <= min_parts * conf.max_partition_bytes)
    assert len(pack(_plan([size] * n), conf)) <= min_parts


def test_empty_plan_has_no_partitions():
    assert pack([], SplitConf()) == []


def test_partition_count_matches_spark_file_scan(spark, tmp_path):
    """Equal-size files (so Spark's size-descending sort is a no-op):
    the packer plans as many splits as Spark's own text scan, across
    split inputs that make the byte cap and the open cost each bind."""
    d = tmp_path / "files"
    d.mkdir()
    for i in range(13):
        (d / f"part-{i:02d}.txt").write_text(f"{i:04d}\n" * 500)
    sizes = [os.path.getsize(d / f) for f in sorted(os.listdir(d))]
    for conf in (
        SplitConf(128 * MB, 4 * MB, 4),
        SplitConf(128 * MB, 4 * MB, 3),
        SplitConf(9000, 100, 4),
        SplitConf(6000, 0, 2),
    ):
        s = spark.newSession()
        s.conf.set("spark.sql.files.maxPartitionBytes", str(conf.max_partition_bytes))
        s.conf.set("spark.sql.files.openCostInBytes", str(conf.open_cost_bytes))
        s.conf.set("spark.sql.files.minPartitionNum", str(conf.min_partitions))
        assert session_split_conf(s) == conf
        want = s.read.text(str(d)).rdd.getNumPartitions()
        assert len(pack(_plan(sizes), conf)) == want, conf


def test_session_split_conf_defaults_to_default_parallelism(spark):
    s = spark.newSession()
    conf = session_split_conf(s)
    assert conf.min_partitions == spark.sparkContext.defaultParallelism
    assert conf.max_partition_bytes == 128 * MB
    assert conf.open_cost_bytes == 4 * MB


def test_registration_binds_session_split_inputs(spark, tmp_path):
    """``register`` carries the registering session's split inputs to the
    Python worker that plans the scan: the same six-file table reads as
    one split under minPartitionNum=1 and as three under the default
    (defaultParallelism = 4)."""
    from serverless_mapreduce_spark.sources.snapshot_batch import register

    base = str(tmp_path / "tbl")
    SnapshotTable(base).commit(spark.range(0, 60, numPartitions=6))
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")

    def splits() -> int:
        register(spark)
        df = spark.read.format("snapshot").option("path", base).load()
        return df.rdd.getNumPartitions()

    assert spark.sparkContext.defaultParallelism == 4
    try:
        spark.conf.set("spark.sql.files.minPartitionNum", "1")
        assert splits() == 1
    finally:
        spark.conf.unset("spark.sql.files.minPartitionNum")
    assert splits() == 3


def test_plans_size_files_from_the_manifest(spark, tmp_path, monkeypatch):
    """Both change-feed plans (stream and batch) size every file by its
    real length, and stat only the paths a commit body lists without
    sizes: a partition overwrite's whole-file pre-images and inserts."""
    from serverless_mapreduce_spark.sources import splits
    from serverless_mapreduce_spark.sources.snapshot_batch import (
        SnapshotBatchReader,
    )

    base = str(tmp_path / "tbl")
    t = SnapshotTable(base)
    df = spark.range(0, 40).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS p")
    t.commit(df, partition_by=("p",))
    t.replace_where(spark, {"p": "1"}, df.filter("p = '1'"), change_feed=True)
    t.delete_where(spark, "k % 5 = 0", change_feed=True)
    head = t.latest_version()
    unsized = {
        p
        for v in t.versions()
        for key in ("cdf_pre", "cdf_ins")
        for p in t._manifest_body(v).get(key, [])
    }
    stat = os.path.getsize
    statted: list[str] = []

    def spy(path):
        statted.append(path)
        return stat(path)

    monkeypatch.setattr(splits.os.path, "getsize", spy)
    opts = {"path": base, "readChangeFeed": "true"}
    schema = SnapshotStreamDataSource(opts).schema()
    stream = SnapshotStreamReader(opts, schema).file_plan(
        {"version": 0}, {"version": head}
    )
    batch = SnapshotBatchReader(opts, schema).file_plan()
    monkeypatch.undo()
    for plan, path_of in ((stream, lambda v: v[0]), (batch, lambda v: v[1])):
        assert plan and all(u.nbytes == stat(path_of(u.value)) for u in plan)
    assert unsized and set(statted) == unsized


# --- end to end: the change-feed drain over a bench-shaped table ------------


@pytest.fixture(scope="module")
def lifecycle(spark, sf_dir, tmp_path_factory):
    """Four appends, then a merge upsert, a predicate delete and an update,
    each with the change feed on, then small-file compaction — the
    table_lifecycle benchmark's history. Returns the table, the
    change-feed reader options and the schema they declare."""
    base = str(tmp_path_factory.mktemp("lifecycle") / "tbl")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    k = F.col("o_orderkey")
    t = SnapshotTable(base)
    for i in range(4):
        t.commit(orders.filter(k % 4 == i).repartition(3), stats_cols=("o_orderkey",))
    upsert = orders.filter(k % 20 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1
    )
    t.merge_upsert(spark, upsert, ("o_orderkey",), change_feed=True)
    t.delete_where(
        spark, "o_orderpriority = '5-LOW' AND o_totalprice < 60000", change_feed=True
    )
    t.update_where(
        spark, "o_orderstatus = 'P'", {"o_orderstatus": "'F'"}, change_feed=True
    )
    t.compact_small_files(spark, small_bytes=1 << 30)
    opts = {"path": base, "readChangeFeed": "true"}
    return t, opts, SnapshotStreamDataSource(opts).schema()


def _task_count(spark, group: str) -> tuple[int, int]:
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            info = tracker.getStageInfo(sid)
            tasks += info.numTasks if info is not None else 0
    return len(jobs), tasks


def test_replayed_batch_packs_identically(spark, lifecycle):
    """Checkpoints store offsets only: a restarted stream re-plans
    (start, end] with a fresh reader and must get the same splits."""
    t, opts, schema = lifecycle
    window = ({"version": 0}, {"version": t.latest_version()})
    conf = session_split_conf(spark)
    first = SnapshotStreamReader(opts, schema, conf).partitions(*window)
    again = SnapshotStreamReader(opts, schema, conf).partitions(*window)
    assert len(first) > 1
    assert [p.value for p in again] == [p.value for p in first]


def test_change_feed_drain_runs_one_task_wave(spark, lifecycle, tmp_path):
    t, opts, schema = lifecycle
    base = opts["path"]
    reader = SnapshotStreamReader(opts, schema)
    plan = reader.file_plan({"version": 0}, {"version": t.latest_version()})
    parallelism = spark.sparkContext.defaultParallelism
    assert len(plan) > 2 * parallelism  # enough files for packing to matter

    name = f"split_drain_{uuid.uuid4().hex[:8]}"
    q = (
        read_stream(spark, base, readChangeFeed="true")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert not q.isActive and q.exception() is None
    # a micro-batch's jobs run in the query's job group (its run id)
    jobs, tasks = _task_count(spark, str(q.runId))
    assert jobs == 1
    assert 0 < tasks <= parallelism

    # the drain's rows, in order, are the per-file plan read file by file
    want = []
    for unit in plan:
        for batch in reader.read(InputPartition((unit.value,))):
            want.extend(pa.Table.from_batches([batch]).to_pylist())
    got = [r.asDict() for r in spark.table(name).collect()]
    spark.catalog.dropTempView(name)
    assert len(got) == len(want) > 0
    assert got == want
