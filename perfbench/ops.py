"""The two workloads: each is a fixed list of ops, run in order by one
client in a closed loop (an op starts when the previous one returned its
commit or finished its noop write).

An op has a *build* half, the call into the layer's public function, and
an *exec* half, which runs the returned plan to completion with a noop
write (or drains a stream). Ops that commit return a version and have no
exec half.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import gen

#: registered queries, run through ``registry.all_queries()``: the Amplab
#: Q1-Q3, total sort, word and URL count and TPC-H plans (JVM only), then
#: two that go through ``pipeline.builder.ServerlessMR(...).run()`` with
#: Python callbacks (pipeline/facade_queries.py): word count on the Arrow
#: default-hash path, group-by sum on the RDD custom-partitioner path
QUERY_OPS = (
    "q1_filter_scan",
    "q2_groupby_sum",
    "q2b_substr_groupby_sum",
    "q3_join",
    "q3_top1",
    "sort_by_value",
    "word_count",
    "url_count",
    "tpch_q1",
    "tpch_q3",
    "tpch_q2",
    "facade_word_count",
    "facade_groupby_sum",
)
FACADE_OPS = {"facade_word_count", "facade_groupby_sum"}

LIFECYCLE_OPS = (
    "commit_append",
    "merge_upsert",
    "delete_where",
    "update_where",
    "compact_small_files",
    "point_lookup",
    "read_full",
    "read_version",
    "read_changes",
    "stream_drain",
)
WORKLOADS = {"query_mix": QUERY_OPS, "table_lifecycle": LIFECYCLE_OPS}

#: lifecycle ops that publish a version (no exec half)
COMMIT_OPS = {"commit_append", "merge_upsert", "delete_where", "update_where", "compact_small_files"}
#: compaction sizes scaled to the benchmark's ~200 KB table: every live
#: file counts as small and is rewritten into ~5 orderkey-clustered files,
#: which the point lookup then prunes by manifest stats
COMPACT_SMALL_BYTES = 128 << 10
COMPACT_TARGET_BYTES = 48 << 10
STATS = ("o_orderkey",)


@dataclass
class Ctx:
    """What every op of a run sees."""

    spark: Any
    data_dir: str
    work_dir: str
    queries: dict
    manifest: dict
    # table_lifecycle state of the current pass
    table: Any = None
    root: str = ""
    versions: dict = field(default_factory=dict)
    # per-pass observations the lifecycle ops record (lookup pruning, stream timings)
    obs: dict = field(default_factory=dict)


def noop_write(ctx: Ctx, df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _batch(ctx: Ctx, name: str):
    return ctx.spark.read.parquet(os.path.join(ctx.data_dir, "lifecycle", f"{name}.parquet"))


# --- table_lifecycle -----------------------------------------------------------

def begin_lifecycle_pass(ctx: Ctx, n: int) -> None:
    """Point ``ctx`` at a fresh table root for pass ``n``; the previous
    pass's root is removed here, so the last pass's table stays readable
    for the correctness check."""
    if ctx.root:
        shutil.rmtree(ctx.root, ignore_errors=True)
    ctx.root = os.path.join(ctx.work_dir, "tables", f"pass{n}")
    ctx.table, ctx.versions, ctx.obs = None, {}, {}


def _commit_append(ctx: Ctx):
    from serverless_mapreduce_spark.sources.snapshots import SnapshotTable

    ctx.table = SnapshotTable(os.path.join(ctx.root, "t"))
    ctx.versions["appends"] = [
        ctx.table.commit(_batch(ctx, f"append{i}"), stats_cols=STATS)
        for i in range(gen.APPEND_BATCHES)
    ]
    ctx.versions["appended"] = ctx.versions["appends"][-1]


def _merge_upsert(ctx: Ctx):
    ctx.versions["merge_upsert"] = ctx.table.merge_upsert(
        ctx.spark, _batch(ctx, "upsert"), ("o_orderkey",), stats_cols=STATS, change_feed=True
    )


def _delete_where(ctx: Ctx):
    ctx.versions["delete_where"] = ctx.table.delete_where(
        ctx.spark, gen.DELETE_WHERE, stats_cols=STATS, change_feed=True
    )


def _update_where(ctx: Ctx):
    ctx.versions["update_where"] = ctx.table.update_where(
        ctx.spark, gen.UPDATE_WHERE, gen.UPDATE_SET, stats_cols=STATS, change_feed=True
    )


def _compact(ctx: Ctx):
    ctx.versions["head"] = ctx.table.compact_small_files(
        ctx.spark,
        small_bytes=COMPACT_SMALL_BYTES,
        target_bytes=COMPACT_TARGET_BYTES,
        cluster_by=STATS,
        stats_cols=STATS,
    )


def _point_lookup(ctx: Ctx):
    from pyspark.sql import functions as F

    k = ctx.manifest["lookup_key"]
    box = ("o_orderkey", k, k)
    planned, total = ctx.table.plan_files(where=box)
    ctx.obs["lookup_files_planned"] = (len(planned), total)
    return ctx.table.read(ctx.spark, where=box).filter(F.col("o_orderkey") == k)


def _read_full(ctx: Ctx):
    return ctx.table.read(ctx.spark)


def _read_version(ctx: Ctx):
    return ctx.table.read(ctx.spark, version=ctx.versions["appended"])


def _read_changes(ctx: Ctx):
    return ctx.table.read_changes(ctx.spark, ctx.versions["appended"], ctx.versions["head"])


def _read_stream(ctx: Ctx):
    from serverless_mapreduce_spark.sources.snapshot_stream import read_stream

    return read_stream(ctx.spark, ctx.table.base, readChangeFeed="true")


def drain_stream(ctx: Ctx, sdf, sink: str = "noop") -> Any:
    """One ``availableNow`` drain of ``sdf`` from a fresh checkpoint;
    records start()→first progress and the whole drain in ``ctx.obs``."""
    ckpt = os.path.join(ctx.root, f"ckpt_{sink}")
    w = sdf.writeStream.format(sink).option("checkpointLocation", ckpt).trigger(availableNow=True)
    if sink == "memory":
        w = w.queryName(f"perfbench_drain_{os.getpid()}")
    t0 = time.time()
    q = w.start()
    q.awaitTermination()
    t1 = time.time()
    if q.exception() is not None:
        raise RuntimeError(f"stream drain failed: {q.exception()}")
    progress = q.recentProgress
    first = progress[0] if progress else None
    if first is not None:
        from datetime import datetime

        ts = datetime.fromisoformat(first["timestamp"].replace("Z", "+00:00")).timestamp()
        first_done = ts + first["durationMs"].get("triggerExecution", 0) / 1e3
        ctx.obs["stream_first_batch_s"] = first_done - t0
    ctx.obs["stream_drain_s"] = t1 - t0
    ctx.obs["stream_run_id"] = str(q.runId)
    return q


def _stream_exec(ctx: Ctx, sdf) -> None:
    drain_stream(ctx, sdf)


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Ctx], Any]
    execute: Callable[[Ctx, Any], None] | None = noop_write


_LIFECYCLE = {
    "commit_append": Op("commit_append", _commit_append, None),
    "merge_upsert": Op("merge_upsert", _merge_upsert, None),
    "delete_where": Op("delete_where", _delete_where, None),
    "update_where": Op("update_where", _update_where, None),
    "compact_small_files": Op("compact_small_files", _compact, None),
    "point_lookup": Op("point_lookup", _point_lookup),
    "read_full": Op("read_full", _read_full),
    "read_version": Op("read_version", _read_version),
    "read_changes": Op("read_changes", _read_changes),
    "stream_drain": Op("stream_drain", _read_stream, _stream_exec),
}


def _query_op(name: str) -> Op:
    return Op(name, lambda ctx: ctx.queries[name](ctx.spark, ctx.data_dir))


def ops_for(workload: str) -> list[Op]:
    if workload == "table_lifecycle":
        return [_LIFECYCLE[n] for n in LIFECYCLE_OPS]
    return [_query_op(n) for n in QUERY_OPS]


def build_layer(name: str) -> str:
    """The module an op's build half calls into (its span's layer)."""
    if name in FACADE_OPS:
        return "pipeline.builder"
    if name == "stream_drain":
        return "sources.snapshot_stream"
    return "sources.snapshots" if name in LIFECYCLE_OPS else "operators"
