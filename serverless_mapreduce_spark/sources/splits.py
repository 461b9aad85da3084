"""Read splits for the Python DataSources: pack a reader's per-file plan
into Spark-sized partitions.

Each reader here (``snapshotstream``, ``snapshot``, ``typedkv``) plans
one :class:`PlannedFile` per file, and a Python task costs a fixed
~65 ms of wall time at local[4] whatever its work (on a 4-vCPU host an
identity ``mapInArrow`` over 4 tasks takes ~0.26 s, over 32 ~2.1 s). So
``partitions()`` does not hand Spark one task per file: it calls
:func:`pack`, which groups the plan the way Spark's own file scans do
(``FilePartition.maxSplitBytes`` / ``getFilePartitions``):

- ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
  Σ(size + openCost) / minPartitionNum))``;
- walking the plan, a split closes when ``current + size >
  maxSplitBytes``; each file then adds ``size + openCost``.

Unlike Spark, files are NOT sorted by size first: a split is a
contiguous run of plan order, so reading the partitions in index order
yields rows in plan order, and a replayed stream batch (checkpoints
store offsets only, so a restart re-plans (start, end]) packs exactly
as it did the first time.

The three inputs are the session's ``spark.sql.files.maxPartitionBytes``,
``spark.sql.files.openCostInBytes`` and ``spark.sql.files.minPartitionNum``
(default: the session's leaf-node default parallelism, i.e.
``defaultParallelism``). A DataSource runs in a Python worker with no
session, so :func:`bind_session` reads them at registration and carries
them on the registered subclass as its ``split_conf`` class attribute.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from typing import Any, NamedTuple

from pyspark.sql.datasource import InputPartition


class PlannedFile(NamedTuple):
    """One file of a reader's per-file plan: ``value`` is what ``read``
    receives for it, ``nbytes`` its size on disk (what packing charges)."""

    value: Any
    nbytes: int


def planned(value: Any, path: str, nbytes: int | None = None) -> PlannedFile:
    """A plan unit sized from the manifest's recorded ``bytes`` when
    there is one, else from a stat of ``path``."""
    return PlannedFile(value, os.path.getsize(path) if nbytes is None else int(nbytes))


class SplitConf(NamedTuple):
    """Spark's file-split inputs. The defaults are Spark's, with a
    local[*] session's minimum partition count: the machine's CPUs."""

    max_partition_bytes: int = 128 << 20
    open_cost_bytes: int = 4 << 20
    min_partitions: int = os.cpu_count() or 1


def session_split_conf(spark) -> SplitConf:
    """The split inputs as ``spark``'s SQL conf resolves them."""
    conf = spark._jsparkSession.sessionState().conf()
    min_parts = conf.filesMinPartitionNum()
    return SplitConf(
        int(conf.filesMaxPartitionBytes()),
        int(conf.filesOpenCostInBytes()),
        int(
            min_parts.get()
            if min_parts.isDefined()
            else spark._jsparkSession.leafNodeDefaultParallelism()
        ),
    )


def bind_session(source: type, spark) -> type:
    """A subclass of the DataSource ``source`` carrying ``spark``'s split
    inputs as its ``split_conf``. Registration pickles a class defined
    here by value, class state included, which is how the inputs reach
    the Python worker that calls ``partitions()``."""
    return type(
        source.__name__,
        (source,),
        {
            "__qualname__": f"bind_session.<locals>.{source.__name__}",
            "split_conf": session_split_conf(spark),
        },
    )


def max_split_bytes(sizes: Sequence[int], conf: SplitConf) -> int:
    """Spark's ``FilePartition.maxSplitBytes`` over files of ``sizes``."""
    total = sum(n + conf.open_cost_bytes for n in sizes)
    per_core = total // max(conf.min_partitions, 1)
    return min(conf.max_partition_bytes, max(conf.open_cost_bytes, per_core))


def pack(files: Sequence[PlannedFile], conf: SplitConf) -> list[InputPartition]:
    """Group ``files`` into partitions by Spark's split rule, keeping plan
    order. Each partition's ``value`` is the tuple of its files' values."""
    limit = max_split_bytes([f.nbytes for f in files], conf)
    out: list[InputPartition] = []
    run: list[Any] = []
    current = 0
    for f in files:
        if run and current + f.nbytes > limit:
            out.append(InputPartition(tuple(run)))
            run, current = [], 0
        run.append(f.value)
        current += f.nbytes + conf.open_cost_bytes
    if run:
        out.append(InputPartition(tuple(run)))
    return out
