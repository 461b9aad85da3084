"""Maintained artifacts: build-once results that an operator family shares.

An artifact is what several registered queries derive from the same
fixture tables: the co-purchase edge table, the random-walk corpus, the IVF
cell assignment, the verified near-dup pairs, the BPE merge list. The
reference pays the same kind of cost once per job in its shuffle stage
(``job/shuffle_handler.py``); here a session pays it once, through one
decorator::

    @artifact("graph_walks", inputs=("lineitem",))
    def _walk_table(spark, sf_dir): ...

Call sites stay plain function calls. A call is served from the memo when
its key matches the last build. The key is the SparkContext's application
id, the session's ``spark.sql.shuffle.partitions``, ``sf_dir``, and the
:func:`catalog.file_identity` (size and ``st_mtime_ns`` of each file) of
every declared input table under ``sf_dir``. The memo misses, and the
artifact is rebuilt, on:

- the first call for an (application, partitions, ``sf_dir``);
- any rewrite, touch, added or removed file of a declared input;
- :func:`clear` of the artifact.

An input that is not a local file keys on its path alone, so the memo
cannot see it change. An artifact keeps one entry per (application,
partitions, ``sf_dir``): a rebuild replaces the stale value rather than
adding to it.

Each artifact holds its own re-entrant lock across the build, so
concurrent callers never build it twice. A build may call other artifacts
(the edge table reads the pair-count table); they form a DAG, so nested
builds take locks in one order and cannot deadlock.

:func:`saved_table` artifacts are written as bucketed, sorted tables
under ``.scratch/tables``. Their memo holds the table name, and every call
returns a fresh ``spark.table(name)``. A rebuild in any session therefore
never leaves a caller listing files that were overwritten; only a
DataFrame already handed out before the rebuild can.
"""

from __future__ import annotations

import os
import shutil
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from serverless_mapreduce_spark.catalog import file_identity
from serverless_mapreduce_spark.paths import scratch, sf_tag

_REGISTRY: dict[str, Artifact] = {}


class Artifact:
    """A registered build-once function ``build(spark, sf_dir)``."""

    def __init__(
        self, name: str, inputs: tuple[str, ...], build: Callable[..., Any]
    ) -> None:
        if name in _REGISTRY:
            raise ValueError(f"duplicate artifact name {name!r}")
        self.name, self.inputs, self._build = name, inputs, build
        self.__doc__ = build.__doc__
        self._lock = threading.RLock()
        #: (app id, partitions, sf_dir) -> (input identity, value)
        self._memo: dict[tuple, tuple[tuple, Any]] = {}
        _REGISTRY[name] = self

    def _key(self, spark: SparkSession, sf_dir: str) -> tuple[tuple, tuple]:
        slot = (
            spark.sparkContext.applicationId,
            spark.conf.get("spark.sql.shuffle.partitions", ""),
            sf_dir,
        )
        ident = []
        for t in self.inputs:
            try:
                ident.append(file_identity(os.path.join(sf_dir, f"{t}.parquet")))
            except OSError:
                ident.append(None)
        return slot, tuple(ident)

    def built(self, spark: SparkSession, sf_dir: str) -> bool:
        """True when a call now would be served from the memo."""
        slot, ident = self._key(spark, sf_dir)
        hit = self._memo.get(slot)
        return hit is not None and hit[0] == ident

    def __call__(self, spark: SparkSession, sf_dir: str) -> Any:
        slot, ident = self._key(spark, sf_dir)
        with self._lock:
            hit = self._memo.get(slot)
            if hit is not None and hit[0] == ident:
                return hit[1]
            value = self._build(spark, sf_dir)
            self._memo[slot] = (ident, value)
            return value

    def clear(self) -> None:
        with self._lock:
            self._memo.clear()


class _SavedTable(Artifact):
    """An artifact written as a bucketed table; its value is the table."""

    def __init__(
        self,
        name: str,
        inputs: tuple[str, ...],
        frame: Callable[..., DataFrame],
        by: str,
        buckets: int,
    ) -> None:
        super().__init__(name, inputs, self._write)
        self.__doc__ = frame.__doc__
        self._frame, self._by, self._buckets = frame, by, buckets

    def _write(self, spark: SparkSession, sf_dir: str) -> str:
        tbl = f"{self.name}_{sf_tag(sf_dir)}"
        # the catalog entry lives as long as the process, the files longer:
        # clear whatever an earlier build or process left at the location
        loc = scratch("tables", tbl)
        shutil.rmtree(loc, ignore_errors=True)
        (
            self._frame(spark, sf_dir)
            .write.bucketBy(self._buckets, self._by)
            .sortBy(self._by)
            .option("path", loc)
            .mode("overwrite")
            .saveAsTable(tbl)
        )
        return tbl

    def __call__(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        tbl = super().__call__(spark, sf_dir)
        # each session caches a table's file listing; a rebuild from
        # another session (other partitions conf) replaced those files
        spark.catalog.refreshTable(tbl)
        return spark.table(tbl)


def artifact(name: str, inputs: tuple[str, ...]) -> Callable[..., Artifact]:
    """Register ``build(spark, sf_dir)`` as the artifact ``name`` derived
    from the catalog tables ``inputs``."""
    return lambda build: Artifact(name, tuple(inputs), build)


def saved_table(
    name: str, inputs: tuple[str, ...], by: str, buckets: int
) -> Callable[..., Artifact]:
    """Register ``frame(spark, sf_dir) -> DataFrame`` as the artifact
    ``name``, saved as the table ``<name>_<sf tag>`` bucketed and sorted by
    ``by``."""
    return lambda frame: _SavedTable(name, tuple(inputs), frame, by, buckets)


def all() -> list[Artifact]:  # noqa: A001 - the registry's public verb
    """Every registered artifact, in registration order."""
    return list(_REGISTRY.values())


def clear(name: str | None = None) -> None:
    """Drop the memo of artifact ``name``, or of every artifact: the next
    call rebuilds."""
    for a in [_REGISTRY[name]] if name is not None else _REGISTRY.values():
        a.clear()
