"""The snapshot table as a BATCH ``spark.read.format("snapshot")``
source (r13 verdict item 2): a Spark 4 Python DataSource over
:class:`~serverless_mapreduce_spark.sources.snapshots.SnapshotTable`,
so batch consumers get the table-format surface through the standard
reader API instead of the library API — the Delta/Iceberg
``spark.read.format(...)`` contract.

Surface:

- ``versionAsOf`` / ``timestampAsOf`` time travel (same resolution
  rules as the library's ``read``/``resolve_as_of``);
- filter pushdown (``pushFilters``) wired into the EXISTING manifest
  pruning: equality predicates probe recorded partition values
  (hidden-partition transforms included) and comparison predicates on
  numeric columns form a min/max box against per-file/segment stats —
  files and whole segments the manifest proves irrelevant are never
  planned, let alone opened. Every filter is also RETURNED to Spark
  (pruning is file-granular; Spark applies the row-level residual),
  so pushdown can only remove whole files, never rows it shouldn't;
- merge-on-read deletes applied inside the source: ``file_plan()``
  plans each data file with exactly the delete-key files whose
  sequence number supersedes it (the Iceberg sequence rule —
  identical to the library's ``_read_with_deletes`` grouping), and
  ``read`` anti-joins them as Arrow compute, so the engine only ever
  sees live rows;
- schema pinned from the resolved version's manifest (pre-evolution
  files surface added columns as NULL — the same ``_reader``
  contract, re-implemented Arrow-side).

Scale: planning is manifest-only (one JSON + the summaries it
carries), sizing each file from its recorded ``bytes``; ``partitions``
packs that per-file plan into Spark-sized splits (``splits.pack``:
Spark's file-split rule over contiguous runs of plan order), so a scan
runs about one task wave, not one ~60 ms Python task per file; ``read``
yields ``RecordBatch``es straight from the parquet reader for each file
of its split — no per-row Python anywhere (the pyds_kv.py discipline).
Reference analog: none — the reference re-lists and re-reads whole S3
prefixes per job (``driver/driver.py``); this is the planned, pruned,
versioned scan that replaces that at 100 TB.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from serverless_mapreduce_spark.sources.snapshot_stream import (
    aligned,
    source_schema,
)
from serverless_mapreduce_spark.sources.snapshots import (
    SnapshotTable,
    hive_partition_value,
)
from serverless_mapreduce_spark.sources.splits import (
    PlannedFile,
    SplitConf,
    bind_session,
    pack,
    planned,
)


def _resolve_version(t: SnapshotTable, opts: dict) -> int:
    v = opts.get("versionasof")
    if v is not None:
        version = int(v)
        if version not in t.versions():
            raise ValueError(
                f"snapshot batch source: versionAsOf={version} is not a "
                f"live version of {t.base!r}"
            )
        return version
    b = opts.get("branch")
    if b is not None:
        return t.resolve_branch(b)
    g = opts.get("tag")
    if g is not None:
        return t.resolve_tag(g)
    ts = opts.get("timestampasof")
    if ts is not None:
        try:
            target = float(ts)
        except ValueError:
            # ISO-8601 string ("2026-08-16 12:00:00" / with T) — the
            # Delta option shape; naive stamps read as UTC
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(str(ts).replace("T", " "))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            target = dt.timestamp()
        return t.resolve_as_of(target)
    head = t.latest_version()
    if head is None:
        raise ValueError(
            "snapshot batch source: table has no committed version"
        )
    return head


class SnapshotBatchReader(DataSourceReader):
    """Manifest-planned batch reader over one resolved table version.

    Holds only the table path, resolved version, pinned schema, split
    inputs and the pushed pruning probes — a live SnapshotTable is
    planning state and is dropped from the executor pickle."""

    def __init__(
        self,
        options: dict,
        schema: StructType,
        split_conf: SplitConf = SplitConf(),
    ):
        opts = {k.lower(): v for k, v in options.items()}
        self._base = opts["path"]
        self._version = _resolve_version(SnapshotTable(self._base), opts)
        self._schema = schema
        self._split_conf = split_conf
        # logical -> physical column mapping pinned with the version
        # (rename/drop without rewrite): pushed probes translate before
        # touching manifest keys; the Arrow read aliases physical ->
        # logical. Identity (empty) for unmapped tables.
        self._colmap = SnapshotTable(self._base).column_mapping(
            self._version
        )
        # batch change feed (Delta's table_changes through the reader
        # API): serve every row-level change in (startingVersion,
        # endingVersion] with the CDF metadata columns appended
        self._change_feed = (
            str(opts.get("readchangefeed", "false")).lower() == "true"
        )
        self._cf_start = int(opts.get("startingversion", 0))
        self._cf_end = int(opts.get("endingversion", self._version))
        # pushed pruning probes: {col: value} equalities,
        # {col: [lo, hi]} numeric boxes (None = unbounded side), and
        # {col: (values, ...)} IN-lists
        self._eq: dict[str, str | None] = {}
        self._box: dict[str, list] = {}
        self._in: dict[str, tuple] = {}
        self._prefix: dict[str, str] = {}
        self._not_null: set[str] = set()
        self._is_null: set[str] = set()

    def _table(self) -> SnapshotTable:
        t = getattr(self, "_tbl", None)
        if t is None:
            t = self._tbl = SnapshotTable(self._base)
        return t

    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        state.pop("_tbl", None)
        return state

    # -- pushdown ----------------------------------------------------------

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Harvest pruning probes; return EVERY filter for Spark to
        evaluate row-level (manifest pruning is file-granular — the
        probes only discard files that provably hold no matching row,
        the same conservative contract as the library's ``plan_files``).
        """
        for f in filters:
            if len(getattr(f, "attribute", ())) != 1:
                yield f
                continue
            col = f.attribute[0]
            if isinstance(f, EqualTo):
                # hive rendering, not str(): a pushed bool/timestamp
                # equality must compare as the manifest recorded it
                # ('true', not 'True') or matching files silently prune
                # out of the result (r14 advice 2)
                self._eq[col] = hive_partition_value(f.value)
                if isinstance(f.value, (int, float)) and not isinstance(
                    f.value, bool
                ):
                    self._box.setdefault(col, [None, None])
                    self._box[col] = [f.value, f.value]
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                if isinstance(f.value, (int, float)):
                    b = self._box.setdefault(col, [None, None])
                    if b[0] is None or f.value > b[0]:
                        b[0] = f.value
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                if isinstance(f.value, (int, float)):
                    b = self._box.setdefault(col, [None, None])
                    if b[1] is None or f.value < b[1]:
                        b[1] = f.value
            elif isinstance(f, In):
                # IN-list: a file survives iff ANY listed value could be
                # inside it (partition values / transforms / stats are
                # each checked per value at planning time)
                self._in[col] = tuple(f.value)
            elif isinstance(f, StringStartsWith):
                self._prefix[col] = str(f.value)
            elif isinstance(f, IsNotNull):
                self._not_null.add(col)
            elif isinstance(f, IsNull):
                self._is_null.add(col)
            yield f

    # -- planning ----------------------------------------------------------

    def _planned_entries(self) -> list[dict]:
        """Pruned data entries for the resolved version: one library
        pruning pass per pushed probe (each pass is conservative, so
        composing them can only remove files no probe could keep)."""
        t = self._table()
        # entry stats/partition keys are PHYSICAL under column mapping:
        # translate the pushed (logical) probes once, up front. The
        # translation is idempotent (rename_column refuses logical names
        # that shadow another column's physical name), so the library's
        # own translation downstream is a no-op on these.
        P = lambda c: self._colmap.get(c, c)  # noqa: E731
        box = {P(c): v for c, v in self._box.items()}
        eq = {P(c): v for c, v in self._eq.items()}
        in_ = {P(c): v for c, v in self._in.items()}
        prefix_ = {P(c): v for c, v in self._prefix.items()}
        not_null = [P(c) for c in self._not_null]
        is_null = [P(c) for c in self._is_null]
        where = None
        for col, (lo, hi) in box.items():
            if lo is not None and hi is not None:
                where = (col, lo, hi)
                break  # the library box is single-column; others residual
        entries = t._pruned_data_entries(
            self._version, where, eq or None
        )
        # remaining complete boxes prune entry-level via recorded stats
        for col, (lo, hi) in box.items():
            if where is not None and col == where[0]:
                continue
            if lo is None or hi is None:
                continue
            kept = []
            for e in entries:
                rng = e.get("stats", {}).get(col)
                if (
                    rng is not None
                    and rng[0] is not None
                    and rng[1] is not None
                    and (rng[0] > hi or rng[1] < lo)
                ):
                    continue
                kept.append(e)
            entries = kept
        # Bloom bitmaps: pushed equalities and IN-lists also probe any
        # per-file bitmaps the commit recorded — the high-cardinality
        # complement of stats (a scattered key defeats min/max; a
        # membership bitmap doesn't care). No false negatives; a false
        # positive costs one wasted scan, never a wrong row.
        for col, val in eq.items():
            if val is None:
                continue
            entries = [
                e
                for e in entries
                if not SnapshotTable._bloom_excludes(e, col, [val])
            ]
        for col, values in in_.items():
            keys = [v for v in values if v is not None]
            if keys:
                entries = [
                    e
                    for e in entries
                    if not SnapshotTable._bloom_excludes(e, col, keys)
                ]
        # IN-lists: drop a file only when EVERY listed value is provably
        # absent — per value via the partition/transform mismatch proof,
        # plus the numeric stats range when all values are numeric
        for col, values in in_.items():
            probes = [{col: hive_partition_value(v)} for v in values]
            nums = [
                v
                for v in values
                if isinstance(v, (int, float)) and not isinstance(v, bool)
            ]
            all_numeric = len(nums) == len(values) and values
            kept = []
            for e in entries:
                parts = e.get("partitions", {})
                if parts and all(
                    SnapshotTable._eq_mismatch(parts, p) for p in probes
                ):
                    continue
                if all_numeric:
                    rng = e.get("stats", {}).get(col)
                    if (
                        rng is not None
                        and rng[0] is not None
                        and rng[1] is not None
                        and not any(rng[0] <= v <= rng[1] for v in nums)
                    ):
                        continue
                kept.append(e)
            entries = kept
        # startsWith: identity/truncate partition values compare by
        # prefix; string stats [min, max] exclude when the whole range
        # sorts outside [prefix, next(prefix)) — lexicographic compare
        # is exactly the parquet min/max contract for strings
        for col, prefix in prefix_.items():
            if not prefix:
                continue
            nxt = prefix[:-1] + chr(ord(prefix[-1]) + 1)
            kept = []
            for e in entries:
                skip = False
                for key, rec in e.get("partitions", {}).items():
                    kind, param, src = SnapshotTable._parse_transform(key)
                    if src != col:
                        continue
                    if rec is None:
                        # the NULL partition: startsWith(NULL) is NULL,
                        # never TRUE — an identity value proves every
                        # row is excluded
                        skip = kind == "identity"
                        if skip:
                            break
                        continue
                    if kind == "identity":
                        skip = not str(rec).startswith(prefix)
                    elif kind == "truncate" and param is not None:
                        w = int(param)
                        skip = (
                            not str(rec).startswith(prefix[:w])
                            if len(prefix) >= w
                            else not str(rec).startswith(prefix)
                        )
                    if skip:
                        break
                if skip:
                    continue
                rng = e.get("stats", {}).get(col)
                if (
                    rng is not None
                    and isinstance(rng[0], str)
                    and isinstance(rng[1], str)
                    and (rng[1] < prefix or rng[0] >= nxt)
                ):
                    continue
                kept.append(e)
            entries = kept
        # IsNotNull drops all-NULL files (NULL partition value, or a
        # [None, None] stats range = min/max over zero non-null values);
        # IsNull keeps only files that may hold a NULL (an identity
        # partition value proves every row's value)
        for col in not_null:
            entries = [
                e
                for e in entries
                if not (
                    e.get("partitions", {}).get(col, "") is None
                    or (
                        e.get("stats", {}).get(col) == [None, None]
                        and col in e.get("stats", {})
                    )
                )
            ]
        for col in is_null:
            kept = []
            for e in entries:
                parts = e.get("partitions", {})
                if col in parts and parts[col] is not None:
                    kind, _p, src = SnapshotTable._parse_transform(col)
                    if kind == "identity" and src == col:
                        continue  # provably no NULL rows in this file
                kept.append(e)
            entries = kept
        return entries

    def partitions(self) -> list[InputPartition]:
        """The file plan packed into Spark-sized splits (``splits.pack``)."""
        return pack(self.file_plan(), self._split_conf)

    def file_plan(self) -> list[PlannedFile]:
        """One unit per planned data file, carrying exactly the
        delete-key files that supersede it (delete seq > data seq — the
        library's ``_read_with_deletes`` grouping, shipped to the
        executor as (path, [(delete_path, key_cols), ...])) and sized
        from the manifest. Under ``readChangeFeed`` the plan is instead
        the library's ``plan_changes`` walk: one
        ("cdf", path, change_type, commit_version, commit_ts) unit per
        change-volume file, sized from the manifest where it records
        bytes."""
        t = self._table()
        if self._change_feed:
            return [
                planned(("cdf", p, ctype, v, ts), p, nbytes)
                for files, ctype, v, ts in t.plan_changes(
                    self._cf_start, self._cf_end
                )
                for p, nbytes in files
            ]
        dels = sorted(t._delete_entries(self._version), key=lambda d: d["path"])
        out = []
        for e in self._planned_entries():
            appl = tuple(
                (d["path"], tuple(d["keys"]))
                for d in dels
                if d["_seq"] > e.get("_seq", 0)
            )
            out.append(planned((e["path"], appl), e["path"], e.get("bytes")))
        return out

    # -- execution ---------------------------------------------------------

    def read(self, partition: InputPartition) -> Iterator:
        """Arrow read of each file of one split, in plan order, aligned
        to the pinned schema (``snapshot_stream.aligned``: absent
        pre-evolution columns filled with NULLs; change-feed units get
        their constant CDF columns)."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        for unit in partition.value:
            if self._change_feed:
                _tag, path, ctype, cver, cts = unit
                raw = pq.read_table(path)
                change = (ctype, cver, cts)
                yield from aligned(raw, target, self._colmap, change).to_batches()
            else:
                yield from self._read_live(unit, target)

    def _read_live(self, unit: tuple, target) -> Iterator:
        """One data file with its applicable merge-on-read deletes
        anti-joined out as Arrow compute — the engine receives only
        live rows."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        path, appl = unit
        tbl = aligned(pq.read_table(path), target, self._colmap)
        # delete-key files record PHYSICAL key names; the joined data
        # table carries LOGICAL names — translate physical -> logical
        inv = {p: l for l, p in self._colmap.items()}
        for dpath, pkeys in appl:
            keys = [inv.get(k, k) for k in pkeys]
            dk = pq.read_table(dpath, columns=list(pkeys))
            # align key types to the pinned schema so the hash join
            # compares like with like
            dk = pa.table(
                [
                    dk.column(pk)
                    .combine_chunks()
                    .cast(target.field(lk).type)
                    for pk, lk in zip(pkeys, keys)
                ],
                names=list(keys),
            )
            # SQL anti-join semantics: NULL keys never match — drop
            # null-keyed delete rows, then distinct, then left-anti
            mask = None
            for k in keys:
                m = pc.is_valid(dk.column(k))
                mask = m if mask is None else pc.and_(mask, m)
            if mask is not None:
                dk = dk.filter(mask)
            dk = dk.group_by(list(keys)).aggregate([])
            if dk.num_rows:
                tbl = tbl.join(
                    dk, keys=list(keys), join_type="left anti"
                ).select(target.names)
        yield from tbl.cast(target).to_batches()


# --- the WRITE half: df.write.format("snapshot") + its streaming sink ----------


class _WrittenFiles(WriterCommitMessage):
    """Per-task commit message: the manifest entries for the files this
    task wrote (path, bytes, rows, stats, partition values) — the driver
    publishes their union as one atomic version."""

    def __init__(self, entries: list[dict]):
        self.entries = entries


class _SnapshotWriterBase:
    """Executor-side Arrow write shared by the batch writer and the
    streaming sink: each task streams its ``RecordBatch``es into one
    parquet file per partition-value combination (``ParquetWriter`` —
    batches are appended as they arrive, never buffered whole), lifting
    rows/bytes/min-max stats/partition values into manifest entries as
    it goes. The write is therefore ONE pass with zero extra jobs — the
    stats the library path computes with a distributed aggregation come
    free from the Arrow batches here."""

    def __init__(self, options: dict, schema, overwrite: bool):
        opts = {k.lower(): v for k, v in options.items()}
        self._base = opts["path"]
        self._schema = schema
        self._overwrite = overwrite
        # branch writes (r14 verdict item 3): commit TO the named branch
        # instead of main — the WAP staging half through the writer API
        self._branch = opts.get("branch")
        self._stats = tuple(
            c.strip() for c in opts.get("statscols", "").split(",") if c.strip()
        )
        self._partition_by = tuple(
            c.strip()
            for c in opts.get("partitionby", "").split(",")
            if c.strip()
        )
        for c in self._partition_by:
            if "(" in c:
                raise ValueError(
                    "the DataSource writer supports plain partition "
                    f"columns only (got transform {c!r}); hidden "
                    "partitioning goes through the library commit API"
                )
        # logical -> physical column mapping at the write target
        # (rename/drop without rewrite): files and manifest keys are
        # written under PHYSICAL names; the stats/partition options
        # arrive logical and translate here. Branch staging uses the
        # BRANCH head's mapping — if main renamed after the fork, the
        # staged files must still read correctly under the branch's
        # schema (and fast_forward refuses the divergence anyway).
        try:
            t = SnapshotTable(self._base)
            v = (
                t.resolve_branch(self._branch)
                if self._branch
                else t.latest_version()
            )
            self._colmap = t.column_mapping(v) if v is not None else {}
        except FileNotFoundError:
            self._colmap = {}
        if self._colmap:
            self._stats = tuple(
                self._colmap.get(c, c) for c in self._stats
            )
            self._partition_by = tuple(
                self._colmap.get(c, c) for c in self._partition_by
            )
        import uuid as _uuid

        self._dir = os.path.join(self._base, "data", _uuid.uuid4().hex[:12])

    def _write_batches(self, iterator) -> "_WrittenFiles":
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(self._dir, exist_ok=True)
        writers: dict[tuple, tuple] = {}  # key -> (writer, path, agg-state)
        for batch in iterator:
            tbl = pa.table(batch) if isinstance(batch, pa.RecordBatch) else batch
            if tbl.num_rows == 0:
                continue
            if self._colmap:
                tbl = tbl.rename_columns(
                    [self._colmap.get(n, n) for n in tbl.column_names]
                )
            if self._partition_by:
                # vectorized split (r14 advice 3): unique keys via an
                # Arrow group_by (O(unique) Python, never O(rows)),
                # then one pc.equal mask per unique value — partition
                # value cardinality is low per batch by the spec's
                # nature, and every per-row compare stays in C
                cols = list(self._partition_by)
                uniq = sorted(
                    (
                        tuple(r[c] for c in cols)
                        for r in tbl.group_by(cols).aggregate([]).to_pylist()
                    ),
                    key=repr,
                )
            else:
                uniq = [()]
            for key in uniq:
                if not self._partition_by:
                    part = tbl
                else:
                    mask = None
                    for c, v in zip(self._partition_by, key):
                        col_arr = tbl.column(c)
                        m = (
                            pc.is_null(col_arr)
                            if v is None
                            else pc.equal(col_arr, v)
                        )
                        mask = m if mask is None else pc.and_(mask, m)
                    part = tbl.filter(mask)
                if key not in writers:
                    path = os.path.join(
                        self._dir, f"part-{_uuid.uuid4().hex[:12]}.parquet"
                    )
                    writers[key] = (
                        pq.ParquetWriter(path, tbl.schema),
                        path,
                        {"rows": 0, "stats": {c: [None, None] for c in self._stats}},
                    )
                w, _path, agg = writers[key]
                w.write_table(part)
                agg["rows"] += part.num_rows
                for c in self._stats:
                    mm = pc.min_max(part.column(c))
                    lo, hi = mm["min"].as_py(), mm["max"].as_py()
                    if lo is None:
                        continue  # all-null slice: contributes no bounds
                    cur = agg["stats"][c]
                    cur[0] = lo if cur[0] is None else min(cur[0], lo)
                    cur[1] = hi if cur[1] is None else max(cur[1], hi)
        entries: list[dict] = []
        for key, (w, path, agg) in writers.items():
            w.close()
            e: dict = {
                "path": path,
                "bytes": os.path.getsize(path),
                "rows": agg["rows"],
            }
            if self._stats:
                e["stats"] = dict(agg["stats"])
            if self._partition_by:
                # hive-rendered string values — the SAME renderer the
                # library's hive-layout parse produces, so a bool
                # partition records 'true' here exactly as a
                # library-written file would and partition_eq probes
                # compare like with like (r14 advice 2)
                e["partitions"] = {
                    c: hive_partition_value(v)
                    for c, v in zip(self._partition_by, key)
                }
            entries.append(e)
        return _WrittenFiles(entries)

    @staticmethod
    def _cleanup(messages) -> None:
        import contextlib
        import shutil

        dirs = set()
        for m in messages:
            for e in getattr(m, "entries", []) if m else []:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(e["path"])
                dirs.add(os.path.dirname(e["path"]))
        for d in dirs:
            with contextlib.suppress(OSError):
                if not os.listdir(d):
                    shutil.rmtree(d, ignore_errors=True)


class SnapshotBatchWriter(_SnapshotWriterBase, DataSourceArrowWriter):
    """``df.write.format("snapshot").option("path", base).save()`` —
    executors write immutable files (one Arrow pass, stats lifted
    inline), the driver publishes their union as ONE atomic version via
    :meth:`SnapshotTable.publish_entries` (files-then-pointer, CAS on
    the manifest). ``mode("append")`` extends the parent's segments;
    ``mode("overwrite")`` replaces the table. A failed job aborts by
    deleting the staged files — readers never saw them."""

    def write(self, iterator):
        return self._write_batches(iterator)

    def commit(self, messages) -> None:
        entries = [e for m in messages if m for e in m.entries]
        t = SnapshotTable(self._base)
        if self._branch:
            if self._overwrite:
                raise ValueError(
                    "branch writes are append-only staging (WAP); use "
                    "mode('append') and publish via fast_forward"
                )
            t.publish_entries_to_branch(
                self._branch,
                entries,
                schema=self._schema,
                partition_by=self._partition_by,
            )
            return
        t.publish_entries(
            entries,
            mode="overwrite" if self._overwrite else "append",
            schema=self._schema,
            partition_by=self._partition_by,
        )

    def abort(self, messages) -> None:
        self._cleanup(messages)


class SnapshotStreamWriter(_SnapshotWriterBase, DataSourceStreamArrowWriter):
    """``writeStream.format("snapshot")`` — the first-class EXACTLY-ONCE
    streaming sink for the table format (previously only reachable via
    foreachBatch + ``commit_stream_batch``): each micro-batch's files
    publish under the manifest LEDGER keyed on (``streamId``, batchId),
    so an engine redelivery after a checkpoint crash is recognized and
    skipped — the duplicate files are deleted, no version is published
    (Delta's txnAppId/txnVersion idempotent-sink pattern). ``streamId``
    is the required app identity; two different streams sharing one
    sink table interleave safely (per-stream ledger slots)."""

    def __init__(self, options: dict, schema, overwrite: bool):
        super().__init__(options, schema, overwrite)
        opts = {k.lower(): v for k, v in options.items()}
        sid = opts.get("streamid")
        if not sid:
            raise ValueError(
                "snapshot streaming sink requires a streamId option — the "
                "exactly-once ledger is keyed on it (Delta's txnAppId)"
            )
        if self._branch:
            raise ValueError(
                "the streaming sink commits to main only; branch staging "
                "is a batch WAP flow (df.write.option('branch', ...))"
            )
        self._sid = sid

    def write(self, iterator):
        return self._write_batches(iterator)

    def commit(self, messages, batchId: int) -> None:
        entries = [e for m in messages if m for e in m.entries]
        v = SnapshotTable(self._base).publish_entries(
            entries,
            mode="append",
            schema=self._schema,
            stream_id=self._sid,
            batch_id=batchId,
            partition_by=self._partition_by,
        )
        if v is None:
            self._cleanup(messages)  # replayed batch: drop the duplicates

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)


class SnapshotBatchDataSource(DataSource):
    """``spark.read.format("snapshot").option("path", base).load()``.

    Options: ``path`` (table base dir, required), ``versionAsOf``
    (exact live version), ``branch``/``tag`` (named refs — Iceberg
    branch/tag reads through the reader API), ``timestampAsOf``
    (epoch seconds or ISO-8601 — resolved like the library's
    ``resolve_as_of``), ``readChangeFeed`` (batch
    CDF: serve every row-level change in ``(startingVersion,
    endingVersion]`` — default (0, resolved version] — with the
    ``_change_type``/``_commit_version``/``_commit_timestamp`` columns;
    the plan is the library's ``plan_changes`` walk, loud on
    retention-expired holes). Enable
    ``spark.sql.python.filterPushdown.enabled`` for manifest pruning
    of pushed filters (they are still re-applied row-level by Spark
    either way)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot"

    #: Spark's file-split inputs; ``register`` binds the session's
    split_conf = SplitConf()

    def schema(self) -> StructType:
        opts = {k.lower(): v for k, v in self.options.items()}
        t = SnapshotTable(opts["path"])
        version = _resolve_version(t, opts)
        # pin the resolution: reader() reuses THIS version, so the
        # pinned schema and the planned file set always come from the
        # same snapshot even when a commit lands between analysis and
        # reader construction (r14 advice 5)
        self._resolved_version = version
        st = t._schema(version)
        if st is None:
            raise ValueError(
                "snapshot batch source: the resolved manifest records no "
                "schema (pre-round-10 table)"
            )
        return source_schema(
            st, str(opts.get("readchangefeed", "false")).lower() == "true"
        )

    def reader(self, schema: StructType) -> SnapshotBatchReader:
        opts = dict(self.options)
        v = getattr(self, "_resolved_version", None)
        if v is not None:
            # one resolution serves schema AND plan (r14 advice 5);
            # versionAsOf wins every other resolution rule, so this
            # also freezes branch/tag/timestamp reads at analysis time
            opts["versionAsOf"] = str(v)
        return SnapshotBatchReader(opts, schema, self.split_conf)

    def writer(self, schema: StructType, overwrite: bool) -> SnapshotBatchWriter:
        return SnapshotBatchWriter(dict(self.options), schema, overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> SnapshotStreamWriter:
        return SnapshotStreamWriter(dict(self.options), schema, overwrite)


def register(spark) -> None:
    """Idempotent registration. Re-registering on the SAME session
    replaces silently, but a session CLONE inherits its parent's
    registration and re-registering there raises
    DATA_SOURCE_ALREADY_EXISTS — swallow exactly that (the registered
    class is always this one, so already-exists is success). Binds the
    registering session's split inputs (``splits.bind_session``)."""
    try:
        spark.dataSource.register(bind_session(SnapshotBatchDataSource, spark))
    except Exception as ex:  # pyspark AnalysisException
        if "DATA_SOURCE_ALREADY_EXISTS" not in str(ex):
            raise


# --- registered correctness query ---------------------------------------------

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from serverless_mapreduce_spark.catalog import table  # noqa: E402
from serverless_mapreduce_spark.paths import scratch, sf_tag  # noqa: E402
from serverless_mapreduce_spark.registry import query  # noqa: E402
from serverless_mapreduce_spark.sources.snapshots import _cents  # noqa: E402


@query(
    "snapshot_batch_datasource",
    priority=0,
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k, o_orderpriority AS p,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    )
    SELECT 'head_urgent' AS probe, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM src WHERE p = '1-URGENT' AND k % 10 <> 0
    UNION ALL
    SELECT 'v1_all' AS probe, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM src WHERE k % 2 = 0
    """,
)
def snapshot_batch_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE TABLE FORMAT BEHIND ``spark.read.format("snapshot")`` (r13
    verdict item 2): build a partitioned snapshot table (v1 = even
    orders, v2 = odd orders, v3 = merge-on-read purge of the %10 keys),
    then read it back ONLY through the registered batch DataSource —
    the head with a partition-equality filter PUSHED into manifest
    pruning (non-matching partitions are never planned; the MOR delete
    is applied inside the source as an Arrow anti-join), and
    ``versionAsOf=1`` time travel (pre-append, pre-purge). The oracle
    recomputes both probes from raw orders: a pruning bug loses a
    partition, a delete-application bug resurrects purged keys, a
    time-travel bug leaks v2 rows into the v1 probe.

    tests/test_snapshot_batch.py pins the planning contract itself:
    pushed-filter file counts equal the library's ``plan_files``, and
    schema evolution surfaces NULLs through the Arrow path."""
    import shutil

    base = scratch(sf_tag(sf_dir), "snapshot_batch_ds")
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(base)
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        _cents("o_totalprice").alias("cents"),
    )
    k = F.col("o_orderkey")
    t.commit(orders.filter(k % 2 == 0), partition_by=("o_orderpriority",))
    t.commit(orders.filter(k % 2 == 1), partition_by=("o_orderpriority",))
    t.delete_keys_mor(
        spark, orders.filter(k % 10 == 0).select("o_orderkey"), ("o_orderkey",)
    )

    # pushFilters is gated behind spark.sql.python.filterPushdown.enabled
    # (default false). Set on the CALLER session: Python DS registration
    # is name-scoped per JVM and session CLONES break once the parent
    # registers (they can neither re-register nor resolve — bisected in
    # r14), so this format always registers and runs on the caller; the
    # conf only gates pushFilters calls, which every Python source in
    # this repo implements conservatively.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)

    head = (
        spark.read.format("snapshot")
        .option("path", base)
        .load()
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit("head_urgent").alias("probe"), "n_rows", "sum_cents")
    )
    v1 = (
        spark.read.format("snapshot")
        .option("path", base)
        .option("versionAsOf", "1")
        .load()
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit("v1_all").alias("probe"), "n_rows", "sum_cents")
    )
    return head.unionAll(v1)


@query(
    "snapshot_batch_writer_roundtrip",
    priority=0,
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k, o_orderpriority AS p,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    )
    SELECT 'urgent' AS probe, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM src WHERE p = '1-URGENT'
    UNION ALL
    SELECT 'full' AS probe, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM src
    """,
)
def snapshot_batch_writer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE WRITE HALF OF ``format("snapshot")``: orders land in a
    snapshot table purely through ``df.write.format("snapshot")`` — two
    appends (even then odd keys), partitioned by priority with
    o_orderkey min/max stats lifted INLINE from the Arrow batches (one
    pass, zero extra stats jobs — the library path pays a distributed
    aggregation for the same numbers). The table is then read back
    through the LIBRARY with a partition-equality probe, so the query
    is green only if the DS writer's manifest entries (partition
    values, stats, rows, bytes) are exactly what the planner expects
    from a library-written table. tests/test_snapshot_batch.py
    additionally pins plan_files pruning on DS-written tables, the
    exactly-once streaming-sink ledger, overwrite mode, and abort
    cleanup.

    Scale: the executor write streams batches through ParquetWriter
    (never buffers a task's data); the driver commit is metadata-only
    (one segment + one manifest CAS per save)."""
    import shutil

    base = scratch(sf_tag(sf_dir), "snapshot_batch_writer")
    shutil.rmtree(base, ignore_errors=True)
    # registration is additive and idempotent (no session conf touched),
    # and Python DS WRITE resolution does not see a clone's registry —
    # register on the caller's session, like the stream source does
    s = spark
    register(s)
    orders = table(s, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        _cents("o_totalprice").alias("cents"),
    )
    k = F.col("o_orderkey")
    for half in (orders.filter(k % 2 == 0), orders.filter(k % 2 == 1)):
        (
            half.write.format("snapshot")
            .option("path", base)
            .option("partitionBy", "o_orderpriority")
            .option("statsCols", "o_orderkey")
            .mode("append")
            .save()
        )
    t = SnapshotTable(base)
    urgent = (
        t.read(s, partition_eq={"o_orderpriority": "1-URGENT"})
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(F.lit("urgent").alias("probe"), "n_rows", "sum_cents")
    )
    full = t.read(s).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    ).select(F.lit("full").alias("probe"), "n_rows", "sum_cents")
    return urgent.unionAll(full)


@query(
    "stream_snapshot_writer_sink",
    priority=0,
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def stream_snapshot_writer_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-CLASS EXACTLY-ONCE STREAMING SINK: a snapshot table is
    maintained by ``writeStream.format("snapshot")`` — no foreachBatch,
    no user-written idempotence — fed by the snapshotstream SOURCE over
    another snapshot table, so both halves of the table format's
    streaming story run through the standard reader/writer API in one
    checkpointed pipeline. Two drains over the same checkpoint (the
    source commits more between them) must land every row exactly once:
    the sink publishes each micro-batch under the manifest ledger keyed
    on (streamId, batchId) — an engine redelivery is recognized and its
    duplicate files are deleted unpublished (Delta's txnAppId pattern).
    The final per-status aggregate equals the oracle's full recompute
    only if the cursor resumed AND no batch double-published.

    Scale: per batch the sink writes O(batch) files + one metadata CAS;
    the source plans by manifest ref-diff — the loop costs delta, not
    table."""
    import shutil

    from serverless_mapreduce_spark.sources.snapshot_stream import read_stream

    root = scratch(sf_tag(sf_dir), "stream_writer_sink")
    shutil.rmtree(root, ignore_errors=True)
    s = spark  # write-path DS resolution needs the caller's registry
    register(s)
    src = SnapshotTable(f"{root}/src")
    out = f"{root}/out"
    orders = table(s, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
    )
    k = F.col("o_orderkey")
    src.commit(orders.filter(k % 2 == 0))

    # one load for both drains (see stream_from_snapshot: offsets
    # resolve at start() from the checkpoint, the resume probe holds)
    sdf = read_stream(s, src.base)

    def drain() -> None:
        (
            sdf.writeStream.format("snapshot")
            .option("path", out)
            .option("streamId", "writer_sink")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()                                  # evens land exactly once
    src.commit(orders.filter(k % 2 == 1))    # delta
    drain()                                  # only the odds land
    return (
        SnapshotTable(out)
        .read(s)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
