"""The snapshot table as a STRUCTURED STREAMING SOURCE (VERDICT r11
item 4): ``spark.readStream.format("snapshotstream")`` subscribes to a
:class:`~serverless_mapreduce_spark.sources.snapshots.SnapshotTable` and
emits each newly published version's appended files as a micro-batch —
the Delta "stream from table" / Iceberg incremental-scan-as-source
pattern, built on the Spark 4 Python DataSource streaming API.

Why this is the missing half of the table format: ``read_incremental``
already serves batch delta reads, but nothing could SUBSCRIBE — a
downstream pipeline (index refresh, rollup maintenance, replication) had
to poll and manage its own cursor. Here the cursor is a Structured
Streaming OFFSET ({"version": N}), checkpointed by the engine, so the
consumer gets exactly-once delivery of every appended row with
kill-and-resume for free, composing with ``commit_stream_batch`` on the
write side: a table can be simultaneously a stream's sink and another
stream's source (pinned by tests/test_snapshot_stream.py).

Semantics (Delta's, deliberately):

- APPEND commits stream their new files; each version boundary is a batch
  boundary. Offsets are version numbers — immutable manifests make the
  (start, end] → file-set mapping deterministic, so a replayed batch
  rereads exactly the same rows (the exactly-once half Spark's checkpoint
  needs from a source). Planning is a PER-VERSION ref diff (each append's
  new segments hold exactly its new files), so a maintenance commit
  between two appends can never smear into their deltas.
- ``data_change=false`` maintenance commits (small-file compaction,
  manifest rewrites) are SKIPPED: their files are physically new but
  row-identical, so there is nothing to stream — Delta streams skip
  dataChange=false OPTIMIZE commits the same way. Routine compaction is
  therefore never stream-fatal (r12 verdict item 1), and an append the
  compaction folded away still streams from its ORIGINAL files (which
  compaction never deletes — only retention does).
- Data-CHANGING non-append commits are refused: an overwrite/COW-delete/
  merge/replace rewrites history that may already be emitted, and
  silently re-streaming it would double rows downstream. The stream
  fails with an error naming the version and mode (Delta raises the same
  way without ``ignoreChanges``). ``skipChangeCommits=true`` (Delta's
  option of the same name) instead skips them without emitting — for
  consumers that only want the append flow and accept missing the
  rewrites.
- MERGE-ON-READ DELETE commits add no data files; with
  ``ignoreDeletes=true`` they are skipped (already-emitted rows are not
  retracted — standard streaming-source behavior), without it they fail
  loudly. ``rewrite-manifests`` and ``restore`` reference only
  already-known files under an append-only history, so they stream zero
  new rows and are always safe.
- ``readChangeFeed=true`` turns the stream into a ROW-LEVEL CHANGE FEED
  (Delta CDF's streaming half, composing with the batch
  ``snapshot_changes_between``): appends emit their rows with
  ``_change_type='insert'``, merge-on-read delete commits emit their
  delete-KEY files as ``_change_type='delete'`` rows (key columns set,
  all others NULL — the equality-delete shape), so a downstream
  incremental consumer can MAINTAIN its derived state through purges
  instead of refusing. A copy-on-write ``delete_where(...,
  change_feed=True)`` commit records the removed rows' FULL pre-images
  as ``kind="change"`` files (Delta's enableChangeDataFeed CDC files),
  and the feed emits those as ``_change_type='delete'`` while skipping
  the rewritten survivor files; ``merge_upsert(change_feed=True)``
  likewise emits ``update_preimage`` / ``update_postimage`` / ``insert``
  rows; ``replace_where(change_feed=True)`` (r13 verdict item 1) emits
  the replaced partitions' rows as delete pre-images — served from the
  DROPPED FILES THEMSELVES by reference (``cdf_pre``), zero write
  amplification — and the replacement batch as inserts served from the
  version's own data files (``cdf_ins``). COW rewrites WITHOUT recorded
  change files still refuse (their row-level delta is not derivable
  from file sets). Every feed row also
  carries ``_commit_version`` and ``_commit_timestamp`` (Delta CDF's
  metadata columns) so a CDC consumer can apply changes in commit order
  — ``stream_cdc_replication`` below maintains an exact replica that
  way.
- Schema is pinned to the SOURCE-START head's manifest schema; files
  written before an add-column surface the new column as NULL (the same
  ``_reader`` contract batch reads use).

Scale: ``latestOffset``/``file_plan`` read manifests only (one JSON +
the delta's segments — segment summaries keep that O(delta)), sizing
each file from its recorded ``bytes``; ``partitions`` packs that per-file
plan into Spark-sized splits (``splits.pack``: Spark's file-split rule
over contiguous runs of plan order), so a micro-batch runs about one
task wave, not one ~60 ms Python task per file; ``read`` yields Arrow
``RecordBatch``es straight from the parquet reader for each file of its
split — no per-row Python (the pyds_kv.py discipline).

Reference analog: none — the reference's pipelines re-read whole input
prefixes per job (``driver/driver.py`` re-lists S3 every run); this is
the incremental subscription that makes a 100 TB corpus maintainable.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.paths import scratch, sf_tag
from serverless_mapreduce_spark.registry import query
from serverless_mapreduce_spark.sources.snapshots import SnapshotTable, _cents
from serverless_mapreduce_spark.sources.splits import (
    PlannedFile,
    SplitConf,
    bind_session,
    pack,
    planned,
)

#: commit modes that stream ZERO new rows by construction regardless of
#: flags: rewrite-manifests / restore reference only already-known files
#: under an append-only history. append emits its delta; delete-mor is
#: gated on ignoreDeletes/readChangeFeed; everything else on the
#: data_change flag / skipChangeCommits.
_ZERO_ROW_MODES = {"rewrite-manifests", "restore"}

#: the change-feed columns appended under readChangeFeed=true (Delta
#: CDF's column names): the change kind, the version that committed the
#: change, and that commit's wall-clock — the ordering key a CDC
#: consumer needs to apply upserts and deletes in commit order
CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"
COMMIT_TS_COL = "_commit_timestamp"
CHANGE_FIELDS = (
    StructField(CHANGE_TYPE_COL, StringType()),
    StructField(COMMIT_VERSION_COL, LongType()),
    StructField(COMMIT_TS_COL, DoubleType()),
)


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType)) for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType))
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType))
    return dt


def source_schema(manifest_schema: StructType, change_feed: bool) -> StructType:
    """The schema a snapshot source declares: the manifest's, all
    nullable (files written before an add-column read it as NULL), plus
    the change-feed columns under ``readChangeFeed``. A StructType, not
    DDL, so no column name goes through a parse."""
    fields = _nullable(manifest_schema).fields
    return StructType(fields + list(CHANGE_FIELDS) if change_feed else fields)


def aligned(raw, target, colmap: dict, change: tuple | None = None):
    """``raw`` (an Arrow table read from one file) aligned to the pinned
    Arrow schema ``target``: present columns cast to their declared
    types through the logical -> physical ``colmap``, absent ones
    (pre-evolution files; the non-key columns of a delete-key file)
    filled with NULLs. ``change`` = (change type, commit version, commit
    timestamp) fills the change-feed columns with those constants."""
    import pyarrow as pa

    consts = dict(zip((f.name for f in CHANGE_FIELDS), change or ()))
    n = raw.num_rows
    cols = []
    for field in target:
        src = colmap.get(field.name, field.name)
        if field.name in consts:
            cols.append(pa.array([consts[field.name]] * n, type=field.type))
        elif src in raw.column_names:
            cols.append(raw.column(src).combine_chunks().cast(field.type))
        else:
            cols.append(pa.nulls(n, field.type))
    return pa.table(cols, schema=target)


class SnapshotStreamReader(DataSourceStreamReader):
    """Version-offset stream reader over a snapshot table directory.

    Pickled to executors for ``read`` — holds only the table path,
    options, the pinned schema and the split inputs (never a live
    SnapshotTable: its caches are driver-side planning state)."""

    def __init__(
        self,
        options: dict,
        schema: StructType,
        split_conf: SplitConf = SplitConf(),
    ):
        opts = {k.lower(): v for k, v in options.items()}
        self._base = opts["path"]
        self._start = int(opts.get("startingversion", 0))
        st = opts.get("startingtimestamp")
        if st is not None:
            # Delta's startingTimestamp (ISO-8601 or epoch seconds):
            # INCLUSIVE — stream every version committed AT or after
            # the timestamp (a commit whose wall-clock equals the
            # option exactly is streamed); a timestamp predating the
            # first commit streams the whole history. ISO parse is
            # attempted FIRST so a digit-only date like '20240101'
            # (compact ISO-8601) reads as a date, not epoch seconds.
            if "startingversion" in opts:
                raise ValueError(
                    "startingVersion and startingTimestamp are "
                    "mutually exclusive"
                )
            from datetime import datetime, timezone

            try:
                dt = datetime.fromisoformat(str(st).replace("T", " "))
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=timezone.utc)
                target = dt.timestamp()
            except ValueError:
                target = float(st)
            # resolve to the last MAIN version committed strictly
            # BEFORE the target (streaming covers versions after
            # _start, so the first at-or-after commit is included).
            # NEWEST-FIRST walk with early exit: cost is O(streamed
            # suffix), not O(full history) — a restart near head on a
            # 10^4-version table must not read 10^4 manifests
            # (round-16 review). ts-less versions are arbitrarily old
            # (resolve_as_of's rule); ts is clamped monotonic at
            # publish, so the first explicit ts < target bounds
            # everything deeper. ``pending`` carries the newest ts-less
            # version seen since the last at-or-after commit — it is
            # the true boundary when the walk stops just below it.
            tbl = SnapshotTable(self._base)
            start, pending = 0, None
            for v in reversed(tbl.versions()):
                body = tbl._manifest_body(v)
                if "ref" in body:
                    continue  # branch commit: invisible to main streams
                committed = body.get("ts")
                if committed is None:
                    if pending is None:
                        pending = v
                elif committed >= target:
                    pending = None
                else:
                    start = pending if pending is not None else v
                    break
            else:
                if pending is not None:
                    start = pending
            self._start = start
        # logical -> physical column mapping pinned at start (like the
        # schema): renamed columns keep streaming from their stable
        # physical parquet names; a rename mid-stream needs a restart,
        # same as Delta
        _t = SnapshotTable(self._base)
        _head = _t.latest_version()
        self._colmap = (
            _t.column_mapping(_head) if _head is not None else {}
        )
        self._ignore_deletes = (
            str(opts.get("ignoredeletes", "false")).lower() == "true"
        )
        self._skip_change = (
            str(opts.get("skipchangecommits", "false")).lower() == "true"
        )
        self._change_feed = (
            str(opts.get("readchangefeed", "false")).lower() == "true"
        )
        # admission control (Delta's maxFilesPerTrigger analog at version
        # granularity): cap how many table versions one micro-batch may
        # cover, so a stream catching up on a long backlog folds it in
        # bounded batches instead of one table-sized batch. 0 = unbounded.
        self._max_versions = int(opts.get("maxversionspertrigger", 0))
        if self._max_versions < 0:
            raise ValueError("maxVersionsPerTrigger must be >= 0")
        # bytes-based admission control (Delta's maxBytesPerTrigger):
        # bound a micro-batch by the DELTA'S SCAN VOLUME, derived from
        # manifest summaries alone — version count is a poor proxy when
        # batch sizes vary by orders of magnitude
        self._max_bytes = int(opts.get("maxbytespertrigger", 0))
        if self._max_bytes < 0:
            raise ValueError("maxBytesPerTrigger must be >= 0")
        # failOnDataLoss (Kafka source's option of the same name): a
        # missing in-window manifest that is NOT provably a GC'd staged
        # orphan (tombstoned) or a superseded staging attempt means
        # retention outran this stream — fail loudly by default instead
        # of silently streaming nothing for it (r13 advice)
        self._fail_on_loss = (
            str(opts.get("failondataloss", "true")).lower() != "false"
        )
        # restart admission clamp (r13 verdict item 3): the engine hides
        # the checkpointed offset from latestOffset, so the FIRST
        # post-restart trigger has no cursor to cap against — unless the
        # consumer registers its position in a MultiTableCatalog
        # (set_stream_cursor / publish(cursors=...)), which these options
        # point at. The registered cursor is kept atomic with consumption
        # by the catalog txn, so it is never behind the checkpoint by
        # more than the one pending batch.
        self._catalog_root = opts.get("catalogroot")
        self._catalog_table = opts.get("catalogtablename")
        self._catalog_stream = opts.get("catalogstreamid")
        self._schema = schema
        self._split_conf = split_conf

    def _table(self) -> SnapshotTable:
        # one instance per reader so the immutable-segment cache amortizes
        # across micro-batches; dropped from the pickle (executors only
        # run read(), which plans nothing)
        t = getattr(self, "_tbl", None)
        if t is None:
            t = self._tbl = SnapshotTable(self._base)
        return t

    def __getstate__(self) -> dict:
        state = dict(self.__dict__)
        state.pop("_tbl", None)
        return state

    # -- offsets ----------------------------------------------------------

    def initialOffset(self) -> dict:
        # validate the cursor BEFORE the engine plans a batch: a
        # startingVersion beyond the head or already retention-expired
        # would otherwise surface as a bare FileNotFoundError from a
        # manifest read mid-stream (r12 review)
        t = self._table()
        head = t.latest_version()
        if self._start > 0 and (
            head is None
            or self._start > head
            or self._start not in t.versions()
        ):
            raise ValueError(
                f"snapshot stream source: startingVersion={self._start} is "
                f"not a live version of {self._base!r} (head: {head}; it "
                "may exceed the head or have been retention-expired)"
            )
        self._cursor = self._start
        return {"version": self._start}

    def _catalog_floor(self) -> int | None:
        """The restart clamp's server-side cursor: this stream's
        registered position in the configured catalog (or the table's
        slowest registered cursor when no streamId is given). None when
        the options are absent or nothing is registered."""
        if not (self._catalog_root and self._catalog_table):
            return None
        from serverless_mapreduce_spark.sources.snapshots import (
            MultiTableCatalog,
        )

        cat = MultiTableCatalog(self._catalog_root)
        sids = cat._head().get("cursors", {}).get(self._catalog_table)
        if not sids:
            return None
        if self._catalog_stream is not None:
            v = sids.get(self._catalog_stream)
            return int(v) if v is not None else None
        return min(sids.values())

    def latestOffset(self) -> dict:
        t = self._table()
        head = t.latest_version()
        if head is None:
            return {"version": self._start}
        cursor = getattr(self, "_cursor", None)
        if cursor is None and (self._max_versions or self._max_bytes):
            # first trigger after a RESTART: the engine does not expose
            # the checkpointed offset to latestOffset in this API, so
            # without help the trigger is uncapped. The catalog cursor —
            # registered atomically with consumption by the sink's txn —
            # is that help: clamp against it so a stream restarting
            # behind a long backlog folds it in capped batches from the
            # FIRST trigger (r13 verdict item 3). partitions() tolerates
            # a floor one pending batch behind the checkpoint (the
            # window is then empty, the next trigger re-plans).
            floor = self._catalog_floor()
            if floor is not None:
                cursor = max(floor, self._start)
        if cursor is None or not (self._max_versions or self._max_bytes):
            # no admission control and no registered cursor: uncapped
            return {"version": head}
        end = head
        if self._max_versions:
            # version-count cap: bound the batch to max_versions beyond
            # the last planned/committed cursor (learned from
            # initialOffset on fresh streams — the backfill-from-start
            # case this exists for — and from partitions()/commit())
            end = min(end, cursor + self._max_versions)
        if self._max_bytes:
            # bytes cap: walk forward accumulating each version's delta
            # scan volume from manifest summaries (zero file stats,
            # data_change=false versions cost 0; under readChangeFeed
            # the accounting charges what the FEED scans — delete-key
            # and change files included, r13 advice); always admit at
            # least one version so the stream makes progress. A version
            # whose bytes are NOT derivable (legacy manifests) is
            # admitted only when the batch is otherwise empty — never
            # pulled into an already-charged batch, where its unknown
            # (possibly huge) volume would bust the cap (r13 advice).
            total, last = 0, cursor
            for v in range(cursor + 1, end + 1):
                try:
                    nb = t._delta_bytes(v, feed=self._change_feed)
                except FileNotFoundError:
                    nb = 0  # GC'd staged-orphan hole: streams nothing
                if nb is None:
                    if last == cursor:
                        last = v  # progress guarantee: admit it alone
                    break
                total += nb
                last = v
                if total >= self._max_bytes:
                    break
            end = last
        return {"version": end}

    def commit(self, end: dict) -> None:
        """Offsets are durable manifests and the engine checkpoint owns
        the cursor; we only remember it for admission control."""
        self._cursor = int(end["version"])

    # -- planning ---------------------------------------------------------

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        """The (start, end] file plan packed into Spark-sized splits
        (``splits.pack``). Packing is a deterministic function of the
        plan, so a replayed batch re-plans to the same partitions."""
        return pack(self.file_plan(start, end), self._split_conf)

    def file_plan(self, start: dict, end: dict) -> list[PlannedFile]:
        """One (path, change_type, commit_version, commit_ts) unit per
        delta file in (start, end], in version then file order, sized
        from the manifest's ``bytes`` — planned from manifests alone via
        a PER-VERSION ref diff (``_delta_entries``:
        each append's new segments hold exactly its new files, O(delta)
        cost). The walk is what makes maintenance safe: a
        ``data_change=false`` compaction between two appends contributes
        nothing, while both appends' own files still stream — a
        single lo→hi endpoint diff would either die on the compaction or
        mis-take its rewritten files for new rows. Refuses data-changing
        rewrites (module docstring) BEFORE emitting anything, so a
        rewritten history can never be half-streamed."""
        lo, hi = int(start["version"]), int(end["version"])
        self._cursor = max(getattr(self, "_cursor", lo) or lo, hi)
        t = self._table()
        # one scan serves both: bodies for the window (GC'd staged-orphan
        # holes omitted — their rows were never published and must not
        # stream) and the versions SUPERSEDED by a re-staged commit. The
        # base-link scan runs through the table HEAD, so a re-stage
        # published beyond a capped window still shields its crashed
        # predecessor inside it (r13 second review); _walk_bodies
        # documents the single-staging-writer contract and the residual
        # at-least-once window for subscribers of staged tables.
        bodies, superseded = t._walk_bodies(lo, hi)
        tombs = t._tombstones()
        out: list[PlannedFile] = []
        for v in range(lo + 1, hi + 1):
            body = bodies.get(v)
            if body is None:
                if v in superseded or v in tombs:
                    continue  # provably never published
                if self._fail_on_loss:
                    raise ValueError(
                        f"snapshot stream source: version {v} in the "
                        f"planned window ({lo}, {hi}] has no manifest "
                        "and is not a known staged orphan — retention "
                        "likely outran this stream's cursor; its rows "
                        "are lost to the stream. Set "
                        "failOnDataLoss=false to skip the hole, or "
                        "register the stream's cursor in the catalog "
                        "(set_stream_cursor) so expire_table pins it."
                    )
                continue
            if v in superseded:
                continue
            mode = body.get("mode", "append")
            emit_data = emit_deletes = emit_changes = False
            if not body.get("data_change", True) or mode in _ZERO_ROW_MODES:
                continue  # row-identical (or row-subset) history
            if mode == "append":
                emit_data = True
            elif mode == "delete-mor":
                if self._change_feed:
                    # delete_where_mor(change_feed=True) records FULL
                    # pre-images as change files — emit those; emitting
                    # the key files too would double-count every row
                    if body.get("cdf"):
                        emit_changes = True
                    else:
                        emit_deletes = True
                elif not (self._ignore_deletes or self._skip_change):
                    raise ValueError(
                        f"snapshot stream source: version {v} has mode "
                        "'delete-mor' (merge-on-read delete); set "
                        "ignoreDeletes=true to skip it, or "
                        "readChangeFeed=true to receive the deleted keys "
                        "as _change_type='delete' rows"
                    )
            elif self._change_feed and body.get("cdf"):
                # a COW rewrite that recorded CDF change files (today:
                # delete_where(change_feed=True)): the feed emits the
                # removed rows' pre-images; the rewritten survivor files
                # hold no NEW rows and are skipped
                emit_changes = True
            elif self._skip_change:
                continue  # Delta skipChangeCommits: drop the rewrite
            else:
                raise ValueError(
                    f"snapshot stream source: version {v} has mode "
                    f"{mode!r}; data-changing rewrites are not streamable "
                    "(set skipChangeCommits=true to skip them, or start a "
                    "fresh stream from a new startingVersion)"
                )
            if not (emit_data or emit_deletes or emit_changes):
                continue
            ts = body.get("ts")
            # the per-version ref diff inherits this stream's data-loss
            # stance: under failOnDataLoss=true a BOUNDARY retention hole
            # (expired parent just below the window) raises here rather
            # than silently re-delivering the hole's rows via a wider
            # ancestor diff (r14 advice); =false opts into the fallback
            for e in t._delta_entries(v, allow_holes=not self._fail_on_loss):
                kind = e.get("kind")
                if kind == "delete" and emit_deletes:
                    ctype = "delete"
                elif kind == "change" and emit_changes:
                    ctype = e.get("change", "delete")
                elif kind is None and emit_data:
                    ctype = "insert"
                else:
                    continue
                out.append(
                    planned((e["path"], ctype, v, ts), e["path"], e.get("bytes"))
                )
            if emit_changes:
                # replace_where(change_feed=True): whole-file pre-images
                # referenced by path (the dropped files — zero write
                # amplification for the delete half) and the version's
                # new data files as the insert half; the body records
                # paths only, so these are sized by a stat
                for p in body.get("cdf_pre", []):
                    out.append(planned((p, "delete", v, ts), p))
                for p in body.get("cdf_ins", []):
                    out.append(planned((p, "insert", v, ts), p))
        return out

    # -- execution --------------------------------------------------------

    def read(self, partition: InputPartition) -> Iterator:
        """Arrow-batch read of each delta file of one split, in plan
        order, aligned to the pinned schema (:func:`aligned` — the
        streaming twin of the batch ``_reader`` schema pin). Under
        ``readChangeFeed`` the planner tagged each file with its change
        type and commit; the tags materialize as constant columns."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self._schema)
        for path, ctype, cver, cts in partition.value:
            change = (ctype, cver, cts) if self._change_feed else None
            raw = pq.read_table(path)
            yield from aligned(raw, target, self._colmap, change).to_batches()


class SnapshotStreamDataSource(DataSource):
    """``spark.readStream.format("snapshotstream").option("path", base)``.

    Options: ``path`` (table base dir, required), ``startingVersion``
    (exclusive lower bound, default 0 = from the table's beginning),
    ``ignoreDeletes`` (skip merge-on-read delete commits, default
    false), ``skipChangeCommits`` (skip data-CHANGING rewrite commits —
    overwrite/COW delete/merge/replace — instead of failing; Delta's
    option of the same name), ``readChangeFeed`` (emit a row-level
    change feed: appends as ``_change_type='insert'``, MOR delete keys
    as ``_change_type='delete'`` — see the module docstring),
    ``maxVersionsPerTrigger`` (admission control: cap versions
    per micro-batch so a from-the-start backfill folds a long history in
    bounded batches under PROCESSING-TIME triggers; 0 = unbounded),
    ``maxBytesPerTrigger`` (the bytes-based cap — each version's delta
    scan volume comes from manifest summaries, maintenance versions
    cost 0, under ``readChangeFeed`` delete-key/change-file volume is
    charged too, and at least one version is always admitted; a
    version of unknown size is only ever admitted ALONE).
    ``failOnDataLoss`` (default true): a missing in-window manifest
    that is not a tombstoned staged orphan or superseded staging
    attempt raises instead of silently streaming nothing.
    ``catalogRoot`` + ``catalogTableName`` (+ optional
    ``catalogStreamId``): point the reader at the MultiTableCatalog
    where this stream registers its cursor, and the FIRST post-restart
    trigger is capped against that cursor instead of planning one
    table-sized catch-up batch (the engine hides the checkpointed
    offset from latestOffset; the registered cursor — atomic with
    consumption — stands in for it). availableNow still captures one
    end offset for the whole run (engine-side). ``data_change=false``
    maintenance commits (compaction, manifest rewrites) are always
    skipped — routine table maintenance never kills a subscriber."""

    @classmethod
    def name(cls) -> str:
        return "snapshotstream"

    #: Spark's file-split inputs; ``register`` binds the session's
    split_conf = SplitConf()

    def schema(self) -> StructType:
        # executed in an isolated Python worker: derived from the table
        # head's manifest schema directly (StructType is pure Python; no
        # SparkSession exists here)
        opts = {k.lower(): v for k, v in self.options.items()}
        t = SnapshotTable(opts["path"])
        head = t.latest_version()
        if head is None:
            raise ValueError(
                "snapshot stream source: table has no committed version "
                "(the schema is pinned from the head manifest at start)"
            )
        st = t._schema(head)
        if st is None:
            raise ValueError(
                "snapshot stream source: head manifest records no schema"
            )
        return source_schema(
            st, str(opts.get("readchangefeed", "false")).lower() == "true"
        )

    def streamReader(self, schema: StructType) -> SnapshotStreamReader:
        return SnapshotStreamReader(dict(self.options), schema, self.split_conf)


def register(spark: SparkSession) -> None:
    """Idempotent per-session registration, binding the session's split
    inputs (``splits.bind_session``)."""
    spark.dataSource.register(bind_session(SnapshotStreamDataSource, spark))


def read_stream(spark: SparkSession, base: str, **options: str) -> DataFrame:
    """Subscribe to the snapshot table at ``base`` — see
    :class:`SnapshotStreamDataSource` for the option surface.

    Admission-control caveat (r12 advice, engine-side): Spark's
    DataSource API hides the checkpointed offset from ``latestOffset``,
    so under ``maxVersionsPerTrigger``/``maxBytesPerTrigger`` alone the
    FIRST trigger after a checkpoint restart is uncapped. Since r14 the
    reader can clamp that trigger against the stream's cursor
    registered in a :class:`MultiTableCatalog` — pass ``catalogRoot``,
    ``catalogTableName`` and ``catalogStreamId`` and keep the cursor
    registered atomically with consumption (``publish(cursors=...)``).
    ``availableNow`` still captures one end offset for the whole run
    (engine-side); restart with a PROCESSING-TIME trigger when capped
    catch-up matters."""
    register(spark)
    r = spark.readStream.format("snapshotstream").option("path", base)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load()


# --- registered correctness query ---------------------------------------------


@query(
    "stream_from_snapshot",
    priority=150,
    oracle="""
    SELECT d.drain, o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders o
    JOIN (SELECT 1 AS drain, 0 AS m UNION ALL
          SELECT 1 AS drain, 1 AS m UNION ALL
          SELECT 2 AS drain, 2 AS m) d
      ON o.o_orderkey % 3 = d.m
    GROUP BY d.drain, o.o_orderstatus
    """,
)
def stream_from_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM **FROM** THE SNAPSHOT TABLE: two commits land, a first
    checkpointed drain consumes them (drain 1); a THIRD commit lands and a
    second drain over the SAME checkpoint consumes ONLY it (drain 2) —
    the per-(drain, status) aggregate pins that the source's version
    cursor resumed instead of re-reading history: any re-delivery doubles
    drain-1 counts, any loss empties drain 2, and both diverge from the
    oracle's modulo split. Each micro-batch passes through foreachBatch
    exactly-once into a result table keyed by the batch ledger (the sink
    idempotence this repo's streaming family standardizes on)."""
    import shutil

    base = scratch(sf_tag(sf_dir), "stream_from_snapshot_tbl")
    out_dir = scratch(sf_tag(sf_dir), "stream_from_snapshot_out")
    ckpt = scratch(sf_tag(sf_dir), "stream_from_snapshot_ckpt")
    for d in (base, out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    t = SnapshotTable(base)
    out = SnapshotTable(out_dir)
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t.commit(orders.filter(F.col("o_orderkey") % 3 == 0))
    t.commit(orders.filter(F.col("o_orderkey") % 3 == 1))

    drain = {"n": 1}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out.commit_stream_batch(
            batch_df.withColumn("drain", F.lit(drain["n"])),
            "from_snapshot",
            batch_id,
        )

    # ONE load serves both drains (guide §4 — the Python boundary):
    # every read_stream().load() spawns a schema-inference Python
    # worker (~0.3 s measured, plans/r18/prof_stream_floor.txt); the
    # streaming DataFrame is a lazy plan whose offsets resolve at each
    # start() from the CHECKPOINT, so drain 2 still proves cursor
    # resume — the probe lives in the checkpoint dir, not df identity.
    sdf = read_stream(spark, base)

    def run_drain() -> None:
        (
            sdf.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run_drain()                                              # versions 1-2
    t.commit(orders.filter(F.col("o_orderkey") % 3 == 2))    # version 3
    drain["n"] = 2
    run_drain()                                              # only version 3

    return (
        out.read(spark)
        .groupBy("drain", "o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(_cents("o_totalprice")).cast("bigint").alias("sum_cents"),
        )
    )


# --- bronze -> silver: streamed rollup maintenance (r12 capstone) --------------


@query(
    "stream_snapshot_rollup",
    priority=150,
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def stream_snapshot_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRONZE → SILVER, END TO END (the medallion loop every lakehouse
    runs, composed from this repo's own pieces): a bronze SnapshotTable
    receives raw appends; a checkpointed stream SUBSCRIBES to it through
    the snapshotstream source; each micro-batch folds its delta into a
    per-priority revenue rollup kept in a silver SnapshotTable; and the
    refreshed rollup + the stream cursor flip visible in ONE
    MultiTableCatalog transaction per batch — so silver readers can
    never pair a rollup with the wrong amount of bronze. The stream is
    drained, bronze receives MORE data, and a second drain over the SAME
    checkpoint folds only the delta; a batch REDELIVERED out-of-band is
    skipped by the catalog ledger. Every failure mode is value-visible:
    a re-read doubles counts, a lost delta loses a batch's orders, a
    replayed merge double-folds — the oracle is the full recompute, and
    partial ⊕ partial ≡ full only if exactly-once held throughout.

    Scale: each refresh reads one micro-batch + the group-cardinality-
    sized rollup; bronze planning is the ref-diff O(delta) path; the
    rollup overwrite is group-sized. At 100 TB this loop is the
    difference between 'the dashboard re-aggregates the lake' and 'the
    dashboard reads a table maintained at ingest cost'."""
    import shutil

    from serverless_mapreduce_spark.sources.snapshots import MultiTableCatalog

    root = scratch(sf_tag(sf_dir), "stream_rollup")
    shutil.rmtree(root, ignore_errors=True)
    bronze = SnapshotTable(f"{root}/bronze")
    silver = SnapshotTable(f"{root}/silver")
    cat = MultiTableCatalog(root)
    sid = "rollup"
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    bronze.commit(orders.filter(F.col("o_orderkey") % 3 == 0))
    bronze.commit(orders.filter(F.col("o_orderkey") % 3 == 1))
    consumed = {"v": 0}  # end offset captured when each drain starts

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(_cents("o_totalprice")).cast("bigint").alias("sum_cents"),
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if cat.batch_committed(sid, batch_id):
            return  # redelivery: the ledger is atomic with visibility
        wvis = cat.visible("silver")
        merged = partial(batch_df)
        if wvis is not None:
            merged = (
                silver.read(spark, wvis)
                .unionAll(merged)
                .groupBy("o_orderpriority")
                .agg(
                    F.sum("n_orders").cast("bigint").alias("n_orders"),
                    F.sum("sum_cents").cast("bigint").alias("sum_cents"),
                )
            )
        w = silver.commit(merged, mode="overwrite")
        # rollup visibility, batch ledger, AND the bronze cursor flip in
        # one txn: expire_table(bronze) can then never vacuum this
        # checkpoint's restart point (the r13 retention contract)
        cat.publish(
            {"silver": w},
            sid,
            batch_id,
            cursors={"bronze": {sid: consumed["v"]}},
        )

    # one load for both drains (see stream_from_snapshot: offsets
    # resolve at start() from the checkpoint, the resume probe holds)
    sdf = read_stream(spark, bronze.base)

    def drain() -> None:
        consumed["v"] = bronze.latest_version() or 0
        (
            sdf.writeStream.foreachBatch(fold)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()                                                  # versions 1-2
    # out-of-band redelivery of batch 0 must be a no-op (catalog ledger)
    fold(bronze.read(spark, 1), 0)
    bronze.commit(orders.filter(F.col("o_orderkey") % 3 == 2))  # delta
    drain()                                                  # folds only it
    return silver.read(spark, cat.visible("silver"))


# --- streaming change feed (r13: Delta CDF's streaming half) -------------------


@query(
    "stream_change_feed",
    priority=150,
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders
    WHERE NOT (o_orderkey % 2 = 0 AND o_orderkey % 3 IN (0, 1))
      AND NOT (o_orderkey % 7 = 0 AND o_orderkey % 3 IN (0, 1))
    GROUP BY o_orderstatus
    """,
)
def stream_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHANGE FEED (r12 verdict item 2 — Delta CDF's streaming
    half, composing with the batch ``snapshot_changes_between``): a table
    receives appends AND merge-on-read purges; a ``readChangeFeed``
    subscriber receives appends as ``_change_type='insert'`` rows and
    each purge's delete-KEY file as ``_change_type='delete'`` rows, so a
    downstream incremental consumer can MAINTAIN derived state through
    purges instead of refusing. The run is adversarial end to end:

    - two checkpointed drains with commits and BOTH delete shapes
      between them — a merge-on-read key purge (delete-KEY rows) and a
      copy-on-write ``delete_where(change_feed=True)`` predicate purge
      (full pre-image change files; the rewritten survivors must NOT
      re-stream) — so the cursor must resume and every delete flavor
      must fold;
    - a ``compact_small_files`` between the drains (r12 verdict item 1:
      the data_change=false maintenance commit must stream NOTHING —
      before r13 it permanently killed the stream);
    - the feed lands exactly-once in a result table via the batch
      ledger.

    The returned aggregate folds the feed (inserts anti-join deleted
    keys) — it equals the oracle's full recompute ONLY if every insert
    arrived exactly once, every delete key arrived, and the compaction
    contributed zero rows. Scale: planning is the per-version ref diff
    (O(delta)); the fold is one anti-join + one keyed aggregate."""
    import shutil

    base = scratch(sf_tag(sf_dir), "stream_cdf_tbl")
    out_dir = scratch(sf_tag(sf_dir), "stream_cdf_out")
    ckpt = scratch(sf_tag(sf_dir), "stream_cdf_ckpt")
    for d in (base, out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    t = SnapshotTable(base)
    out = SnapshotTable(out_dir)
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    t.commit(orders.filter(k % 3 == 0))
    t.delete_keys_mor(
        spark,
        orders.filter((k % 3 == 0) & (k % 2 == 0)).select("o_orderkey"),
        ("o_orderkey",),
    )
    t.commit(orders.filter(k % 3 == 1))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out.commit_stream_batch(batch_df, "cdf", batch_id)

    # one load for both drains (see stream_from_snapshot: offsets
    # resolve at start() from the checkpoint, the resume probe holds)
    sdf = read_stream(spark, base, readChangeFeed="true")

    def drain() -> None:
        (
            sdf.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()  # versions 1-3: inserts %3==0 and %3==1, deletes (even, %3==0)
    # routine maintenance mid-stream: materializes the deletes away,
    # streams nothing (pre-r13 this killed every subscriber)
    t.compact_small_files(spark, small_bytes=1 << 30)
    # COW predicate purge WITH change files: the feed receives the
    # removed rows' full pre-images as _change_type='delete' (the other
    # delete shape beside the MOR key files)
    t.delete_where(spark, "o_orderkey % 7 = 0", change_feed=True)
    t.delete_keys_mor(
        spark,
        orders.filter((k % 3 == 1) & (k % 2 == 0)).select("o_orderkey"),
        ("o_orderkey",),
    )
    t.commit(orders.filter(k % 3 == 2))
    drain()  # only the post-compaction purge + append

    feed = out.read(spark)
    inserts = feed.filter(F.col(CHANGE_TYPE_COL) == "insert")
    deleted = feed.filter(F.col(CHANGE_TYPE_COL) == "delete").select(
        "o_orderkey"
    )
    return (
        inserts.join(deleted, "o_orderkey", "left_anti")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(_cents("o_totalprice")).cast("bigint").alias("sum_cents"),
        )
    )


# --- streaming change feed over a partition overwrite (r14) --------------------


@query(
    "stream_replace_change_feed",
    priority=0,
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             + CASE WHEN o_orderstatus = 'O' THEN 3 ELSE 0 END AS cents
      FROM orders
      WHERE o_orderstatus <> 'O' OR o_orderkey % 5 <> 0
    )
    GROUP BY o_orderstatus
    """,
)
def stream_replace_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE CHANGE FEED SURVIVES A PARTITION OVERWRITE (r13 verdict item
    1's done-gate): a partitioned table is fully consumed by a
    ``readChangeFeed`` subscriber; a ``replace_where(change_feed=True)``
    backfill then rewrites one partition (every 'O' order re-priced +3
    cents, the %5==0 keys dropped); a second drain over the SAME
    checkpoint receives the overwrite as delete pre-images + insert
    rows — served from the dropped and new data files BY REFERENCE,
    zero change-file write amplification — and a last-writer-wins fold
    reconstructs the final table state. Pre-r14 this exact history
    either killed the stream (default) or silently under-delivered
    (``skipChangeCommits``). The fold is value-visible everywhere: a
    missed pre-image leaves the stale row double-counted, a missed
    insert loses the re-priced partition, a re-delivered batch doubles
    it, and each diverges from the oracle's recompute.

    Scale: planning stays manifest-only O(delta); the feed scans the
    replaced partition's volume, never the table; the fold is one
    max-version join + keyed aggregate over the feed."""
    import shutil

    base = scratch(sf_tag(sf_dir), "stream_repl_cdf_tbl")
    out_dir = scratch(sf_tag(sf_dir), "stream_repl_cdf_out")
    ckpt = scratch(sf_tag(sf_dir), "stream_repl_cdf_ckpt")
    for d in (base, out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    t = SnapshotTable(base)
    out = SnapshotTable(out_dir)
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        _cents("o_totalprice").alias("cents"),
    )
    t.commit(orders, partition_by=("o_orderstatus",))

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out.commit_stream_batch(batch_df, "repl_cdf", batch_id)

    # one load for both drains (see stream_from_snapshot: offsets
    # resolve at start() from the checkpoint, the resume probe holds)
    sdf = read_stream(spark, base, readChangeFeed="true")

    def drain() -> None:
        (
            sdf.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()  # v1: every order as insert
    t.replace_where(
        spark,
        {"o_orderstatus": "O"},
        orders.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 5 != 0)
        ).withColumn("cents", F.col("cents") + 3),
        change_feed=True,
    )
    drain()  # only the overwrite: pre-image deletes + re-priced inserts

    # last-writer-wins fold: per key, the highest _commit_version decides;
    # within it an insert wins (a key deleted AND re-inserted by the same
    # overwrite is live with the new value)
    feed = out.read(spark)
    last = feed.groupBy("o_orderkey").agg(
        F.max(COMMIT_VERSION_COL).alias("_mv")
    )
    live = (
        feed.join(last, "o_orderkey")
        .filter(F.col(COMMIT_VERSION_COL) == F.col("_mv"))
        .filter(F.col(CHANGE_TYPE_COL) == "insert")
    )
    return live.groupBy("o_orderstatus").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


# --- CDF-maintained rollup: deletes DECREMENT instead of killing (r13) ---------


@query(
    "stream_cdf_rollup_maintenance",
    priority=150,
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                         AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders
    WHERE o_orderkey % 10 <> 0
    GROUP BY o_orderpriority
    """,
)
def stream_cdf_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A DERIVED TABLE MAINTAINED THROUGH PURGES — the loop the change
    feed exists for (r12 verdict item 2's motivation): the silver rollup
    in ``stream_snapshot_rollup`` can only FOLD APPENDS; a GDPR purge on
    bronze previously forced its maintainer to refuse (or silently go
    stale). Here the subscriber reads the CHANGE FEED: inserts increment
    the per-priority (count, revenue) rollup and delete PRE-IMAGES
    decrement it — possible precisely because
    ``delete_where(change_feed=True)`` records the removed rows' full
    pre-images (a key-only delete could not reverse a SUM). Each
    micro-batch folds insert-partials minus delete-partials into the
    silver SnapshotTable, visibility + ledger flipped per batch in one
    catalog txn; redelivery is a no-op. The oracle is the full
    recompute of bronze-after-purge: a lost delete leaves the rollup
    too high, a double-applied one too low, a re-read doubles inserts —
    partial ⊕ signed-partial ≡ full only under exactly-once both ways.

    Scale: the fold reads one micro-batch + the group-cardinality-sized
    rollup; the purge itself is the stats-prunable COW delete; nothing
    re-aggregates the lake."""
    import shutil

    from serverless_mapreduce_spark.sources.snapshots import MultiTableCatalog

    root = scratch(sf_tag(sf_dir), "stream_cdf_rollup")
    shutil.rmtree(root, ignore_errors=True)
    bronze = SnapshotTable(f"{root}/bronze")
    silver = SnapshotTable(f"{root}/silver")
    cat = MultiTableCatalog(root)
    sid = "cdf_rollup"
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    k = F.col("o_orderkey")
    bronze.commit(orders.filter(k % 2 == 0))

    def signed_partial(df: DataFrame, sign: int) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            (F.count("*") * sign).cast("bigint").alias("n_orders"),
            (F.sum(_cents("o_totalprice")) * sign)
            .cast("bigint")
            .alias("sum_cents"),
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if cat.batch_committed(sid, batch_id):
            return
        ct = F.col(CHANGE_TYPE_COL)
        merged = signed_partial(batch_df.filter(ct == "insert"), 1).unionAll(
            signed_partial(batch_df.filter(ct == "delete"), -1)
        )
        vis = cat.visible("cdf_silver")
        if vis is not None:
            merged = merged.unionAll(silver.read(spark, vis))
        rolled = merged.groupBy("o_orderpriority").agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        )
        w = silver.commit(rolled, mode="overwrite")
        cat.publish({"cdf_silver": w}, sid, batch_id)

    # one load for both drains (see stream_from_snapshot: offsets
    # resolve at start() from the checkpoint, the resume probe holds)
    sdf = read_stream(spark, bronze.base, readChangeFeed="true")

    def drain() -> None:
        (
            sdf.writeStream.foreachBatch(fold)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()  # evens folded in
    # the purge: evens divisible by 5 leave bronze WITH pre-images
    bronze.delete_where(spark, "o_orderkey % 5 = 0", change_feed=True)
    bronze.commit(orders.filter(k % 2 == 1))
    drain()  # one feed: delete pre-images decrement, odd inserts increment
    # out-of-band redelivery of batch 0 must be a no-op
    fold(
        bronze.read(spark, 1).withColumn(CHANGE_TYPE_COL, F.lit("insert")), 0
    )
    return silver.read(spark, cat.visible("cdf_silver"))


# --- CDC replication: the feed rebuilds the table elsewhere (r13) --------------


@query(
    "stream_cdc_replication",
    priority=0,
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             + CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 2 = 0
                    THEN 7 ELSE 0 END AS cents,
             o_orderkey % 3 AS m3
      FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN m3 = 2 THEN cents + 1 ELSE cents END AS cents
    FROM src
    WHERE (m3 = 0 AND o_orderkey % 9 <> 0)
       OR (m3 = 1 AND o_orderkey % 7 = 0 AND o_orderkey % 9 <> 0)
       OR (m3 = 2 AND o_orderkey % 11 <> 0)
    """,
)
def stream_cdc_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC REPLICATION — the canonical change-feed consumer (Delta CDF's
    headline use case): a REPLICA table is maintained purely from the
    source's change feed, never reading the source itself. Each
    micro-batch is applied in ``_commit_version`` order — the metadata
    column the feed carries for exactly this — with inserts and
    update post-images upserted and delete pre-images removed. Ordering
    is load-bearing and adversarially probed TWICE: one key is UPDATED
    in one version and DELETED in the next, and both changes arrive in
    the SAME micro-batch (an unordered fold would resurrect the deleted
    row); and a partition OVERWRITE deletes and re-inserts the same
    keys within ONE version (a fold applying that version's upserts
    before its deletes would erase the re-inserted rows — deletes apply
    only to keys the same version does not re-insert). The source
    history drives every mutation shape: append, CDF merge (pre/post
    images + inserts), CDF predicate delete, a second append, and a
    ``replace_where(change_feed=True)`` partition backfill (r13 verdict
    item 1: re-price the m3=2 partition +1 cent, drop its %11 keys) —
    all consumed by a second drain over the same checkpoint; the batch
    ledger makes redelivery a no-op. The returned replica state equals
    the oracle's recompute of the source's final state — row-for-row,
    key and amount — only if every change applied exactly once, in
    order.

    Scale: the replica applies O(changed rows) per batch via the keyed
    copy-on-write paths (stats/key-located partial rewrites); the
    driver-side loop is over the HANDFUL of source versions inside one
    micro-batch, never rows. This is the cross-region/lakehouse-mirror
    shape: the mirror costs change-volume, not table-volume."""
    import shutil

    from serverless_mapreduce_spark.sources.snapshots import MultiTableCatalog

    root = scratch(sf_tag(sf_dir), "stream_cdc_repl")
    shutil.rmtree(root, ignore_errors=True)
    src = SnapshotTable(f"{root}/src")
    replica = SnapshotTable(f"{root}/replica")
    cat = MultiTableCatalog(root)
    sid = "cdc_repl"
    k = F.col("o_orderkey")
    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        _cents("o_totalprice").alias("cents"),
        (F.col("o_orderkey") % 3).alias("m3"),
    )
    src.commit(base.filter(k % 3 == 0), partition_by=("m3",))

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if cat.batch_committed(sid, batch_id):
            return
        # ONE pass over the feed decides what exists per source version
        # (no per-version limit/count probes re-scanning the batch —
        # r13 second review); the batch is persisted because each
        # version's apply step re-reads it
        batch_df.persist()
        try:
            ct = F.col(CHANGE_TYPE_COL)
            present = (
                batch_df.groupBy(COMMIT_VERSION_COL, CHANGE_TYPE_COL)
                .count()
                .collect()
            )
            has_ups = {
                r[0]
                for r in present
                if r[1] in ("insert", "update_postimage")
            }
            has_dels = {r[0] for r in present if r[1] == "delete"}
            for ver in sorted(has_ups | has_dels):
                ev = batch_df.filter(F.col(COMMIT_VERSION_COL) == ver)
                ups = (
                    ev.filter(ct.isin("insert", "update_postimage")).select(
                        "o_orderkey", "cents"
                    )
                    if ver in has_ups
                    else None
                )
                if ver in has_dels:
                    # within ONE version, deletes apply only to keys the
                    # version does not re-insert: an overwrite's
                    # pre-image delete + re-insert of the same key must
                    # net to the new row, not a missing one
                    dk = ev.filter(ct == "delete").select("o_orderkey")
                    if ups is not None:
                        dk = dk.join(
                            ups.select("o_orderkey"), "o_orderkey",
                            "left_anti",
                        )
                    if replica.latest_version() is not None:
                        replica.delete_keys(spark, dk, ("o_orderkey",))
                if ups is not None:
                    if replica.latest_version() is None:
                        replica.commit(ups)
                    else:
                        replica.merge_upsert(spark, ups, ("o_orderkey",))
            cat.publish({}, sid, batch_id)
        finally:
            batch_df.unpersist()

    # one load for both drains (see stream_from_snapshot: offsets
    # resolve at start() from the checkpoint, the resume probe holds)
    sdf = read_stream(spark, src.base, readChangeFeed="true")

    def drain() -> None:
        (
            sdf.writeStream.foreachBatch(fold)
            .outputMode("append")
            .option("checkpointLocation", f"{root}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()  # v1 replicated
    # v2: merge — update every even %3==0 key (+7 cents), insert %3==1∧%7==0
    updates = base.filter((k % 3 == 0) & (k % 2 == 0)).select(
        "o_orderkey", (F.col("cents") + 7).alias("cents"), "m3"
    ).unionAll(base.filter((k % 3 == 1) & (k % 7 == 0)))
    src.merge_upsert(
        spark,
        updates,
        ("o_orderkey",),
        change_feed=True,
        partition_by=("m3",),
    )
    # v3: predicate purge — catches keys v2 JUST updated (order matters).
    # DELETION-VECTOR shape (r17): the purge commits a delete-key file +
    # full CDF pre-images WITHOUT rewriting a single data file; the feed
    # receives the same _change_type='delete' pre-image rows a COW purge
    # would emit (the COW flavor stays covered by stream_change_feed).
    # %9 keys are all %3==0, so the read scope is the m3=0 partition.
    src.delete_where_mor(
        spark,
        "o_orderkey % 9 = 0",
        ("o_orderkey",),
        partition_eq={"m3": "0"},
        change_feed=True,
    )
    # v4: plain append
    src.commit(base.filter(k % 3 == 2), partition_by=("m3",))
    # v5: partition backfill — re-price m3=2 (+1 cent), drop its %11 keys;
    # the overwrite deletes AND re-inserts the same keys in ONE version
    src.replace_where(
        spark,
        {"m3": "2"},
        base.filter((k % 3 == 2) & (k % 11 != 0)).withColumn(
            "cents", F.col("cents") + 1
        ),
        change_feed=True,
    )
    drain()  # v2..v5 arrive in ONE batch: per-version order is the test
    # out-of-band redelivery: ledger makes it a no-op
    fold(
        src.read(spark, 1)
        .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
        .withColumn(COMMIT_VERSION_COL, F.lit(1).cast("bigint")),
        0,
    )
    return replica.read(spark).select("o_orderkey", "cents")
