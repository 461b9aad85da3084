"""Streaming analogs of W2 (groupBy-sum) and W9 (word count), plus session
windows (SURVEY §7.2 step 7).

Design: the fixtures are static parquet, so each query builds a *bounded*
stream over them (``readStream`` file source with an explicit schema — the
same source you'd point at an S3 drop directory in production), applies the
windowed/stateful transformation, and drains it with
``trigger(availableNow=True)`` into an in-memory sink. The returned
DataFrame is the sink table — batch-queryable, so the driver's DuckDB
oracle can verify values exactly.

Watermarks are declared on every event-time aggregation: in ``complete``
output mode they don't drop output rows (state is kept — what makes the
bounded-run result deterministic and oracle-checkable), but they are the
real knob that bounds state at 100 TB/day: switch the sink to ``append``
and late data beyond the delay is dropped and windows finalize
incrementally. The pytest suite exercises that append/watermark path;
the registered queries keep complete mode for exact oracle parity.

Reference citation for parity bookkeeping: the closest thing the reference
has to incremental processing is its stage-by-stage Lambda pipelining
(``coordinator/coordinator.py:58-110``) — batch-only; this module is pure
extension scope.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from serverless_mapreduce_spark.registry import query
from serverless_mapreduce_spark.session import utc_session

#: ``{ts}`` is filled per-fixture: the driver's generator has shipped events
#: with two physical ts encodings across rounds (TIMESTAMP(NANOS) → read as
#: BIGINT under nanosAsLong; TIMESTAMP(MICROS, not-UTC-adjusted) → read as
#: TIMESTAMP_NTZ), and a streaming source binds its schema up front — so the
#: DDL must match whichever encoding is on disk (see events_stream).
EVENTS_DDL = (
    "event_id BIGINT, ts {ts}, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
DOCUMENTS_DDL = "doc_id BIGINT, source STRING, lang STRING, text STRING"

WATERMARK = "1 hour"


def _stream_dir(sf_dir: str, name: str) -> str:
    """The file streaming source only accepts *directories* (it monitors
    them for new files — in production this is the S3/HDFS drop prefix).
    The fixtures are single read-only files in a shared dir, so expose each
    table as its own directory of symlinks under .scratch."""
    sf = os.path.basename(sf_dir.rstrip("/"))
    d = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch",
        "streamsrc",
        sf,
        name,
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{name}.parquet")
    target = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
    # lexists, not exists: a broken symlink must be replaced, not raced into
    # FileExistsError; and two sf_dirs sharing a basename must not serve each
    # other's data — re-point whenever the target differs.
    if os.path.lexists(link):
        if os.path.islink(link) and os.readlink(link) == target:
            return d
        os.remove(link)
    os.symlink(target, link)
    return d


def stateful_session(spark: SparkSession) -> SparkSession:
    """Clone the session (own conf, shared context) with shuffle partitions
    sized for stateful streaming: every stateful operator commits its state
    store(s) once per shuffle partition per micro-batch, and the count is
    pinned into the checkpoint at first run — so corpus-width defaults turn
    small drains into pure state-commit overhead (measured 13.7 s → ~3 s on
    the stream-stream join at sf0.1). Cloning leaves the caller's session
    untouched; at production volume size this to
    events/sec × watermark ÷ target-state-per-partition. The clone also
    pins the session timezone to UTC: every event-time query casts the NTZ
    wall clock to the instant TIMESTAMP the watermark machinery requires,
    and under UTC that cast is the identity on wall values."""
    ss = spark.newSession()
    ss.conf.set(
        "spark.sql.shuffle.partitions",
        max(2, ss.sparkContext.defaultParallelism // 4),
    )
    ss.conf.set("spark.sql.session.timeZone", "UTC")
    return ss


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded stream over events.parquet with event-time ``ts``.

    The file source needs the schema up front (no inference on streams);
    the parquet stores ``ts`` as TIMESTAMP_NTZ (see catalog._to_ntz), but
    the watermark machinery only accepts instant TIMESTAMP
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE otherwise), so the session TZ is
    pinned to UTC FIRST and then the NTZ wall clock is cast — under UTC
    the cast is the identity on wall values, making window starts and
    collected results invariant to the caller's environment (the DuckDB
    oracle reads naive timestamps; the hostile-TZ pytest covers this).
    Pinning happens on a CLONE when needed (utc_session) — never by
    mutating the caller's session conf mid-query.

    The declared schema BRANCHES on the file's actual ts encoding (read
    from the catalog's schema memo, the same dual-encoding contract as
    catalog._to_ntz): nanos fixtures stream ts as epoch-nanos BIGINT and
    convert; micros-NTZ fixtures stream TIMESTAMP_NTZ directly."""
    from serverless_mapreduce_spark.catalog import _to_ntz, table_schema

    spark = utc_session(spark)
    # table_schema sets nanosAsLong, required even to PROBE a nanos file
    raw = table_schema(spark, sf_dir, "events")["ts"].dataType.simpleString()
    ts_ddl = "BIGINT" if raw == "bigint" else "TIMESTAMP_NTZ"
    stream = spark.readStream.schema(
        StructType.fromDDL(EVENTS_DDL.format(ts=ts_ddl))
    ).parquet(_stream_dir(sf_dir, "events"))
    if raw == "bigint":
        stream = stream.withColumn("ts", _to_ntz(raw))
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.readStream.schema(StructType.fromDDL(DOCUMENTS_DDL)).parquet(
        _stream_dir(sf_dir, "documents")
    )


def run_stream_to_memory(
    sdf: DataFrame, *, mode: str = "complete", name: str | None = None
) -> DataFrame:
    """Drain a bounded streaming DataFrame into a memory sink and return the
    sink table. availableNow processes everything currently in the source
    then stops — the streaming equivalent of one batch run."""
    name = name or f"stream_sink_{uuid.uuid4().hex[:12]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


# --- W2 streaming analog: tumbling-window revenue sum -------------------------

@query(
    "stream_windowed_sum", priority=0,
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS win_start,
           event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_windowed_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2's groupBy-sum as a streaming tumbling-window aggregate: 1-hour
    event-time windows per event_type, 1-hour watermark. State is keyed by
    (window, event_type) — bounded by watermark in append mode; the shuffle
    is identical to the batch plan (hash on the group key, partial agg
    map-side)."""
    ev = events_stream(stateful_session(spark), sf_dir).withWatermark("ts", WATERMARK)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "sum_value",
            "n_events",
        )
    )
    return run_stream_to_memory(agg)


# --- sliding-window variant ---------------------------------------------------

@query(
    "stream_sliding_counts", priority=0,
    oracle="""
    WITH offsets AS (SELECT unnest([0, 1]) AS k)
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) - k * INTERVAL '1 hour' AS TIMESTAMP)
             AS win_start,
           event_type,
           COUNT(*) AS n_events
    FROM events, offsets
    GROUP BY 1, 2
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2-hour length, 1-hour slide): every event lands in
    exactly two windows — the oracle reproduces that with a 2-offset unnest.
    Same bounded-state story as the tumbling variant."""
    ev = events_stream(stateful_session(spark), sf_dir).withWatermark("ts", WATERMARK)
    agg = (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("window.start").alias("win_start"), "event_type", "n_events")
    )
    return run_stream_to_memory(agg)


# --- W9 streaming analog: word count ------------------------------------------

@query(
    "stream_word_count", priority=0,
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(text, '; |, |\\*|\\n| |:|\\.')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def stream_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 as a stream: tokenize → explode → running count per word (complete
    mode = the converged totals; the same query in update mode is a live
    leaderboard). No event time needed — state is one counter per word."""
    from serverless_mapreduce_spark.operators.text import WC_DELIM

    docs = documents_stream(stateful_session(spark), sf_dir)
    counts = (
        docs.select(F.explode(F.split("text", WC_DELIM)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    return run_stream_to_memory(counts)


# --- session windows (gap-based sessionization) -------------------------------

SESSION_GAP = "30 minutes"


@query(
    "session_window_agg", priority=0,
    oracle="""
    WITH o AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM events
    ), marked AS (
      SELECT user_id, ts, v,
             -- >= not >: Spark session windows are [ts, ts+gap) and merge
             -- only strictly-overlapping windows, so an event at exactly
             -- last_ts+gap opens a NEW session
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM o
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, v)
    ), sessions AS (
      SELECT user_id, ts, v,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, v
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's native ``session_window`` (gap
    30 min): a session's end is its last event + gap. The oracle derives the
    same sessions with the classic gaps-and-islands window construction.
    Runs here in batch (same operator works under a stream + watermark);
    state/shuffle is keyed by user_id — the natural partitioning at scale."""
    from serverless_mapreduce_spark.catalog import table

    spark = utc_session(spark)  # ts columns in output
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# --- custom stateful operator: applyInPandasWithState --------------------------

@query(
    "stream_stateful_user_stats", priority=0,
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A *custom* stateful streaming operator via applyInPandasWithState:
    per-user running (count, exact cents sum) kept in GroupState across
    micro-batches — the escape hatch for stateful logic that windowed
    aggregates can't express (custom eviction, ML feature state, CDC merge).
    State is keyed by user_id so it distributes like any keyed shuffle;
    update mode emits each group's latest stats per batch, and the bounded
    availableNow run converges to the batch aggregate (the oracle). The
    cents accumulator keeps the Python-side sum exact and order-independent."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_stats(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # Round each value to cents BEFORE summing: exact for 2-decimal
            # inputs regardless of group size, whereas rounding the float
            # sum of a whole batch once lets accumulated IEEE error flip a
            # cent on large groups.
            cents += int((pdf["value"] * 100).round().astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [cents / 100.0]}
        )

    ev = events_stream(stateful_session(spark), sf_dir)
    stats = ev.groupBy("user_id").applyInPandasWithState(
        update_stats,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, cents bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream_to_memory(stats, mode="update")


# --- stream-stream join: click→purchase attribution ---------------------------

ATTRIB_WINDOW = "10 minutes"


@query(
    "stream_stream_join", priority=0,
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
           date_diff('microsecond', CAST(c.ts AS TIMESTAMP),
                     CAST(p.ts AS TIMESTAMP)) AS lag_us
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
     AND CAST(c.ts AS TIMESTAMP)
         >= CAST(p.ts AS TIMESTAMP) - INTERVAL 10 MINUTE
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join — the Structured Streaming surface where
    BOTH sides carry watermark-bounded state: every click within 10 minutes
    before a same-user purchase (ad-attribution shape). Matches emit as soon
    as both rows have arrived (inner-join semantics need no watermark wait),
    so the bounded availableNow run yields exactly the batch join — the
    oracle.

    Scale shape: the join is keyed on user_id, so both state stores
    hash-partition by user like any keyed shuffle; the event-time range
    condition plus the two watermarks bound each store to ~10 minutes + 1
    hour of events per side — without them an inner stream-stream join
    buffers both streams forever. At 100 TB/day that watermark bound IS the
    operator's memory budget.

    State-partition sizing: a stream-stream join commits FOUR state stores
    per shuffle partition per micro-batch, so partition count is a real
    cost knob (measured 13.7 s at 32 partitions vs 4.4 s at 8 for the same
    sf0.1 drain) and is pinned into the checkpoint at first run. The query
    therefore plans on a cloned session (own conf, shared context) with
    partitions sized for the fixture throughput instead of mutating the
    caller's session — at production volume you'd size it to
    events/sec × watermark ÷ target-state-per-partition."""
    spark = stateful_session(spark)
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW}")),
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.timestamp_diff("MICROSECOND", F.col("c_ts"), F.col("p_ts")).alias(
            "lag_us"
        ),
    )
    return run_stream_to_memory(joined, mode="append")


# --- streaming exactly-once dedup ---------------------------------------------

@query(
    "stream_dedup_events",
    priority=50,
    oracle="""
    SELECT event_type, COUNT(*) AS n_unique
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DEDUP: at-least-once sources (Kinesis/Kafka redeliveries,
    S3 double drops) need exactly-once semantics restored in the pipeline.
    Each event is deliberately DUPLICATED (explode x2) before
    ``dropDuplicatesWithinWatermark`` on event_id collapses replicas —
    state holds one key per event_id seen within the watermark horizon,
    then EXPIRES (the unbounded-state trap of plain dropDuplicates on
    streams is exactly what the WithinWatermark variant fixes). State is
    keyed by event_id: uniformly distributed, skew-free. The per-type
    tally is computed BATCH-side on the drained sink (the streaming op
    under test is the dedup); the oracle is the batch count — correct
    because event_ids are unique in the fixture, so dedup must restore
    exactly the original cardinality."""
    ev = events_stream(stateful_session(spark), sf_dir).withWatermark(
        "ts", WATERMARK
    )
    doubled = ev.select(
        "event_id", "ts", "event_type", F.explode(F.array(F.lit(1), F.lit(2)))
    )
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"]).select(
        "event_id", "event_type"
    )
    sink = run_stream_to_memory(deduped, mode="append")
    return sink.groupBy("event_type").agg(F.count("*").alias("n_unique"))


# --- stream-static enrichment join --------------------------------------------

N_USER_TIERS = 4


@query(
    "stream_static_enrich",
    priority=50,
    oracle=f"""
    WITH tiers AS (
      SELECT DISTINCT user_id, user_id % {N_USER_TIERS} AS tier FROM events
    )
    SELECT t.tier,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e JOIN tiers t ON t.user_id = e.user_id
    GROUP BY t.tier
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC JOIN: enrich a live stream with a slowly-changing
    batch dimension — the single most common production streaming shape
    (clickstream x user profile, txn x account). The static side is a
    plain batch DataFrame (here a deterministic user→tier dim derived
    from the fixture so the oracle can rebuild it); Spark re-plans the
    join EVERY micro-batch, so dim updates between batches are picked up
    automatically, and a small dim broadcasts — the stream side never
    shuffles for the join and, unlike a stream-stream join, NO state
    store is involved. The running per-tier aggregate is ordinary keyed
    streaming state in complete mode."""
    ss = stateful_session(spark)
    from serverless_mapreduce_spark.catalog import table as _table

    tiers = (
        _table(ss, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.col("user_id") % N_USER_TIERS)
    )
    ev = events_stream(ss, sf_dir)
    joined = ev.join(F.broadcast(tiers), "user_id")
    agg = joined.groupBy("tier").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    return run_stream_to_memory(agg)


# --- stream-stream LEFT OUTER join: watermark-gated null emission --------------

@query(
    "stream_stream_left_join", priority=0,
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT c.click_id, c.user_id, p.purchase_id,
             date_diff('microsecond', c.c_ts, p.p_ts) AS lag_us
      FROM c JOIN p
        ON c.user_id = p.user_id
       AND c.c_ts <= p.p_ts
       AND c.c_ts >= p.p_ts - INTERVAL 10 MINUTE
    ),
    wm AS (
      SELECT LEAST((SELECT MAX(c_ts) FROM c), (SELECT MAX(p_ts) FROM p))
             - INTERVAL 1 HOUR AS w
    )
    SELECT click_id, user_id, purchase_id, lag_us FROM m
    UNION ALL
    SELECT c.click_id, c.user_id,
           CAST(NULL AS BIGINT) AS purchase_id, CAST(NULL AS BIGINT) AS lag_us
    FROM c, wm
    WHERE c.click_id NOT IN (SELECT click_id FROM m)
      AND c.c_ts + INTERVAL 10 MINUTE < wm.w
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the attribution join that also
    emits UNATTRIBUTED clicks. Outer results cannot stream eagerly: a
    click's null row is provable only once no future purchase can match,
    i.e. when the global watermark passes the end of its match window
    (c_ts + 10 min). Matched rows emit as they pair, exactly like the
    inner join; null rows emit late, gated by the watermark.

    The oracle encodes Spark's published emission rule precisely — the
    global watermark of a multi-watermark query is the MIN across inputs
    of (max event time seen − delay) [policy
    ``spark.sql.streaming.multipleWatermarkPolicy`` = min, the default],
    and an unmatched left row emits when ``c_ts + window < watermark`` —
    so the bounded availableNow drain is reproducible in batch SQL: the
    inner-join rows UNION the unmatched clicks old enough to have
    expired. Clicks younger than the final watermark stay IN STATE at
    shutdown (they would emit on resume; checkpoint-tested for the dedup
    op in tests/test_streaming_resume.py) — a batch left join would
    instead claim them unmatched NOW, which is exactly the
    late-data-correctness difference between the two.

    Scale shape: identical state layout to stream_stream_join (user-keyed
    stores on both sides, watermark + range condition bounding each);
    the outer variant additionally holds each unmatched left row until
    watermark passage — the 1 h 10 m horizon IS the extra memory bound,
    so delay tuning trades attribution completeness against state size at
    100 TB/day."""
    spark = stateful_session(spark)
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", WATERMARK)
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", WATERMARK)
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW}")),
        "left_outer",
    ).select(
        "click_id",
        F.col("c_user").alias("user_id"),
        "purchase_id",
        F.timestamp_diff("MICROSECOND", F.col("c_ts"), F.col("p_ts")).alias(
            "lag_us"
        ),
    )
    return run_stream_to_memory(joined, mode="append")


# --- chained stateful operators: gate -> dedup -> enrich -> windowed agg -------

INGEST_TYPES = ("click", "purchase")


@query(
    "stream_training_ingest",
    oracle=f"""
    WITH gated AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_id, value
      FROM events
      WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS cut FROM gated)
    SELECT CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP) AS win_start,
           user_id % {N_USER_TIERS} AS tier,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM gated, wm
    WHERE CAST(time_bucket(INTERVAL '1 hour', ts) AS TIMESTAMP)
          + INTERVAL 1 HOUR <= cut
    GROUP BY 1, 2
    """,
)
def stream_training_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END STREAMING INGEST: quality gate → exactly-once restore
    (dropDuplicatesWithinWatermark) → broadcast dimension enrich →
    event-time windowed rollup, all CHAINED IN ONE streaming query — the
    multiple-stateful-operators pipeline Spark supports since 3.4/3.5
    that production ingest actually deploys (the standalone pieces are
    registered separately: stream_dedup_events, stream_static_enrich,
    stream_windowed_sum; the composition is the operator here, because one
    query = one checkpoint = one exactly-once boundary instead of three
    jobs glued by intermediate storage).

    Chaining rules the shape obeys: the watermark is declared ONCE before
    the first stateful operator and flows through; chained stateful ops
    require APPEND mode, so the rollup emits a window only after the
    global watermark passes its end — the oracle encodes that emission
    rule exactly (windows with end <= max(gated ts) - delay; the late
    tail stays in state at shutdown, same contract as
    stream_stream_left_join). The watermark column is read POST-gate, so
    the cutoff derives from gated events only. State layout: dedup state
    keys on event_id (uniform, expiring), the enrich join keeps NO state
    (broadcast stream-static), window state keys on (window, tier) —
    bounded by the watermark horizon. The gate itself is stateless and
    fuses into the source scan."""
    ss = stateful_session(spark)
    from serverless_mapreduce_spark.catalog import table as _table

    tiers = (
        _table(ss, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.col("user_id") % N_USER_TIERS)
    )
    ev = (
        events_stream(ss, sf_dir)
        .filter(
            F.col("event_type").isin(*INGEST_TYPES) & F.col("value").isNotNull()
        )
        .withWatermark("ts", WATERMARK)
    )
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    enriched = deduped.join(F.broadcast(tiers), "user_id")
    agg = enriched.groupBy(F.window("ts", "1 hour"), "tier").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )
    out = agg.select(
        F.col("window.start").alias("win_start"), "tier", "n_events", "sum_value"
    )
    return run_stream_to_memory(out, mode="append")


# --- streaming cardinality: windowed HLL distinct users -------------------------

STREAM_HLL_LGK = 12  # rsd ≈ 1.04 / 2^(lgk/2) ≈ 1.6%


@query(
    "stream_approx_distinct_users",
    priority=150,
    oracle="""
    -- same contract as approx_distinct_users: DuckDB's HLL is a different
    -- implementation, so the hashable fact is the exact count plus the
    -- promise that Spark's estimate landed within 5x the sketch's rsd of
    -- it — TRUE for every window, or the row hash fails.
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS TIMESTAMP) AS win_day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY 1
    """,
)
def stream_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CARDINALITY — daily distinct users estimated with an HLL
    SKETCH inside the stream: exact ``COUNT(DISTINCT)`` is not executable
    on a stream at all (state would be unbounded per key and Spark rejects
    it), so the sketch is not an optimization here, it is the only shape
    that exists at 100 TB/day — per-window HLL state is a few KB
    regardless of user count, merged across micro-batches. The drained
    estimates are then audited BATCH-side against the exact per-day
    distinct (the same plan the oracle runs) and each window emits its
    exact count plus the within-bound verdict, so the driver hash pins
    both the window assignment and the sketch's accuracy contract."""
    ss = stateful_session(spark)
    ev = events_stream(ss, sf_dir).withWatermark("ts", WATERMARK)
    est = (
        ev.groupBy(F.window("ts", "1 day"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(STREAM_HLL_LGK))
            ).alias("approx_users")
        )
        .select(F.col("window.start").alias("win_day"), "approx_users")
    )
    drained = run_stream_to_memory(est)

    from serverless_mapreduce_spark.catalog import table

    exact = (
        table(ss, sf_dir, "events")
        .select(F.date_trunc("DAY", F.col("ts")).cast("timestamp").alias("win_day"),
                "user_id")
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_users"))
    )
    err = 5 * 1.04 / (2 ** (STREAM_HLL_LGK / 2))
    return drained.join(exact, "win_day").select(
        "win_day",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(err) * F.col("exact_users")
        ).alias("within_bound"),
    )


# --- streaming EWMA: the batch recurrence's stateful twin --------------------

@query(
    "stream_ewma_user_value",
    priority=150,
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rn
      FROM events
    ),
    counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(rn) AS mx
      FROM seq GROUP BY user_id
    ),
    e AS (
      SELECT user_id, vc AS ewma_cents, rn FROM seq WHERE rn = 1
      UNION ALL
      SELECT s.user_id, (e.ewma_cents + s.vc) // 2 AS ewma_cents, s.rn
      FROM e JOIN seq s ON s.user_id = e.user_id AND s.rn = e.rn + 1
    )
    SELECT c.user_id, c.n_events, e.ewma_cents
    FROM e JOIN counts c ON e.user_id = c.user_id AND e.rn = c.mx
    """,
)
def stream_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING EWMA — the stateful-stream twin of the batch
    ``ewma_user_spend`` recurrence: per-user exponentially-weighted value
    (alpha = 1/2, integer cents, floor) carried in GroupState across
    micro-batches via ``applyInPandasWithState``. The ORDER CONTRACT is
    what makes a sequential recurrence well-defined on a stream: within
    each micro-batch the group's rows are sorted by event time (ts,
    event_id) before folding into state — the shuffle into the groupBy
    delivers them unordered — and batches themselves arrive in file/
    arrival order, which IS event order for an append-only event log (a
    late event would need the full reorder-buffer treatment; the
    watermarked windowed family handles that trade instead). State is
    two bigints per user — constant memory per key at any scale — and
    the bounded availableNow drain converges to the batch recurrence,
    which the oracle replays as a per-user recursive CTE (same
    truncating ``(e + x) // 2`` arithmetic — DuckDB ``//`` truncates
    toward zero, matched by _tdiv2 — same (ts, event_id) order, so
    every intermediate is an exact integer in both engines)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from serverless_mapreduce_spark.operators.analytics import _tdiv2

    def update_ewma(key, pdfs, state: GroupState):
        n, ewma = state.get if state.exists else (0, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["ts", "event_id"])
        for v in (batch["value"] * 100).round().astype("int64"):
            v = int(v)
            ewma = v if ewma is None else _tdiv2(ewma + v)
            n += 1
        state.update((n, ewma))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma_cents": [ewma],
            }
        )

    ev = events_stream(stateful_session(spark), sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        update_ewma,
        outputStructType="user_id bigint, n_events bigint, ewma_cents bigint",
        stateStructType="n bigint, ewma bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_stream_to_memory(out, mode="update")


# --- streaming -> external KV sink (the reference's output handler, live) -----

@query(
    "stream_kv_jdbc_sink",
    priority=150,
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_kv_jdbc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM → EXTERNAL KV STORE: drain the event stream into the
    genuine JDBC connector (embedded Derby — the DynamoDB-output-handler
    analog, sources/jdbc_kv.py) via ``foreachBatch``, then verify by
    aggregating a PARTITIONED READ-BACK from the store — the streaming
    mode of the reference's reducer→DynamoDB output path
    (output_handler_dynamodb.py:100-112), which the batch
    kv_jdbc_roundtrip already covers one-shot. Exactly-once for this
    bounded drain: batch 0 writes mode=overwrite (a re-run truncates and
    reloads — idempotent), later batches append; a production restart
    story pairs the batchId with a transactional sink exactly as
    foreachBatch documents. The oracle is the batch aggregate over the
    source — what the store must contain iff no row was lost or
    duplicated."""
    from serverless_mapreduce_spark.sources.jdbc_kv import (
        KV_COLUMNS,
        _jdbc_url,
        _props,
        read_events_kv,
    )
    from serverless_mapreduce_spark.paths import scratch

    jvm = spark.sparkContext._jvm  # type: ignore[attr-defined]
    jvm.System.setProperty("derby.system.home", scratch("jdbc"))
    url = _jdbc_url(sf_dir).replace("/kv_", "/kvstream_")

    # fresh checkpoint per run: batch 0's idempotent OVERWRITE then always
    # re-fires, so the store state is a pure function of the source — a
    # stale checkpoint from an earlier session would otherwise skip the
    # drain entirely and silently depend on the old table contents
    import shutil

    from serverless_mapreduce_spark.paths import sf_tag

    ckpt = os.path.join(scratch("jdbc"), f"ckpt_kvstream_{sf_tag(sf_dir)}")
    shutil.rmtree(ckpt, ignore_errors=True)

    ss = stateful_session(spark)
    ev = events_stream(ss, sf_dir).select(*KV_COLUMNS)

    def write_batch(batch_df, batch_id: int):
        (
            batch_df.coalesce(4)
            .write.mode("overwrite" if batch_id == 0 else "append")
            .options(**_props())
            .option("createTableColumnTypes", "event_type VARCHAR(64)")
            .jdbc(url, "events_kv")
        )

    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    back = read_events_kv(spark, url)
    return back.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_value"),
    )
