"""Correctness queries for the source/sink layer (E1 CSV scan, E4/E5 sinks).

Each query exercises a real round-trip through the write path or the typed
CSV reader and is oracle-checked against the *parquet* tables — proving the
persisted bytes decode to the same values (the reference's whole test
strategy is exactly this shape: run the job, read the output object back,
assert values — ``tests/end_to_end_tests.py:34-54``).

Scratch outputs live under ``<repo>/.scratch`` (gitignored), keyed by sf so
scale factors don't collide.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from serverless_mapreduce_spark.artifacts import artifact
from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.registry import query
from serverless_mapreduce_spark.session import utc_session
from serverless_mapreduce_spark.sources.csv_ddl import read_csv
from serverless_mapreduce_spark.sources.sinks import read_output, write_output

from serverless_mapreduce_spark.paths import scratch, sf_tag


def _scratch(sf_dir: str, name: str) -> str:
    return scratch(sf_tag(sf_dir), name)


_AGG_ORACLE = """
    SELECT substring(c_name, 1, 16) AS name_prefix,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    GROUP BY substring(c_name, 1, 16)
"""


def _agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .groupBy(F.substring("c_name", 1, 16).alias("name_prefix"))
        .agg(F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("sum_acctbal"))
    )


@query("sink_roundtrip", priority=0, oracle=_AGG_ORACLE)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 write path: aggregate → parquet out (4 files, the reference's
    one-object-per-reducer layout, ``output_handler_s3.py:41-53``) → read
    back. Oracle-matching the re-read result proves a lossless persist."""
    path = write_output(
        _agg(spark, sf_dir), _scratch(sf_dir, "sink_roundtrip"),
        fmt="parquet", num_partitions=4,
    )
    return read_output(spark, path, fmt="parquet")


@query("sink_roundtrip_json", priority=0, oracle=_AGG_ORACLE)
def sink_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 variant with the reference's actual output encoding (JSON bodies,
    ``output_handler_s3.py:53``). Read-back uses an explicit schema — JSON
    doubles round-trip exactly via shortest-repr printing."""
    path = write_output(
        _agg(spark, sf_dir), _scratch(sf_dir, "sink_roundtrip_json"),
        fmt="json", num_partitions=2,
    )
    schema = StructType.fromDDL("name_prefix STRING, sum_acctbal DOUBLE")
    return read_output(spark, path, fmt="json", schema=schema)


@query(
    "csv_scan", priority=0,
    oracle="""
    SELECT p_partkey, p_name, p_size
    FROM part
    WHERE p_size > 30
    """,
)
def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 CSV-with-DDL source: materialize ``part`` as headerless
    comma-delimited text (the reference's input layout, ``hive/Query1.q:6-8``),
    re-scan it with the DDL schema, and run the W1 filter. Matching W1's
    parquet oracle proves the typed CSV path is lossless. The filter still
    prunes: Spark pushes the predicate into the CSV scan and reads only the
    three projected columns."""
    src = table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_size")
    path = write_output(src, _scratch(sf_dir, "csv_scan"), fmt="csv", num_partitions=4)
    df = read_csv(spark, path, "p_partkey BIGINT, p_name STRING, p_size INT")
    return df.filter(F.col("p_size") > 30).select("p_partkey", "p_name", "p_size")


@query(
    "sink_partitioned_pruned",
    priority=0,
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_events
    FROM events
    WHERE event_type = 'click'
    GROUP BY user_id
    """,
)
def sink_partitioned_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5's hive-style partitioned write + the pruning it buys: events are
    persisted ``partitionBy(event_type)`` (the scalable replacement for the
    reference's per-key DynamoDB placement, output_handler_dynamodb.py:
    100-112), and the read-back filter on the partition column prunes to
    ONE directory — the scan never opens the other partitions' files
    (PartitionFilters in the plan; asserted by tests/test_sources.py). At
    100 TB this is the difference between scanning 1/5th and 5/5ths of the
    table."""
    ev = table(spark, sf_dir, "events")
    path = write_output(
        ev, _scratch(sf_dir, "sink_partitioned"),
        fmt="parquet", partition_by=["event_type"],
    )
    back = read_output(spark, path, fmt="parquet")
    return (
        back.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.count("*").alias("n_events"),
        )
    )


@query(
    "schema_evolution_read",
    priority=50,
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_legacy
    FROM (
      SELECT lang, CAST(NULL AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT lang, length(text) AS n_chars
      FROM documents WHERE doc_id % 2 = 1
    )
    GROUP BY lang
    """,
)
def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION: a long-lived corpus accretes columns — old files
    lack fields that new files carry. Write two generations of the
    documents table (gen-0 without ``n_chars``, gen-1 with it) into one
    dataset directory and read it back with ``mergeSchema``: Spark unions
    the footers into the widest schema and null-fills the missing column
    in old files — no rewrite of the historical data (at 100 TB rewriting
    history for every added column is the thing you cannot afford; this
    read-side merge is the standard alternative, with the merged schema
    pinned in a metastore once discovered). The aggregate distinguishes
    legacy rows (NULL n_chars) per lang, proving null-fill semantics
    rather than just schema shape."""
    docs = table(spark, sf_dir, "documents")
    base = _scratch(sf_dir, "schema_evo")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "gen=0"))
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.length("text").alias("n_chars")
    ).write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    back = spark.read.option("mergeSchema", "true").parquet(base)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("n_chars").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_legacy"),
    )


#: Compaction target: bytes per output file (tiny for the fixture; in
#: production ~128-512 MB, aligned with spark.sql.files.maxPartitionBytes).
COMPACT_TARGET_BYTES = 256 * 1024
FRAGMENT_FILES = 64


@query(
    "compact_small_files",
    priority=50,
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION: streaming ingests and per-reducer sinks leave
    thousands of tiny files per partition (the reference writes one S3
    object per reducer — output_handler_s3.py:41-53 — which at 100 TB/day
    is exactly this problem); every downstream scan then pays per-file
    open/footer costs and the NameNode/listing pays the metadata. This op
    is the maintenance job: write the table fragmented ({FRAGMENT_FILES}
    files), size the compacted layout from the FRAGMENTED DATA's actual
    on-disk bytes (sum of file sizes / target — the same arithmetic a
    Delta OPTIMIZE does), rewrite with repartition(n), and read the
    compacted copy back. The registered result aggregates the compacted
    copy against the original table's oracle — proving the rewrite is
    lossless, which is the invariant that matters; the file-count
    reduction itself is asserted in tests/test_sources.py."""
    import glob

    docs = table(spark, sf_dir, "documents")
    frag_dir = _scratch(sf_dir, "compact_frag")
    docs.repartition(FRAGMENT_FILES).write.mode("overwrite").parquet(frag_dir)
    frag_bytes = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(frag_dir, "*.parquet"))
    )
    n_out = max(1, min(FRAGMENT_FILES, round(frag_bytes / COMPACT_TARGET_BYTES)))
    compact_dir = _scratch(sf_dir, "compact_out")
    spark.read.parquet(frag_dir).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(compact_dir)
    back = spark.read.parquet(compact_dir)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


# --- corrupt-record quarantine channel ----------------------------------------

#: Every CORRUPT_EVERY-th customer row is replaced by a malformed line in
#: the generated CSV — deterministic, so the oracle knows exactly which
#: rows were sacrificed.
CORRUPT_EVERY = 50


@query(
    "csv_corrupt_records",
    priority=0,
    oracle=f"""
    SELECT c_mktsegment AS segment, COUNT(*) AS n_rows,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer WHERE c_custkey % {CORRUPT_EVERY} <> 0
    GROUP BY c_mktsegment
    UNION ALL
    SELECT '__corrupt__', COUNT(*), CAST(0.0 AS DOUBLE)
    FROM customer WHERE c_custkey % {CORRUPT_EVERY} = 0
    """,
)
def csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRUPT-RECORD QUARANTINE: ingest a CSV feed that contains malformed
    lines (1 in {CORRUPT_EVERY}, injected deterministically) in PERMISSIVE
    mode with ``columnNameOfCorruptRecord`` — good rows parse and
    aggregate, broken rows land intact in the quarantine column and are
    COUNTED, never silently dropped or job-fatal. This is the third point
    on the reference's error-handling spectrum: its mappers split lines
    blind (``word_count_map.py``, crash-or-garbage on bad input) and the
    repo's FAILFAST reader (csv_ddl.py) makes schema drift fatal;
    production 100 TB ingest needs this middle mode — keep the job alive,
    quarantine the bad bytes for replay, and make the corrupt count an
    OBSERVABLE output so an upstream format break pages someone instead of
    shrinking the table. The parsed frame is persisted before the
    good/corrupt split: Spark disallows filtering raw-scan corrupt columns
    alone (the parser would have to run twice, possibly disagreeing), and
    the persist also means one parse feeds both branches."""
    from serverless_mapreduce_spark.caching import persist_tracked

    cust = table(spark, sf_dir, "customer")
    csv_dir = _scratch(sf_dir, "corrupt_csv")
    (
        cust.select(
            F.when(
                F.col("c_custkey") % CORRUPT_EVERY == 0,
                F.concat(F.lit("!!malformed "), F.col("c_name")),
            )
            .otherwise(
                F.concat_ws(
                    ",",
                    F.col("c_custkey").cast("string"),
                    F.col("c_name"),
                    F.col("c_mktsegment"),
                    F.col("c_acctbal").cast("string"),
                )
            )
            .alias("value")
        )
        .repartition(4)
        .write.mode("overwrite")
        .text(csv_dir)
    )
    parsed = persist_tracked(
        spark.read.schema(
            "c_custkey BIGINT, c_name STRING, c_mktsegment STRING, "
            "c_acctbal DOUBLE, _corrupt STRING"
        )
        .options(mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt")
        .csv(csv_dir)
    )
    good = (
        parsed.filter(F.col("_corrupt").isNull())
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
    )
    bad = parsed.filter(F.col("_corrupt").isNotNull()).agg(
        F.lit("__corrupt__").alias("segment"),
        F.count("*").alias("n_rows"),
        F.lit(0.0).alias("sum_acctbal"),
    )
    return good.unionAll(bad)


# --- dynamic partition pruning: runtime subquery prunes the fact scan ----------

DPP_QUARTER = "1995Q2"


@artifact("dpp_layout", inputs=("orders",))
def _dpp_layout(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(fact dir, dim dir) for join_dpp_pruned_fact: orders partitioned by
    month, and the month-dim carrying the quarter attribute the filter
    lands on."""
    fact_dir = scratch(sf_tag(sf_dir), "dpp", "orders_by_month")
    dim_dir = scratch(sf_tag(sf_dir), "dpp", "month_dim")
    orders = table(spark, sf_dir, "orders").withColumn(
        "month", F.date_format("o_orderdate", "yyyy-MM")
    )
    orders.write.mode("overwrite").partitionBy("month").parquet(fact_dir)
    (
        orders.select("month")
        .distinct()
        .withColumn(
            "quarter",
            F.concat(
                F.substring("month", 1, 4),
                F.lit("Q"),
                ((F.substring("month", 6, 2).cast("int") + 2) / 3)
                .cast("int")
                .cast("string"),
            ),
        )
        .write.mode("overwrite")
        .parquet(dim_dir)
    )
    return fact_dir, dim_dir


@query(
    "join_dpp_pruned_fact",
    priority=0,
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders
    WHERE strftime(o_orderdate, '%Y') || 'Q'
          || CAST((CAST(strftime(o_orderdate, '%m') AS INT) + 2) // 3 AS INT)
          = '{DPP_QUARTER}'
    GROUP BY month
    """,
)
def join_dpp_pruned_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC PARTITION PRUNING: the fact table lives PARTITIONED BY month
    on disk; the query filters a month-dimension on quarter and joins it to
    the fact — and Spark prunes the fact's partition DIRECTORIES at
    RUNTIME from the dim-side join keys (DynamicPruningExpression: the
    broadcast's key set becomes a partition filter before fact file
    listing). Static pruning (sink_partitioned_pruned) needs the literal in
    the query; DPP covers the star-schema reality where selectivity arrives
    through a dimension — at 100 TB a 3-of-80-months quarter join reads
    3/80ths of the fact with NO change to the query text. Both scratch
    tables come from the :func:`_dpp_layout` artifact. The plan-shape
    pytest pins ``dynamicpruningexpression`` into the fact scan; the
    oracle recomputes from raw orders with the quarter unrolled
    arithmetically."""
    fact_dir, dim_dir = _dpp_layout(spark, sf_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("quarter") == DPP_QUARTER)
    return (
        fact.join(F.broadcast(dim), "month")
        .groupBy("month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
            )
            .cast("bigint")
            .alias("sum_cents"),
        )
    )


@query("sink_roundtrip_orc", priority=150, oracle=_AGG_ORACLE)
def sink_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 variant through ORC — the other columnar container a warehouse
    migration actually encounters (Hive-era tables). Same lossless
    round-trip contract as the parquet/JSON variants: aggregate → ORC out
    → read back → the parquet-derived oracle must still hash-match. ORC is
    a Spark built-in (no extra package) with the same predicate-pushdown /
    column-pruning machinery, so the scale story matches parquet; read-back
    needs no schema (self-describing footer)."""
    path = write_output(
        _agg(spark, sf_dir), _scratch(sf_dir, "sink_roundtrip_orc"),
        fmt="orc", num_partitions=2,
    )
    return read_output(spark, path, fmt="orc")


# --- dynamic partition overwrite: the idempotent backfill --------------------

#: The day whose partition gets backfilled (re-written with corrected
#: values) while every other day's partition must survive untouched.
BACKFILL_DAY = "2024-01-03"


@query(
    "sink_overwrite_partition_dynamic",
    priority=150,
    oracle=f"""
    WITH corrected AS (
      SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
             CASE WHEN strftime(ts, '%Y-%m-%d') = '{BACKFILL_DAY}'
                  THEN CAST(CAST(value AS DECIMAL(18,2)) * 2 AS DOUBLE)
                  ELSE value END AS value
      FROM events
    )
    SELECT day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM corrected GROUP BY day, event_type
    """,
)
def sink_overwrite_partition_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDEMPOTENT PARTITION BACKFILL via DYNAMIC partition overwrite —
    the daily-pipeline repair primitive: a bug is found in one day's
    data, the pipeline re-runs FOR THAT DAY ONLY, and the write replaces
    exactly the partitions present in the incoming frame (here:
    BACKFILL_DAY, values corrected 2x) while every other day's files
    are untouched. ``partitionOverwriteMode=dynamic`` is what makes the
    re-run idempotent-by-partition; STATIC mode (the default) would
    truncate the WHOLE table first — the classic footgun this operator
    pins. Plan/IO: the backfill writes |one day| of data regardless of
    table size, and the final read-back aggregates with partition
    pruning intact. At 100 TB this is the nightly operational pattern
    for every partitioned fact table (with the same semantics as Hive's
    INSERT OVERWRITE ... PARTITION and Iceberg's dynamic overwrite).
    The oracle models the post-backfill state declaratively. The write
    path proves the mode on a real directory tree: day partitions
    written, one re-written, others' files never rewritten."""
    spark = utc_session(spark)
    ev = table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
    )
    base = _scratch(sf_dir, "sink_dyn_overwrite")
    # initial full load, hive-layout partitioned by day
    ev.write.mode("overwrite").partitionBy("day").parquet(base)
    # the corrected re-run for ONE day, written with dynamic overwrite:
    # only the day=BACKFILL_DAY directory is replaced
    corrected = ev.filter(F.col("day") == BACKFILL_DAY).withColumn(
        "value",
        (F.col("value").cast("decimal(18,2)") * 2).cast("double"),
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(base)
    )
    back = spark.read.parquet(base)
    return back.groupBy("day", "event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


# --- training-shard export: balanced shards + verified manifest -------------------

N_SHARDS = 8  #: trainer-facing shard count (at 100 TB: thousands; same plan)


@query(
    "export_training_shards",
    priority=150,
    oracle=f"""
    WITH staged AS (
      SELECT (CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % {N_SHARDS}) AS shard_id,
             CAST(concat('0x', substr(md5(regexp_replace(lower(text),
                   '\\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS content_h,
             CAST(len(list_filter(string_split(lower(text), ' '),
                   w -> w <> '')) AS BIGINT) AS n_toks
      FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(bit_xor(content_h) AS BIGINT) AS content_checksum
    FROM staged GROUP BY shard_id
    """,
)
def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-SHARD EXPORT — the pipeline's LAST stage: write the corpus
    as {N_SHARDS} deterministic hash shards (parquet, partitioned by
    shard_id — the layout a trainer's data loader streams) and return the
    MANIFEST computed from the files READ BACK: per shard, document count,
    token count, and an order-independent content checksum (bit_xor of a
    60-bit md5 prefix over the dedup-normalized text). The oracle computes
    the same manifest straight from the source table, so a green row
    proves the shard write+read round-trip lost and duplicated NOTHING —
    the end-to-end integrity check a 100 TB export job publishes next to
    its shards. Deterministic md5 shard assignment (not Spark's
    task-dependent hashpartitioning) means a re-export lands every doc in
    the same shard — resumable and diffable.

    Exactness: counts are integers; the checksum is XOR (order-free,
    overflow-free — a SUM checksum would overflow int64 at ~2^31 docs).
    Scale: one scan + one shuffle on shard_id at write, one read-back
    scan + metadata-sized aggregate; the written layout is the
    partition-pruned shape every downstream epoch reader wants.

    Reference parity: output_handler_s3 one-object-per-reducer layout
    (``output_handler_s3.py:41-53``) generalized to the partitioned
    training-shard contract."""
    from serverless_mapreduce_spark.operators.dedup import _norm, _tokens

    docs = table(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    h60 = F.conv(F.substring(F.md5(_norm("text")), 1, 15), 16, 10).cast("bigint")
    staged = docs.select(
        "doc_id",
        "text",
        (h32 % N_SHARDS).alias("shard_id"),
        h60.alias("content_h"),
        F.size(_tokens("text")).cast("bigint").alias("n_toks"),
    )
    path = _scratch(sf_dir, "export_training_shards")
    staged.write.mode("overwrite").partitionBy("shard_id").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.withColumn("shard_id", F.col("shard_id").cast("bigint"))
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
            F.expr("bit_xor(content_h)").cast("bigint").alias("content_checksum"),
        )
    )
