"""Relational workload operators W1–W8, W11, W12, W14 (SURVEY.md §2.2).

Each function reproduces the *query semantics* of a reference workload as a
declarative DataFrame program — scan→filter→project→shuffle-agg→sort are all
left to Catalyst/Tungsten (predicate pushdown, column pruning, partial
aggregation, AQE join selection come for free; see SURVEY.md §4).

Fixture mapping (FIXTURES.md §7): ``rankings`` ≈ ``part``/``orders`` (unique
key + numeric rank), ``uservisits`` ≈ ``lineitem``/``events`` (FK + revenue +
date).

Scale notes (100 TB design stance):
- aggregations are plain ``groupBy().agg()`` → map-side partial agg + a
  single hash shuffle on the group key; AQE coalesces/splits skewed
  partitions at runtime;
- the q3 join shuffles both sides on the join key (sort-merge) unless one
  side fits the broadcast threshold, in which case Catalyst/AQE broadcasts —
  exactly the strategy choice the reference lacks (it has only the
  user-space repartition join, ``query_3_phase_1.py:41-70``);
- top-1 is ``orderBy().limit(1)`` → TakeOrderedAndProject: per-partition
  partial top-k then a driver-side merge of k·p rows — the distributed
  running-max the reference hand-codes in ``query_3_phase_2.py:35-38``.

Float determinism: money columns are exact 2-decimal doubles, so
``CAST(x AS DECIMAL(18,2))`` is lossless; decimal sums are exact and
order-independent; final ``CAST(... AS DOUBLE)`` yields bit-identical values
in Spark and DuckDB (see registry.py docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_mapreduce_spark.artifacts import saved_table
from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.registry import query


def dsum(col: str | Column, alias: str) -> Column:
    """Exact, order-independent sum of a 2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,2)")).cast("double").alias(alias)


# --- W1: filtered projection (reference query_1.py:1-20; hive/Query1.q:12) ---

@query(
    "q1_filter_scan", priority=200,
    oracle="""
    SELECT p_partkey, p_name, p_size
    FROM part
    WHERE p_size > 30
    """,
)
def q1_filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT pageURL, pageRank FROM rankings WHERE pageRank > 10 — on
    ``part`` (filter + project; both reach the parquet scan as
    PushedFilters/ReadSchema)."""
    return (
        table(spark, sf_dir, "part")
        .filter(F.col("p_size") > 30)
        .select("p_partkey", "p_name", "p_size")
    )


# --- W2: group-by sum (reference query_2.py:1-38; hive/Query2.q:19) ---------

@query(
    "q2_groupby_sum",
    oracle="""
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id
    """,
)
def q2_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT sourceIP, SUM(adRevenue) GROUP BY sourceIP — on ``events``.
    One hash shuffle on user_id; partial agg map-side (the reference's
    opt-in combiner, map_shuffle_handler.py:145-162, is automatic here)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(dsum("value", "sum_value"), F.count("*").alias("n_events"))
    )


# --- W3: substring-keyed group-by sum (query_2_var.py:14) --------------------

@query(
    "q2b_substr_groupby_sum", priority=200,
    oracle="""
    SELECT substring(c_name, 1, 16) AS name_prefix,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
    FROM customer
    GROUP BY substring(c_name, 1, 16)
    """,
)
def q2b_substr_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT SUBSTR(sourceIP,1,7), SUM(adRevenue) GROUP BY 1 — substring
    group key computed JVM-side, then the same single-shuffle agg as W2.
    (Prefix 16 on 'Customer#00000NNNN' names → ~N/100 groups; a shorter
    prefix degenerates to one group on the zero-padded fixture names.)"""
    return (
        table(spark, sf_dir, "customer")
        .groupBy(F.substring("c_name", 1, 16).alias("name_prefix"))
        .agg(dsum("c_acctbal", "sum_acctbal"))
    )


# --- W4: date-predicate filter (query_3_phase_1.py:13,31-32) -----------------

Q3_CUTOFF = "1995-06-01"


@query(
    "q3_date_filter", priority=200,
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
    """,
)
def q3_date_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE visitDate < cutoff — typed timestamp predicate, pushed to the
    parquet row-group stats (the reference parses dates per-row in Python,
    query_3_phase_1.py:31-32)."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < F.lit(Q3_CUTOFF).cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice")
    )


# --- W5: equi-join (query_3_phase_1.py:41-70; hive/Query3.q:26-31) -----------

@query(
    "q3_join", priority=200,
    oracle=f"""
    SELECT l_suppkey, l_orderkey, l_linenumber, o_totalprice, l_extendedprice
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
    """,
)
def q3_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rankings ⋈ uservisits on pageURL=destURL (1:N unique-key equi-join) —
    as orders ⋈ lineitem. The reference implements this as a user-space
    tagged repartition join; here Catalyst picks broadcast / sort-merge /
    shuffled-hash (AQE re-plans at runtime from actual sizes)."""
    orders = table(spark, sf_dir, "orders")
    lineitem = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit(Q3_CUTOFF).cast("timestamp")
    )
    return orders.join(
        lineitem, orders.o_orderkey == lineitem.l_orderkey, "inner"
    ).select("l_suppkey", "l_orderkey", "l_linenumber", "o_totalprice", "l_extendedprice")


# --- W6: join + group-by avg/sum (query_3_phase_2.py:17-41) ------------------

_Q3_AGG_SQL = f"""
    SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_rank,
           COUNT(*) AS n_rows
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate < TIMESTAMP '{Q3_CUTOFF} 00:00:00'
    GROUP BY l_suppkey
"""


def _q3_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # avg as exact-sum / count: both engines do one IEEE double division on
    # bit-identical operands → bit-identical avg (a bare AVG(double) would
    # be order-dependent).
    return q3_join(spark, sf_dir).groupBy("l_suppkey").agg(
        dsum("l_extendedprice", "total_revenue"),
        (dsum("o_totalprice", "_sum_rank") / F.count("*")).alias("avg_rank"),
        F.count("*").alias("n_rows"),
    )


@query("q3_groupby_avg_sum", priority=200, oracle=_Q3_AGG_SQL)
def q3_groupby_avg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT sourceIP, SUM(adRevenue) AS totalRevenue, AVG(pageRank) …
    GROUP BY sourceIP — join output reshuffled once on the group key."""
    return _q3_agg(spark, sf_dir)


# --- W7: top-1 / argmax (query_3_phase_3.py:17-35; hive/Query3.q:33-34) ------

@query(
    "q3_top1", priority=200,
    oracle=f"""
    SELECT * FROM ({_Q3_AGG_SQL})
    ORDER BY total_revenue DESC, l_suppkey
    LIMIT 1
    """,
)
def q3_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY totalRevenue DESC LIMIT 1 — TakeOrderedAndProject (partial
    per-partition top-k, merge k·p rows at the driver), the built-in version
    of the reference's per-reducer running max + final single reducer.
    Suppkey tiebreak keeps the row deterministic."""
    return _q3_agg(spark, sf_dir).orderBy(
        F.desc("total_revenue"), F.asc("l_suppkey")
    ).limit(1)


# --- W8: total order (sorting.py:1-39 + range_partition.py:1-8) --------------

def _bucket_search(value: "F.Column", bounds: list) -> "F.Column":
    """Range-bucket id for ``value`` against sorted ``bounds`` as a BALANCED
    BINARY-SEARCH ``when`` tree: bucket(v) = |{b in bounds : v > b}|,
    identical semantics to the chained-``when`` linear scan it replaces,
    but each row evaluates O(log n) comparisons instead of O(n) — flat
    per-row cost at thousands of partitions (the expression tree is still
    O(n) nodes, which codegen splits into methods as needed). NULL values
    compare false at every node and land in bucket 0, matching the linear
    scan's ``otherwise(0)`` fall-through."""

    def build(lo: int, hi: int) -> "F.Column":
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(value > F.lit(bounds[mid]), build(mid + 1, hi)).otherwise(
            build(lo, mid)
        )

    return build(0, len(bounds))


@query(
    "sort_by_value",
    oracle="""
    SELECT ROW_NUMBER() OVER (ORDER BY value, event_id) AS pos,
           event_id, user_id, value
    FROM events
    """,
)
def sort_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort of (adRevenue, sourceIP) — on events(value), with a
    *scalable* global rank. The reference range-partitions keys into ordered
    bins and sorts each bin (``range_partition.py:1-8`` + the reducer's key
    sort); Spark's ``repartitionByRange`` is the same strategy with sampled
    bounds. The global position is then derived without ever funneling data
    through one partition:

      1. range-partition + sort within partitions (total order across pids);
      2. local ``row_number`` windowed *per partition id* — parallel;
      3. per-pid counts (tiny: one row per partition) → running-sum offsets;
      4. broadcast-join offsets back: ``pos = offset + local_rn``.

    The range buckets come from explicit quantile bounds computed once on the
    driver (one cheap pass over a single column), NOT from
    ``repartitionByRange``'s per-exchange sampling: the bucket id is then a
    *pure function* of the row, so the counts branch and the rank branch can
    never disagree on placement (sampled exchanges re-sample per physical
    instance, which desyncs the offset table — observed and rejected).
    Skewed duplicate values make one bucket larger but never wrong; the
    per-bucket window is bounded by ~N/num_buckets rows."""
    from pyspark.sql import Window

    df = table(spark, sf_dir, "events")
    npart = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    # Quantile bounds: the engine-side analog of the reference assuming keys
    # uniform in [0,1) (range_partition.py:4-8) — we measure instead of assume.
    probs = [i / npart for i in range(1, npart)]
    bounds = sorted(set(df.approxQuantile("value", probs, 0.001))) if probs else []
    bucket = _bucket_search(F.col("value"), bounds).alias("bucket")

    ranked = df.select("event_id", "user_id", "value", bucket).withColumn(
        "local_rn",
        F.row_number().over(
            Window.partitionBy("bucket").orderBy("value", "event_id")
        ),
    )
    offsets = (
        df.select(bucket)
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "offset")
    )
    return ranked.join(F.broadcast(offsets), "bucket").select(
        (F.col("offset") + F.col("local_rn")).alias("pos"),
        "event_id",
        "user_id",
        "value",
    )


# --- W11: chained scalar transforms (user_job_5/map*.py) ---------------------

@query(
    "scalar_pipeline", priority=200,
    oracle="""
    SELECT c_name AS key,
           substring(replace(printf('%.2f', c_acctbal), '.', ''), 1, 4) AS val
    FROM customer
    """,
)
def scalar_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4-map chain of user_job_5 (parse CSV → cast float → strip '.' →
    take 4 chars) as a single fused projection — Catalyst collapses the
    chain into one WholeStageCodegen stage, vs. one Lambda stage + S3
    materialization per map in the reference (driver.py:299-351)."""
    return table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("key"),
        F.substring(
            F.regexp_replace(F.format_string("%.2f", F.col("c_acctbal")), r"\.", ""),
            1,
            4,
        ).alias("val"),
    )


# --- W12: aggregate → union → re-aggregate DAG (web_user_main.py:70-78) ------

@query(
    "multi_source_union", priority=200,
    oracle="""
    WITH a AS (
      SELECT o_custkey AS key,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS val
      FROM orders GROUP BY o_custkey
    ), b AS (
      SELECT c_custkey AS key, c_acctbal AS val FROM customer
    )
    SELECT key,
           CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
    GROUP BY key
    """,
)
def multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two pipelines pre-aggregate, merge(), then re-aggregate — the
    reference's finish/merge DAG (main.py:168-180, coordinator.py:113-184)
    is just unionAll + a second groupBy in a lazy Spark DAG."""
    a = (
        table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(dsum("o_totalprice", "val"))
    )
    b = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("val")
    )
    return a.unionAll(b).groupBy("key").agg(dsum("val", "total"))


# --- W14: typed KV extract with projection (user_job_6/map.py:1-13) ----------

@query(
    "dynamo_typed_extract",
    oracle="""
    SELECT event_id, user_id, CAST(value AS DOUBLE) AS revenue,
           CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
    FROM events
    """,
)
def dynamo_typed_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DynamoDB typed-row extract: column projection + cast, plus a
    semi-structured field pull (the reference's dict rows → our JSON props
    column). Projection reaches the scan via Catalyst column pruning (the
    reference needs an explicit DynamoDB ProjectionExpression,
    input_handler_dynamodb.py:154-158)."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("value").cast("double").alias("revenue"),
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


# --- headline: TPC-H Q1-shaped wide aggregation (bench anchor) ----------------

@query(
    "tpch_q1", priority=200,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide partial-agg stress query (the classic pricing summary): few
    groups → near-total map-side reduction, minimal shuffle. Exact decimal
    arithmetic end-to-end so the doubles hash-match the oracle."""
    from serverless_mapreduce_spark.catalog import ensure_parallelism

    # Round-robin (not keyed): only ~6 group combos exist, so hashing by the
    # group key would idle all but 6 cores; partial agg still collapses each
    # partition to ≤6 rows before the real shuffle.
    li = ensure_parallelism(spark, table(spark, sf_dir, "lineitem")).filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity", "sum_qty"),
        dsum("l_extendedprice", "sum_base_price"),
        F.sum(price * (1 - disc)).cast("double").alias("sum_disc_price"),
        F.sum(price * (1 - disc) * (1 + tax)).cast("double").alias("sum_charge"),
        F.count("*").alias("count_order"),
    )


# --- SQL surface: one shared ANSI string runs on both engines ----------------

_Q6_SQL = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
"""


@query("sql_tpch_q6", oracle=_Q6_SQL)
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: register the catalog as temp views and run
    a plain ANSI string through ``spark.sql`` — the *same* string is the
    DuckDB oracle, proving dialect-portable semantics. (The reference has no
    SQL surface at all; its hive/*.q files are documentation.) Catalyst
    still pushes the range + BETWEEN predicates into the parquet scan."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q6_SQL)


# --- rollup: hierarchical aggregates (beyond-reference relational surface) ----

@query(
    "rollup_revenue",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (flag, status): per-group + per-flag subtotal + grand total in
    one pass — Spark expands the grouping sets and still does partial
    aggregation map-side, so the cost is one shuffle regardless of how many
    levels the hierarchy has (the reference would need one MapReduce job per
    level plus a union)."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity", "sum_qty"), F.count("*").alias("n_rows"))
    )


@query(
    "cube_order_totals",
    priority=0,
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (status, priority): all four grouping sets — per-pair, per-status,
    per-priority, grand total — in one pass. Completes the grouping-sets
    family next to rollup_revenue: CUBE's cross-dimension subtotals
    (per-priority alone) are exactly what ROLLUP's hierarchy omits. Same
    scale shape as rollup: Spark expands the sets before the exchange, so
    partial aggregation still happens map-side and the cost stays one
    shuffle regardless of dimension count."""
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(dsum("o_totalprice", "sum_total"), F.count("*").alias("n_orders"))
    )


# --- partitioned window: running sum (scales: keyed by user, never global) ----

@query(
    "window_running_sum",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_sum
    FROM events
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per user — a *partitioned* window (PARTITION BY
    user_id), so work distributes across users and no single-partition
    funnel exists (contrast the global-window anti-pattern sort_by_value
    replaced). Ordered by the unique event_id so both engines fold in the
    identical order; decimal accumulation keeps every prefix exact."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double").alias("running_sum"),
    )


# --- explicit skew-join salting (the 100 TB hot-key technique, demonstrated) --

SALT_BUCKETS = 8


@query(
    "skew_salted_join",
    oracle="""
    SELECT event_id, user_id, value, c_name
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salting for a skewed fact⋈dim join: events has only ~15
    distinct user_ids (hot keys by construction), so a plain shuffle join
    lands everything on ≤15 reducers. Salting splits each hot key into
    SALT_BUCKETS subkeys — fact rows get a deterministic salt
    (pmod(hash(event_id), R)), the dim side replicates R× via explode — and
    the join key becomes (key, salt), spreading each hot key over R tasks.
    Results are salt-invariant (the oracle is the unsalted join). AQE's
    skew-join handles the same problem adaptively; this operator is the
    explicit form for engines/pipelines where the skew is known up front.
    sort-merge is hinted so the salted path is actually exercised (the dim
    would otherwise broadcast at this SF)."""
    fact = table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.hash("event_id"), F.lit(SALT_BUCKETS))
    )
    dim = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name")
        .withColumn("salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)])))
    )
    joined = fact.hint("merge").join(
        dim,
        (fact.user_id == dim.c_custkey) & (fact.salt == dim.salt),
    )
    return joined.select("event_id", "user_id", "value", "c_name")


# --- join family: semi / anti / outer (engine surface beyond the reference) ---

@query(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI: customers having ≥1 order. Semi joins never duplicate the
    left side and never carry right columns — at scale that's a smaller
    shuffle than join+distinct (and Catalyst can broadcast the keys-only
    right side)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


ANTI_CUTOFF = "1998-01-01"


@query(
    "join_anti_customers_without_orders",
    oracle=f"""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '{ANTI_CUTOFF} 00:00:00'
    )
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI: customers with no *recent* order (none since the cutoff) —
    the churn / orphan-detection shape. The date filter lands on the right
    side *before* the join, so the anti probe set is already pruned; every
    fixture customer has some order, hence the filter keeps the result
    non-trivial. Same shuffle profile as the semi join."""
    customer = table(spark, sf_dir, "customer")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit(ANTI_CUTOFF).cast("timestamp"))
        .select("o_custkey")
    )
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "join_outer_order_counts",
    oracle="""
    SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_outer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER + count: order counts per customer with zero-order
    customers kept (COUNT of the nullable key counts only matches). One
    shuffle for the join, one for the re-key — or none extra when Catalyst
    broadcasts."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# --- bucketed co-located join (the 100 TB shuffle-elimination story) -----------

BUCKETS = 8
_REVENUE_DEC = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
)


@saved_table("orders_bkt", inputs=("orders",), by="o_orderkey", buckets=BUCKETS)
def _orders_bkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders bucketed + sorted by the join key, written once per session
    and fixture. This is exactly the layout a 100 TB deployment maintains
    for its fact tables: both sides hash-bucketed into the same bucket
    count, so every future equi-join on the key is Exchange-free — the
    shuffle is paid once at write time, not per query. Reference parity:
    the reference's shuffle stage writes hash-partitioned intermediates to
    S3 per job (job/shuffle_handler.py) — bucketing is that same hash
    layout made durable and reusable."""
    return table(spark, sf_dir, "orders")


@saved_table("lineitem_bkt", inputs=("lineitem",), by="l_orderkey", buckets=BUCKETS)
def _lineitem_bkt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem bucketed + sorted by the join key; see :func:`_orders_bkt`."""
    return table(spark, sf_dir, "lineitem")


@query(
    "join_bucketed_colocated",
    priority=0,
    oracle=f"""
    SELECT o_orderpriority,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi-join over pre-bucketed tables: both sides are stored
    hash-bucketed (and sorted) by the join key, so the sort-merge join reads
    co-located buckets directly — NO Exchange on either join side (asserted
    by tests/test_bucketed_join.py); the only shuffle in the plan is the
    final small re-key to o_orderpriority. The merge hint keeps the tiny
    fixture from taking the broadcast path that would bypass the layout
    being demonstrated. Revenue math in decimal so the sum is exact and
    order-independent (registry.py contract)."""
    o = _orders_bkt(spark, sf_dir)
    l = _lineitem_bkt(spark, sf_dir)  # noqa: E741
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        o.hint("merge")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# --- TPC-H q3 / q5 (join-planning showcases over the TPC-H-ish fixtures) ------

Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-06-01"


@query(
    "tpch_q3",
    priority=0,
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{Q3_SEGMENT}'
      AND o_orderdate < TIMESTAMP '{Q3_DATE} 00:00:00'
      AND l_shipdate > TIMESTAMP '{Q3_DATE} 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority), adapted to the fixture schema
    (o_orderpriority stands in for o_shippriority). Plan shape at scale:
    the segment filter prunes customer BEFORE the join (predicate pushdown
    to the scan), customer broadcasts, orders⋈lineitem shuffles once on the
    orderkey, and the global top-10 is a TakeOrdered — no full sort.
    Decimal revenue keeps the sum exact (ties broken by date+key so LIMIT
    is deterministic)."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == Q3_SEGMENT)
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_DATE).cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_DATE).cast("timestamp")
    )
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        F.broadcast(c.select("c_custkey"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


Q5_REGION = "ASIA"
Q5_FROM, Q5_TO = "1997-01-01", "1998-01-01"


@query(
    "tpch_q5",
    priority=0,
    oracle=f"""
    SELECT n_name,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = '{Q5_REGION}'
      AND o_orderdate >= TIMESTAMP '{Q5_FROM} 00:00:00'
      AND o_orderdate < TIMESTAMP '{Q5_TO} 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-table join-ordering
    showcase. Scale shape: region→nation prunes suppliers to one region
    (two broadcast hops), supplier and customer broadcast into the
    fact⋈fact spine (orders⋈lineitem — the only real shuffle), and the
    c_nationkey = s_nationkey clause rides the supplier join rather than
    forcing an extra exchange. Catalyst reorders the small dims freely
    because each is a broadcast."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    n = table(spark, sf_dir, "nation")
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q5_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q5_TO).cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    sn = F.broadcast(
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            sn,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q4_FROM, Q4_TO = "1997-01-01", "1997-04-01"
Q4_LATE_DAYS = 30


@query(
    "tpch_q4",
    priority=0,
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{Q4_FROM} 00:00:00'
      AND o_orderdate < TIMESTAMP '{Q4_TO} 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY)
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking), adapted to the fixture schema:
    the reference's l_commitdate < l_receiptdate lateness predicate becomes
    "some line shipped more than 30 days after the order date" (the fixture
    carries no commit/receipt dates). The EXISTS compiles to a LEFT SEMI
    join — each qualifying order is emitted once no matter how many late
    lines it has, and the semi join short-circuits per key instead of
    materializing the multiplicity. Scale shape: the quarter filter prunes
    orders at the scan, the semi join is the only shuffle (keyed on
    orderkey), and the tiny 5-row aggregate is map-side partial."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q4_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q4_TO).cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


Q12_FROM, Q12_TO = "1998-01-01", "1999-01-01"
_Q12_HIGH = "('1-URGENT', '2-HIGH')"


@query(
    "tpch_q12",
    priority=0,
    oracle=f"""
    SELECT l_linestatus,
           -- CAST: DuckDB SUM(INTEGER) yields HUGEINT, which lands in pandas
           -- as float64 ("1771.0") and would string-mismatch Spark's bigint
           CAST(SUM(CASE WHEN o_orderpriority IN {_Q12_HIGH} THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN {_Q12_HIGH} THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '{Q12_FROM} 00:00:00'
      AND l_shipdate < TIMESTAMP '{Q12_TO} 00:00:00'
    GROUP BY l_linestatus
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping modes / order priority), adapted: l_linestatus
    stands in for l_shipmode and the lateness predicates collapse into the
    ship-year filter (no commit/receipt dates in the fixture). The
    conditional counts are SUM(CASE) pairs — one pass, map-side partial
    aggregation, no second scan per class. Scale shape: the year filter
    pushes to the lineitem scan, the join shuffles once on orderkey, and
    the 2-row result never funnels through a single partition."""
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q12_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q12_TO).cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


Q6_FROM, Q6_TO = "1997-01-01", "1998-01-01"
Q6_DISC_LO, Q6_DISC_HI = 0.05, 0.07
Q6_QTY = 24


@query(
    "tpch_q6",
    priority=150,
    oracle=f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q6_FROM} 00:00:00'
      AND l_shipdate < TIMESTAMP '{Q6_TO} 00:00:00'
      AND l_discount BETWEEN {Q6_DISC_LO} AND {Q6_DISC_HI}
      AND l_quantity < {Q6_QTY}
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) — the one query of the suite
    that was still unregistered: a pure predicate scan + single-row SUM,
    no join, no shuffle beyond the final 1-row aggregate. The discount
    product accumulates in exact DECIMAL and converts to double once
    (order-independent, hash-exact — the registry contract). Scale story:
    this is THE predicate-pushdown showcase — all four filters reach the
    parquet scan (date + discount + quantity in PushedFilters), row
    groups outside the ship-date year never decompress, and the
    map-side partial sum makes the exchange one row per task.
    Reference analog: the per-record filter+accumulate map functions of
    the user jobs (``src/python/user_job_3/map.py``) — same shape, here
    fully declarative. ``sql_tpch_q6`` is the spark.sql-surface twin;
    this is the DataFrame-API member the rest of the tpch_q* family has."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(Q6_FROM).cast("timestamp"))
            & (F.col("l_shipdate") < F.lit(Q6_TO).cast("timestamp"))
            & (F.col("l_discount") >= Q6_DISC_LO)
            & (F.col("l_discount") <= Q6_DISC_HI)
            & (F.col("l_quantity") < Q6_QTY)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * F.col("l_discount").cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


Q14_FROM, Q14_TO = "1997-09-01", "1997-10-01"


@query(
    "tpch_q14",
    priority=0,
    oracle=f"""
    SELECT CAST(100 AS DOUBLE)
           * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE_DEC}
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{Q14_FROM} 00:00:00'
      AND l_shipdate < TIMESTAMP '{Q14_TO} 00:00:00'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promo revenue share; fixture p_type is exactly 'PROMO',
    not a prefix). Both revenue sums are exact DECIMAL accumulations —
    converted to double only for the final ratio, and in the same
    multiply-then-divide order as the oracle so the IEEE result is
    bit-identical. Scale shape: part projects two columns and BROADCASTS
    into the month-pruned lineitem scan — no shuffle at all before the
    single-row aggregate."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q14_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q14_TO).cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    agg = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).alias("promo_rev"),
            F.sum(revenue).alias("total_rev"),
        )
    )
    return agg.select(
        (
            F.lit(100).cast("double")
            * F.col("promo_rev").cast("double")
            / F.col("total_rev").cast("double")
        ).alias("promo_revenue")
    )


# --- TPC-H Q7/Q8/Q10/Q13/Q15/Q17/Q18/Q19/Q21/Q22 (fixture-adapted) -----------
# The fixture has no partsupp / phone / comment / commitdate columns, so the
# queries that need them are adapted: the join topology, subquery shape, and
# physical plan story of each original are preserved, only the predicate
# columns change. Reference parity anchor: the reference ships hive/Query*.q
# for Q1-Q3 only (hive/Query1.q:12, Query2.q:19, Query3.q:27-34) — everything
# past Q3 is beyond-reference relational surface on the same star schema.

Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"
Q7_FROM, Q7_TO = "1996-01-01", "1998-01-01"


@query(
    "tpch_q7",
    priority=0,
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             {_REVENUE_DEC} AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = '{Q7_NATION_A}' AND n2.n_name = '{Q7_NATION_B}')
          OR (n1.n_name = '{Q7_NATION_B}' AND n2.n_name = '{Q7_NATION_A}'))
        AND l_shipdate >= TIMESTAMP '{Q7_FROM} 00:00:00'
        AND l_shipdate < TIMESTAMP '{Q7_TO} 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping between two nations). Scale shape: both
    nation dims pre-filter to ONE nation each before broadcasting into
    supplier and customer, so the disjunction ((A,B) or (B,A)) is evaluated
    on two already-tiny broadcast sides — the fact spine orders⋈lineitem is
    the only shuffle, and the 2×2×years result aggregates map-side. The
    year split uses l_shipdate (the fixture's only line-level date)."""
    pair = (Q7_NATION_A, Q7_NATION_B)
    n = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair))
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q7_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q7_TO).cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


Q8_NATION = "NATION_3"
Q8_REGION = "ASIA"
Q8_TYPE = "STANDARD"
Q8_FROM, Q8_TO = "1996-01-01", "1998-01-01"


@query(
    "tpch_q8",
    priority=0,
    oracle=f"""
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = '{Q8_NATION}' THEN volume
                              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             {_REVENUE_DEC} AS volume,
             n1.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      WHERE r_name = '{Q8_REGION}'
        AND p_type = '{Q8_TYPE}'
        AND o_orderdate >= TIMESTAMP '{Q8_FROM} 00:00:00'
        AND o_orderdate < TIMESTAMP '{Q8_TO} 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): what share of {Q8_REGION}-region
    customers' spend on one part type comes from one nation's suppliers,
    per order year. The 8-table showcase. Scale shape: part (type-pruned),
    supplier+nation, and customer+nation+region are ALL broadcast — three
    small dims hanging off the orders⋈lineitem spine, which shuffles once
    on orderkey. The share is a SUM(CASE)/SUM pair in one aggregation pass
    (exact decimal sums; the divide happens once per year-row in double,
    same operand order both engines)."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_TYPE)
    n1 = table(spark, sf_dir, "nation")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    n2 = table(spark, sf_dir, "nation").alias("n2")
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .join(F.broadcast(r), F.col("n2.n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q8_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q8_TO).cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    national = F.when(F.col("supp_nation") == Q8_NATION, revenue).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            F.sum(national).alias("nat_rev"),
            F.sum(revenue).alias("all_rev"),
        )
        .select(
            "o_year",
            (F.col("nat_rev").cast("double") / F.col("all_rev").cast("double"))
            .cast("double")
            .alias("mkt_share"),
        )
    )


Q10_FROM, Q10_TO = "1998-01-01", "1998-04-01"


@query(
    "tpch_q10",
    priority=0,
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '{Q10_FROM} 00:00:00'
      AND o_orderdate < TIMESTAMP '{Q10_TO} 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 (returned-item reporting): top-20 customers by revenue
    lost to returns in one quarter. Scale shape: the quarter filter prunes
    orders and the returnflag filter prunes lineitem, both AT THE SCAN;
    customer (broadcast at this SF; sort-merge at 100 TB where AQE decides)
    joins after the fact⋈fact shuffle so the agg groups on an
    already-reduced set; the global top-20 is TakeOrderedAndProject —
    per-partition partial top-k, never a full sort. c_custkey tie-break
    pins LIMIT determinism."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(Q10_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(Q10_TO).cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q13_EXCLUDED_PRIORITY = "1-URGENT"


@query(
    "tpch_q13",
    priority=0,
    oracle=f"""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey
       AND o_orderpriority <> '{Q13_EXCLUDED_PRIORITY}'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution), adapted: the
    "comment NOT LIKE special-requests" exclusion becomes an
    o_orderpriority exclusion INSIDE the outer-join condition — the point
    of Q13 is that the filter must ride the join (a WHERE would silently
    drop zero-order customers). Two-level aggregation: the first groups on
    the (high-cardinality) custkey right on the join's own partitioning —
    no extra shuffle — and the second reduces counts-of-counts, whose
    domain is tiny, map-side."""
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != Q13_EXCLUDED_PRIORITY),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


Q15_FROM, Q15_TO = "1997-01-01", "1997-04-01"


@query(
    "tpch_q15",
    priority=0,
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{Q15_FROM} 00:00:00'
        AND l_shipdate < TIMESTAMP '{Q15_TO} 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the scalar-subquery-over-a-view shape.
    Scale shape: the quarter's per-supplier revenue aggregates once
    (supplier-count cardinality — small); the max is a single-row aggregate
    over THAT result, not a second lineitem scan (the CTE is referenced
    twice — Spark reuses the plan subtree, and at 100 TB you'd persist the
    ~#suppliers-row view, not the fact table); the winner filter is a
    broadcast of one scalar. Exact decimal sums make the double equality
    safe cross-engine."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q15_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q15_TO).cast("timestamp"))
    )
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(revenue).cast("double").alias("total_revenue"))
    )
    from serverless_mapreduce_spark.caching import persist_tracked

    rev = persist_tracked(rev)  # referenced twice: winner filter + max scalar
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(top), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


Q17_BRAND, Q17_TYPE = "Brand#23", "ECONOMY"


@query(
    "tpch_q17",
    priority=0,
    oracle=f"""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = '{Q17_BRAND}'
      AND p_type = '{Q17_TYPE}'
      AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
                        FROM lineitem l2
                        WHERE l2.l_partkey = part.p_partkey)
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated-scalar-
    subquery decorrelation showcase. The subquery (per-part average
    quantity) becomes a groupBy over the lineitems of just the brand's
    parts — the brand filter SEMI-prunes the inner aggregate before it
    runs, which is the decorrelation Catalyst itself would pick. Scale
    shape: part prunes to a handful of keys, broadcasts into lineitem; the
    per-part avg aggregates that pruned set; the threshold joins back by
    partkey (broadcast again). The avg is exact (integer-valued quantities
    sum losslessly in double), so 0.2*avg and the < comparison are
    bit-identical cross-engine."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == Q17_BRAND) & (F.col("p_type") == Q17_TYPE)
    )
    li = table(spark, sf_dir, "lineitem")
    # All lines of the brand's parts (the correlated subquery's domain).
    lines = li.join(
        F.broadcast(p.select("p_partkey")), F.col("l_partkey") == F.col("p_partkey")
    )
    from serverless_mapreduce_spark.caching import persist_tracked

    lines = persist_tracked(lines)  # scanned twice: threshold + final filter
    thr = lines.groupBy(F.col("p_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        lines.join(F.broadcast(thr), F.col("p_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / F.lit(7.0)
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


Q18_QTY = 300


@query(
    "tpch_q18",
    priority=0,
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > {Q18_QTY})
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): GROUP BY + HAVING feeding a
    semi join. Scale shape: the HAVING aggregate runs over lineitem keyed
    on orderkey; the main query re-joins lineitem on the SAME key, so the
    semi join and the outer groupBy reuse one hash-partitioning — a
    single logical shuffle of the fact table end-to-end (Spark reuses the
    exchange; the reference would materialize each stage to S3). customer
    broadcasts. Top-100 is TakeOrdered with orderkey tie-break."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > Q18_QTY)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(big, F.col("l_orderkey") == F.col("big_orderkey"), "left_semi")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").cast("bigint").alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


_Q19_ARMS = [
    ("Brand#12", 1, 15, 1, 11),
    ("Brand#23", 1, 25, 10, 20),
    ("Brand#34", 1, 35, 20, 30),
]


@query(
    "tpch_q19",
    priority=0,
    oracle=f"""
    SELECT CAST(SUM({_REVENUE_DEC}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE ({" OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN {s1} AND {s2} "
        f"AND l_quantity BETWEEN {q1} AND {q2})"
        for b, s1, s2, q1, q2 in _Q19_ARMS
    )})
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): three
    brand/size/quantity arms OR-ed together — the classic "push what you
    can through a disjunction" test. The OR itself can't reach the scan,
    so we push its DERIVED envelopes by hand: part pre-filters to the
    three brands (IN-list) and lineitem to the quantity hull [1,30] —
    both prune at the parquet scan before the join; the exact disjunction
    then evaluates on the survivors. Part broadcasts; no shuffle before
    the single-row aggregate."""
    brands = [a[0] for a in _Q19_ARMS]
    qty_lo = min(a[3] for a in _Q19_ARMS)
    qty_hi = max(a[4] for a in _Q19_ARMS)
    p = table(spark, sf_dir, "part").filter(F.col("p_brand").isin(*brands)).select(
        "p_partkey", "p_brand", "p_size"
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(qty_lo, qty_hi)
    )
    arm = lambda b, s1, s2, q1, q2: (  # noqa: E731
        (F.col("p_brand") == b)
        & F.col("p_size").between(s1, s2)
        & F.col("l_quantity").between(q1, q2)
    )
    cond = arm(*_Q19_ARMS[0]) | arm(*_Q19_ARMS[1]) | arm(*_Q19_ARMS[2])
    revenue = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "tpch_q21",
    priority=0,
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 (suppliers who kept orders waiting), adapted: "the only
    supplier whose line missed its commit date" becomes "the only supplier
    whose line was returned" (no commit/receipt dates in the fixture) —
    same EXISTS + NOT-EXISTS-with-inequality shape on finished orders.
    Scale shape: the correlated subqueries compile to one LEFT SEMI and
    one LEFT ANTI join, all keyed on orderkey — three passes over lineitem
    that share a single hash-partitioning (one logical shuffle, exchanges
    reused); supplier broadcasts for the name lookup; top-10 is
    TakeOrdered with the s_name tie-break."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select(
        F.col("l_orderkey").alias("x_orderkey"), F.col("l_suppkey").alias("x_suppkey")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("y_orderkey"), F.col("l_suppkey").alias("y_suppkey")
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    waiting = (
        l1.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            l2,
            (F.col("l_orderkey") == F.col("x_orderkey"))
            & (F.col("l_suppkey") != F.col("x_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("y_orderkey"))
            & (F.col("l_suppkey") != F.col("y_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


Q22_NATIONS = (1, 5, 9, 13, 17, 21, 24)
Q22_CUTOFF = "2000-01-01"

# One ANSI string, two engines (the sql_tpch_q6 pattern): scalar uncorrelated
# subquery + NOT EXISTS + rollup — every construct parses identically in
# Spark SQL and DuckDB, so the oracle IS the query.
_Q22_SQL = f"""
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT c_nationkey AS cntrycode, c_acctbal
      FROM customer
      WHERE c_nationkey IN {Q22_NATIONS}
        AND c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*)
          FROM customer
          WHERE c_acctbal > 0.0 AND c_nationkey IN {Q22_NATIONS})
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '{Q22_CUTOFF} 00:00:00')
    ) custsale
    GROUP BY cntrycode
"""


@query("tpch_q22", priority=0, oracle=_Q22_SQL)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity), adapted: the phone-prefix
    country code becomes c_nationkey (the fixture has no phone column) and
    "never ordered" becomes "not ordered since {Q22_CUTOFF}" (only 8
    fixture customers have zero orders ever — the recency cutoff keeps the
    anti join's output non-degenerate). Runs the ORACLE STRING itself
    through ``spark.sql``: Catalyst plans the scalar subquery as a
    one-row SubqueryExec folded into the filter (no nested-loop join —
    compare the hand-built crossJoin, which compiles to a BNLJ and fails
    the plan lint), the NOT EXISTS as a LEFT ANTI join against the
    date-pruned orders scan, and the nation IN-list pushes to parquet.
    The average is exact-decimal-sum / count, divided once, same operand
    order both engines. Scale shape: customer shuffles once for the anti
    join (broadcast at this SF); the dim scan runs twice — cheap for a
    dimension, and the scalar row broadcasts."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q22_SQL)


Q9_PART_LIKE = "%gear%"


@query(
    "tpch_q9",
    priority=0,
    oracle=f"""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(18,2)))
               - CAST(p_retailprice AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2)) AS amount
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '{Q9_PART_LIKE}'
    ) profit
    GROUP BY nation, o_year
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit), adapted: with no partsupp table,
    supply cost becomes p_retailprice × quantity — the join topology
    (part + supplier + nation hanging off the orders⋈lineitem spine) and
    the LIKE-on-part-name pruning are preserved. Scale shape: the LIKE
    filter prunes part BEFORE its broadcast (a contains-match can't push
    to parquet stats, but it runs in the scan stage), supplier+nation
    broadcast, and the only real shuffle is orders⋈lineitem on orderkey
    followed by the (nation × year)-group aggregate — small domain,
    map-side partials. Amount is exact decimal arithmetic end-to-end;
    one final cast to double."""
    p = table(spark, sf_dir, "part").filter(
        F.col("p_name").like(Q9_PART_LIKE)
    ).select("p_partkey", "p_retailprice")
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    ) - F.col("p_retailprice").cast("decimal(18,2)") * F.col("l_quantity").cast(
        "decimal(18,2)"
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
        )
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


# --- TPC-H Q2/Q11/Q16/Q20: the partsupp-family, on a derived supply relation --
# The fixture has no partsupp table; its role (which supplier supplies which
# part, at what cost/volume) is reconstructed from lineitem itself — the
# (l_partkey, l_suppkey) pairs ARE the supply relation, with unit cost
# l_extendedprice/l_quantity and volume SUM(l_quantity). Join topology and
# subquery shapes of the originals are preserved. With these four, all 22
# TPC-H queries exist in fixture-adapted form.

Q2_SIZE, Q2_TYPE, Q2_REGION = 25, "PROMO", "ASIA"


@query(
    "tpch_q2",
    priority=0,
    oracle=f"""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    asia AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = '{Q2_REGION}'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
    FROM part
    JOIN supply ON p_partkey = l_partkey
    JOIN asia ON l_suppkey = s_suppkey
    WHERE p_size = {Q2_SIZE} AND p_type = '{Q2_TYPE}'
      AND unit_cost = (SELECT MIN(s2.unit_cost)
                       FROM supply s2 JOIN asia a2 ON s2.l_suppkey = a2.s_suppkey
                       WHERE s2.l_partkey = p_partkey)
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): the correlated-argmin showcase.
    The correlated MIN decorrelates to a per-part minimum over the
    region's supply rows, joined back on (partkey, unit_cost) — Catalyst's
    own decorrelation strategy, written out. Scale shape: the supply
    relation aggregates lineitem once on its natural (part, supp) key;
    the region's supplier dim broadcasts into it; the per-part min is a
    second small aggregate over the SAME partitioning side; part (size +
    type pruned at the scan) broadcasts last. The float equality is safe:
    both engines compute the identical IEEE quotient and MIN picks the
    same value."""
    from serverless_mapreduce_spark.caching import persist_tracked

    li = table(spark, sf_dir, "lineitem")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == Q2_REGION)
    asia = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    supply_asia = persist_tracked(
        supply.join(F.broadcast(asia), F.col("l_suppkey") == F.col("s_suppkey"))
    )  # scanned twice: per-part min + winner filter
    best = supply_asia.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == Q2_SIZE) & (F.col("p_type") == Q2_TYPE)
    ).select("p_partkey", "p_name")
    return (
        supply_asia.join(
            best,
            (F.col("l_partkey") == F.col("m_partkey"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "unit_cost")
    )


Q11_NATION = "NATION_5"
Q11_FRAC = 0.002


@query(
    "tpch_q11",
    priority=0,
    oracle=f"""
    WITH natval AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS val
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = '{Q11_NATION}'
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(val AS DOUBLE) AS value
    FROM natval
    WHERE CAST(val AS DOUBLE) >
          {Q11_FRAC} * (SELECT CAST(SUM(val) AS DOUBLE) FROM natval)
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): per-part value within
    one nation's supply, kept only when above a FRACTION of the nation's
    total — the group-then-scalar-threshold shape (same SubqueryExec
    pattern as heavy_hitters_words, here over a decimal join aggregate).
    The per-part values materialize once (persisted, part-cardinality);
    the total is an exact decimal sum over THAT table, never a second
    lineitem pass. One fact shuffle on l_partkey; the nation's suppliers
    broadcast."""
    from serverless_mapreduce_spark.caching import persist_tracked

    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == Q11_NATION)
    nat_supp = s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey"
    )
    val = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    natval = persist_tracked(
        li.join(F.broadcast(nat_supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(val).alias("val"))
    )
    from serverless_mapreduce_spark.catalog import unique_view

    natview = unique_view(natval, "tpch_q11_natval")
    out = spark.sql(
        f"""SELECT l_partkey, CAST(val AS DOUBLE) AS value
            FROM {natview}
            WHERE CAST(val AS DOUBLE) >
                  {Q11_FRAC} * (SELECT CAST(SUM(val) AS DOUBLE) FROM {natview})"""
    )
    # view lifetime: dropped at the next query-scoped release_cached()
    # (catalog.unique_view contract — no eager drop, Spark Connect safe)
    return out


Q16_EXCL_BRAND, Q16_EXCL_TYPE = "Brand#12", "PROMO"
Q16_SIZES = (1, 5, 10, 15, 20, 25)


@query(
    "tpch_q16",
    priority=0,
    oracle=f"""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> '{Q16_EXCL_BRAND}'
      AND p_type <> '{Q16_EXCL_TYPE}'
      AND p_size IN {Q16_SIZES}
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (part-supplier relationship count): distinct suppliers
    per part attribute triple, excluding blacklisted suppliers — the
    "complaints" NOT IN becomes a negative-balance exclusion. The NOT IN
    is expressed as a LEFT ANTI join (the keys are non-null, so the
    null-aware subtlety of NOT IN is vacuous — the oracle keeps the NOT
    IN spelling); the excluded set is tiny and broadcasts. Scale shape:
    part (size IN-list pushed to the scan) broadcasts; the distinct count
    is two-phase partial-distinct on (attrs, suppkey), so the shuffle
    carries deduplicated quads."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != Q16_EXCL_BRAND)
        & (F.col("p_type") != Q16_EXCL_TYPE)
        & F.col("p_size").isin(*Q16_SIZES)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q20_NATION = "NATION_7"
Q20_PART_LIKE = "%bolt%"
Q20_FROM, Q20_TO = "1997-01-01", "1998-01-01"
Q20_QTY = 200


@query(
    "tpch_q20",
    priority=0,
    oracle=f"""
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = '{Q20_NATION}'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE '{Q20_PART_LIKE}'
          AND l_shipdate >= TIMESTAMP '{Q20_FROM} 00:00:00'
          AND l_shipdate < TIMESTAMP '{Q20_TO} 00:00:00'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > {Q20_QTY})
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers in one nation who
    moved excess volume of one part family in one year — the
    nested-IN-with-HAVING shape ("excess stock" becomes shipped volume;
    no availqty in the fixture). Plan: the part family broadcasts into
    the year-pruned lineitem scan, the HAVING aggregate groups on
    l_suppkey, and the result (a set of supplier keys) drives a LEFT SEMI
    join against the nation's suppliers — supplier-side work is all
    broadcast-scale."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(Q20_FROM).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(Q20_TO).cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(
        F.col("p_name").like(Q20_PART_LIKE)
    ).select("p_partkey")
    movers = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > Q20_QTY)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == Q20_NATION)
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
    )


# --- bloom-filter runtime prefilter for a non-broadcastable semi-join ---------

#: Bloom bitmap size in BITS (2^19 = 64 KiB as 8192 longs) and the hash
#: seeds (k = 4 hash functions via xxhash64(key, seed)). At the fixture's
#: ~6k urgent orders k*n/m ≈ 0.046 → FP rate (1-e^-0.046)^4 ≈ 4e-6; at
#: 100x keys scale m up with n (the bitmap stays KBs-to-MBs — the whole
#: point vs broadcasting the key set itself).
BLOOM_BITS = 1 << 19
BLOOM_SEEDS = (0x9E37, 0x85EB, 0xC2B2, 0x27D4)


@query(
    "bloom_prefilter_join",
    priority=150,
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_returnflag
    """,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RUNTIME BLOOM-FILTER prefilter for a fact⋈filtered-dim semi-join —
    the technique Spark's own runtime row-level filtering
    (spark.sql.optimizer.runtime.bloomFilter.*) automates, built
    explicitly so the mechanics are visible and testable: (1) aggregate
    the filtered key set into a FIXED-SIZE bitmap — each key sets k bit
    positions (xxhash64 with k seeds), positions fold into (word, mask)
    pairs, one bit_or aggregation yields <= 8192 longs regardless of key
    count (the ONLY driver-side object, 64 KiB, size-independent of the
    data); (2) the fact side tests all k bits against the bitmap shipped
    as a 1-ROW BROADCAST (element_at into UnsafeArrayData, O(1) per
    probe — NOT an array literal: F.lit(list) compiles to CreateArray
    with 8192 literal children that codegen re-materializes per row, a
    measured ~3 s regression at sf0.1), discarding the vast majority of
    non-matching rows BEFORE the shuffle; (3) the surviving sliver
    exact-semi-joins the key set (removing the ~4e-6 false positives),
    so the result is bit-identical to the plain semi-join the oracle
    runs. Why it matters at 100 TB: when the filtered dim is too big to
    broadcast, a shuffle semi-join moves the FULL fact table; the bloom
    moves only matching rows (~20% here) for 64 KiB of ship cost. The
    final join is left unhinted: at fixture scale Spark broadcasts it,
    above the threshold it shuffles the already-prefiltered sliver —
    both correct.
    Parity: reference has no bloom surface; this extends E7/E9's shuffle-
    economy story (SURVEY §2) the way AQE extends static planning."""
    keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    bitmap = bloom_build_bitmap(keys, "o_orderkey")
    fact = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    pre = bloom_prefilter(fact, "l_orderkey", bitmap).select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    return (
        pre.join(keys, pre.l_orderkey == keys.o_orderkey, "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            dsum("l_extendedprice", "sum_price"),
        )
    )


def bloom_build_bitmap(keys: DataFrame, keycol: str) -> list[int]:
    """Aggregate a key frame into the BLOOM_BITS bitmap: k positions per
    key (xxhash64 with BLOOM_SEEDS), folded to (word, mask) and bit_or'd.
    The collect is bounded at BLOOM_BITS/64 rows (64 KiB) regardless of
    key count. Shared by the registered query and its FP-budget pytest
    so the test exercises the real build, not a private copy."""
    m, nwords = BLOOM_BITS, BLOOM_BITS >> 6
    pos_cols = [
        F.pmod(F.xxhash64(F.col(keycol), F.lit(s)), F.lit(m)).alias(f"p{i}")
        for i, s in enumerate(BLOOM_SEEDS)
    ]
    words = {
        r["word"]: r["bits"]
        for r in keys.select(F.explode(F.array(*pos_cols)).alias("pos"))
        .selectExpr(
            "CAST(pos DIV 64 AS INT) AS word",
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT)) AS mask",
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
        .collect()  # bounded: <= nwords rows (64 KiB), never key-count-sized
    }
    return [words.get(i, 0) for i in range(nwords)]


def bloom_prefilter(df: DataFrame, keycol: str, bitmap: list[int]) -> DataFrame:
    """Rows of ``df`` whose ``keycol`` passes every bloom bit — membership
    test against the bitmap shipped as a 1-row broadcast (see the query
    docstring for why not a literal). May pass false positives (rate set
    by BLOOM_BITS/BLOOM_SEEDS); never drops a true member."""
    m = BLOOM_BITS
    spark = df.sparkSession
    bm_df = spark.createDataFrame([(bitmap,)], "_bm array<bigint>")
    probe = df.crossJoin(F.broadcast(bm_df))
    for i, s in enumerate(BLOOM_SEEDS):
        probe = probe.withColumn(
            f"_p{i}", F.pmod(F.xxhash64(F.col(keycol), F.lit(s)), F.lit(m))
        )
    test = " AND ".join(
        f"(element_at(_bm, CAST(_p{i} DIV 64 AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod(_p{i}, 64) AS INT))) <> 0"
        for i in range(len(BLOOM_SEEDS))
    )
    return probe.filter(F.expr(test)).drop(
        "_bm", *[f"_p{i}" for i in range(len(BLOOM_SEEDS))]
    )