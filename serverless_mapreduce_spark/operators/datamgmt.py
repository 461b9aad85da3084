"""Data-management operators: CDC-style upsert (MERGE), order-independent
table checksums, and semi-structured (JSON) column extraction.

The reference has no analog for any of these — its sinks overwrite whole S3
prefixes per job (``data_sources/output_handler_s3.py:41-53``) and its only
"typed" input is the DynamoDB column projection
(``data_sources/input_handler_dynamodb.py:154-158``) — but a user operating
the same pipelines at 100 TB needs exactly these three: apply a change batch
without rewriting the world, prove two copies of a table are identical
without moving either, and query the JSON blobs that real event streams
carry.

Scale stance (100 TB):
- The upsert is the shuffle-once MERGE plan: union the snapshot with the
  change batch, one hash shuffle on the key, ``max_by(row, version)`` picks
  the survivor. No join, no second pass, no driver-side diffing; the same
  plan is how Delta/Iceberg MERGE compiles when the change batch is too big
  to broadcast.
- The checksum is a pure map + one 1-row aggregation: each row hashes
  independently (embarrassingly parallel, no shuffle of data — only of
  64-bit partials), and both XOR and SUM aggregates are commutative, so the
  result is identical under any partitioning, ordering, or cluster size.
  This is how you validate a 100 TB migration without sorting either side.
- JSON extraction is a JVM-side row function (no Python), so it fuses into
  the scan; the aggregate behind it is an ordinary one-shuffle groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.registry import query
from serverless_mapreduce_spark.session import utc_session


# --- CDC upsert: apply a change batch to a snapshot in one shuffle ------------

#: Deterministic synthetic change batch derived from orders itself:
#: every 7th key is an UPDATE (status forced to 'U', a flat $5.00 fee added),
#: every 11th key an INSERT under a fresh key. Insert keys are -(k+1), not
#: -k: the fixture contains o_orderkey = 0 (divisible by both mods), and a
#: plain negation would collide the key-0 insert with the key-0 update —
#: a change batch with duplicate keys has no well-defined MERGE result.
UPSERT_UPDATE_MOD = 7
UPSERT_INSERT_MOD = 11


#: Shared change-batch derivation — ONE definition of the synthetic
#: update/insert batches, consumed by merge_upsert_orders (which applies
#: them) AND cdc_diff_snapshots (whose docstring claims it diffs exactly
#: these batches; sharing the builder makes that claim structural).
#: ``excl_mod`` additionally excludes keys from the update batch
#: (the CDC delete set must not also be updated).
_SQL_ORDERS_BASE = """
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
"""


def _sql_update_batch(extra_pred: str = "") -> str:
    return (
        f"SELECT o_orderkey, 'U' AS o_orderstatus, cents + 500 AS cents "
        f"FROM base WHERE o_orderkey % {UPSERT_UPDATE_MOD} = 0{extra_pred}"
    )


def _sql_insert_batch() -> str:
    return (
        f"SELECT -(o_orderkey + 1), 'N', cents "
        f"FROM base WHERE o_orderkey % {UPSERT_INSERT_MOD} = 0"
    )


def _orders_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )


def _update_batch(base: DataFrame, excl_mod: int | None = None) -> DataFrame:
    k = F.col("o_orderkey")
    b = base.filter(k % UPSERT_UPDATE_MOD == 0)
    if excl_mod is not None:
        b = b.filter(k % excl_mod != 0)
    return b.select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("cents") + 500).alias("cents"),
    )


def _insert_batch(base: DataFrame) -> DataFrame:
    return base.filter(F.col("o_orderkey") % UPSERT_INSERT_MOD == 0).select(
        (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "cents",
    )


@query(
    "merge_upsert_orders",
    priority=50,
    oracle=f"""
    WITH base AS ({_SQL_ORDERS_BASE}),
    changes AS (
      {_sql_update_batch()}
      UNION ALL
      {_sql_insert_batch()}
    )
    SELECT o_orderkey, o_orderstatus, cents FROM changes
    UNION ALL
    SELECT b.o_orderkey, b.o_orderstatus, b.cents
    FROM base b WHERE NOT EXISTS (
      SELECT 1 FROM changes c WHERE c.o_orderkey = b.o_orderkey
    )
    """,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / upsert: apply a change batch (updates + inserts) onto the
    orders snapshot — the SCD-type-1 "current state" operation behind every
    incremental pipeline. Plan: tag snapshot rows version=0 and change rows
    version=1, UNION, then one hash aggregation per key keeps
    ``max_by(row, version)`` — the change wins where both exist. ONE
    shuffle of snapshot+changes, no join (the oracle's NOT EXISTS anti-join
    is the naive two-pass form). Prices move as integer cents so updated
    values are exact in both engines."""
    base = _orders_base(spark, sf_dir)
    updates = _update_batch(base)
    inserts = _insert_batch(base)
    tagged = base.withColumn("version", F.lit(0)).unionByName(
        updates.unionByName(inserts).withColumn("version", F.lit(1))
    )
    row = F.struct("o_orderstatus", "cents")
    return (
        tagged.groupBy("o_orderkey")
        .agg(F.max_by(row, F.col("version")).alias("r"))
        .select("o_orderkey", "r.o_orderstatus", "r.cents")
    )


# --- order-independent table checksum ------------------------------------------

#: Columns of the canonical row string, in fixed order. Doubles are
#: canonicalized through DECIMAL cents and timestamps through an explicit
#: format so both engines render byte-identical strings.
_CHECKSUM_HEX_DIGITS = 12  # 48 bits per row: SUM of 2^63/2^48 ≈ 32T rows safe


@query(
    "table_checksum_orders",
    priority=50,
    oracle=f"""
    WITH rows_ AS (
      SELECT CAST(concat('0x', substr(md5(concat_ws('|',
               CAST(o_orderkey AS VARCHAR),
               CAST(o_custkey AS VARCHAR),
               o_orderstatus,
               CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS VARCHAR),
               strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'),
               o_orderpriority)), 1, {_CHECKSUM_HEX_DIGITS})) AS BIGINT) AS h
      FROM orders
    )
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR) AS sum_check,
           BIT_XOR(h) AS xor_check
    FROM rows_
    """,
)
def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent TABLE CHECKSUM: every row is canonicalized to a
    fixed string form, md5-hashed, truncated to 48 bits, and folded with
    two commutative aggregates (SUM catches duplicate/missing rows that
    XOR's self-cancelation would hide; XOR is immune to SUM's carry
    structure) plus the row count. Identical under any partitioning,
    row order, file layout, or engine — so two 100 TB copies compare by
    exchanging three scalars. The map side is embarrassingly parallel
    (hash fuses into the scan; only 64-bit partials shuffle). Canonical
    form pins the usual cross-engine traps: doubles via DECIMAL cents,
    timestamps via an explicit strftime."""
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .cast("string"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, _CHECKSUM_HEX_DIGITS), 16, 10).cast(
        "bigint"
    )
    spark = utc_session(spark)
    return (
        table(spark, sf_dir, "orders")
        .select(h.alias("h"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("h").cast("decimal(38,0)")).cast("string").alias("sum_check"),
            F.bit_xor("h").alias("xor_check"),
        )
    )


# --- semi-structured: JSON property extraction + aggregation -------------------

@query(
    "json_props_agg",
    priority=50,
    oracle="""
    SELECT event_type,
           COUNT(k) AS n_with_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(k), 9) AS avg_k
    FROM (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    GROUP BY event_type
    """,
)
def json_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull an integer property out of the raw
    JSON ``props`` column and aggregate it per event type. The extraction
    (``get_json_object``) is a JVM-side row expression — it fuses into the
    scan under whole-stage codegen, no Python, no intermediate
    materialization — and the aggregate is one ordinary shuffle with
    map-side partials. At 100 TB prefer parsing ONCE into a typed struct
    column (``from_json`` at ingest, stored as parquet) over re-extracting
    per query; this operator is the query-time form for data you don't
    own. The average divides two exact integers (one deterministic double
    op, rounded to absorb nothing — kept for cross-engine discipline)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        table(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(
                F.sum("k").cast("double") / F.count("k").cast("double"), 9
            ).alias("avg_k"),
        )
    )


# --- table profiling -----------------------------------------------------------

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
)


#: Columns whose min/max go through DECIMAL(18,2) before stringifying:
#: engines disagree on double→string rendering (Spark emits scientific
#: notation for |x| >= 1e7, DuckDB shortest-repr), so a fixed-scale decimal
#: makes the rendering engine-independent at any fixture value range.
_PROFILE_DECIMAL_COLS = frozenset({"o_totalprice"})

#: The typed value slots of a profile cell (see profile_orders).
_PROFILE_SLOTS = {"n": "bigint", "d": "double", "s": "string"}


def _profile_minmax_sql(c: str) -> str:
    if c in _PROFILE_DECIMAL_COLS:
        return (
            f"CAST(CAST(MIN({c}) AS DECIMAL(18,2)) AS VARCHAR) AS min_str,\n"
            f"           CAST(CAST(MAX({c}) AS DECIMAL(18,2)) AS VARCHAR) AS max_str"
        )
    return (
        f"CAST(MIN({c}) AS VARCHAR) AS min_str,\n"
        f"           CAST(MAX({c}) AS VARCHAR) AS max_str"
    )


def _profile_oracle() -> str:
    arms = []
    for c in _PROFILE_COLS:
        arms.append(f"""
    SELECT '{c}' AS col,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           {_profile_minmax_sql(c)}
    FROM orders""")
    return "\n    UNION ALL".join(arms)


@query("profile_orders", priority=50, oracle=_profile_oracle())
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE PROFILING: per-column null count, exact distinct count, and
    min/max — the first query every data platform runs against a new
    table (drives skew decisions, join-key selection, and data-quality
    alerts downstream). All five columns profile in ONE pass over the
    scan: each row unpivots into one cell per column, the cells aggregate
    per (column, value) with map-side partials, and a second aggregate per
    column counts the non-null values (the exact distinct count), sums the
    null rows and takes min/max. The oracle's UNION of five scans is the
    naive form. At 100 TB swap the distinct count for
    approx_count_distinct over the cells (HLL partials merge map-side, no
    per-value shuffle) — exact is registered because the oracle can
    verify it. A cell carries its value in the slot of its type (bigint,
    double or string), so values compare as their own type and one output
    schema covers heterogeneous columns; min/max render as strings, and
    double columns go through DECIMAL(18,2) first because the engines'
    double→string renderings differ (see _PROFILE_DECIMAL_COLS).

    Five ``countDistinct`` aggregates in one ``agg`` would do the same in
    one plan, but Spark's multi-distinct rewrite orders its expand
    projections by a hash of the columns' expression ids, which are new on
    every run: each run got a different expand and recompiled ~10 Java
    classes. The explicit two-level aggregate plans the same on every run.
    ensure_parallelism spreads the 5x unpivot off the single-row-group
    fixture scan (a no-op on real multi-row-group data)."""
    from serverless_mapreduce_spark.catalog import ensure_parallelism

    o = ensure_parallelism(spark, table(spark, sf_dir, "orders"))
    dtypes = dict(o.dtypes)
    slot = {
        c: "d" if c in _PROFILE_DECIMAL_COLS else "s" if dtypes[c] == "string" else "n"
        for c in _PROFILE_COLS
    }
    cells = o.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        *[
                            (F.col(c) if slot[c] == k else F.lit(None)).cast(t).alias(k)
                            for k, t in _PROFILE_SLOTS.items()
                        ],
                    )
                    for c in _PROFILE_COLS
                ]
            )
        )
    )
    values = cells.groupBy("col", *_PROFILE_SLOTS).agg(F.count("*").alias("rows"))
    present = F.col("n").isNotNull() | F.col("d").isNotNull() | F.col("s").isNotNull()

    def rendered(agg) -> Column:
        return F.coalesce(
            agg("n").cast("string"),
            agg("d").cast("decimal(18,2)").cast("string"),
            agg("s"),
        )

    return values.groupBy("col").agg(
        F.sum(F.when(present, 0).otherwise(F.col("rows"))).alias("n_nulls"),
        F.count(F.when(present, 1)).alias("n_distinct"),
        rendered(F.min).alias("min_str"),
        rendered(F.max).alias("max_str"),
    )


# --- declarative data-quality expectations ------------------------------------

#: Upper bound for the deliberately-failing price expectation: the fixture's
#: o_totalprice tops out just under 500k, so a 400k cap yields real
#: violations — the report must prove it can COUNT failures, not just emit
#: zeros.
DQ_PRICE_CAP = 400000


@query(
    "data_quality_checks",
    priority=0,
    oracle=f"""
    SELECT check_name, violations, violations = 0 AS passed FROM (
      SELECT 'o_orderkey_null' AS check_name,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations FROM orders
      UNION ALL
      SELECT 'o_orderkey_dup',
             CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
      UNION ALL
      SELECT 'o_orderdate_null',
             CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
      UNION ALL
      SELECT 'o_totalprice_nonpositive',
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
      UNION ALL
      SELECT 'o_totalprice_over_cap',
             CAST(SUM(CASE WHEN o_totalprice > {DQ_PRICE_CAP} THEN 1 ELSE 0 END)
                  AS BIGINT)
        FROM orders
      UNION ALL
      SELECT 'o_custkey_fk_orphan', CAST(COUNT(*) AS BIGINT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_custkey IS NULL
    )
    """,
)
def data_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARATIVE DATA-QUALITY EXPECTATIONS (dbt-test / Deequ style): one
    report row per constraint — ``(check_name, violations, passed)`` — over
    the orders table: PK non-null + uniqueness, required-column non-null,
    value-range bounds, and referential integrity against customer. The
    reference pipelines ingest blindly (``input_handler_s3.py`` hands bytes
    straight to the mapper); a 100 TB ingest needs the gate in front.

    Plan shape (what survives a 100x scale-up): every row-local expectation
    — nulls, ranges, the cap — folds into ONE aggregation in a single scan
    (conditional sums fuse into the same codegen stage; adding a tenth
    check adds a column, not a pass). PK uniqueness rides the same
    aggregate as ``count(*) - count(distinct pk)``. Referential integrity
    is the one check that genuinely needs a second relation: a LEFT ANTI
    join with the dimension broadcast, so the fact table still streams
    through exactly once and nothing shuffles. The checks are assembled
    with ``stack`` + a 1-row union, never a cross join (the registry-wide
    plan lint forbids CartesianProduct)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    wide = o.agg(
        F.sum(F.col("o_orderkey").isNull().cast("bigint")).alias("pk_null"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias("pk_dup"),
        F.sum(F.col("o_orderdate").isNull().cast("bigint")).alias("date_null"),
        F.sum((F.col("o_totalprice") <= 0).cast("bigint")).alias("nonpos"),
        F.sum((F.col("o_totalprice") > DQ_PRICE_CAP).cast("bigint")).alias(
            "over_cap"
        ),
    )
    row_checks = wide.select(
        F.expr(
            "stack(5,"
            " 'o_orderkey_null', pk_null,"
            " 'o_orderkey_dup', pk_dup,"
            " 'o_orderdate_null', date_null,"
            " 'o_totalprice_nonpositive', nonpos,"
            " 'o_totalprice_over_cap', over_cap)"
            " AS (check_name, violations)"
        )
    )
    orphans = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("violations"))
        .select(F.lit("o_custkey_fk_orphan").alias("check_name"), "violations")
    )
    return row_checks.unionAll(orphans).withColumn(
        "passed", F.col("violations") == 0
    )


# --- semi-structured: VARIANT (parse once, extract many) -----------------------

@query(
    "variant_props_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(k) AS BIGINT) AS n_with_k,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(MAX(k) AS BIGINT) AS max_k,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing
    FROM (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    GROUP BY event_type
    """,
)
def variant_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through Spark 4's VARIANT type:
    ``parse_json`` decodes each props payload ONCE into the binary
    variant encoding, and every field access is then a typed
    ``variant_get`` over that parsed value — vs the string-path
    sibling (json_props_agg, get_json_object) which re-parses the raw
    JSON text per extraction expression. At 100 TB of telemetry with
    many extracted fields per row, parse-once is the difference between
    one decode and F decodes per row, and variant columns persist to
    parquet as shredded binary for pushdown-friendly storage. Extraction
    semantics: ``try_variant_get`` returns NULL for missing paths (the
    n_missing audit column counts them) exactly like the oracle's
    json_extract_string, so the two engines agree on absent keys. The
    aggregation itself is one event_type-keyed exchange; COUNT(DISTINCT)
    rewrites to the standard two-phase expand."""
    # try_parse_json, not parse_json: the oracle's json_extract_string is
    # lenient (NULL on malformed JSON, counted under n_missing); the strict
    # variant would fail the whole query on one bad payload
    v = F.try_parse_json("props")
    d = table(spark, sf_dir, "events").select(
        "event_type", F.try_variant_get(v, "$.k", "bigint").alias("k")
    )
    return d.groupBy("event_type").agg(
        F.count("k").cast("bigint").alias("n_with_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
        F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_missing"),
    )


# --- k-anonymity audit -------------------------------------------------------

K_ANON = 5
#: Account-balance band width (cents) for the quasi-identifier: bands of
#: $1000 — coarse enough to be a realistic generalization level, fine
#: enough that sparse cells exist in the fixture.
K_ANON_BAND_CENTS = 100_000


@query(
    "k_anonymity_audit",
    priority=150,
    oracle=f"""
    WITH cells AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(FLOOR(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                  / {K_ANON_BAND_CENTS}.0) AS BIGINT) AS bal_band,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, bal_band, n_rows,
           n_rows < {K_ANON} AS violates_k
    FROM cells
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT — the governance check that runs before a table
    is released for training: group rows by their QUASI-IDENTIFIER tuple
    (nation, market segment, $1000 account-balance band — the columns an
    attacker can link from public data) and flag every cell smaller than
    k=5: rows in those cells are re-identifiable and must be
    suppressed or generalized further. Complements pii_scrub (which
    removes DIRECT identifiers; k-anonymity is about identifying
    COMBINATIONS). One hash aggregation over the quasi-identifier key —
    scan-speed at any scale, and the cell histogram it produces is
    exactly what a generalization-lattice search (Mondrian/Incognito)
    consumes upstream. Exactness: the balance band is FLOOR of an exact
    cent integer divided by the band width (identical IEEE quotient both
    engines); everything else is integer counts."""
    cells = (
        table(spark, sf_dir, "customer")
        .groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(
                (F.col("c_acctbal").cast("decimal(18,2)") * 100)
                .cast("bigint")
                / F.lit(float(K_ANON_BAND_CENTS))
            )
            .cast("bigint")
            .alias("bal_band"),
        )
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    return cells.select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        "n_rows",
        (F.col("n_rows") < K_ANON).alias("violates_k"),
    )


# --- change data feed: diff two snapshot versions ----------------------------

#: Keys deleted in the v1 snapshot (alongside merge_upsert_orders' update
#: and insert batches) so the change feed exercises all three ops.
CDC_DELETE_MOD = 13


@query(
    "cdc_diff_snapshots",
    priority=150,
    oracle=f"""
    WITH base AS ({_SQL_ORDERS_BASE}),
    v1 AS (
      {_sql_update_batch(f" AND o_orderkey % {CDC_DELETE_MOD} <> 0")}
      UNION ALL
      {_sql_insert_batch()}
      UNION ALL
      SELECT o_orderkey, o_orderstatus, cents FROM base
      WHERE o_orderkey % {UPSERT_UPDATE_MOD} <> 0
        AND o_orderkey % {CDC_DELETE_MOD} <> 0
    )
    SELECT COALESCE(b.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS op,
           b.o_orderstatus AS before_status, b.cents AS before_cents,
           n.o_orderstatus AS after_status, n.cents AS after_cents
    FROM base b FULL OUTER JOIN v1 n ON b.o_orderkey = n.o_orderkey
    WHERE b.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR b.o_orderstatus <> n.o_orderstatus OR b.cents <> n.cents
    """,
)
def cdc_diff_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED by SNAPSHOT DIFF — Delta Lake's CDF/"table_changes"
    semantics derived from two versions when the writer didn't record
    per-row change metadata: v0 is the orders snapshot, v1 applies
    merge_upsert_orders' update/insert batches plus a delete batch, and
    the feed is the keyed FULL OUTER diff emitting (op, before, after)
    for every inserted / updated / deleted key — unchanged rows produce
    NOTHING, which is what makes the feed consumable incrementally
    downstream (reprocess |changes|, not |table|). Plan: one co-keyed
    full-outer join (both sides hash to the same key layout) + a
    row-local change predicate; at 100 TB both snapshots are bucketed
    by key and the join is exchange-free. Exactness: integer cents and
    status strings only; op classification is NULL-pattern matching —
    identical in both engines."""
    base = _orders_base(spark, sf_dir)
    k = F.col("o_orderkey")
    updates = _update_batch(base, excl_mod=CDC_DELETE_MOD)
    inserts = _insert_batch(base)
    carried = base.filter(
        (k % UPSERT_UPDATE_MOD != 0) & (k % CDC_DELETE_MOD != 0)
    )
    v1 = updates.unionByName(inserts).unionByName(carried)
    b = base.alias("b")
    n = v1.alias("n")
    joined = b.join(
        n, F.col("b.o_orderkey") == F.col("n.o_orderkey"), "full_outer"
    )
    changed = joined.filter(
        F.col("b.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("b.o_orderstatus") != F.col("n.o_orderstatus"))
        | (F.col("b.cents") != F.col("n.cents"))
    )
    return changed.select(
        F.coalesce(F.col("b.o_orderkey"), F.col("n.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.when(F.col("b.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("op"),
        F.col("b.o_orderstatus").alias("before_status"),
        F.col("b.cents").alias("before_cents"),
        F.col("n.o_orderstatus").alias("after_status"),
        F.col("n.cents").alias("after_cents"),
    )


# --- deterministic epoch shuffle ----------------------------------------------

EPOCH_SHUFFLE_SEED = 7  #: epoch number; changing it reshuffles reproducibly


@query(
    "epoch_shuffle_order",
    priority=150,
    oracle=f"""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
             ORDER BY md5(concat('{EPOCH_SHUFFLE_SEED}:',
                                 CAST(doc_id AS VARCHAR)))
                      || ':' || CAST(doc_id AS VARCHAR)) - 1
                AS BIGINT) AS shuffle_pos
    FROM documents
    """,
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC EPOCH SHUFFLE: assign every document its position in
    a seeded pseudo-random global order — the reproducible data-order
    contract training runs need (same seed -> same byte order on any
    cluster, resumable mid-epoch by position; next epoch = next seed).
    The permutation key is ``md5(seed:doc_id)`` with the doc_id appended
    so keys are UNIQUE even under an md5 collision (the prefix
    primitive's requirement); identical string arithmetic runs on both
    engines.

    Scale shape: a global ROW_NUMBER with no partition key would funnel
    the corpus through ONE task; this rides the range-partitioned
    two-pass prefix primitive instead (functions/prefix.py — the
    sort_by_value machinery: range partition on the key, per-range
    running counts, P-row driver round trip for the offsets). Cost is
    two narrow passes regardless of corpus size — the 100 TB epoch
    shuffle is exactly this plan."""
    from serverless_mapreduce_spark.functions.prefix import prefix_sums

    keyed = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.md5(
                F.concat(
                    F.lit(f"{EPOCH_SHUFFLE_SEED}:"),
                    F.col("doc_id").cast("string"),
                )
            ),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        ).alias("k"),
        F.lit(1).alias("one"),
    )
    return prefix_sums(keyed, "k", ["one"]).select(
        "doc_id", (F.col("cum_one") - 1).cast("bigint").alias("shuffle_pos")
    )


# --- Benford leading-digit audit ----------------------------------------------

#: Benford expected leading-digit frequencies as EXACT ppm constants
#: (round(log10(1+1/d)*1e6); they sum to exactly 1_000_000) — embedded as
#: integers so neither engine evaluates libm log10 at query time.
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def _benford_case_sql() -> str:
    return (
        "CASE lead_digit "
        + " ".join(f"WHEN {d} THEN {p}" for d, p in BENFORD_PPM.items())
        + " END"
    )


@query(
    "benford_digit_audit",
    priority=150,
    oracle=f"""
    WITH cents AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS c
      FROM lineitem
    ),
    digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS lead_digit
      FROM cents WHERE c > 0
    ),
    counts AS (
      SELECT lead_digit, CAST(COUNT(*) AS BIGINT) AS n
      FROM digits GROUP BY lead_digit
    )
    SELECT lead_digit, n,
           (n * 1000000)
             // (SELECT CAST(SUM(n) AS BIGINT) FROM counts) AS observed_ppm,
           CAST({_benford_case_sql()} AS BIGINT) AS expected_ppm,
           abs((n * 1000000)
               // (SELECT CAST(SUM(n) AS BIGINT) FROM counts)
               - {_benford_case_sql()}) AS dev_ppm
    FROM counts
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW AUDIT over line-item amounts: observed vs expected
    leading-digit frequency and the per-digit deviation — the
    fabricated-data / ETL-corruption screen financial data-quality
    suites run (a synthesized or truncated amount column drifts from
    the log-uniform digit curve long before summary stats notice).

    Exactness: the leading digit is a pure STRING op on the exact
    integer cents (never float log10 of the value); Benford's expected
    frequencies are embedded as integer ppm constants that sum to
    exactly 1e6 (computed once offline — no libm on either engine);
    shares are truncating integer division (module contract). Plan: one
    scan projecting a single column, one 9-group aggregation with
    map-side partials, then scalar subqueries over the persisted 9-row
    table — metadata-sized after the scan at any corpus size."""
    from serverless_mapreduce_spark.caching import persist_tracked
    from serverless_mapreduce_spark.catalog import unique_view

    cents = (
        F.col("l_extendedprice").cast("decimal(18,2)") * 100
    ).cast("bigint")
    counts = persist_tracked(
        table(spark, sf_dir, "lineitem")
        .select(cents.alias("c"))
        .filter(F.col("c") > 0)
        .select(
            F.substring(F.col("c").cast("string"), 1, 1)
            .cast("bigint")
            .alias("lead_digit")
        )
        .groupBy("lead_digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    v = unique_view(counts, "benford_counts")
    return spark.sql(
        f"""
        SELECT lead_digit, n,
               (n * 1000000) DIV (SELECT SUM(n) FROM {v}) AS observed_ppm,
               CAST({_benford_case_sql()} AS BIGINT) AS expected_ppm,
               abs((n * 1000000) DIV (SELECT SUM(n) FROM {v})
                   - {_benford_case_sql()}) AS dev_ppm
        FROM {v}
        """
    )
