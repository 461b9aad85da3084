"""Text workloads W9/W10 + text-analysis extensions (language-ID, quality
scoring, token counting, fingerprinting) over the ``documents`` table.

W9 word_count reproduces ``word_count_map.py:1-17`` / ``word_count_reduce.py``
(tokenize on the reference's delimiter regex, count per token); W10 url_count
reproduces ``performance_functions/simplified_page_rank.py:1-43`` (findall of
``https?://…`` per line, count per URL).

All ops are pure built-in column expressions (split / explode / regexp /
aggregate) — zero Python UDFs in the hot path, so they stay inside
WholeStageCodegen and scale linearly: tokenize/explode is a narrow map, the
count is one hash shuffle on the token (high-cardinality keys distribute
well; AQE handles stragglers).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.operators.dedup import SQL_CONTENT_KEY, _tokens
from serverless_mapreduce_spark.registry import query

# The reference's tokenizer delimiters (word_count_map.py:12).
WC_DELIM = r"; |, |\*|\n| |:|\."
URL_RE = r"https?://[^\s]+"


# --- W9: word count -----------------------------------------------------------

@query(
    "word_count", priority=200,
    oracle=f"""
    SELECT word, COUNT(*) AS cnt
    FROM (
      SELECT unnest(string_split_regex(text, '{WC_DELIM}')) AS word
      FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize → explode → count per token. Narrow split/explode, one
    shuffle on the word."""
    return (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", WC_DELIM)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "cnt")
    )


# --- W10: URL in-link count ("simplified page rank") --------------------------

@query(
    "url_count", priority=200,
    oracle=f"""
    SELECT url, COUNT(*) AS cnt
    FROM (
      SELECT unnest(regexp_extract_all(
               text || ' see http://' || source || '.example.com/' || CAST(doc_id % 7 AS VARCHAR),
               '{URL_RE}')) AS url
      FROM documents
    )
    GROUP BY url
    """,
)
def url_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """findall(https?://…) per document → count per URL. The fixture corpus
    carries no literal URLs, so each doc is suffixed with a deterministic
    synthetic link (same expression in the oracle) — the regex-extract →
    explode → count pipeline is exercised on real matches either way."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" see http://"),
            F.col("source"),
            F.lit(".example.com/"),
            (F.col("doc_id") % 7).cast("string"),
        ),
    )
    return (
        docs.select(F.explode(F.regexp_extract_all("text2", F.lit(URL_RE), 0)).alias("url"))
        .groupBy("url")
        .count()
        .withColumnRenamed("count", "cnt")
    )


# --- extension: token statistics (whitespace + BPE-ish regex) ------------------

_BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@query(
    "token_stats", priority=200,
    oracle=f"""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), w -> w <> '')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS bpe_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex token count
    (lowercase word / number / single-symbol pieces). Pure per-row column
    expressions — embarrassingly parallel at any scale."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_BPE_RE), 0)).alias("bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


# --- extension: quality scoring ------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in _STOPWORDS) + "]"


@query(
    "quality_score", priority=200,
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks,
             length(text) AS n,
             length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND(CAST(len(list_filter(toks, w -> list_contains({_SW_SQL}, w))) AS DOUBLE)
                 / GREATEST(len(toks), 1), 6) AS stopword_ratio,
           ROUND(CAST(n_punct AS DOUBLE) / GREATEST(n, 1), 6) AS punct_ratio,
           (len(toks) >= 20 AND len(toks) <= 1000) AS len_ok
    FROM t
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: token count, stopword ratio, punctuation
    ratio, length gate — the standard cheap pre-filters of a training-data
    pipeline. Ratios rounded to 6dp (single IEEE division; rounding only
    guards repr differences)."""
    toks = _tokens("text")
    n_tok = F.size(toks)
    sw = F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
    n_punct = F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", ""))
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(sw.cast("double") / F.greatest(n_tok, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(n_punct.cast("double") / F.greatest(F.length("text"), F.lit(1)), 6).alias(
            "punct_ratio"
        ),
        ((n_tok >= 20) & (n_tok <= 1000)).alias("len_ok"),
    )


# --- extension: language ID (marker-word heuristic) ----------------------------

#: lang_id's oracle as a named chain — reused by filter_cascade_audit so
#: the cascade's language stage is the registered classifier, verbatim.
_LANG_ID_ORACLE = """
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      FROM documents
    )
    SELECT doc_id, lang,
           CASE
             WHEN len(list_filter(toks, w -> w IN ('the', 'a', 'is'))) * 10 >= len(toks)
               THEN 'en'
             ELSE 'unknown'
           END AS predicted_lang
    FROM t
    """


@query("lang_id", priority=200, oracle=_LANG_ID_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/marker-word language heuristic: classify 'en' when ≥10% of
    tokens are high-frequency English function words. (The fixture corpus is
    a synthetic shared vocabulary, so the heuristic mostly answers per the
    marker density — the point is the distributed shape: pure column
    expressions, no shuffle.)"""
    toks = _tokens("text")
    en_hits = F.size(F.filter(toks, lambda w: w.isin("the", "a", "is")))
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.when(en_hits * 10 >= F.size(toks), "en").otherwise("unknown").alias("predicted_lang"),
    )


# --- extension: document fingerprinting ----------------------------------------

@query(
    "doc_fingerprint", priority=200,
    oracle="""
    SELECT doc_id,
           md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp_md5,
           CAST(list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ''),
                              ch -> CAST(unicode(ch) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % 1000000007) AS BIGINT) AS fp_rolling
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fingerprints per normalized document: an md5 content hash and a
    polynomial rolling hash (base 31 mod 1e9+7) folded over the characters
    with ``F.aggregate`` — both pure JVM-side expressions; the rolling hash
    is the building block for shingle/winnowing-style near-dup schemes."""
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    chars = F.split(norm, "")
    rolling = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch).cast("long")) % 1000000007,
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        rolling.alias("fp_rolling"),
    )


# --- n-gram frequency: top bigrams across the corpus --------------------------

NGRAM_TOP_K = 50


@query(
    "ngram_bigrams",
    priority=0,
    oracle=f"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS ts
      FROM documents
    ),
    pairs AS (
      SELECT u.p[1] || ' ' || u.p[2] AS bigram
      FROM toks, UNNEST(list_zip(ts, ts[2:])) AS u(p)
      WHERE u.p[2] IS NOT NULL AND u.p[2] <> ''
    )
    SELECT bigram, COUNT(*) AS n
    FROM pairs
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT {NGRAM_TOP_K}
    """,
)
def ngram_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level bigram frequency (the n-gram statistic LM data
    pipelines compute before dedup/quality gates). SHUFFLE-FREE pairing:
    tokens pair with their successor via slice+arrays_zip INSIDE each row
    — plain codegen'd array expressions (no interpreted lambda HOFs, no
    per-doc window shuffle; compare the lead()-over-(doc, pos) plan, which
    shuffles the whole exploded token stream by doc_id first). The only
    exchange is the final count's hash shuffle on the bigram, map-side
    partial-aggregated. Leading/trailing separators are trimmed BEFORE the
    split so no empty tokens exist (interior separator runs never produce
    empties); the oracle's list_filter-then-zip is equivalent. Top-k is
    TakeOrdered with the bigram tie-break."""
    toks = F.split(
        F.regexp_replace(F.lower(F.col("text")), r"^[^a-z]+|[^a-z]+$", ""),
        r"[^a-z]+",
    )
    d = table(spark, sf_dir, "documents").select(toks.alias("ts"))
    n = F.size(F.col("ts"))
    pairs = d.select(
        F.explode(
            F.arrays_zip(
                F.slice(F.col("ts"), 1, n - 1).alias("a"),
                F.slice(F.col("ts"), 2, n - 1).alias("b"),
            )
        ).alias("p")
    ).filter((F.col("p.a") != "") & (F.col("p.b") != ""))
    return (
        pairs.select(
            F.concat(F.col("p.a"), F.lit(" "), F.col("p.b")).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(NGRAM_TOP_K)
    )


# --- heavy hitters: relative-frequency filter over token counts ---------------

HH_FRAC = 0.033


@query(
    "heavy_hitters_words",
    priority=0,
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(text, '{WC_DELIM}')) AS word
      FROM documents
    ),
    counts AS (
      SELECT word, COUNT(*) AS cnt FROM toks WHERE word <> '' GROUP BY word
    )
    SELECT word, cnt
    FROM counts
    WHERE cnt > {HH_FRAC} * (SELECT SUM(cnt) FROM counts)
    """,
)
def heavy_hitters_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: tokens whose count exceeds a FRACTION of the
    corpus total — the relative-frequency filter (stopword discovery,
    vocabulary pruning) that needs a scalar aggregate over the aggregate
    itself. The token counts materialize ONCE (persisted, vocab-sized —
    tiny next to the corpus) and serve both the global-total scalar
    subquery and the filter; the scalar rides Catalyst's SubqueryExec (no
    nested-loop join — same pattern as tpch_q22). Exact is registered
    because the oracle can verify it; at 100 TB the one-pass alternative
    is a count-min sketch / Misra-Gries merge, same output contract."""
    from serverless_mapreduce_spark.caching import persist_tracked

    d = table(spark, sf_dir, "documents")
    counts = persist_tracked(
        d.select(F.explode(F.split(F.col("text"), WC_DELIM)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    from serverless_mapreduce_spark.catalog import unique_view

    hh_view = unique_view(counts, "hh_word_counts")
    out = spark.sql(
        f"""SELECT word, cnt FROM {hh_view}
            WHERE cnt > {HH_FRAC} * (SELECT SUM(cnt) FROM {hh_view})"""
    )
    return out


# --- extension: deterministic train/val/test split -----------------------------

#: Hash-bucket split bounds (out of 100): [0,80) train, [80,90) val, rest test.
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 90

#: SQL fragment assigning each doc_id its deterministic split — the ONE
#: definition shared by train_val_test_split and split_leakage_audit (the
#: audit must never drift from the split it audits).
_SQL_SPLIT_ASSIGN = f"""
      SELECT doc_id,
             CASE
               WHEN b < {SPLIT_TRAIN_PCT} THEN 'train'
               WHEN b < {SPLIT_VAL_PCT} THEN 'val'
               ELSE 'test'
             END AS split
      FROM (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS b
        FROM documents
      )
"""


def _split_col():
    """The Spark twin of _SQL_SPLIT_ASSIGN's CASE: md5-bucket split
    column expression over doc_id."""
    b = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 100
    )
    return (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )


@query(
    "train_val_test_split",
    priority=50,
    oracle=f"""
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM (
      SELECT lang, text,
             CASE
               WHEN b < {SPLIT_TRAIN_PCT} THEN 'train'
               WHEN b < {SPLIT_VAL_PCT} THEN 'val'
               ELSE 'test'
             END AS split
      FROM (
        SELECT lang, text,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS b
        FROM documents
      )
    )
    GROUP BY split, lang
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic TRAIN/VAL/TEST SPLIT — the assignment every training
    pipeline needs before anything else touches the corpus. The split key
    is a hash bucket of doc_id (md5 prefix mod 100), NOT ``rand()``:
    hash assignment is reproducible across runs, clusters, partitionings,
    and engines, and the three splits are disjoint BY CONSTRUCTION (one
    bucket value per doc), which is the leakage guarantee auditors ask
    for. The assignment is a pure row expression fused into the scan; the
    per-(split, lang) audit aggregation shown here is one shuffle. At
    100 TB the same expression becomes the partition column of the output
    write (``partitionBy('split')``) — no extra pass."""
    split = _split_col()
    return (
        table(spark, sf_dir, "documents")
        .select(split.alias("split"), "lang", F.length("text").alias("n_chars"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


# --- extension: sliding-window document chunking -------------------------------

CHUNK_TOKENS = 64   #: tokens per chunk
CHUNK_STRIDE = 48   #: tokens between chunk starts (64-48 = 16-token overlap)


@query(
    "docs_chunk_sliding",
    priority=50,
    oracle=f"""
    SELECT doc_id, chunk_idx,
           len(list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                          chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS})) AS n_tokens,
           md5(array_to_string(
                 list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                            chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}),
                 ' ')) AS chunk_md5
    FROM (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
      FROM documents
    ), LATERAL (
      SELECT unnest(range(0, CAST(ceil(
               greatest(len(toks) - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE}.0
             ) AS BIGINT) + 1)) AS chunk_idx
    )
    WHERE len(toks) > 0
    """,
)
def docs_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW CHUNKING: split each document into {CHUNK_TOKENS}-token
    chunks every {CHUNK_STRIDE} tokens (16-token overlap) — the standard
    context-window preprocessing step for embedding/training pipelines.
    Chunk boundaries are pure per-row array arithmetic (tokenize once,
    slice per window): narrow map, NO shuffle, no Python — the chunk
    count per doc is ceil((len-W)/S)+1 so short docs yield exactly one
    chunk and every token lands in >= 1 chunk. Output carries an md5 of
    each chunk's joined text so the oracle verifies CONTENT, not just
    counts. At 100 TB this is the map stage feeding the embedding UDF;
    the explode multiplies rows ~len/stride but each output row is
    narrow."""
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    n_chunks = (
        F.ceil(
            F.greatest(F.size(F.col("toks")) - CHUNK_TOKENS, F.lit(0))
            / F.lit(float(CHUNK_STRIDE))
        ).cast("int")
        + 1
    )
    chunk = F.slice(
        F.col("toks"),
        F.col("chunk_idx") * CHUNK_STRIDE + 1,
        CHUNK_TOKENS,
    )
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
            "toks",
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


# --- extension: per-source quota sampling --------------------------------------

QUOTA_PER_SOURCE = 10
QUOTA_SALTS = 32


@query(
    "source_quota_sample",
    priority=50,
    oracle=f"""
    SELECT doc_id, source, lang
    FROM (
      SELECT doc_id, source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= {QUOTA_PER_SOURCE}
    """,
)
def source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE QUOTA SAMPLING: cap every source at {QUOTA_PER_SOURCE}
    documents — the mixture-balancing step of corpus curation (no single
    crawl may dominate the training mix). The within-source order is the
    md5 of doc_id: a deterministic uniform shuffle, reproducible across
    runs/engines/partitionings, unlike ``rand()`` (doc_id tiebreak is
    belt-and-braces).

    Skew story (the rank pushdown this docstring used to only promise):
    a bare PARTITION BY source window funnels a hot source into ONE task.
    Instead rank in two phases with IDENTICAL output: (1) a SALTED window
    on (source, hash(doc_id) % {QUOTA_SALTS}) — the hot source spreads
    over {QUOTA_SALTS} tasks, and only the top {QUOTA_PER_SOURCE} rows
    per salt survive (the true per-source top-K is a subset of the union
    of per-salt top-Ks, so nothing needed is lost); (2) the global
    per-source window then ranks at most {QUOTA_SALTS}*{QUOTA_PER_SOURCE}
    rows per source — driver-trivial however hot the source. Costs one
    extra (balanced) exchange; at 100 TB that trade is the difference
    between a straggler task holding the whole job and none."""
    ord_ = F.md5(F.col("doc_id").cast("string"))
    salt = F.abs(F.hash("doc_id")) % QUOTA_SALTS
    w_salted = Window.partitionBy("source", "salt").orderBy("ord", "doc_id")
    w_global = Window.partitionBy("source").orderBy("ord", "doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", "lang", ord_.alias("ord"), salt.alias("salt"))
        .withColumn("prn", F.row_number().over(w_salted))
        .filter(F.col("prn") <= QUOTA_PER_SOURCE)
        .withColumn("rn", F.row_number().over(w_global))
        .filter(F.col("rn") <= QUOTA_PER_SOURCE)
        .select("doc_id", "source", "lang")
    )


# --- extension: PII scrubbing ---------------------------------------------------

#: Kept to constructs with IDENTICAL semantics in Java regex (Spark) and RE2
#: (DuckDB): character classes, bounded/unbounded repetition — no backrefs,
#: no lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9][0-9()\- ]{5,18}[0-9]"


@query(
    "pii_scrub",
    priority=50,
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(
                  regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                  '{PII_PHONE_RE}')) AS INT) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PII_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM documents
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII SCRUBBING: redact emails then phone-shaped digit runs from every
    document — the compliance pass a training corpus goes through before
    anything is tokenized. Pure JVM regexp row expressions fused into the
    scan (no Python, no shuffle — embarrassingly parallel at any corpus
    size); phones are counted AFTER email redaction so an address's digits
    can't double-count. The output carries counts per PII type (the audit
    metric) plus an md5 of the scrubbed text, so the oracle verifies the
    redacted CONTENT byte-for-byte, not just tallies. Patterns are
    restricted to the Java-regex ∩ RE2 common subset so both engines
    match identical spans."""
    scrub1 = F.regexp_replace(F.col("text"), PII_EMAIL_RE, "<EMAIL>")
    scrub2 = F.regexp_replace(scrub1, PII_PHONE_RE, "<PHONE>")
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL_RE), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(scrub1, F.lit(PII_PHONE_RE), 0)).alias(
            "n_phones"
        ),
        F.md5(scrub2).alias("scrubbed_md5"),
    )


# --- extension: repeated-bigram ratio (repetition quality filter) ---------------

REPETITION_MAX_SHARE = 0.2  #: docs above this top-bigram share are flagged


#: repetition_filter's oracle as a named string — reused by
#: filter_cascade_audit so the cascade's repetition stage is the
#: registered filter, verbatim.
_REPETITION_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents
    ),
    bigrams AS (
      SELECT doc_id,
             t[i + 1] || ' ' || t[i + 2] AS bg
      FROM toks, LATERAL (
        SELECT unnest(range(0, greatest(len(t) - 1, 0))) AS i
      )
      WHERE len(t) >= 2
    ),
    per_doc AS (
      -- SUM(cnt), not COUNT(*): total bigram occurrences, not distinct kinds
      SELECT doc_id, SUM(cnt) AS n_bigrams,
             MAX(cnt) AS top_cnt
      FROM (
        SELECT doc_id, bg, COUNT(*) AS cnt
        FROM bigrams GROUP BY doc_id, bg
      ) GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(top_cnt AS BIGINT) AS top_bigram_cnt,
           ROUND(CAST(top_cnt AS DOUBLE) / n_bigrams, 6) AS top_share,
           CAST(top_cnt AS DOUBLE) / n_bigrams > {REPETITION_MAX_SHARE}
             AS flagged
    FROM per_doc
    """


@query("repetition_filter", priority=50, oracle=_REPETITION_ORACLE)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPETITION FILTER (Gopher-rule style): the share of a document's
    most frequent bigram — boilerplate, keyword-stuffed, and
    generation-loop text scores high and gets flagged. Bigrams come from
    the shuffle-free slice/arrays_zip pairing (same shape as
    ngram_bigrams, no HOF lambdas), then ONE hash aggregation per
    (doc, bigram) and a per-doc max — both key on doc_id-prefixed keys,
    so the second agg reuses the first's partitioning. The share divides
    two exact integers, rounded once; the flag threshold is applied to
    the unrounded ratio identically in both engines. At corpus scale
    nothing here is wider than the doc's own bigram multiset."""
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= 2)
    )
    bigrams = d.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1).alias("w1"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", F.concat_ws(" ", F.col("p.w1"), F.col("p.w2")).alias("bg"))
    per_doc = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_bigrams"), F.max("cnt").alias("top_cnt"))
    )
    share = F.col("top_cnt").cast("double") / F.col("n_bigrams")
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("top_cnt").cast("bigint").alias("top_bigram_cnt"),
        F.round(share, 6).alias("top_share"),
        (share > REPETITION_MAX_SHARE).alias("flagged"),
    )


# --- extension: cross-document boilerplate passage detection --------------------

@query(
    "boilerplate_chunks",
    priority=50,
    oracle=f"""
    WITH chunks AS (
      SELECT doc_id,
             md5(array_to_string(
                   list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                              chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}),
                   ' ')) AS chunk_md5
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents
      ), LATERAL (
        SELECT unnest(range(0, CAST(ceil(
                 greatest(len(toks) - {CHUNK_TOKENS}, 0) / {CHUNK_STRIDE}.0
               ) AS BIGINT) + 1)) AS chunk_idx
      )
      WHERE len(toks) > 0
    )
    SELECT chunk_md5,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM chunks
    GROUP BY chunk_md5
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE PASSAGE DETECTION: chunk every document with the
    docs_chunk_sliding windows, then find chunk texts that recur across
    >= 2 DISTINCT documents — headers, license blocks, templated
    paragraphs — the passage-level dedup that document-level dedup cannot
    see (two different documents sharing one pasted paragraph are not
    near-dups as wholes). Composition of two existing shapes: shuffle-free
    chunking (pure array arithmetic in the scan) into ONE hash aggregation
    keyed by the 128-bit chunk digest — uniformly distributed, skew-free;
    count(distinct doc_id) is the only memory-bearing agg and is bounded
    per digest by true repetition. The downstream action on hits is an
    anti-join of (doc_id, chunk_idx) against keepers — same shape as
    dedup_exact."""
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    n_chunks = (
        F.ceil(
            F.greatest(F.size(F.col("toks")) - CHUNK_TOKENS, F.lit(0))
            / F.lit(float(CHUNK_STRIDE))
        ).cast("int")
        + 1
    )
    chunk = F.slice(
        F.col("toks"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
            "toks",
        )
        .select("doc_id", F.md5(F.array_join(chunk, " ")).alias("chunk_md5"))
        .groupBy("chunk_md5")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# --- extension: sequence packing (concat-and-cut context windows) --------------

PACK_WINDOW = 512  #: tokens per packed training sequence


@query(
    "docs_pack_sequences",
    priority=0,
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
    ), c AS (
      -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which pandas renders as
      -- float and breaks the string-compare harness
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM t
    )
    SELECT doc_id, n_tokens, start_offset,
           start_offset // {PACK_WINDOW} AS seq_id,
           start_offset // {PACK_WINDOW}
             <> (start_offset + greatest(n_tokens, 1) - 1) // {PACK_WINDOW}
             AS straddles
    FROM c
    """,
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING for LLM training: concatenate the corpus in
    deterministic doc_id order and cut every {PACK_WINDOW} tokens — each
    document gets its global token ``start_offset``, the id of the packed
    sequence it starts in, and whether it straddles a window boundary
    (the rows a loss-masking/data-loader step needs). The core is a
    GLOBAL EXCLUSIVE PREFIX SUM, which naively is a single-partition
    window; here it runs fully distributed with the same two-phase shape
    as ``sort_by_value``'s global rank:

      1. bucket docs by driver-computed doc_id quantile bounds (a pure
         row function, so both branches agree on placement),
      2. per-bucket exclusive cumsum — parallel windows,
      3. per-bucket token totals (one tiny row each) → running offsets,
      4. broadcast offsets back; start_offset = bucket offset + local sum.

    At 100 TB the token-count pass and the cumsum pass are two scans of a
    3-column projection; no shuffle moves the text itself. Packing is
    deterministic (doc_id order), so re-runs resume identically —
    mixture/curriculum reordering composes by changing the ORDER key."""
    from functools import reduce

    df = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias(
            "n_tokens"
        ),
    )
    npart = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), 1)
    probs = [i / npart for i in range(1, npart)]
    bounds = (
        sorted(set(df.approxQuantile("doc_id", probs, 0.001))) if probs else []
    )
    bucket = reduce(
        lambda acc, b: acc + F.when(F.col("doc_id") > F.lit(b), 1).otherwise(0),
        bounds,
        F.lit(0),
    ).alias("bucket")

    local = df.select("doc_id", "n_tokens", bucket).withColumn(
        "local_prefix",
        F.coalesce(
            F.sum("n_tokens").over(
                Window.partitionBy("bucket")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    offsets = (
        df.select(bucket, "n_tokens")
        .groupBy("bucket")
        .agg(F.sum("n_tokens").alias("tok"))
        .withColumn(
            "bucket_offset",
            F.coalesce(
                F.sum("tok").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("bucket", "bucket_offset")
    )
    start = (F.col("bucket_offset") + F.col("local_prefix")).alias("start_offset")
    out = local.join(F.broadcast(offsets), "bucket").select(
        "doc_id", "n_tokens", start
    )
    seq = F.floor(F.col("start_offset") / PACK_WINDOW)
    end_seq = F.floor(
        (F.col("start_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
        / PACK_WINDOW
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        seq.cast("bigint").alias("seq_id"),
        (seq != end_seq).alias("straddles"),
    )


# --- extension: per-source mixture weights -------------------------------------

@query(
    "source_mixture_weights",
    priority=0,
    oracle="""
    WITH s AS (
      SELECT source,
             COUNT(*) AS n_docs,
             SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
               AS total_tokens
      FROM documents
      GROUP BY source
    ), tot AS (
      SELECT SUM(total_tokens) AS all_tokens,
             COUNT(*) AS n_sources
      FROM s
    )
    SELECT source,
           n_docs,
           CAST(total_tokens AS BIGINT) AS total_tokens,
           ROUND(total_tokens / (SELECT all_tokens FROM tot), 9) AS token_share,
           ROUND(
             (1.0 / (SELECT n_sources FROM tot))
               / (total_tokens / (SELECT all_tokens FROM tot)),
             9) AS uniform_weight
    FROM s
    """,
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE WEIGHTING: per-source token counts, corpus share, and the
    resampling weight that would flatten the mix to uniform-per-source —
    the bookkeeping every multi-source training run does before sampling
    (weights multiply into the sampler; swap the uniform target for any
    target distribution). One aggregation over a 2-column projection
    produces the per-source table (map-side partials; #sources rows
    survive), persisted once; the corpus totals re-aggregate THAT tiny
    table as scalar subqueries (Catalyst SubqueryExec — the
    heavy_hitters_words pattern, no nested-loop join), never a second
    pass over the corpus. Shares/weights are double ratios of exact
    integer sums, rounded to 9 dp, well above accumulated error."""
    from serverless_mapreduce_spark.caching import persist_tracked

    s = persist_tracked(
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias(
                "n_tokens"
            ),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    from serverless_mapreduce_spark.catalog import unique_view

    mix_view = unique_view(s, "mixture_source_stats")
    out = spark.sql(
        f"""
        SELECT source, n_docs, total_tokens,
               ROUND(total_tokens / (SELECT CAST(SUM(total_tokens) AS DOUBLE)
                                     FROM {mix_view}), 9)
                 AS token_share,
               ROUND((1.0 / (SELECT CAST(COUNT(*) AS DOUBLE)
                             FROM {mix_view}))
                     / (total_tokens / (SELECT CAST(SUM(total_tokens) AS DOUBLE)
                                        FROM {mix_view})), 9)
                 AS uniform_weight
        FROM {mix_view}
        """
    )
    return out


# --- Count-Min sketch frequency estimates with an in-query error contract ------

CMS_EPS = 0.001    #: additive error bound: est - true <= eps * N (one-sided)
CMS_DEPTH = 5      #: independent hash rows -> failure prob (1/e)^5 < 0.7%
CMS_WIDTH = 2719   #: ceil(e / eps) buckets per row
CMS_PROBE_K = 20   #: probe the top-K exact words (ties: lexicographic)


# priority=60: third deliberate deferral behind the 50-slot driver window
# (53 never-verified, 50 slots — see chisq_lang_source/rolling_30d): the
# within-bound contract is the weakest driver signal of the new ops and is
# pytest-gated every run.
@query(
    "cms_word_freq_bound",
    priority=60,
    oracle=f"""
    WITH words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM (
        SELECT unnest(string_split_regex(text, '{WC_DELIM}')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    )
    SELECT word, exact_cnt, TRUE AS within_bound
    FROM words
    ORDER BY exact_cnt DESC, word
    LIMIT {CMS_PROBE_K}
    """,
)
def cms_word_freq_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH word frequencies, verified against the sketch's own
    error contract: for every probed word, ``exact <= estimate <=
    exact + eps*N`` (CMS only ever OVER-counts; the additive bound holds
    with prob >= 1 - (1/e)^depth per probe, and with deterministic hashes
    the boolean is fully reproducible). Same oracle pattern as
    approx_distinct_users / hll_sketch_rollup: the estimate itself is
    implementation-defined, so the hashed value is the CONTRACT
    (within_bound) plus the exact counts, which are cross-engine.

    Why a third sketch family member: HLL answers distinct-cardinality,
    the KLL-style sketch answers rank, CMS answers POINT FREQUENCY over an
    unbounded vocabulary in O(depth x width) memory — at 100 TB the full
    word-count table is itself big, and CMS is the fixed-size mergeable
    structure a streaming/monitoring pipeline keeps instead.

    Built as PURE DataFrame ops (PySpark's stat API dropped the Scala
    countMinSketch binding; rolling it from expressions is better anyway —
    nothing leaves the JVM and the sketch STAYS a table): explode tokens,
    cross the token stream with the {CMS_DEPTH} hash rows (a cheap
    narrow fanout), bucket by ``pmod(xxhash64(word, row), width)``, and
    ONE aggregation yields the (row, bucket, cnt) cell table —
    {CMS_DEPTH} x {CMS_WIDTH} cells max, the textbook sketch, mergeable
    across partitions/days by cell-wise sum exactly like the HLL rollup.
    Probes join the exact top-{CMS_PROBE_K} words to their {CMS_DEPTH}
    cells (broadcast — the probe side is K x depth rows) and take the
    per-word MIN; the token total N for the bound is a scalar subquery on
    the same cell table (row 0 sums to N by construction), so the raw
    stream is scanned exactly twice (sketch + exact counts) and the full
    vocabulary never reaches the driver."""
    from serverless_mapreduce_spark.caching import persist_tracked

    words = persist_tracked(
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", WC_DELIM)).alias("word"))
        .filter(F.col("word") != "")
    )
    hashes = F.explode(
        F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
    ).alias("h_row")
    cells = persist_tracked(
        words.select("word", hashes)
        .select(
            "h_row",
            F.pmod(F.xxhash64("word", "h_row"), F.lit(CMS_WIDTH)).alias("bucket"),
        )
        .groupBy("h_row", "bucket")
        .agg(F.count("*").alias("cell_cnt"))
    )
    top = (
        words.groupBy("word")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "word")
        .limit(CMS_PROBE_K)
    )
    probe_cells = top.select(
        "word",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("h_row"),
    ).withColumn(
        "bucket", F.pmod(F.xxhash64("word", "h_row"), F.lit(CMS_WIDTH))
    )
    est = (
        F.broadcast(probe_cells)
        .join(cells, ["h_row", "bucket"])
        .groupBy("word", "exact_cnt")
        .agg(F.min("cell_cnt").alias("est"))
    )
    # N rides a scalar subquery over the row-0 cells (they sum to the token
    # total by construction) — not a 1-row crossJoin, which would plan the
    # BroadcastNestedLoopJoin the registry-wide lint forbids.
    from serverless_mapreduce_spark.catalog import unique_view

    cells_view = unique_view(cells, "cms_cells")
    est_view = unique_view(est, "cms_est")
    out = spark.sql(f"""
        SELECT word,
               CAST(exact_cnt AS BIGINT) AS exact_cnt,
               est >= exact_cnt
               AND est <= exact_cnt + {CMS_EPS}
                   * (SELECT SUM(cell_cnt) FROM {cells_view} WHERE h_row = 0)
                 AS within_bound
        FROM {est_view}
    """)
    return out


# --- extension: winnowing fingerprint selection --------------------------------

WINNOW_K = 8       #: characters per gram
WINNOW_W = 4       #: window of consecutive gram hashes per fingerprint pick
WINNOW_P = 1000000007


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS s
      FROM documents
    ),
    c AS (
      SELECT doc_id, length(s) AS L,
             list_transform(string_split(s, ''),
                            ch -> CAST(unicode(ch) AS BIGINT)) AS codes
      FROM n
    ),
    g AS (
      SELECT doc_id,
        CASE WHEN L >= {WINNOW_K} THEN
          list_transform(range(1, L - {WINNOW_K} + 2),
            i -> list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                           list_slice(codes, i, i + {WINNOW_K} - 1)),
              (acc, ch) -> (acc * 257 + ch) % {WINNOW_P}))
        ELSE CAST([] AS BIGINT[]) END AS gh
      FROM c
    ),
    w AS (
      SELECT doc_id, len(gh) AS m,
        CASE WHEN len(gh) >= {WINNOW_W} THEN
          list_distinct(list_transform(range(1, len(gh) - {WINNOW_W} + 2),
            j -> list_min(list_slice(gh, j, j + {WINNOW_W} - 1))))
        ELSE CAST([] AS BIGINT[]) END AS fps
      FROM g
    )
    SELECT doc_id, CAST(m AS BIGINT) AS n_grams,
           CAST(len(fps) AS BIGINT) AS n_fp,
           CAST(COALESCE(list_sum(fps), 0) AS BIGINT) AS fp_sum
    FROM w
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken, MOSS):
    hash every {k}-char gram of the normalized text, then keep the MINIMUM
    hash of each window of {w} consecutive gram hashes — guaranteeing at
    least one shared fingerprint for any match of length >= k + w - 1 while
    selecting only ~2/(w+1) of all gram hashes. This is the position-robust
    alternative to whole-doc hashing (doc_fingerprint) and the standard
    front-end for plagiarism/near-dup passage detection: at 100 TB the
    selected (fingerprint, doc_id) pairs feed the same inverted-index
    bucket-join as the shingle pipelines (dedup_ngram_jaccard), at a
    (w+1)/2-fold smaller index than indexing every gram.

    Distributed shape: the whole selection runs as ONE vectorized Arrow
    pass fused into the scan (_winnow_fps_df — gram hashes as k shifted
    Horner steps, window minima as a sliding view, all whole-array numpy
    ops), so there is NO shuffle at all; the output is a per-doc count +
    order-independent checksum of the distinct selected hashes (a
    content-verifying contract: a single wrong fingerprint moves fp_sum).
    The explode-join alternative would shuffle the full character stream.
    Tie-handling note: classic winnowing picks the RIGHTMOST minimal
    position; the selected VALUE set — what this operator emits and what a
    bucket-join keys on — is position-free, so both engines agree without
    simulating the cursor. Reference parity: the reference has no
    sub-document fingerprinting; this extends its whole-file dedup story
    (SURVEY §2.2 W9 family)."""
    d = _winnow_fps_df(spark, sf_dir, WINNOW_K, WINNOW_W)
    return d.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.size("fps").cast("bigint").alias("n_fp"),
        F.coalesce(
            F.aggregate("fps", F.lit(0).cast("long"), lambda a, x: a + x),
            F.lit(0),
        )
        .cast("bigint")
        .alias("fp_sum"),
    )


# --- winnowing candidate pairs: fingerprint inverted-index join ----------------

WPAIR_K = 16       #: chars per gram for pairing (match guarantee: 23+ chars)
WPAIR_W = 8        #: window size for pairing
WPAIR_HOT = 50     #: drop fingerprints posted by more than this many docs
WPAIR_MIN = 2      #: shared fingerprints to call a candidate pair


def _winnow_fps_df(spark: SparkSession, sf_dir: str, k: int, w: int) -> DataFrame:
    """(doc_id, n_grams, fps) — winnowing fingerprints at gram length ``k``
    / window ``w``, computed as ONE VECTORIZED ARROW PASS per batch: the
    gram hashes come from k shifted Horner steps over the code array
    (``h = (h*257 + c[j:j+m]) % P`` — each step a whole-array numpy op, mod
    applied per step so int64 never overflows), the window minima from a
    stride-tricks sliding view, the distinct set from ``np.unique``. The
    same math as the expression form the module's first implementation used
    (the property tests in tests/test_properties_algos.py pin it against a
    brute reference), but ~8x faster at sf0.1: interpreted HOF lambdas pay
    per-element dispatch, the Arrow pass pays per-ARRAY — the identical
    argument that moved the minhash signatures to Arrow (operators/dedup.py).
    Still zero shuffles: mapInPandas pipelines with the scan."""
    import numpy as np
    import pandas as pd
    import re as _re

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")

    def gen(batches):
        for pdf in batches:
            ids, grams, fps_out = [], [], []
            for d, t in zip(pdf["doc_id"], pdf["text"]):
                s = _re.sub(r"[^a-z0-9]+", "", t.lower()).encode("ascii")
                c = np.frombuffer(s, dtype=np.uint8).astype(np.int64)
                m = len(c) - k + 1
                if m < 1:
                    ids.append(d); grams.append(0); fps_out.append([])
                    continue
                h = np.zeros(m, dtype=np.int64)
                for j in range(k):
                    h = (h * 257 + c[j : j + m]) % WINNOW_P
                if m < w:
                    fps = []
                else:
                    mins = np.min(
                        np.lib.stride_tricks.sliding_window_view(h, w), axis=1
                    )
                    fps = np.unique(mins).tolist()
                ids.append(d); grams.append(m); fps_out.append(fps)
            yield pd.DataFrame(
                {"doc_id": ids, "n_grams": grams, "fps": fps_out}
            )

    return docs.mapInPandas(
        gen, "doc_id bigint, n_grams bigint, fps array<bigint>"
    )


def _wpair_oracle() -> str:
    k, w = WPAIR_K, WPAIR_W
    return f"""
    WITH n AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS s
      FROM documents
    ),
    c AS (
      SELECT doc_id, length(s) AS L,
             list_transform(string_split(s, ''),
                            ch -> CAST(unicode(ch) AS BIGINT)) AS codes
      FROM n
    ),
    g AS (
      SELECT doc_id,
        CASE WHEN L >= {k} THEN
          list_transform(range(1, L - {k} + 2),
            i -> list_reduce(
              list_prepend(CAST(0 AS BIGINT),
                           list_slice(codes, i, i + {k} - 1)),
              (acc, ch) -> (acc * 257 + ch) % {WINNOW_P}))
        ELSE CAST([] AS BIGINT[]) END AS gh
      FROM c
    ),
    w AS (
      SELECT doc_id,
        CASE WHEN len(gh) >= {w} THEN
          list_distinct(list_transform(range(1, len(gh) - {w} + 2),
            j -> list_min(list_slice(gh, j, j + {w} - 1))))
        ELSE CAST([] AS BIGINT[]) END AS fps
      FROM g
    ),
    ex AS (SELECT doc_id, unnest(fps) AS fp FROM w),
    keep AS (
      SELECT fp FROM ex GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND {WPAIR_HOT}
    ),
    kept AS (SELECT doc_id, fp FROM ex JOIN keep USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WPAIR_MIN}
    """


@query("winnowing_pairs", oracle=_wpair_oracle())
def winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING CANDIDATE PAIRS — the back half of the MOSS pipeline:
    the selected fingerprints feed an INVERTED-INDEX self-join, and doc
    pairs sharing >= {WPAIR_MIN} fingerprints become near-dup/plagiarism
    candidates. Pairing uses LONGER grams than the per-doc accounting
    query (k={WPAIR_K}, w={WPAIR_W} → any shared normalized run of
    k+w-1 = {WPAIR_K + WPAIR_W - 1}+ chars is guaranteed a shared
    fingerprint) so vocabulary-level collisions don't flood the index —
    gram length IS the precision/recall knob, exactly as in MOSS.

    Scale shape (the same sub-quadratic discipline as every near-dup
    operator here): explode to (fp, doc_id) postings, DROP HOT
    FINGERPRINTS (posting length > {WPAIR_HOT}: boilerplate shared by
    half the corpus generates O(m²) candidate pairs and zero signal —
    the stop-fingerprint cut is load-bearing at 100 TB and mirrored in
    the oracle), then self-join inside postings and count shared prints
    per pair. The posting table is persisted once and reused for both
    sides of the self-join; no N² pair enumeration ever exists."""
    from serverless_mapreduce_spark.caching import persist_tracked

    # persist: the exploded postings feed BOTH the hot-fp count and the
    # pair join; without it each consumer re-runs the Arrow fingerprint
    # pass over the corpus. (Historical note: the first, expression-HOF
    # implementation ALSO needed this because Catalyst inlined the staged
    # gram-hash arrays under the Generate, recomputing the O(L*k) hash per
    # window element — minutes vs seconds at sf0.01.) At 100 TB the
    # fingerprint table is a written artifact, exactly like the LSH bands.
    fps = persist_tracked(_winnow_fps_df(spark, sf_dir, WPAIR_K, WPAIR_W))
    ex = fps.select("doc_id", F.explode("fps").alias("fp"))
    keep = (
        ex.groupBy("fp")
        .agg(F.count("*").alias("m"))
        .filter((F.col("m") >= 2) & (F.col("m") <= WPAIR_HOT))
        .select("fp")
    )
    kept = persist_tracked(ex.join(keep, "fp"))
    a = kept.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= WPAIR_MIN)
    )


# --- Gopher-rules composite quality gate ---------------------------------------

GOPHER_MIN_WORDS = 10
GOPHER_MEAN_LEN_LO, GOPHER_MEAN_LEN_HI = 3, 10   #: mean word length bounds
GOPHER_ALPHA_PCT = 80        #: >= 80% of words must contain a letter
GOPHER_STOPWORDS = ("the", "a", "is", "and", "of")
GOPHER_MIN_STOPWORDS = 2
GOPHER_DUP_PCT = 50          #: > 50% duplicate words → repetition flag


#: gopher_quality_gate's oracle as a named string — reused by
#: filter_cascade_audit so the cascade's gopher stage is the registered
#: gate, verbatim.
_GOPHER_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
      FROM documents
    ),
    m AS (
      SELECT doc_id, len(ws) AS n,
             COALESCE(list_sum(list_transform(ws,
               w -> CAST(length(w) AS BIGINT))), 0) AS chars,
             len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS alpha,
             len(list_filter(ws,
               w -> list_contains({list(GOPHER_STOPWORDS)}, w))) AS stops,
             len(list_distinct(ws)) AS n_distinct
      FROM t
    )
    SELECT doc_id,
           CAST(CASE WHEN n < {GOPHER_MIN_WORDS} THEN 1 ELSE 0 END
              + CASE WHEN n > 0 AND (chars < {GOPHER_MEAN_LEN_LO} * n
                           OR chars > {GOPHER_MEAN_LEN_HI} * n)
                     THEN 2 ELSE 0 END
              + CASE WHEN alpha * 100 < {GOPHER_ALPHA_PCT} * n
                     THEN 4 ELSE 0 END
              + CASE WHEN stops < {GOPHER_MIN_STOPWORDS} THEN 8 ELSE 0 END
              + CASE WHEN (n - n_distinct) * 100 > {GOPHER_DUP_PCT} * n
                     THEN 16 ELSE 0 END AS BIGINT) AS reasons,
           CAST(n AS BIGINT) AS n_words
    FROM m
    """


@query("gopher_quality_gate", oracle=_GOPHER_ORACLE)
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER-RULES QUALITY GATE — the composite document filter (Rae et
    al. 2021 §A1.1, reused by MassiveText/RefinedWeb/Dolma): five
    heuristics evaluated in ONE scan-fused pass, emitted as a REASONS
    BITMASK (bit 1 too-few-words, 2 mean-word-length out of [3,10],
    4 <80% alphabetic words, 8 too-few stopwords, 16 >50% duplicate
    words) so downstream can both filter (reasons = 0) and AUDIT which
    rule fired — the bitmask is what pipeline dashboards aggregate.
    Every threshold compares as an integer cross-multiplication
    (alpha·100 < 80·n, never alpha/n < 0.8): no division, no float, no
    epsilon — bit-identical across engines and partitionings.

    Scale shape: pure per-row array expressions (split/filter/distinct),
    zero shuffles, zero joins — the gate fuses into whatever scan feeds
    it, which is why production gates run first: every later stage sees
    only survivors. The row-local rule set deliberately excludes
    corpus-relative signals (those are the separate registered operators:
    repetition_filter for bigram rates, trigram_lm_score for LM
    familiarity, heavy_hitters_words for vocabulary stats) — composing
    row-local checks into one pass vs keyed aggregations is exactly the
    split a 100 TB pipeline wants."""
    ws = _tokens("text")
    d = table(spark, sf_dir, "documents").select("doc_id", ws.alias("ws"))
    n = F.size("ws")
    chars = F.coalesce(
        F.aggregate(
            F.transform("ws", lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ),
        F.lit(0),
    )
    alpha = F.size(F.filter("ws", lambda w: w.rlike("[a-z]")))
    stops = F.size(F.filter("ws", lambda w: w.isin(*GOPHER_STOPWORDS)))
    n_distinct = F.size(F.array_distinct("ws"))
    reasons = (
        F.when(n < GOPHER_MIN_WORDS, 1).otherwise(0)
        + F.when(
            (n > 0)
            & (
                (chars < GOPHER_MEAN_LEN_LO * n)
                | (chars > GOPHER_MEAN_LEN_HI * n)
            ),
            2,
        ).otherwise(0)
        + F.when(alpha * 100 < GOPHER_ALPHA_PCT * n, 4).otherwise(0)
        + F.when(stops < GOPHER_MIN_STOPWORDS, 8).otherwise(0)
        + F.when((n - n_distinct) * 100 > GOPHER_DUP_PCT * n, 16).otherwise(0)
    )
    return d.select(
        "doc_id",
        reasons.cast("bigint").alias("reasons"),
        n.cast("bigint").alias("n_words"),
    )


# --- filter-cascade survival audit ---------------------------------------------

@query(
    "filter_cascade_audit",
    priority=150,
    oracle=f"""
    WITH g AS ({_GOPHER_ORACLE}),
    r AS ({_REPETITION_ORACLE}),
    l AS ({_LANG_ID_ORACLE}),
    k AS (
      SELECT doc_id, source,
             doc_id <> MIN(doc_id) OVER (PARTITION BY {SQL_CONTENT_KEY})
               AS is_dup
      FROM documents
    )
    SELECT k.source,
           CASE WHEN l.predicted_lang <> 'en' THEN 'lang'
                WHEN g.reasons <> 0 THEN 'gopher'
                WHEN COALESCE(r.flagged, false) THEN 'repetition'
                WHEN k.is_dup THEN 'exact_dup'
                ELSE 'kept' END AS stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(g.n_words) AS BIGINT) AS n_words
    FROM k
    JOIN g USING (doc_id)
    JOIN l USING (doc_id)
    LEFT JOIN r USING (doc_id)
    GROUP BY 1, 2
    """,
)
def filter_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-CASCADE SURVIVAL AUDIT: per (source, first-failing-stage)
    document and word counts for the standard pretraining filter chain —
    language ID → gopher rules → repetition filter → exact dedup → kept.
    This is the funnel dashboard every corpus release publishes (RefinedWeb
    Table 2, Dolma §4): it tells the curation team WHERE each source loses
    its mass, which decides both filter ORDER (cheapest-killer first) and
    whether a source is worth crawling at all.

    No-drift construction: every stage IS the registered operator —
    Spark-side the cascade joins the actual builders (lang_id,
    gopher_quality_gate, repetition_filter, dedup_exact's keeper rule via
    its content key), oracle-side it CTE-wraps their registered oracle
    strings verbatim (_LANG_ID_ORACLE/_GOPHER_ORACLE/_REPETITION_ORACLE/
    SQL_CONTENT_KEY) — so a threshold change in any gate flows into the
    audit on both engines by construction. First-failure attribution is a
    single CASE evaluated in cascade order; repetition_filter only emits
    docs with ≥2 tokens, so its flag left-joins with a false default
    (short docs are gopher's kill anyway).

    Scale shape — priced honestly: the no-drift construction joins the
    REGISTERED operators, so each gate runs its own documents scan (four
    gate scans + the audit's own projection = 5 scans; repetition_filter
    additionally pays its (doc_id, bigram) explode-aggregate, and
    dedup_exact its md5-key exchange), then doc_id-keyed equi-joins of
    per-doc flag frames and a #sources × 5 final aggregate. At 100 TB
    an operations team would trade drift-safety for the fused form —
    lang/gopher flags as expressions inside ONE projection (they are
    per-row scalar logic), keeping only repetition's and dedup's
    genuine exchanges — cutting corpus scans 5× at the cost of the
    audit no longer being the registered gates by construction. This
    audit deliberately keeps the no-drift contract; the fused variant
    is a mechanical rewrite when scan cost dominates."""
    from serverless_mapreduce_spark.operators.dedup import _norm, dedup_exact

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(_norm()).alias("content_key")
    )
    lang = lang_id(spark, sf_dir).select("doc_id", "predicted_lang")
    gopher = gopher_quality_gate(spark, sf_dir).select(
        "doc_id", "reasons", "n_words"
    )
    rep = repetition_filter(spark, sf_dir).select("doc_id", "flagged")
    # NULL-safe dedup join: a NULL-text doc has content_key NULL on both
    # engines; the oracle's window (PARTITION BY content_key) groups all
    # NULLs together, so a plain inner equi-join here would silently drop
    # those docs from the funnel on the Spark side only (r9 review).
    keepers = dedup_exact(spark, sf_dir).select(
        F.col("content_key").alias("keeper_key"), "keeper_doc_id"
    )
    stage = (
        F.when(F.col("predicted_lang") != "en", "lang")
        .when(F.col("reasons") != 0, "gopher")
        .when(F.coalesce(F.col("flagged"), F.lit(False)), "repetition")
        .when(F.col("doc_id") != F.col("keeper_doc_id"), "exact_dup")
        .otherwise("kept")
    )
    return (
        docs.join(lang, "doc_id")
        .join(gopher, "doc_id")
        .join(rep, "doc_id", "left")
        .join(keepers, F.col("content_key").eqNullSafe(F.col("keeper_key")))
        .groupBy("source", stage.alias("stage"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
        )
    )


# --- contrastive training: deterministic negative sampling ---------------------

NEG_PER_ANCHOR = 4


@query(
    "contrastive_negatives",
    oracle=f"""
    WITH idx AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS i,
             COUNT(*) OVER () AS n
      FROM documents
    ),
    anchors AS (
      SELECT doc_id, i, n, u.k AS k,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                          || CAST(u.k AS VARCHAR)), 1, 8))
                  AS BIGINT) % n AS pick
      FROM idx, UNNEST(range(1, {NEG_PER_ANCHOR} + 1)) AS u(k)
      WHERE n >= 2
    ),
    resolved AS (
      SELECT doc_id, k,
             CASE WHEN pick = i THEN (pick + 1) % n ELSE pick END AS neg_i
      FROM anchors
    )
    SELECT r.doc_id, CAST(r.k AS BIGINT) AS k, x.doc_id AS neg_doc_id
    FROM resolved r JOIN idx x ON x.i = r.neg_i
    """,
)
def contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC NEGATIVE SAMPLING for contrastive training
    (retrieval/embedding fine-tuning data prep): every document gets
    {NEG_PER_ANCHOR} pseudo-random negatives, reproducible across runs,
    engines, and partitionings — ``rand()`` is the obvious and WRONG tool
    here (resampled per task retry, never auditable); hashing
    (anchor, k) into the dense index space gives uniform-looking picks a
    re-run or a different cluster reproduces bit-for-bit (same argument
    as the md5-bucket train/val/test split). A self-collision resolves
    to the next index, so an anchor never draws itself; a single-document
    corpus (n < 2) has no valid negative at all and emits nothing — the
    (pick + 1) % n wrap would otherwise resolve back to the anchor.

    Distributed shape: a dense 0..N-1 index via ROW_NUMBER over doc_id
    (a doc-COUNT-sized global window — at 100 TB this is the
    two-pass range-partitioned rank of functions/prefix.py, or simply
    zipWithIndex at write time; cardinality-bounded either way), a
    narrow k-explode with modular hash arithmetic, and one equi-join
    back on the dense index to resolve negative doc_ids — uniformly
    distributed integer keys, skew-free. In-batch negatives (the other
    standard scheme) need no operator at all; this is the
    corpus-wide variant that feeds hard-negative mining."""
    from pyspark.sql import Window

    idx = table(spark, sf_dir, "documents").select("doc_id")
    w = Window.orderBy("doc_id")
    wa = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    idx = idx.select(
        "doc_id",
        (F.row_number().over(w) - 1).alias("i"),
        F.count("*").over(wa).alias("n"),
    )
    anchors = idx.select(
        "doc_id",
        "i",
        "n",
        F.explode(F.sequence(F.lit(1), F.lit(NEG_PER_ANCHOR))).alias("k"),
    )
    pick = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("k").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % F.col("n")
    )
    resolved = anchors.filter(F.col("n") >= 2).select(
        "doc_id",
        "k",
        F.when(pick == F.col("i"), (pick + 1) % F.col("n"))
        .otherwise(pick)
        .alias("neg_i"),
    )
    neg = idx.select(F.col("i").alias("neg_i"), F.col("doc_id").alias("neg_doc_id"))
    return resolved.join(neg, "neg_i").select(
        "doc_id", F.col("k").cast("bigint").alias("k"), "neg_doc_id"
    )


# --- temperature-scaled source sampling weights -------------------------------

TEMP_SAMPLE_SCALE = 1_000_000  #: micro fixed-point for the sqrt weights


@query(
    "source_temperature_sample",
    priority=150,
    oracle=f"""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs,
             CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)
                             / CAST((SELECT CAST(SUM(n_docs) AS BIGINT)
                                     FROM s) AS DOUBLE))
                        * {TEMP_SAMPLE_SCALE}) AS BIGINT) AS w_micro
      FROM s
    )
    SELECT source, n_docs, w_micro,
           (w_micro * {TEMP_SAMPLE_SCALE})
             // (SELECT CAST(SUM(w_micro) AS BIGINT) FROM w) AS samp_ppm,
           (w_micro * (SELECT CAST(SUM(n_docs) AS BIGINT) FROM s) * 1000)
             // (SELECT CAST(SUM(w_micro) AS BIGINT) FROM w)
             AS expected_docs_milli
    FROM w
    """,
)
def source_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED multi-source sampling (the p^alpha upweighting
    multilingual/multi-source pretraining uses so low-resource slices are
    not drowned out — exponent alpha=0.5, i.e. sqrt): per-source share
    p_s = n_s/N, unnormalized weight sqrt(p_s), normalized sampling
    probability, and the expected document count a resampled epoch draws
    from each source. Companion to source_mixture_weights (the alpha=0
    uniform flattening); this is the smooth interpolation production
    mixes actually ship.

    Exactness: alpha is deliberately 1/2 because IEEE-754 REQUIRES sqrt
    (like +,-,*,/) to be correctly rounded, so ``sqrt(n/N)`` is
    bit-identical on both engines when the arithmetic form is kept
    identical — unlike ``pow(p, 0.7)``/``exp/ln``, which are
    libm-dependent (this module's tf-idf ln-avoidance argument). The
    double weight is then floored ONCE into integer micro fixed-point;
    shares and expected counts are pure integer products with truncating
    integer division (positive operands: Spark DIV and DuckDB // agree).
    sqrt of a rational is either irrational (no tie possible at the FLOOR
    boundary beyond the shared 1-ulp-exact value) or exactly
    representable (perfect-square ratio -> identical bits), so the floor
    can never disagree. Overflow: w_micro <= 1e6, so the expected-count
    numerator stays under 2^63 up to N ~ 9e9 documents; promote to
    DECIMAL(38,0) beyond that.

    Plan: one aggregation over a 1-column projection (map-side partials,
    #sources rows survive) persisted once; every total re-aggregates the
    tiny persisted table via scalar subqueries (SubqueryExec), never a
    second corpus pass. At 100 TB this is a metadata-sized computation
    after the single scan."""
    from serverless_mapreduce_spark.caching import persist_tracked
    from serverless_mapreduce_spark.catalog import unique_view

    s = persist_tracked(
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    src_view = unique_view(s, "temp_sample_sources")
    return spark.sql(
        f"""
        WITH w AS (
          SELECT source, n_docs,
                 CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)
                                 / CAST((SELECT SUM(n_docs)
                                         FROM {src_view}) AS DOUBLE))
                            * {TEMP_SAMPLE_SCALE}) AS BIGINT) AS w_micro
          FROM {src_view}
        )
        SELECT source, n_docs, w_micro,
               (w_micro * {TEMP_SAMPLE_SCALE})
                 DIV (SELECT SUM(w_micro) FROM w) AS samp_ppm,
               (w_micro * (SELECT SUM(n_docs) FROM {src_view}) * 1000)
                 DIV (SELECT SUM(w_micro) FROM w) AS expected_docs_milli
        FROM w
        """
    )


# --- token-budget training recipe ---------------------------------------------

TOKEN_BUDGET = 10_000_000  #: tokens the planned training mix may consume


@query(
    "token_budget_mixture_plan",
    priority=150,
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(lower(text), ' '),
                                      w -> w <> ''))) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY source
      HAVING CAST(SUM(len(list_filter(string_split(lower(text), ' '),
                                      w -> w <> ''))) AS BIGINT) > 0
    ),
    w AS (
      SELECT source, avail_tokens,
             CAST(FLOOR(sqrt(CAST(avail_tokens AS DOUBLE)
                             / CAST((SELECT CAST(SUM(avail_tokens) AS BIGINT)
                                     FROM s) AS DOUBLE))
                        * {TEMP_SAMPLE_SCALE}) AS BIGINT) AS w_micro
      FROM s
    )
    SELECT source, avail_tokens, w_micro,
           ({TOKEN_BUDGET} * w_micro)
             // (SELECT CAST(SUM(w_micro) AS BIGINT) FROM w) AS target_tokens,
           ((({TOKEN_BUDGET} * w_micro)
              // (SELECT CAST(SUM(w_micro) AS BIGINT) FROM w)) * 1000)
             // avail_tokens AS epochs_milli
    FROM w
    """,
)
def token_budget_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-BUDGET TRAINING RECIPE: given a fixed token budget for a
    training run, split it across sources by temperature-scaled token
    mass (alpha = 1/2, the source_temperature_sample upweighting applied
    to TOKENS instead of document counts — budget planning is a token
    question) and report, per source: available tokens, the sqrt weight,
    the target token allocation, and ``epochs_milli`` — how many times
    the source must be repeated to fill its allocation (1000 = exactly
    one epoch; >1000 is the up-sampling repeat factor low-resource
    slices get, the number data-mixture papers publish as "epochs over
    the source"). This is the planning artifact a 100 TB run derives
    BEFORE launching tokenization — companion to source_mixture_weights
    (alpha=0) and source_temperature_sample (alpha=1/2 over docs).

    Exactness: the same correctly-rounded-sqrt + FLOOR-once argument as
    source_temperature_sample (IEEE sqrt is exact in both engines;
    everything after the one floor is integer products and truncating
    division on positives). Overflow envelope: TOKEN_BUDGET·w_micro ≤
    budget·1e6 stays under 2^63 for budgets to ~9e12 tokens — past that
    promote the products to DECIMAL(38,0), the source_temperature_sample
    contract. The HAVING guard drops token-less sources identically on
    both engines (no zero division in epochs_milli).

    Plan: one aggregation over a 2-column projection (map-side partials,
    #sources rows survive); every total is a scalar subquery over the
    tiny persisted table — metadata-sized after the single corpus
    scan."""
    from serverless_mapreduce_spark.caching import persist_tracked
    from serverless_mapreduce_spark.catalog import unique_view

    toks = _tokens("text")
    s = persist_tracked(
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum(F.size(toks)).cast("bigint").alias("avail_tokens"))
        .filter(F.col("avail_tokens") > 0)
    )
    src_view = unique_view(s, "token_budget_sources")
    return spark.sql(
        f"""
        WITH w AS (
          SELECT source, avail_tokens,
                 CAST(FLOOR(sqrt(CAST(avail_tokens AS DOUBLE)
                                 / CAST((SELECT SUM(avail_tokens)
                                         FROM {src_view}) AS DOUBLE))
                            * {TEMP_SAMPLE_SCALE}) AS BIGINT) AS w_micro
          FROM {src_view}
        )
        SELECT source, avail_tokens, w_micro,
               ({TOKEN_BUDGET} * w_micro)
                 DIV (SELECT SUM(w_micro) FROM w) AS target_tokens,
               ((({TOKEN_BUDGET} * w_micro)
                  DIV (SELECT SUM(w_micro) FROM w)) * 1000)
                 DIV avail_tokens AS epochs_milli
        FROM w
        """
    )


# --- lexical diversity: Simpson index + type-token ratio per source -----------


@query(
    "lexical_diversity_gini",
    priority=150,
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(
               string_split_regex(lower(text), '[^a-z]+'), t -> t <> ''))
               AS tok
      FROM documents
    ),
    tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS n
      FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           CAST(SUM(n) AS BIGINT) AS total_tokens,
           (CAST(COUNT(*) AS BIGINT) * 1000000)
             // CAST(SUM(n) AS BIGINT) AS ttr_ppm,
           ((CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT)
             - CAST(SUM(n * n) AS BIGINT)) * 1000000)
             // (CAST(SUM(n) AS BIGINT) * CAST(SUM(n) AS BIGINT))
             AS gini_simpson_ppm
    FROM tf GROUP BY source
    """,
)
def lexical_diversity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEXICAL DIVERSITY per source: distinct token types, total tokens,
    type-token ratio, and the Gini-Simpson diversity index
    ``1 - sum(p_i^2)`` — the repetitiveness signal corpus-quality audits
    track next to the gopher gate (a boilerplate-heavy crawl slice shows
    high volume with LOW diversity). Gini-Simpson is chosen over Shannon
    entropy deliberately: it is a RATIONAL function of the token counts
    (``(N^2 - sum n_i^2) / N^2``), so the whole statistic stays in exact
    integer arithmetic (ppm fixed point, truncating division — both
    engines agree on positives) with no libm ``ln`` anywhere — the
    module-standard exactness argument. Overflow: N^2 * 1e6 needs N under
    ~3e6 tokens per source at BIGINT; promote to DECIMAL(38,0) for a
    full-crawl run.

    Plan: tokenize/explode (narrow), hash-aggregate (source, token) with
    map-side partials, then re-aggregate the type table by source —
    two shuffles total, both on aggregated rows; no Python, no window
    over raw tokens, no driver collect. At 100 TB the (source, token)
    aggregate is vocabulary-sized per source, not corpus-sized."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    tf = toks.groupBy("source", "tok").agg(
        F.count("*").cast("long").alias("n")
    )
    return (
        tf.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("distinct_tokens"),
            F.sum("n").cast("long").alias("total_tokens"),
            F.sum(F.col("n") * F.col("n")).cast("long").alias("_d2"),
        )
        .selectExpr(
            "source",
            "distinct_tokens",
            "total_tokens",
            "(distinct_tokens * 1000000) DIV total_tokens AS ttr_ppm",
            "((total_tokens * total_tokens - _d2) * 1000000)"
            " DIV (total_tokens * total_tokens) AS gini_simpson_ppm",
        )
    )


# --- split leakage audit: cross-split near-duplicates --------------------------


def _split_leakage_oracle() -> str:
    from serverless_mapreduce_spark.operators.dedup import _SQL_PAIR_CTES

    return f"""
    WITH {_SQL_PAIR_CTES},
    assign AS ({_SQL_SPLIT_ASSIGN}),
    crossed AS (
      SELECT p.doc_a, p.doc_b, a.split AS sa, b.split AS sb
      FROM pairs p
      JOIN assign a ON p.doc_a = a.doc_id
      JOIN assign b ON p.doc_b = b.doc_id
      WHERE a.split <> b.split
    ),
    contam AS (
      SELECT DISTINCT doc_id, split FROM (
        SELECT doc_a AS doc_id, sa AS split FROM crossed
        UNION ALL
        SELECT doc_b AS doc_id, sb AS split FROM crossed
      )
    ),
    split_counts AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM assign GROUP BY split
    )
    SELECT split_counts.split, n_docs,
           COALESCE(c.n, 0) AS n_cross_split_dups,
           n_docs - COALESCE(c.n, 0) AS n_clean
    FROM split_counts LEFT JOIN (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n
      FROM contam GROUP BY split
    ) c ON split_counts.split = c.split
    """


@query("split_leakage_audit", priority=150, oracle=_split_leakage_oracle())
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT LEAKAGE AUDIT: how many documents in each train/val/test
    split have a NEAR-DUPLICATE in a different split — the eval-integrity
    number (a test doc whose near-copy sits in train invalidates the
    benchmark; production drops the train-side twin before training).
    Composes the two existing primitives verbatim: the deterministic
    md5-bucket split (train_val_test_split) and the banded MinHash+LSH
    verified pair table (dedup_minhash_lsh) — one builder and one oracle
    CTE chain each, so the audit can never drift from the ops it audits.

    Plan shape: the pair table is sub-quadratic by construction (band
    join); split assignment is a pure row expression joined onto the
    (small) pair set; BOTH endpoints of each cross-split pair are emitted
    by exploding a 2-struct array — NOT by unioning two selects of the
    expensive pair frame, which would make Catalyst execute the whole
    minhash chain twice (the round-6 ledger trap). Counts are exact
    BIGINTs; rows = 3 splits."""
    from serverless_mapreduce_spark.operators.dedup import dedup_minhash_lsh

    assign = table(spark, sf_dir, "documents").select(
        "doc_id", _split_col().alias("split")
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    crossed = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
            ),
            "doc_a",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
            ),
            "doc_b",
        )
        .filter(F.col("sa") != F.col("sb"))
    )
    contam = (
        crossed.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("doc_id"),
                        F.col("sa").alias("split"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("doc_id"),
                        F.col("sb").alias("split"),
                    ),
                )
            ).alias("e")
        )
        .select("e.doc_id", "e.split")
        .distinct()
        .groupBy("split")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return (
        assign.groupBy("split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .join(contam, "split", "left")
        .selectExpr(
            "split",
            "n_docs",
            "COALESCE(n, 0) AS n_cross_split_dups",
            "n_docs - COALESCE(n, 0) AS n_clean",
        )
    )


# --- dynamic batching: length-bucket plan + padding-waste audit -----------------

PAD_QUANTUM = 16         #: sequence lengths are padded up to a multiple of this
MAX_SEQ_LEN = 64         #: context window — longer docs are truncated to fit
MAX_TOKENS_PER_BATCH = 256  #: padded-token budget per training batch

# n_batches below divides by (MAX_TOKENS_PER_BATCH DIV bucket_len). If the
# context window ever outgrew the batch budget, per-batch capacity would be
# 0 for the top buckets and x DIV 0 is NULL identically on BOTH engines —
# the oracle would stay green while the published plan carried NULL batch
# counts. Fail loudly at import instead (the repo's loud-guard convention).
# The divisor is MAX_TOKENS_PER_BATCH DIV bucket_len where bucket_len is
# MAX_SEQ_LEN rounded UP to a PAD_QUANTUM multiple — so the guard must hold
# for the ROUNDED value (MAX_SEQ_LEN=250, budget=250, quantum=16 would pass
# a raw-value assert yet yield bucket_len=256 → x DIV 0; r8 advice).
assert (
    (MAX_SEQ_LEN + PAD_QUANTUM - 1) // PAD_QUANTUM
) * PAD_QUANTUM <= MAX_TOKENS_PER_BATCH, (
    "length_bucket_batch_plan: every bucket (MAX_SEQ_LEN rounded up to "
    "PAD_QUANTUM) must fit in MAX_TOKENS_PER_BATCH or n_batches silently "
    "divides by zero"
)


@query(
    "length_bucket_batch_plan",
    priority=150,
    oracle=f"""
    WITH t AS (
      SELECT len(list_filter(string_split(text, ' '), w -> w <> '')) AS n
      FROM documents
    ),
    b AS (
      SELECT n,
             LEAST(n, {MAX_SEQ_LEN}) AS eff,
             ((LEAST(n, {MAX_SEQ_LEN}) + {PAD_QUANTUM - 1})
               // {PAD_QUANTUM}) * {PAD_QUANTUM} AS bucket_len
      FROM t WHERE n > 0
    ),
    g AS (
      SELECT bucket_len,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN n > {MAX_SEQ_LEN} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_truncated,
             CAST(SUM(eff) AS BIGINT) AS sum_tokens
      FROM b GROUP BY bucket_len
    )
    SELECT CAST(bucket_len AS BIGINT) AS bucket_len, n_docs, n_truncated,
           sum_tokens,
           n_docs * bucket_len - sum_tokens AS pad_tokens,
           (n_docs + ({MAX_TOKENS_PER_BATCH} // bucket_len) - 1)
             // ({MAX_TOKENS_PER_BATCH} // bucket_len) AS n_batches,
           ((n_docs * bucket_len - sum_tokens) * 1000000)
             // (n_docs * bucket_len) AS waste_ppm
    FROM g
    """,
)
def length_bucket_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKET BATCHING PLAN: group documents into pad-quantum
    length buckets (the dynamic-batching strategy every training data
    loader uses — batching similar lengths together so padding, which is
    pure wasted FLOPs, stays small) and report per bucket: document
    count, truncation count, real tokens, pad tokens, the number of
    batches under a fixed padded-token budget, and the padding-waste
    fraction in ppm. This is the artifact that decides the bucket edges
    and batch shapes BEFORE a 100 TB tokenization run — the companion
    to ``docs_pack_sequences`` (packing amortizes padding away entirely;
    bucketing is what you do when documents must stay unsplit, e.g. for
    SFT rows).

    Exactness: token counts are integers; ``eff = LEAST(n, max_len)``,
    the round-up to the pad quantum, ceil-division for batches, and the
    ppm waste are all integer products and truncating division on
    positives (``DIV`` == ``//`` there — the round-7 pinned contract).
    Zero-token documents are dropped identically on both engines (no
    zero-width bucket, no zero division).

    Plan: one scan of a 1-column projection, a pure-row bucket
    expression, one hash aggregate with map-side partials — at most
    ``MAX_SEQ_LEN / PAD_QUANTUM`` groups survive. Zero joins, zero
    windows; at 100 TB this is scan-bound, exactly as a planning pass
    should be."""
    n = F.size(F.filter(F.split("text", " "), lambda w: w != ""))
    return (
        table(spark, sf_dir, "documents")
        .select(n.alias("n"))
        .filter(F.col("n") > 0)
        .selectExpr(
            "n",
            f"LEAST(n, {MAX_SEQ_LEN}) AS eff",
            f"((LEAST(n, {MAX_SEQ_LEN}) + {PAD_QUANTUM - 1})"
            f" DIV {PAD_QUANTUM}) * {PAD_QUANTUM} AS bucket_len",
        )
        .groupBy("bucket_len")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum((F.col("n") > MAX_SEQ_LEN).cast("int"))
            .cast("bigint")
            .alias("n_truncated"),
            F.sum("eff").cast("bigint").alias("sum_tokens"),
        )
        .selectExpr(
            "CAST(bucket_len AS BIGINT) AS bucket_len",
            "n_docs",
            "n_truncated",
            "sum_tokens",
            "n_docs * bucket_len - sum_tokens AS pad_tokens",
            f"(n_docs + ({MAX_TOKENS_PER_BATCH} DIV bucket_len) - 1)"
            f" DIV ({MAX_TOKENS_PER_BATCH} DIV bucket_len) AS n_batches",
            "((n_docs * bucket_len - sum_tokens) * 1000000)"
            " DIV (n_docs * bucket_len) AS waste_ppm",
        )
    )


# --- quality-filter calibration: threshold survival sweep -----------------------

SWEEP_STEP_MILLI = 25    #: stopword-share grid step (permille)
SWEEP_MAX_MILLI = 250    #: sweep stopword thresholds 0 .. 250 permille


@query(
    "quality_filter_sweep",
    priority=150,
    oracle=f"""
    WITH t AS (
      SELECT source,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      FROM documents
    ),
    scored AS (
      SELECT source,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             (CAST(len(list_filter(toks, w -> list_contains({{sw}}, w)))
                   AS BIGINT) * 1000)
               // GREATEST(len(toks), 1) AS score_milli
      FROM t
    ),
    cells AS (
      SELECT source, score_milli,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM scored GROUP BY source, score_milli
    ),
    totals AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
      FROM cells GROUP BY source
    ),
    surv AS (
      SELECT source, n_docs, n_tokens,
             CAST(unnest(range(0,
                 LEAST((score_milli // {SWEEP_STEP_MILLI})
                         * {SWEEP_STEP_MILLI}, {SWEEP_MAX_MILLI}) + 1,
                 {SWEEP_STEP_MILLI})) AS BIGINT) AS thresh_milli
      FROM cells
    )
    SELECT s.thresh_milli, s.source,
           CAST(SUM(s.n_docs) AS BIGINT) AS n_docs_surviving,
           CAST(SUM(s.n_tokens) AS BIGINT) AS n_tokens_surviving,
           (CAST(SUM(s.n_tokens) AS BIGINT) * 1000000)
             // MAX(t.tot_tokens) AS surviving_ppm
    FROM surv s JOIN totals t USING (source)
    GROUP BY s.thresh_milli, s.source
    """.replace("{sw}", _SW_SQL),
)
def quality_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-FILTER CALIBRATION SWEEP: for every candidate stopword-share
    threshold on a permille grid, how many documents and tokens of each
    source survive a ``stopword_share >= threshold`` quality gate, and the
    surviving token fraction in ppm. This is the curve a curation team
    reads BEFORE committing a filter threshold to a 100 TB run — the
    per-threshold twin of ``filter_cascade_audit`` (which audits one fixed
    chain): it shows where each source's mass falls off and which
    threshold trades how much volume for how much quality. Uses the same
    stopword list and tokenization as the registered ``quality_score``
    (shared ``_STOPWORDS``/``_SW_SQL``), so the sweep calibrates exactly
    the signal the quality gate measures.

    Exactness: ``score_milli`` is an integer permille (truncating division
    on non-negatives, GREATEST(n,1) zero-guard — both mirrored); survivor
    sums and the final ppm are integer arithmetic end to end. Sources
    whose every doc scores below a threshold drop out of that threshold's
    rows on both engines (inner join).

    Plan shape: the corpus is scanned ONCE into per-(source, score_milli)
    cells — a hash aggregate with map-side partials, at most
    |sources| x 1001 rows survive; each cell then EXPLODES into the <= 11
    thresholds it satisfies (sequence 0..min(score, max) step 25), so the
    sweep is a pure equi-aggregate over a metadata-sized table — no
    theta-join, no nested-loop, nothing rescans the corpus. Per-source
    totals ride the same persisted cell table as a broadcast equi-join."""
    from serverless_mapreduce_spark.caching import persist_tracked

    toks = _tokens("text")
    scored = (
        table(spark, sf_dir, "documents")
        .select(
            "source",
            F.size(toks).cast("bigint").alias("n_tokens"),
            F.size(F.filter(toks, lambda w: w.isin(*_STOPWORDS)))
            .cast("bigint")
            .alias("_n_sw"),
        )
        .selectExpr(
            "source",
            "n_tokens",
            "(_n_sw * 1000) DIV GREATEST(n_tokens, 1) AS score_milli",
        )
    )
    cells = persist_tracked(
        scored.groupBy("source", "score_milli").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    totals = cells.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("tot_tokens")
    )
    # int64-envelope guard (the _dsir_int64_headroom discipline): the worst
    # BIGINT intermediate is tot_tokens·1e6 for the largest source (the
    # surviving-sum numerator is bounded by it per source). It grows with
    # corpus size — a ~1e13-token source wraps Spark silently while DuckDB
    # raises (r9 review). One scalar over the persisted cell table.
    max_tot = totals.agg(F.max("tot_tokens")).collect()[0][0] or 0
    if max_tot * 1_000_000 > (1 << 63) - 1:
        raise ValueError(
            "quality_filter_sweep integer-ppm arithmetic would overflow "
            f"int64: largest source holds {max_tot} tokens "
            "(tot_tokens*1e6 > 2^63-1). Promote the surviving_ppm numerator "
            "to DECIMAL(38,0) on both engines before running at this scale."
        )
    surv = cells.selectExpr(
        "source",
        "n_docs",
        "n_tokens",
        f"explode(sequence(CAST(0 AS BIGINT),"
        f" LEAST((score_milli DIV {SWEEP_STEP_MILLI})"
        f" * {SWEEP_STEP_MILLI}, CAST({SWEEP_MAX_MILLI} AS BIGINT)),"
        f" CAST({SWEEP_STEP_MILLI} AS BIGINT))) AS thresh_milli",
    )
    return (
        surv.join(F.broadcast(totals), "source")
        .groupBy("thresh_milli", "source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs_surviving"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens_surviving"),
            F.expr(
                "(CAST(SUM(n_tokens) AS BIGINT) * 1000000)"
                " DIV MAX(tot_tokens)"
            ).alias("surviving_ppm"),
        )
    )


# --- corpus data card: one-row corpus summary ------------------------------------


@query(
    "corpus_datacard",
    priority=150,
    oracle=f"""
    WITH t AS (
      SELECT source, lang,
             len(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS n_toks,
             {SQL_CONTENT_KEY} AS content_key
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_toks = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_blank,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(DISTINCT content_key) AS BIGINT) AS n_unique_texts,
           (CAST(SUM(n_toks) AS BIGINT) * 1000) // COUNT(*)
             AS mean_tokens_milli
    FROM t
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS DATA CARD — the one-row summary a dataset release publishes
    (Gebru et al.'s datasheets): document/blank/token counts, source and
    language cardinalities, exact-unique text count (normalized-content
    md5, the dedup family's own SQL_CONTENT_KEY so 'unique' means exactly
    what dedup_exact enforces), and mean tokens per document in exact
    permille. n_docs - n_unique_texts is the corpus's exact-duplicate
    mass, read directly off the card.

    Exactness: counts and the permille mean are integers end to end
    (truncating division on positives). Tokenization is the shared
    lowercase-split convention.

    Scale: one scan. Each document unpivots into one cell per distinct-
    counted column (source, lang, content key), the cells aggregate per
    (column, value) with map-side partials, and a second aggregate counts
    each column's non-null values and sums the per-document stats over
    the source cells (one per document). Three ``countDistinct`` in one
    ``agg`` would do the same in one plan, but Spark's multi-distinct
    rewrite orders its expand by a hash of expression ids that are new on
    every run, so each run recompiled ~4 Java classes; the explicit
    two-level aggregate plans the same on every run (see profile_orders).
    Exact, and acceptable for a per-release report (at 100 TB the
    approximate twin is hll_sketch_rollup's path; a data card wants the
    exact numbers once, not a sketch). No joins, no windows, no
    driver-side loops."""
    from serverless_mapreduce_spark.operators.dedup import _norm

    docs = table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(_tokens("text")).cast("bigint").alias("n_toks"),
        F.md5(_norm("text")).alias("content_key"),
    )
    cells = docs.select(
        F.inline(
            F.array(
                *[
                    F.struct(F.lit(c).alias("col"), F.col(c).alias("v"), "n_toks")
                    for c in ("source", "lang", "content_key")
                ]
            )
        )
    )
    values = cells.groupBy("col", "v").agg(
        F.count("*").alias("rows"),
        F.sum((F.col("n_toks") == 0).cast("int")).alias("blank"),
        F.sum("n_toks").alias("toks"),
    )

    def per_doc(c: str) -> Column:
        return F.sum(F.when(F.col("col") == "source", F.col(c))).cast("bigint")

    def n_distinct(c: str) -> Column:
        return F.count(F.when((F.col("col") == c) & F.col("v").isNotNull(), 1)).cast("bigint")

    return values.agg(
        F.coalesce(per_doc("rows"), F.lit(0).cast("bigint")).alias("n_docs"),
        per_doc("blank").alias("n_blank"),
        per_doc("toks").alias("n_tokens"),
        n_distinct("source").alias("n_sources"),
        n_distinct("lang").alias("n_langs"),
        n_distinct("content_key").alias("n_unique_texts"),
    ).selectExpr(
        "n_docs",
        "n_blank",
        "n_tokens",
        "n_sources",
        "n_langs",
        "n_unique_texts",
        "(n_tokens * 1000) DIV n_docs AS mean_tokens_milli",
    )


# --- BM25 ranked retrieval (integer-exact variant) ---------------------------------

BM25_TERMS = ("query", "hash", "dup")  #: fixed keyword query (mixed df)
BM25_K = 20                            #: result-list depth

#: tf normalization tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)) with the standard
#: k1=1.2, b=0.75, cleared of denominators against avgdl in milli-tokens A:
#:   tf_comp_ppm = 22·tf·A·1e6 DIV (10·tf·A + 3·A + 9000·dl)
#: idf is floor-log2-quantized — 1000·floor(log2(N DIV df)) computed EXACTLY
#: as length(bin(N DIV df)) - 1 on both engines (no libm: IEEE log2 of an
#: exact power of two is not trusted; string-length of the binary repr is).
#: Production swaps a smooth ln idf; the quantized ladder preserves BM25's
#: rare-term dominance while keeping every intermediate a BIGINT.


def _bm25_tf_comp(tf: str, a: str, dl: str) -> str:
    """The cleared-denominator tf component, in ppm (dialect-neutral SQL:
    callers splice engine-appropriate integer division)."""
    return (
        f"(22 * {tf} * {a} * 1000000) {{div}} "
        f"(10 * {tf} * {a} + 3 * {a} + 9000 * {dl})"
    )


def _bm25_oracle() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, w -> w = '{t}')) AS BIGINT) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    dfs = ", ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    idfs = ", ".join(
        f"CASE WHEN df{i} = 0 THEN 0"
        f" ELSE 1000 * (length(bin(n // df{i})) - 1) END AS idf{i}"
        for i in range(len(BM25_TERMS))
    )
    score = " + ".join(
        f"c.idf{i} * ({_bm25_tf_comp(f'tf{i}', 'c.a', 'dl').format(div='//')})"
        for i in range(len(BM25_TERMS))
    )
    return f"""
    WITH t AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tf_cols}
      FROM (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
        FROM documents
      ) WHERE len(toks) > 0
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS sdl, {dfs}
      FROM t
    ), c AS (
      SELECT n, (sdl * 1000) // n AS a, {idfs} FROM s
    ), scored AS (
      SELECT t.doc_id, CAST({score} AS BIGINT) AS score
      FROM t CROSS JOIN c
    )
    SELECT doc_id, score, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM scored WHERE score > 0
    ) WHERE rnk <= {BM25_K}
    """


def _bm25_int64_guard(max_dl: int, sdl: int, a: int) -> None:
    """Loud int64-envelope guard for the cleared-denominator BM25
    arithmetic (the _dsir_int64_headroom discipline). Two BIGINT
    intermediates can overflow, and NEITHER dominates the other: the
    scoring term 22·tf·A·1e6 (tf ≤ max_dl) grows with document length,
    while the avgdl-milli numerator sdl·1000 grows with corpus size —
    a short-doc corpus of 1e12 docs wraps sdl·1000 long before any
    per-doc term (r9 review). Exact Python-int bounds from corpus
    scalars; past either, Spark wraps silently while DuckDB raises."""
    imax = (1 << 63) - 1
    if sdl * 1000 > imax:
        raise ValueError(
            "bm25_search_topk avgdl arithmetic would overflow int64 "
            f"(total corpus tokens {sdl}: sdl*1000 > 2^63-1). Promote the "
            "avgdl-milli numerator to DECIMAL(38,0) on both engines before "
            "running at this scale."
        )
    worst = 22 * max_dl * a * 1_000_000
    if worst > imax:
        raise ValueError(
            "bm25_search_topk integer arithmetic would overflow int64 "
            f"(max doc length {max_dl}, avgdl_milli {a}: worst intermediate "
            f"{worst} > 2^63-1). Promote the tf-component intermediates to "
            "DECIMAL(38,0) on both engines before running at this scale."
        )


@query("bm25_search_topk", priority=150, oracle=_bm25_oracle())
def bm25_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 RANKED RETRIEVAL (integer-exact variant) — the classic
    retrieval scorer tfidf_top_terms and keyword_search_topk were missing:
    per-document BM25 over a fixed keyword query, top-{BM25_K} by score.
    The tf saturation/length normalization is the standard k1=1.2, b=0.75
    form cleared of denominators (see module constants) so every
    intermediate is a BIGINT; idf is floor-log2-quantized via the binary
    string length — EXACT on both engines, no libm — preserving BM25's
    rare-term dominance at 1-bit granularity (a trained deployment swaps
    the smooth ln idf; plan shape identical).

    Plan (the 100 TB part): per-document tf/dl are fixed column
    expressions over ONE tokenize (no explode, no per-term join — the
    query is a constant set); corpus statistics (N, Σdl, per-term df)
    are a single 1-row aggregate broadcast-crossed back (the bloom-op
    1-row-constant shape); the global top-{BM25_K} is orderBy+limit —
    Spark's TakeOrderedAndProject, a distributed partial top-k, NEVER a
    corpus-wide single-task rank window. Ties break on doc_id."""
    from pyspark.sql import Window

    toks = _tokens("text")

    # NB: a closure factory, NOT `lambda w, t_=t_: ...` — a two-parameter
    # lambda is Spark's (element, index) HOF form, which would compare
    # tokens against the array INDEX column.
    def _tf(term: str):
        return F.size(F.filter(toks, lambda w: w == term)).cast("bigint")

    from serverless_mapreduce_spark.caching import persist_tracked

    # persisted: the stats job and the scoring pass both read this narrow
    # (doc_id, dl, tf…) projection — ONE tokenize, materialized, not two
    # corpus scans (r8 third review).
    t = persist_tracked(
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("dl"),
            *[_tf(t_).alias(f"tf{i}") for i, t_ in enumerate(BM25_TERMS)],
        )
        .filter(F.col("dl") > 0)
    )
    # int64-envelope guard: two corpus scalars off the persisted projection.
    hd = t.agg(
        F.max("dl").alias("mdl"), F.sum("dl").alias("sdl"), F.count("*").alias("n")
    ).collect()[0]
    if hd["n"]:
        _bm25_int64_guard(hd["mdl"], hd["sdl"], hd["sdl"] * 1000 // hd["n"])
    nterms = len(BM25_TERMS)
    stats = t.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("dl").cast("bigint").alias("sdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("bigint").alias(f"df{i}")
            for i in range(nterms)
        ],
    ).selectExpr(
        "n",
        "(sdl * 1000) DIV n AS a",
        *[
            f"CASE WHEN df{i} = 0 THEN 0"
            f" ELSE 1000 * (length(bin(n DIV df{i})) - 1) END AS idf{i}"
            for i in range(nterms)
        ],
    )
    score = " + ".join(
        f"idf{i} * ({_bm25_tf_comp(f'tf{i}', 'a', 'dl').format(div='DIV')})"
        for i in range(nterms)
    )
    scored = (
        t.crossJoin(F.broadcast(stats))
        .selectExpr("doc_id", f"CAST({score} AS BIGINT) AS score")
        .filter(F.col("score") > 0)
    )
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(BM25_K)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


# --- self-supervised positive-pair generation (independent cropping) -------------

CROP_MIN_TOKENS = 8  #: docs shorter than this yield no pair (crop too thin)


@query(
    "contrastive_crop_pairs",
    priority=150,
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
      FROM documents
    ), base AS (
      SELECT doc_id, toks,
             CAST(len(toks) AS BIGINT) AS n,
             GREATEST(CAST(2 AS BIGINT), CAST(len(toks) AS BIGINT) // 4)
               AS crop_len
      FROM t WHERE len(toks) >= {CROP_MIN_TOKENS}
    ), placed AS (
      SELECT doc_id, toks, n, crop_len,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % (n - crop_len + 1) + 1 AS a_start,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))
                  AS BIGINT) % (n - crop_len + 1) + 1 AS p_start
      FROM base
    )
    SELECT doc_id, n AS n_tokens, crop_len, a_start, p_start,
           array_to_string(toks[a_start : a_start + crop_len - 1], ' ')
             AS anchor,
           array_to_string(toks[p_start : p_start + crop_len - 1], ' ')
             AS positive,
           CAST(len(list_intersect(toks[a_start : a_start + crop_len - 1],
                                   toks[p_start : p_start + crop_len - 1]))
                AS BIGINT) AS overlap_distinct
    FROM placed
    """,
)
def contrastive_crop_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-SUPERVISED POSITIVE-PAIR GENERATION by independent cropping
    (Contriever, Izacard et al. 2022; also the SimCSE-style augmentation a
    retriever pretraining run feeds its contrastive loss): every document
    of ≥ {CROP_MIN_TOKENS} tokens yields two independently-placed token
    spans of length max(2, n/4) — the anchor/positive pair — plus the
    distinct-token overlap the loss analysis wants (high-overlap pairs are
    easy positives; zero-overlap pairs are the hard ones worth tracking).
    Completes the contrastive data family: contrastive_hard_negatives
    mines the negatives, this generates the positives.

    Determinism (the epoch_shuffle_order discipline): crop placements are
    md5(doc_id)-derived — two 32-bit hash halves mod the valid start range
    — so a re-run (or the oracle) places every crop identically; no RNG,
    no task-order dependence. Pure per-row projection: one corpus scan,
    zero shuffles, fully codegen-able (split/slice/hash built-ins — the
    UDF-free hot path). At 100 TB this is a map-only stage that chains
    onto the tokenizer scan of whatever job runs next."""
    toks = _tokens("text")
    base = (
        table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("toks"))
        .withColumn("n", F.size("toks").cast("bigint"))
        .filter(F.col("n") >= CROP_MIN_TOKENS)
        .withColumn(
            "crop_len", F.greatest(F.lit(2).cast("bigint"), F.expr("n DIV 4"))
        )
    )
    h1 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    h2 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 9, 8), 16, 10
    ).cast("bigint")
    span = F.col("n") - F.col("crop_len") + 1
    placed = base.withColumn("a_start", h1 % span + 1).withColumn(
        "p_start", h2 % span + 1
    )
    a_crop = F.slice("toks", F.col("a_start").cast("int"), F.col("crop_len").cast("int"))
    p_crop = F.slice("toks", F.col("p_start").cast("int"), F.col("crop_len").cast("int"))
    return placed.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "crop_len",
        "a_start",
        "p_start",
        F.array_join(a_crop, " ").alias("anchor"),
        F.array_join(p_crop, " ").alias("positive"),
        F.size(F.array_intersect(a_crop, p_crop))
        .cast("bigint")
        .alias("overlap_distinct"),
    )


# --- span corruption (T5/UL2) mask layout ----------------------------------------

SPANC_NOISE_PCT = 15   #: target corrupted-token share (T5 default)
SPANC_MIN_TOKENS = 20  #: below this a doc gets no span (n_spans = 0)

_SQL_SPANC_NTOK = (
    "CAST(len(list_filter(string_split(lower(text), ' '), w -> w <> ''))"
    " AS BIGINT)"
)


@query(
    "span_corruption_layout",
    priority=150,
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_SQL_SPANC_NTOK} AS n_tokens FROM documents
    ), sized AS (
      SELECT doc_id, n_tokens,
             (n_tokens * {SPANC_NOISE_PCT}) // 100 // 3 AS n_spans
      FROM d WHERE n_tokens >= {SPANC_MIN_TOKENS}
    ), spans AS (
      SELECT doc_id, n_tokens, n_spans,
             n_tokens // n_spans AS seg_len, k.mask_id
      FROM sized, UNNEST(range(0, n_spans)) AS k(mask_id)
    ), derived AS (
      SELECT doc_id, mask_id, seg_len,
             2 + CAST(concat('0x', substr(md5(
                   CAST(doc_id AS VARCHAR) || ':' || CAST(mask_id AS VARCHAR)
                   || ':len'), 1, 8)) AS BIGINT) % 3 AS span_len,
             CAST(concat('0x', substr(md5(
                   CAST(doc_id AS VARCHAR) || ':' || CAST(mask_id AS VARCHAR)
                   ), 1, 8)) AS BIGINT) AS h
      FROM spans
    )
    SELECT doc_id, mask_id,
           mask_id * seg_len + (h % (seg_len - span_len + 1)) AS span_start,
           span_len
    FROM derived
    """,
)
def span_corruption_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-CORRUPTION MASK LAYOUT (T5 / UL2 denoising objective): for
    each document, the deterministic set of token spans a pretraining
    run would replace with sentinel tokens — ~{SPANC_NOISE_PCT} % of
    tokens corrupted in mean-length-3 spans, the T5 defaults. The real
    sampler draws spans at random per epoch; a DATA-pipeline layout must
    be reproducible and engine-checkable, so spans here are hash-derived
    (the split-assignment md5 idiom): the doc is cut into n_spans equal
    segments and each segment k hosts one span of length 2 + H(doc,k,
    'len') % 3 at offset H(doc, k) % (seg_len − span_len + 1) — spans
    can NEVER overlap (segment confinement), lengths average 3, and the
    layout is a pure function of doc_id, replayable across epochs and
    engines (per-epoch variation = salt the hash input with the epoch
    number; the plan is unchanged). Documents under {SPANC_MIN_TOKENS}
    tokens host no span and drop out on both engines.

    Shape: one narrow projection + an output-proportional sequence
    explode — zero shuffles, zero UDFs, whole-stage codegen end to end
    (the contrastive_crop_pairs discipline applied to the denoising
    objective). All arithmetic is integer on positives (DIV == //);
    md5-prefix ints are the shared split idiom."""
    from serverless_mapreduce_spark.operators.dedup import _tokens

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(_tokens("text")).cast("bigint").alias("n_tokens")
    )
    sized = d.filter(F.col("n_tokens") >= SPANC_MIN_TOKENS).selectExpr(
        "doc_id",
        "n_tokens",
        f"(n_tokens * {SPANC_NOISE_PCT}) DIV 100 DIV 3 AS n_spans",
    )
    h8 = (
        lambda expr: F.conv(F.substring(F.md5(F.expr(expr)), 1, 8), 16, 10)
        .cast("bigint")
    )
    return (
        sized.selectExpr(
            "doc_id",
            "n_tokens DIV n_spans AS seg_len",
            "explode(sequence(CAST(0 AS BIGINT), n_spans - 1)) AS mask_id",
        )
        .withColumn(
            "span_len",
            F.lit(2)
            + h8("concat(CAST(doc_id AS STRING), ':', CAST(mask_id AS STRING), ':len')")
            % 3,
        )
        .withColumn(
            "h",
            h8("concat(CAST(doc_id AS STRING), ':', CAST(mask_id AS STRING))"),
        )
        .selectExpr(
            "doc_id",
            "mask_id",
            "mask_id * seg_len + (h % (seg_len - span_len + 1)) AS span_start",
            "span_len",
        )
    )


# --- hybrid retrieval: reciprocal-rank fusion (r12) ----------------------------

RRF_K = 60          #: the canonical RRF damping constant (Cormack et al. 2009)
RRF_SCALE = 10**9   #: integer contribution = RRF_SCALE DIV (RRF_K + rank)
RRF_TOP_K = 10


def _rrf_oracle() -> str:
    from serverless_mapreduce_spark.operators.nlp import KEYWORD_ORACLE

    return f"""
    WITH bm AS ({_bm25_oracle()}),
    kw AS ({KEYWORD_ORACLE}),
    fused AS (
      SELECT COALESCE(bm.doc_id, kw.doc_id) AS doc_id,
             COALESCE({RRF_SCALE} // ({RRF_K} + bm.rnk), 0)
               + COALESCE({RRF_SCALE} // ({RRF_K} + kw.rnk), 0) AS rrf_score,
             CASE WHEN bm.rnk IS NOT NULL THEN 1 ELSE 0 END AS in_bm25,
             CASE WHEN kw.rnk IS NOT NULL THEN 1 ELSE 0 END AS in_keyword
      FROM bm FULL OUTER JOIN kw ON kw.doc_id = bm.doc_id
    )
    SELECT doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
           CAST(in_bm25 AS BIGINT) AS in_bm25,
           CAST(in_keyword AS BIGINT) AS in_keyword,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)
                      AS rnk
          FROM fused)
    WHERE rnk <= {RRF_TOP_K}
    """


@query("hybrid_search_rrf", priority=150, oracle=_rrf_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL FUSION — RECIPROCAL RANK FUSION (Cormack et al.
    2009), the list-merging step every production RAG stack runs between
    its retrievers and its reranker: two rankings over the same corpus
    (the BM25 ranker and the tf-idf keyword ranker — at serving scale,
    typically a lexical and a dense list) fuse by summed reciprocal
    ranks, score = Σ_r 1/(k + rank_r) with k={RRF_K}. RRF is the
    standard choice precisely because it is SCORE-SCALE-FREE: BM25
    log-idf points and cosine similarities are incomparable, ranks are
    not — no per-list normalization, no tuned weights. Contributions are
    exact integers ({RRF_SCALE} DIV (k + rank) — truncating division,
    identical in both engines), so the fused ordering is deterministic;
    membership flags surface which retriever(s) found each survivor.

    Both input rankings are the REGISTERED queries' own derivations (the
    keyword oracle is shared by module constant; the Spark side calls
    the registered builders), so the fusion can never drift from what
    each ranker actually returns.

    Scale: the fused frame is (top-k₁ + top-k₂) rows per query — serving
    cost is a result-list merge, never corpus-touching; a 1000-query
    eval batch fuses as one groupBy over ≤ 30k rows."""
    from serverless_mapreduce_spark.operators.nlp import keyword_search_topk

    bm = bm25_search_topk(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("bm_rnk")
    )
    kw = keyword_search_topk(spark, sf_dir).select(
        "doc_id", F.col("rnk").alias("kw_rnk")
    )
    fused = (
        bm.join(kw, "doc_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.coalesce(
                F.expr(f"{RRF_SCALE} DIV ({RRF_K} + bm_rnk)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"{RRF_SCALE} DIV ({RRF_K} + kw_rnk)"), F.lit(0)
            ),
        )
        .withColumn(
            "in_bm25",
            F.when(F.col("bm_rnk").isNotNull(), 1).otherwise(0).cast("bigint"),
        )
        .withColumn(
            "in_keyword",
            F.when(F.col("kw_rnk").isNotNull(), 1).otherwise(0).cast("bigint"),
        )
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= RRF_TOP_K)
        .select(
            "doc_id",
            F.col("rrf_score").cast("bigint").alias("rrf_score"),
            "in_bm25",
            "in_keyword",
            "rnk",
        )
    )


# --- retrieval-quality datacard: MRR of each ranker vs the fusion (r13) --------

MRR_PPM = 10**6  #: reciprocal rank in exact integer parts-per-million


def _hybrid_mrr_oracle() -> str:
    from serverless_mapreduce_spark.operators.nlp import (
        KEYWORD_ORACLE,
        SEARCH_TERMS,
    )

    bm_in = ", ".join(f"'{t}'" for t in BM25_TERMS)
    kw_in = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
    return f"""
    WITH relv AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS toks
        FROM documents
      )
      WHERE len(list_filter(toks, w -> w IN ({bm_in}))) > 0
        AND len(list_filter(toks, w -> w IN ({kw_in}))) > 0
    ),
    bm AS ({_bm25_oracle()}),
    kw AS ({KEYWORD_ORACLE}),
    rrf AS ({_rrf_oracle()}),
    m AS (
      SELECT 'bm25' AS ranker, b.rnk AS rnk,
             CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
      FROM bm b LEFT JOIN relv r USING (doc_id)
      UNION ALL
      SELECT 'keyword', k.rnk,
             CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END
      FROM kw k LEFT JOIN relv r USING (doc_id)
      UNION ALL
      SELECT 'rrf', f.rnk,
             CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END
      FROM rrf f LEFT JOIN relv r USING (doc_id)
    )
    SELECT ranker,
           CAST(COUNT(*) AS BIGINT) AS n_list,
           CAST(SUM(is_rel) AS BIGINT) AS n_rel_in_list,
           CAST(MIN(CASE WHEN is_rel = 1 THEN rnk END) AS BIGINT)
             AS first_rel_rank,
           CAST(COALESCE({MRR_PPM} //
                  MIN(CASE WHEN is_rel = 1 THEN rnk END), 0) AS BIGINT)
             AS rr_ppm
    FROM m GROUP BY ranker
    """


@query("eval_hybrid_retrieval_mrr", priority=150, oracle=_hybrid_mrr_oracle())
def eval_hybrid_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL-QUALITY DATACARD for the hybrid ranker (r12 verdict item
    6): ``hybrid_search_rrf`` fuses the BM25 and tf-idf keyword lists,
    but nothing graded the fusion — this scores ALL THREE result lists
    (bm25, keyword, rrf) against one brute-force relevance truth, the
    reciprocal-rank datacard a retrieval team reads before trusting a
    fusion change. Relevance is derived from the corpus itself: a doc is
    relevant iff it matches BOTH facets of the information need — at
    least one BM25 query term AND at least one keyword query term (the
    two lists probe different facets, so fusion quality is exactly
    "does the merged list surface the docs satisfying both?"). Per
    ranker: list length, relevant-in-list count, first relevant rank,
    and its reciprocal in EXACT integer ppm ({MRR_PPM} DIV rank — the
    repo's never-ROUND-small-ratios rule; hash-exact on both engines).
    Non-vacuity is pinned by tests/test_round13.py on a crafted corpus
    where fusion provably beats both single rankers (the relevant doc
    sits at rank 2 in each list and rank 1 fused).

    Scale: three result-list-sized joins against a corpus-scan relevance
    set — the lists are top-k (bounded), the relevance scan is one
    predicate pass that would be a metadata-pruned scan on a real
    corpus; nothing here is corpus × corpus."""
    from serverless_mapreduce_spark.operators.nlp import (
        SEARCH_TERMS,
        keyword_search_topk,
    )

    docs = table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), " "), lambda w: w != F.lit("")
    )
    relv = docs.select(
        "doc_id",
        F.arrays_overlap(
            toks, F.array(*[F.lit(t) for t in BM25_TERMS])
        ).alias("f1"),
        F.arrays_overlap(
            toks, F.array(*[F.lit(t) for t in SEARCH_TERMS])
        ).alias("f2"),
    ).filter("f1 AND f2").select("doc_id", F.lit(1).alias("is_rel"))

    lists = (
        ("bm25", bm25_search_topk(spark, sf_dir)),
        ("keyword", keyword_search_topk(spark, sf_dir)),
        ("rrf", hybrid_search_rrf(spark, sf_dir)),
    )
    out = None
    for name, lst in lists:
        scored = (
            lst.select("doc_id", "rnk")
            .join(F.broadcast(relv), "doc_id", "left")
            .agg(
                F.count("*").cast("bigint").alias("n_list"),
                F.coalesce(F.sum("is_rel"), F.lit(0))
                .cast("bigint")
                .alias("n_rel_in_list"),
                F.min(F.when(F.col("is_rel") == 1, F.col("rnk")))
                .cast("bigint")
                .alias("first_rel_rank"),
            )
            .select(
                F.lit(name).alias("ranker"),
                "n_list",
                "n_rel_in_list",
                "first_rel_rank",
                F.coalesce(
                    F.expr(f"{MRR_PPM} DIV first_rel_rank"), F.lit(0)
                )
                .cast("bigint")
                .alias("rr_ppm"),
            )
        )
        out = scored if out is None else out.unionAll(scored)
    return out
