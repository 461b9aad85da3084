"""Deduplication operators over ``documents`` / ``embeddings`` — the
training-data-pipeline extension family (no reference analog; mandated by
BASELINE.json's north star).

Join/aggregate shapes are built-in column expressions (md5, explode, band
joins — JVM-side, codegen); the per-document fingerprint computations
(minhash signatures, simhash) run as single shuffle-free Arrow passes with
exact integer math — see minhash_signatures/simhash_fingerprint for why
that beats both interpreted higher-order functions and wide codegen
aggregates for md5-bound work.

- exact: hash-groupBy on normalized content. One shuffle on the md5 key.
- minhash_lsh: shingle → K minhashes → B bands → band-bucket self-join →
  exact Jaccard verify on candidates. The self-join is on (band, band_hash),
  i.e. only colliding docs meet — the standard sub-quadratic near-dup plan
  at 100 TB. Minhash uses *double hashing*: one md5 per shingle split into
  two 32-bit ints (h1, h2), hash_j = (h1 + j·h2) mod P, sig[j] = min — both
  engines derive (h1, h2) from the same md5 hex, which is what makes the
  oracle hash-match.
- decontaminate: the same banding, corpus×benchmark instead of self-join
  (benchmark side broadcasts — test-set leakage removal).
- ngram_jaccard: exact Jaccard via a shingle inverted index (explode →
  join on shingle → count shared / union) — no N² pair enumeration.
- simhash: fingerprint + hamming-banded pairing (simhash_pairs).
- embedding_cosine_pairs: exact all-pairs cosine *verifier helper* (not a
  registered query); the registered scale path is
  similarity.dedup_embedding_lsh (bucket first, verify inside buckets).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_mapreduce_spark.artifacts import artifact
from serverless_mapreduce_spark.caching import persist_tracked
from serverless_mapreduce_spark.catalog import table
from serverless_mapreduce_spark.registry import query

SHINGLE_W = 3          # words per shingle
NUM_HASHES = 16        # minhash signature length
NUM_BANDS = 8          # LSH bands (rows per band = 16/8 = 2)
JACCARD_THRESH = 0.18  # near-dup cutoff (tuned to the synthetic corpus)
COSINE_THRESH = 0.35   # embedding near-dup cutoff (max pair cos on the corpus ≈ 0.51)
MINHASH_PRIME = 4294967311  # smallest prime > 2^32


#: The ONE oracle-side definition of the exact-dedup content key; its
#: Spark twin is ``F.md5(_norm())``. Shared by dedup_exact,
#: dedup_rate_by_source, and text.filter_cascade_audit so the "is this
#: doc an exact duplicate" rule cannot drift between the dedup family
#: and the pipeline audits built on it.
SQL_CONTENT_KEY = r"md5(regexp_replace(lower(text), '\s+', ' ', 'g'))"


def _norm(col: str = "text") -> Column:
    return F.regexp_replace(F.lower(F.col(col)), r"\s+", " ")


def _tokens(col: str = "text") -> Column:
    return F.filter(F.split(F.lower(F.col(col)), " "), lambda w: w != "")


def shingle_rows(docs: DataFrame, col: str = "text") -> DataFrame:
    """(doc_id, s): one row per W-word shingle occurrence, built entirely
    from codegen-able scalar/window ops — ``posexplode(split(...))`` then
    window ``lead`` for token adjacency. A doc shorter than W words
    contributes its whole (normalized) text as one shingle; ``concat_ws``
    skipping NULL leads yields exactly that on the doc's first token row.

    Why long format and no array column: the obvious
    ``transform(sequence(...), i -> ...)`` array formulation is a
    HigherOrderFunction — *interpreted*, never codegen — and exploding such
    an array makes Generate re-evaluate the interpreted expression per
    output row (measured 6.4s vs 0.26s over materialized arrays at sf0.1).
    Here every expression is JVM-codegen'd and evaluated once.

    Scale shape: hash-repartition by doc_id up front (a no-op on real
    multi-row-group inputs, see ensure_parallelism) — the windows and the
    inverted-index consumer (dedup_ngram_jaccard) reuse that one
    exchange."""
    from pyspark.sql import Window

    from serverless_mapreduce_spark.catalog import ensure_parallelism

    docs = ensure_parallelism(docs.sparkSession, docs, "doc_id")
    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.lower(F.col(col)), " ")).alias("pos", "w")
    ).filter(F.col("w") != "")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    wc = Window.partitionBy("doc_id")
    x = tok.select(
        "doc_id",
        F.concat_ws(
            " ", "w", F.lead("w", 1).over(wd), F.lead("w", 2).over(wd)
        ).alias("s"),
        F.lead("w", SHINGLE_W - 1).over(wd).isNotNull().alias("is_full"),
        F.row_number().over(wd).alias("rn"),
        F.count("*").over(wc).alias("n_tok"),
    )
    return x.filter(
        F.col("is_full") | ((F.col("rn") == 1) & (F.col("n_tok") < SHINGLE_W))
    ).select("doc_id", "s")


# SQL twins of the helpers above (DuckDB dialect).
_SQL_TOKS = "list_filter(string_split(lower(text), ' '), w -> w <> '')"
_SQL_SHINGLES = f"""
  CASE WHEN len({_SQL_TOKS}) >= {SHINGLE_W}
       THEN list_distinct(list_transform(range(1, len({_SQL_TOKS}) - {SHINGLE_W - 2}),
              i -> {_SQL_TOKS}[i] || ' ' || {_SQL_TOKS}[i+1] || ' ' || {_SQL_TOKS}[i+2]))
       ELSE list_filter([array_to_string({_SQL_TOKS}, ' ')], s -> s <> '')
  END
"""
# Token-less docs: the ELSE arm filters the '' shingle so a blank document
# gets [] — its minhash sig is then all-NULL, its band_hash NULL, and NULL
# never equi-joins, exactly matching the Arrow pass dropping the doc
# (minhash_signatures: `if not toks: continue`). Without the filter, two
# blank docs would get identical md5('') signatures and the oracle would
# report a pair Spark never emits.


# --- exact dedup ---------------------------------------------------------------

@query(
    "dedup_exact", priority=200,
    oracle=f"""
    SELECT {SQL_CONTENT_KEY} AS content_key,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content, keep min doc_id.
    At scale: one shuffle keyed by a 128-bit digest — uniformly distributed,
    skew-free by construction."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5(_norm()).alias("content_key"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )


# --- MinHash + LSH near-dedup ----------------------------------------------------

def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, sig[NUM_HASHES]) — double hashing: one md5 per
    distinct shingle split into two 32-bit ints (h1, h2); hash_j =
    (h1 + j·h2) mod P; sig[j] = min over shingles. A doc shorter than
    SHINGLE_W words contributes its whole token string as one shingle;
    token-less docs contribute nothing (shingle_rows semantics).

    Physical shape: ONE Arrow ``mapInPandas`` pass — shingle in Python,
    md5 each distinct shingle of a batch once (hashlib, C speed), and take
    the NUM_HASHES mins as a numpy reduction. All-integer math ⇒
    bit-identical to any evaluation order. Shuffle-FREE: the previous
    explode → window → groupBy(doc_id) formulation shuffled ~10× the
    corpus bytes in shingle-occurrence rows (the long format is still the
    right shape for the *inverted index* in dedup_ngram_jaccard, where
    per-shingle rows are the point)."""
    import hashlib
    from collections.abc import Iterable

    j_range = np.arange(NUM_HASHES, dtype=np.int64)

    def gen(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            out = []
            cache: dict[str, tuple[int, int]] = {}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [w for w in text.lower().split(" ") if w] if text else []
                if not toks:
                    continue
                if len(toks) >= SHINGLE_W:
                    sh = {
                        " ".join(toks[i : i + SHINGLE_W])
                        for i in range(len(toks) - SHINGLE_W + 1)
                    }
                else:
                    sh = {" ".join(toks)}
                hs = []
                for s in sh:
                    hv = cache.get(s)
                    if hv is None:
                        hx = hashlib.md5(s.encode("utf-8")).hexdigest()
                        hv = cache[s] = (int(hx[:8], 16), int(hx[8:16], 16))
                    hs.append(hv)
                h = np.asarray(hs, dtype=np.int64)  # (n_shingles, 2)
                # (n_shingles, NUM_HASHES) hash matrix → column mins
                sig = ((h[:, :1] + j_range * h[:, 1:]) % MINHASH_PRIME).min(axis=0)
                out.append((doc_id, sorted(sh), [int(x) for x in sig]))
            # Explicit object dtype for the empty arms: a bare [] column
            # defaults to float64, which Arrow cannot cast to list<string>
            # — a batch of only token-less docs would crash the stage.
            yield pd.DataFrame(
                out, columns=["doc_id", "shingles", "sig"]
            ) if out else pd.DataFrame(
                {
                    "doc_id": pd.Series(dtype="int64"),
                    "shingles": pd.Series(dtype="object"),
                    "sig": pd.Series(dtype="object"),
                }
            )

    from serverless_mapreduce_spark.catalog import ensure_parallelism

    # Round-robin the RAW docs so the md5/shingle CPU work uses every core
    # (single-row-group fixture ⇒ 1-partition scan; a no-op at scale).
    docs = ensure_parallelism(docs.sparkSession, docs)
    return docs.select("doc_id", "text").mapInPandas(
        gen, "doc_id bigint, shingles array<string>, sig array<bigint>"
    )


def _bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) from a signature frame — the banded
    layout of the LSH index, defined ONCE for every Spark-side consumer
    (dedup_minhash_lsh's self-join, the incremental probe) exactly as
    _SQL_BAND_CTES defines it once for the oracles: rows-per-band = 2,
    band hash = md5(sig[2b+1] || ',' || sig[2b+2])."""
    return sigs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(NUM_BANDS - 1))).alias("band_idx"),
        F.col("sig"),
    ).select(
        "doc_id",
        "band_idx",
        F.md5(
            F.concat(
                F.element_at("sig", F.col("band_idx") * 2 + 1).cast("string"),
                F.lit(","),
                F.element_at("sig", F.col("band_idx") * 2 + 2).cast("string"),
            )
        ).alias("band_hash"),
    )


_SQL_SIG = f"""
  list_transform(range(0, {NUM_HASHES}),
    j -> list_min(list_transform(range(1, len({{sh}}) + 1),
           i -> (CAST('0x' || substr(md5({{sh}}[i]), 1, 8) AS BIGINT)
                 + j * CAST('0x' || substr(md5({{sh}}[i]), 9, 8) AS BIGINT))
                % {MINHASH_PRIME})))
"""


# The shingle → signature → band derivation as a reusable CTE chain
# (`bands` is the final CTE): shared by the pair CTEs below and by the
# incremental-dedup oracle.
_SQL_BAND_CTES = f"""
    base AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles
      FROM documents
    ), sigs AS (
      SELECT doc_id, shingles,
             {_SQL_SIG.format(sh='shingles')} AS sig
      FROM base
    ), bands AS (
      SELECT doc_id, b.band_idx,
             md5(CAST(sig[b.band_idx * 2 + 1] AS VARCHAR) || ','
                 || CAST(sig[b.band_idx * 2 + 2] AS VARCHAR)) AS band_hash
      FROM sigs, (SELECT unnest(range(0, {NUM_BANDS})) AS band_idx) b
    )
"""

#: HOT-BAND GUARD (VERDICT r10 item 7): a band bucket shared by n
#: documents expands to C(n,2) candidate pairs — a boilerplate band hit
#: by 10^6 docs at 100 TB would emit 10^12 pairs BEFORE the Jaccard
#: verify ever runs. Bands over this cardinality switch from pairwise
#: expansion to a STAR through the band's min-doc_id hub (n-1 pairs):
#: connectivity — and therefore every downstream cluster/keep decision —
#: is preserved whenever the hub pairs pass the verify, which is exactly
#: the hot-band regime (members are near-identical boilerplate). The
#: documented recall bound: a non-hub pair (a, b) inside a hot band is
#: emitted only through the hub, so it is lost iff hub~a or hub~b fails
#: the verify while a~b would have passed — impossible for exact
#: duplicates, rare for the near-identical mass that makes bands hot.
#: Fixture maxima are 3 (sf0.01) and 8 (sf0.1), so the cap never fires
#: on non-degenerate data and every existing pair oracle is unchanged;
#: the capped path is pinned by a crafted mega-band corpus
#: (tests/test_hot_band.py) where both engines compute the SAME capped
#: semantics — the cap lives in the shared cand derivation, not in one
#: engine.
BAND_CAP = 32

def sql_cand_from_bands(
    bands: str = "bands", out_a: str = "doc_a", out_b: str = "doc_b"
) -> str:
    """The capped banded-candidate derivation (bcnt/bx/cand CTE fragment)
    over an arbitrary ``(doc_id, band_idx, band_hash)`` CTE — so consumers
    banding something OTHER than documents.text (the DPO prompt leg)
    reuse the ONE definition instead of re-implementing the hot-band
    guard inline (r11 review). Appended after a WITH chain that already
    defines ``bands``."""
    return f"""bcnt AS (
      SELECT band_idx, band_hash, COUNT(*) AS _bn
      FROM {bands} GROUP BY band_idx, band_hash
    ), bx AS (
      SELECT b.doc_id, b.band_idx, b.band_hash, c._bn
      FROM {bands} b JOIN bcnt c
        ON c.band_idx = b.band_idx AND c.band_hash = b.band_hash
    ), cand AS (
      SELECT DISTINCT {out_a}, {out_b} FROM (
        SELECT a.doc_id AS {out_a}, b.doc_id AS {out_b}
        FROM bx a JOIN bx b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
        WHERE a._bn <= {BAND_CAP}
        UNION ALL
        SELECT h.{out_a}, b.doc_id AS {out_b}
        FROM (SELECT band_idx, band_hash, MIN(doc_id) AS {out_a}
              FROM bx WHERE _bn > {BAND_CAP}
              GROUP BY band_idx, band_hash) h
        JOIN bx b ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash
         AND b.doc_id > h.{out_a}
      )
    )"""


# The banded-candidate derivation (`cand` is the final CTE) — the ONE
# definition of "which document pairs meet" that every banded consumer
# (pair verify, estimator eval, the DPO prompt leg via
# sql_cand_from_bands) builds on; a change to the candidate join must
# happen here and nowhere else. Includes the hot-band guard (see
# BAND_CAP).
_SQL_CAND_CTES = f"""
    {_SQL_BAND_CTES}, {sql_cand_from_bands()}
"""


def _band_candidates(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate pairs from a banded layout — the Spark
    twin of ``_SQL_CAND_CTES``'s cand, defined ONCE for every pairwise
    consumer (dedup_minhash_lsh, the estimator eval). Cold bands (≤
    BAND_CAP members) expand pairwise; hot bands emit a star through
    their min-doc_id hub — O(n) pairs instead of O(n²), see BAND_CAP.
    HOT DETECTION IS A TINY AGGREGATE, so the guard never sorts or
    windows the full banded frame: one groupBy over (band_idx,
    band_hash) — whose exchange the self-join reuses (same clustering,
    same child; the r6 exchange-reuse pattern) — filtered to the
    over-cap keys, which are near-empty by the guard's own premise.
    The hot-key anti-join carves them out of the pairwise path and the
    star hubs come from the same frame; no broadcast HINT — AQE
    broadcasts the (normally empty) hot set at runtime and falls back
    to a keyed join on an adversarial corpus where the hot set itself
    is large (an unconditional broadcast of a data-dependent set would
    be the unbounded-driver-state shape this codebase bans). Earlier
    formulations measured +1.8 s/line (groupBy + row join-back) and
    +1.2 s/line (window count = full partition sort) on the minhash
    family; this one leaves the cold path's plan shape untouched."""
    counts = bands.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("_n")
    )
    hot_keys = counts.filter(F.col("_n") > BAND_CAP).select(
        "band_idx", "band_hash"
    )
    cold = bands.join(hot_keys, ["band_idx", "band_hash"], "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    cold_pairs = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    hot = bands.join(hot_keys, ["band_idx", "band_hash"])
    hubs = hot.groupBy("band_idx", "band_hash").agg(
        F.min("doc_id").alias("doc_a")
    )
    star = (
        hubs.join(hot, ["band_idx", "band_hash"])
        .filter(F.col("doc_id") > F.col("doc_a"))
        .select("doc_a", F.col("doc_id").alias("doc_b"))
    )
    return cold_pairs.unionAll(star).distinct()

# The banded-minhash near-dup pair derivation as a reusable CTE chain
# (`pairs` is the final CTE): shared by the dedup_minhash_lsh oracle and by
# the connected-components oracle in dedup_cluster.
_SQL_PAIR_CTES = f"""
    {_SQL_CAND_CTES}, pairs AS (
      SELECT c.doc_a, c.doc_b,
             ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
               AS jaccard
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.doc_a
      JOIN sigs sb ON sb.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= {JACCARD_THRESH}
    )
"""


@artifact("dedup_verified_pairs", inputs=("documents",))
def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERIFIED near-dup pair table — the minhash family's shared
    artifact (VERDICT r11 item 3): dedup_minhash_lsh, dedup_cluster, and
    split_leakage_audit all consume the same signatures → bands → guarded
    candidates → exact-Jaccard derivation, and each used to rebuild it
    from scratch (the hot-band guard's cardinality aggregate per query was
    the measured +1.7-2.1 s/line cost). Deliberately NOT
    release_cached()-scoped: at 100 TB this is the written pair table a
    dedup run materializes once per corpus version; here the checkpoint
    frees with the SparkContext."""
    return _build_verified_pairs(spark, sf_dir).localCheckpoint()


def _jaccard_sets(sh_a: str, sh_b: str) -> Column:
    """Exact shingle-set Jaccard |A∩B| / (|A|+|B|−|A∩B|) — the
    inclusion-exclusion identity, valid because ``minhash_signatures``
    emits each doc's shingles as a sorted SET (distinct elements), so
    the denominator equals |A∪B| as the SAME integer and the IEEE
    divide is bit-identical to the former
    ``size(array_distinct(concat(...)))`` form (pinned in
    tests/test_round18_opt.py). What changes is allocation: the old
    denominator materialized the ~|A|+|B| element union ARRAY per
    candidate pair — at 32 local cores that allocation rate made the
    verify join anti-scale (sf1 truth join: 44 s at c32 vs 12 s at c8,
    GC-bound; guide §5). size() on the intersect is the only array op
    left, and codegen CSE evaluates the intersect once."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return inter.cast("double") / (
        F.size(sh_a) + F.size(sh_b) - inter
    ).cast("double")


def _build_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # Materialize signatures once: the plan references them three times
    # (bands, both verify sides), and Catalyst's CollapseProject would
    # otherwise inline the whole shingle+minhash expression into every
    # downstream row (~16× recompute — measured 31.5s → 3.6s at sf0.1).
    # At 100 TB this persist is a written signature table. Tracked so the
    # next query invocation releases it (caching.py).
    sigs = persist_tracked(minhash_signatures(docs))

    cand = _band_candidates(_bands(sigs))

    sh = sigs.select("doc_id", "shingles")
    jac = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .withColumn(
            "jaccard_raw",
            _jaccard_sets("sh_a", "sh_b"),
        )
    )
    return (
        jac.filter(F.col("jaccard_raw") >= JACCARD_THRESH)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).alias("jaccard"))
    )


@query(
    "dedup_minhash_lsh", priority=200,
    oracle=f"WITH {_SQL_PAIR_CTES} SELECT doc_a, doc_b, jaccard FROM pairs",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup: only documents agreeing on a whole band meet
    in the self-join (shuffle keyed by (band_idx, band_hash)), then exact
    Jaccard verifies candidates. Sub-quadratic: cost ∝ docs·bands +
    collisions, never N². Serves the session-shared verified-pair table
    (:func:`_verified_pairs`) — built once, reused by the whole minhash
    family."""
    return _verified_pairs(spark, sf_dir)


# --- near-dup clustering (connected components over LSH pairs) ----------------

CC_MAX_ITERS = 15  # hash-to-min rounds; LSH components are near-cliques (~2-3)

# pairs → symmetric edges → transitive closure → component-min labels, as a
# reusable CTE chain (`comp` is the final CTE; needs WITH RECURSIVE): shared
# by the dedup_cluster oracle and the corpus-apply oracle.
_SQL_COMP_CTES = f"""{_SQL_PAIR_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(doc_id, lbl) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.doc_id = e.dst
    ),
    comp AS (SELECT doc_id, MIN(lbl) AS canonical_id FROM reach GROUP BY doc_id)"""


@query(
    "dedup_cluster",
    priority=0,
    oracle=f"""
    WITH RECURSIVE {_SQL_COMP_CTES}
    SELECT c.doc_id, c.canonical_id, s.cluster_size
    FROM comp c
    JOIN (SELECT canonical_id, COUNT(*) AS cluster_size
          FROM comp GROUP BY canonical_id) s USING (canonical_id)
    """,
)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup **clustering**: pairwise LSH matches are not yet a dedup
    decision — transitive matches (A~B, B~C) must collapse into one cluster
    with one canonical keeper. Computes connected components over the
    dedup_minhash_lsh pair graph via *hash-to-min* label propagation: every
    doc starts labeled with its own id; each round every doc takes the min
    label among itself and its neighbors; fixpoint = component-min labels.

    Output: (doc_id, canonical_id, cluster_size) for every doc in ≥1 pair —
    the keep/drop list is ``doc_id == canonical_id``.

    Scale shape: each round is one equi-join (edges.dst = labels.doc_id) and
    one groupBy(doc_id) — both hash-partitioned on doc_id, so the exchange is
    reused across rounds rather than re-planned. Rounds needed = eccentricity
    of each component's min node; LSH near-dup components are near-cliques
    (1-2 rounds). For adversarially chain-shaped graphs the same loop slots
    in alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond"), which converges in O(log n) rounds;
    not needed for near-dup workloads. Per-round frames are persisted and the
    superseded generation is unpersisted immediately, so peak executor
    storage is 2 label tables regardless of round count.

    Oracle: recursive CTE propagating labels along edges, then MIN per doc —
    same fixpoint, derived by DuckDB's recursion instead of the driver loop.
    """
    from pyspark.sql import Window

    # localCheckpoint (not persist) on every generation: an iterative plan's
    # lineage otherwise grows by one join+agg per round, and Catalyst
    # re-optimizes the FULL logical plan on every action even when execution
    # hits the cache — measured rounds ballooning 0.8s → 1.4s → 2.4s with
    # persist vs a flat ~0.4s with truncated lineage (total 8s → 3s at
    # sf0.1). Checkpoint data is freed by the context cleaner once each
    # superseded generation goes out of scope; on a real cluster prefer
    # reliable checkpoint() to a directory (localCheckpoint does not survive
    # executor loss).
    # the pair table itself is the session-shared checkpoint (_verified_pairs);
    # selecting off it keeps lineage flat without a second materialization
    pairs = _verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    # Size the iteration to the PAIR GRAPH, not the corpus: near-dup edges
    # are orders of magnitude fewer than documents, and running each tiny
    # round across corpus-width shuffle partitions makes every round pure
    # task-scheduling overhead (measured ~1 s/round over 512 edges at 32
    # partitions vs ~0.2 s at 1). ~100k edges per partition, capped at the
    # cluster's parallelism — the count grows with the graph, so the loop
    # stays distributed when the graph is actually big.
    n_edges = 2 * pairs.count()
    parts = max(1, min(spark.sparkContext.defaultParallelism, n_edges // 100_000 + 1))
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .repartition(parts, "dst")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("lbl", F.col("doc_id"))
        .repartition(parts, "doc_id")
        .localCheckpoint()
    )
    # Labels only ever decrease, so sum(lbl) strictly decreases each round
    # until the fixpoint: one cheap aggregate per round detects convergence
    # (no join-against-previous needed). Exact integer math — no float drift.
    prev_sum = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(CC_MAX_ITERS):
        neighbor_min = edges.join(labels, edges["dst"] == labels["doc_id"]).select(
            edges["src"].alias("doc_id"), labels["lbl"].alias("lbl")
        )
        new_labels = (
            labels.unionByName(neighbor_min)
            .groupBy("doc_id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
        new_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"dedup_cluster did not converge in {CC_MAX_ITERS} rounds — "
            "component diameter exceeds the near-dup assumption; switch to "
            "large-star/small-star for this graph"
        )
    # Cluster size via a window over the (already doc_id-partitioned) labels
    # — no second join against an aggregate, no broadcast build.
    w = Window.partitionBy("lbl")
    return labels.select(
        "doc_id",
        F.col("lbl").alias("canonical_id"),
        F.count("*").over(w).alias("cluster_size"),
    )


# --- exact n-gram Jaccard via inverted index -------------------------------------

@query(
    "dedup_ngram_jaccard", priority=200,
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
    ), inv AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM base
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared), 6) AS jaccard
    FROM shared
    WHERE CAST(n_shared AS DOUBLE) / (n_a + n_b - n_shared) >= {JACCARD_THRESH}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing ≥1 shingle, via an
    inverted index: explode shingles → self-join on the shingle → shared
    count; |A∪B| = |A|+|B|-shared. The join shuffles on the shingle (high
    cardinality → well distributed); hot shingles are the skew risk at
    scale — AQE skew-join splits them (a stopword-shingle filter would be
    the preprocessing answer)."""
    from pyspark.sql import Window

    rows = shingle_rows(table(spark, sf_dir, "documents"))
    # Occurrences → distinct (doc, shingle) pairs, then the per-doc distinct
    # count as an unordered window. Both reuse shingle_rows' doc_id
    # partitioning (hashpartitioning(doc_id) satisfies clustering on
    # (doc_id, s)), so neither adds an exchange. Persisted because the index
    # feeds both sides of the self-join.
    inv = persist_tracked(
        rows.dropDuplicates(["doc_id", "s"])
        .select(
            "doc_id",
            F.col("s").alias("shingle"),
            F.count("*").over(Window.partitionBy("doc_id")).alias("n_sh"),
        )
    )
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    jac = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return (
        shared.filter(jac >= JACCARD_THRESH)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# --- SimHash fingerprint ----------------------------------------------------------

SIMHASH_BITS = 16        # fingerprint width of the `simhash` query (reference parity)
SIMHASH_PAIR_BITS = 64   # fingerprint width of the pairing query (see simhash_pairs)
HAMMING_THRESH = 3       # near-dup cutoff in bits
SIMHASH_BANDS = 4        # pigeonhole: B bands catch every pair with hamming <= B-1


def _bit_addend(i: int) -> int:
    """Two's-complement addend that sets bit i of a signed 64-bit long —
    bit 63's power is min-long, not +2^63 (which neither engine can hold)."""
    return (1 << i) if i < 63 else -(1 << 63)


def simhash_fingerprint(
    docs: DataFrame, bits: int, weighted: bool = False, col: str = "text"
) -> DataFrame:
    """(doc_id, simhash): ``bits``-wide SimHash (bits ≤ 64). Bit i is the
    sign of Σ over tokens of ±1 by md5 bit i of the token (see _bit_cond);
    ``weighted=True`` is classic tf-weighted SimHash (every occurrence
    votes), ``False`` votes once per distinct token.

    Physical shape: ONE Arrow ``pandas_udf`` pass — md5 each *unique* token
    of a batch once (hashlib, C speed), turn the digests into a ±1 bit
    matrix from the digest nibbles, and resolve every document's majority
    votes as a small integer matmul. All-integer math, so the result is
    bit-identical to any other evaluation order. Narrow and shuffle-FREE —
    the two formulations this replaces were worse at both ends: round 2's
    nested ``F.aggregate``/``F.transform`` higher-order functions are
    interpreted per element, and the explode → groupBy(doc_id) rewrite
    shuffles ~10× the corpus bytes in token rows and, at 64 sum columns,
    compiles a >15 s whole-stage-codegen method. Token-less docs keep
    all-zero votes ⇒ fingerprint 0."""
    import hashlib
    from collections import Counter

    from pyspark.sql.functions import pandas_udf

    addends = np.array([_bit_addend(i) for i in range(bits)], dtype=np.int64)
    n_bits = bits

    @pandas_udf("long")
    def fp_udf(texts: pd.Series) -> pd.Series:
        docs_toks = []
        vocab: dict[str, int] = {}
        for t in texts:
            toks = [w for w in t.lower().split(" ") if w] if t else []
            items = Counter(toks).items() if weighted else [(w, 1) for w in set(toks)]
            row = [(vocab.setdefault(w, len(vocab)), c) for w, c in items]
            docs_toks.append(row)
        if not vocab:
            return pd.Series(np.zeros(len(texts), dtype=np.int64))
        # digest nibbles, hex-digit order: byte k → digits 2k (high), 2k+1 (low)
        dig = np.empty((len(vocab), 32), dtype=np.uint8)
        for w, j in vocab.items():
            b = np.frombuffer(hashlib.md5(w.encode("utf-8")).digest(), dtype=np.uint8)
            dig[j, 0::2] = b >> 4
            dig[j, 1::2] = b & 15
        # ±1 votes per token: bits 0..31 test digit_i >= 8, bits 32..63 test
        # digit_{i-32} & 4 — the same rule as _sql_bit_cond.
        plus = np.concatenate([dig >= 8, (dig & 4) != 0], axis=1)[:, :n_bits]
        pm = plus.astype(np.int64) * 2 - 1                     # (vocab, bits)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, row in enumerate(docs_toks):
            if not row:
                continue
            idx = np.fromiter((j for j, _ in row), dtype=np.int64, count=len(row))
            cnt = np.fromiter((c for _, c in row), dtype=np.int64, count=len(row))
            votes = cnt @ pm[idx]
            out[i] = addends[votes > 0].sum()
        return pd.Series(out)

    return docs.select("doc_id", fp_udf(F.col(col)).alias("simhash"))


def _sql_bit_cond(i: int) -> str:
    """Vote condition for bit i over a token's md5 hex column ``h``:
    bits 0..31 test the top bit of hex digit i+1 (digit >= 8); bits 32..63
    test the second bit of digit i-31 (digit in 4-7, c-f) — two independent
    md5 bits per digit, so up to 64 fingerprint bits."""
    if i < 32:
        return f"contains('89abcdef', substr(h, {i + 1}, 1))"
    return f"contains('4567cdef', substr(h, {i - 31}, 1))"


def _sql_simhash(bits: int, weighted: bool = False) -> str:
    """DuckDB twin of simhash_fingerprint: a (doc_id, simhash) subquery over
    a CTE ``t(doc_id, toks)``. Mirrors the Spark shape (unnest → md5 once →
    per-bit vote sums → bit pack); ``[NULL]`` stands in for an empty token
    list exactly like Spark's explode_outer."""
    toks = "toks" if weighted else "list_distinct(toks)"
    votes = ",\n             ".join(
        f"SUM(CASE WHEN {_sql_bit_cond(i)} THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    pack = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({_bit_addend(i)} AS BIGINT) ELSE 0 END"
        for i in range(bits)
    )
    return f"""(
      WITH tok AS (
        SELECT doc_id,
               unnest(CASE WHEN len({toks}) = 0 THEN [CAST(NULL AS VARCHAR)]
                           ELSE {toks} END) AS tk
        FROM t
      ), h AS (
        SELECT doc_id, md5(tk) AS h FROM tok
      ), v AS (
        SELECT doc_id, {votes}
        FROM h GROUP BY doc_id
      )
      SELECT doc_id, CAST({pack} AS BIGINT) AS simhash FROM v
    )"""


@query(
    "simhash",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    )
    SELECT doc_id, simhash FROM {_sql_simhash(SIMHASH_BITS)} fp
    """,
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (see simhash_fingerprint for
    the vote semantics and the codegen-friendly physical shape). Pairing by
    hamming distance is the follow-up query ``simhash_pairs``."""
    return simhash_fingerprint(table(spark, sf_dir, "documents"), SIMHASH_BITS)


@query(
    "simhash_pairs",
    priority=0,
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
    ), fp AS (
      SELECT * FROM {_sql_simhash(SIMHASH_PAIR_BITS, weighted=True)} q
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESH}
    """,
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairing: band the fingerprint into
    SIMHASH_BANDS hamming segments, self-join on (segment index, segment
    bits), then verify true hamming ≤ HAMMING_THRESH with bit_count(xor).
    Pigeonhole makes the banding EXACT for d ≤ B-1: a pair differing in ≤ 3
    bits must agree on at least one of 4 segments — so the banded plan
    returns identical rows to the oracle's all-pairs scan while shuffling
    only docs·B band rows and verifying only colliding candidates (the
    minhash-LSH shape, dedup_minhash_lsh above).

    Width and weighting: 64-bit tf-weighted fingerprints here, not the
    16-bit unweighted of `simhash` — at N docs a w-bit space admits
    ~N²/2 · P(hamming≤d) chance collisions (P ≈ Σ C(w,k)/2^w ≈ 1% at w=16,
    d=3 — noise that grows quadratically with corpus size; ≈ 2e-14 at
    w=64), and unweighted votes barely separate docs drawn from a shared
    vocabulary (measured on this corpus at w=32/d=3: 35,540 unweighted
    pairs vs 36 weighted-64 — the latter being the true near-dup family,
    consistent with the ~25 pairs the Jaccard operators find)."""
    docs = table(spark, sf_dir, "documents")
    # Fingerprints feed the band explode and both verify sides — persist or
    # Catalyst re-inlines the token aggregation into each (CollapseProject;
    # at 100 TB this is a written fingerprint table).
    fp = persist_tracked(
        simhash_fingerprint(docs, SIMHASH_PAIR_BITS, weighted=True)
    )

    seg_bits = SIMHASH_PAIR_BITS // SIMHASH_BANDS
    mask = (1 << seg_bits) - 1
    segments = F.array(
        *[
            F.shiftright(F.col("simhash"), i * seg_bits).bitwiseAND(F.lit(mask))
            for i in range(SIMHASH_BANDS)
        ]
    )
    # IN-JOIN VERIFY (r17 sf1 spot finding): the fingerprints ride the
    # band rows and the hamming test is an extra JOIN condition, so a
    # colliding candidate is verified DURING the band join and only true
    # pairs are ever materialized. The previous shape (candidates →
    # distinct → two fingerprint-fetch joins → filter) shuffled the full
    # candidate set first — at a 10x corpus the near-identical tf
    # distribution made level-1 buckets quadratically hot (54M candidate
    # pairs for 166k true pairs, measured on the derived sf1 fixture)
    # and the candidate materialization dominated: 51.5s vs 15.6s with
    # the in-join verify, identical output, sf0.1 unchanged. The C(n,2)
    # comparisons inside a hot bucket still happen, but as ~ns bit_count
    # probes inside the join loop, never as shuffled rows; a bucket hot
    # enough to make even THAT quadratic cost bind (~1M docs sharing one
    # 16-bit segment) is the hub-cap regime documented at BAND_CAP.
    bands = fp.select(
        "doc_id", "simhash", F.posexplode(segments).alias("seg_idx", "seg")
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (ham <= F.lit(HAMMING_THRESH)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )


# --- embedding cosine near-dup ------------------------------------------------------

def _cosine_sql(a: str, b: str) -> str:
    """DuckDB cosine between two list<float> columns, computed with explicit
    double casts + sequential folds so it matches Spark bit-for-bit after
    ROUND(…, 6)."""
    dot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
    )
    na = (
        f"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))"
    )
    nb = (
        f"sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({b}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (x, y) -> x + y))"
    )
    return f"({dot} / ({na} * {nb}))"


def vec_dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float> columns in double math."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def vec_norm(a: Column) -> Column:
    """L2 norm of an array<float> column in double math — precompute this
    per *vector* (N evaluations) so the per-*pair* verify computes only the
    dot: the aggregate/zip_with folds are interpreted HOFs, and cosine
    evaluates three of them; hoisting the two norms cuts the per-pair
    interpreter work ~3x with bit-identical results (same fold, same
    operation order)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    return F.sqrt(
        F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<float> columns (double math)."""
    return vec_dot(a, b) / (vec_norm(a) * vec_norm(b))


def embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine ≥ τ — the exact O(N²) *verifier*, intentionally
    NOT a registered query: its inequality-only join condition plans as a
    BroadcastNestedLoopJoin, fine as ground truth on a sample but never the
    shipped dedup path. The registered plan is ``dedup_embedding_lsh``
    (similarity.py): LSH-bucket first, then run exactly this verify inside
    buckets."""
    emb = table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cs = cosine(F.col("emb_a"), F.col("emb_b"))
    return (
        pairs.withColumn("cos_raw", cs)
        .filter(F.col("cos_raw") >= COSINE_THRESH)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


# --- cross-corpus decontamination ---------------------------------------------

BENCH_MOD = 10  # doc_id % 10 == 0 → the held-out "benchmark" corpus


@query(
    "dedup_decontaminate",
    priority=0,
    oracle=f"""
    WITH corp AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
      WHERE doc_id % {BENCH_MOD} <> 0
    ), bench AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
      WHERE doc_id % {BENCH_MOD} = 0
    ), cs AS (
      SELECT doc_id, shingles, {_SQL_SIG.format(sh='shingles')} AS sig FROM corp
    ), bs AS (
      SELECT doc_id, shingles, {_SQL_SIG.format(sh='shingles')} AS sig FROM bench
    ), cb AS (
      SELECT doc_id, b.band_idx,
             md5(CAST(sig[b.band_idx * 2 + 1] AS VARCHAR) || ','
                 || CAST(sig[b.band_idx * 2 + 2] AS VARCHAR)) AS band_hash
      FROM cs, (SELECT unnest(range(0, {NUM_BANDS})) AS band_idx) b
    ), bb AS (
      SELECT doc_id, b.band_idx,
             md5(CAST(sig[b.band_idx * 2 + 1] AS VARCHAR) || ','
                 || CAST(sig[b.band_idx * 2 + 2] AS VARCHAR)) AS band_hash
      FROM bs, (SELECT unnest(range(0, {NUM_BANDS})) AS band_idx) b
    ), cand AS (
      SELECT DISTINCT c.doc_id AS corpus_doc, b.doc_id AS bench_doc
      FROM cb c JOIN bb b ON c.band_idx = b.band_idx AND c.band_hash = b.band_hash
    )
    SELECT c.corpus_doc, c.bench_doc,
           ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                 / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
             AS jaccard
    FROM cand c
    JOIN cs sa ON sa.doc_id = c.corpus_doc
    JOIN bs sb ON sb.doc_id = c.bench_doc
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(sa.shingles, sb.shingles))) >= {JACCARD_THRESH}
    """,
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus decontamination — the training-data op of flagging
    corpus documents that near-duplicate a held-out benchmark set (test-set
    leakage removal). Same banded-minhash shape as dedup_minhash_lsh, but
    the band join is corpus×benchmark instead of a self-join: signatures
    for BOTH sides come from the shuffle-free Arrow pass, the join is keyed
    on (band_idx, band_hash) so only banding collisions meet, and exact
    Jaccard verifies candidates. At 100 TB the benchmark side is tiny and
    its band table BROADCASTS — the corpus never shuffles at all (hinted
    here; at fixture scale Catalyst would pick it anyway)."""
    docs = table(spark, sf_dir, "documents")
    sigs = persist_tracked(minhash_signatures(docs))
    corp = sigs.filter(F.col("doc_id") % BENCH_MOD != 0)
    bench = sigs.filter(F.col("doc_id") % BENCH_MOD == 0)

    def bands(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(NUM_BANDS - 1))).alias("band_idx"),
            "sig",
        ).select(
            "doc_id",
            "band_idx",
            F.md5(
                F.concat(
                    F.element_at("sig", F.col("band_idx") * 2 + 1).cast("string"),
                    F.lit(","),
                    F.element_at("sig", F.col("band_idx") * 2 + 2).cast("string"),
                )
            ).alias("band_hash"),
        )

    cand = (
        bands(corp)
        .alias("c")
        .join(
            F.broadcast(bands(bench)).alias("b"),
            (F.col("c.band_idx") == F.col("b.band_idx"))
            & (F.col("c.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col("c.doc_id").alias("corpus_doc"), F.col("b.doc_id").alias("bench_doc")
        )
        .distinct()
    )
    sh = sigs.select("doc_id", "shingles")
    jac = (
        cand.join(
            sh.withColumnsRenamed({"doc_id": "corpus_doc", "shingles": "sh_a"}),
            "corpus_doc",
        )
        .join(
            sh.withColumnsRenamed({"doc_id": "bench_doc", "shingles": "sh_b"}),
            "bench_doc",
        )
        .withColumn(
            "jaccard_raw",
            _jaccard_sets("sh_a", "sh_b"),
        )
    )
    return (
        jac.filter(F.col("jaccard_raw") >= JACCARD_THRESH)
        .select("corpus_doc", "bench_doc", F.round("jaccard_raw", 6).alias("jaccard"))
    )


# --- asymmetric shingle containment -------------------------------------------

CONTAIN_THRESH = 0.9  #: fraction of the smaller doc's shingles found in the other


@query(
    "dedup_containment",
    priority=0,
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
    ), inv AS (
      SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM base
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_sh AS n_a, COUNT(*) AS n_shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2, 3
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_shared AS DOUBLE) / n_a, 6) AS containment
    FROM shared
    WHERE CAST(n_shared AS DOUBLE) / n_a >= {CONTAIN_THRESH}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC SHINGLE CONTAINMENT c(A→B) = |S(A) ∩ S(B)| / |S(A)|: the
    quote/excerpt detector Jaccard structurally misses — a 100-word doc
    embedded verbatim in a 10,000-word doc has Jaccard ≈ 0.01 but
    containment 1.0 (Broder's original resemblance-vs-containment split).
    Emits ORDERED pairs (doc_a is the contained side), so a superset doc
    and its excerpt appear once in each role with different scores.

    Plan: reuses the same inverted shingle index as dedup_ngram_jaccard —
    distinct (doc, shingle) with the per-doc shingle count attached as a
    doc-keyed window (no extra exchange over shingle_rows' doc_id
    partitioning) — then one shingle-keyed self-join and one pair-keyed
    count. Only |S(A)| is needed, so the b-side carries NO count column:
    the join's build side is one column narrower than Jaccard's. Same
    skew stance as Jaccard: shingle keys are high-cardinality; hot
    (stopword-run) shingles are AQE skew-join territory at 100 TB, with a
    document-frequency stoplist as the preprocessing fix. Threshold tuned
    so the synthetic corpus's planted near-dups surface (50 pairs at
    sf0.01) without an all-pairs blowup; bucket-then-verify variants
    (LSH) remain the first line at corpus scale."""
    from pyspark.sql import Window

    rows = shingle_rows(table(spark, sf_dir, "documents"))
    inv = persist_tracked(
        rows.dropDuplicates(["doc_id", "s"])
        .select(
            "doc_id",
            F.col("s").alias("shingle"),
            F.count("*").over(Window.partitionBy("doc_id")).alias("n_sh"),
        )
    )
    a = inv.alias("a")
    b = inv.select("doc_id", "shingle").alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    cont = F.col("n_shared").cast("double") / F.col("n_a")
    return shared.filter(cont >= CONTAIN_THRESH).select(
        "doc_a", "doc_b", F.round(cont, 6).alias("containment")
    )


# --- entity resolution: blocked match over the value dictionary ----------------

ER_LEV_MAX = 3   #: max edit distance to call two names the same entity


@query(
    "er_blocked_pairs",
    oracle=f"""
    WITH names AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM part GROUP BY p_name
    ),
    keyed AS (
      SELECT p_name, n_rows, '1:' || split_part(p_name, ' ', 1) AS blk
      FROM names
      UNION ALL
      SELECT p_name, n_rows, '2:' || ts[len(ts)] AS blk
      FROM (SELECT p_name, n_rows, string_split(p_name, ' ') AS ts FROM names)
    ),
    cand AS (
      SELECT DISTINCT a.p_name AS name_a, a.n_rows AS n_rows_a,
                      b.p_name AS name_b, b.n_rows AS n_rows_b
      FROM keyed a JOIN keyed b
        ON a.blk = b.blk AND a.p_name < b.p_name
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist,
           n_rows_a, n_rows_b
    FROM cand
    WHERE levenshtein(name_a, name_b) <= {ER_LEV_MAX}
    """,
)
def er_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION via blocking + edit-distance verify — the record-
    linkage primitive (Fellegi-Sunter blocking stage) the reference has no
    analog for: find name pairs that are plausibly the same real-world
    entity (typos, variant spellings) without comparing all N² rows.

    Scale shape, in order: (1) collapse the row stream to the DISTINCT-name
    dictionary first — matching runs on value types, never on rows (the
    same Zipf-compression trick as the BPE trainer: a 100 TB catalog has
    orders of magnitude fewer distinct names than rows, and the per-name
    row count rides along for later weighting); (2) BLOCK on a cheap
    deterministic key so the self-join only meets names inside a block,
    never across — the standard sub-quadratic ER plan (same family as the
    LSH band join, dedup_minhash_lsh). Blocking is MULTI-PASS (the
    Fellegi-Sunter recall fix): every name posts under TWO tagged keys —
    first token and last token — so a typo in either end of the name
    still lands the pair in one shared block; candidate pairs are
    DISTINCT-ed across passes before verification. Multi-pass blocking
    also bounds skew: one hot key family (every name sharing a first
    token) no longer decides total recall, and each pass's block stays
    the unit of join work. (3) verify candidates with levenshtein, a
    built-in on BOTH engines (classic integer edit distance —
    bit-identical, so the driver hash-matches). Pair order is pinned by
    name_a < name_b."""
    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count("*").cast("bigint").alias("n_rows"))
    )
    toks = F.split("p_name", " ")
    keyed = names.select(
        "p_name",
        "n_rows",
        F.explode(
            F.array(
                F.concat(F.lit("1:"), toks.getItem(0)),
                F.concat(F.lit("2:"), F.element_at(toks, -1)),
            )
        ).alias("blk"),
    )
    a = keyed.select(
        F.col("p_name").alias("name_a"), F.col("n_rows").alias("n_rows_a"), "blk"
    )
    b = keyed.select(
        F.col("p_name").alias("name_b"), F.col("n_rows").alias("n_rows_b"), "blk"
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "n_rows_a", "name_b", "n_rows_b")
        .distinct()
        .filter(dist <= ER_LEV_MAX)
        .select(
            "name_a",
            "name_b",
            dist.cast("bigint").alias("dist"),
            "n_rows_a",
            "n_rows_b",
        )
    )


# --- exact substring-duplication spans (gram-and-merge) ------------------------

DUP_SPAN_K = 8   #: token-gram length; duplicated substrings >= K tokens found




def _dup_span_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n, sid, s, e) — maximal cross-doc duplicated spans per doc
    (1-based token positions, inclusive), shared by the accounting query
    (substring_dup_spans) and the rewrite (substring_dedup_rewrite).

    Cross-doc duplication is decided by WINDOW min/max over one gram-keyed
    exchange: the earlier groupBy(gram) + semi-join formulation shuffled
    the full gram stream TWICE (once into the type aggregation, once into
    the join); the unordered window computes both extremes on the single
    exchange the stream needs anyway (measured 3.7 s -> 1.7 s at sf0.1).
    Span merge is the gaps-and-islands window on a doc-keyed exchange."""
    from pyspark.sql import Window

    toks = F.filter(F.split("text", " "), lambda w: w != "")
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("t"))
        .filter(F.size("t") >= DUP_SPAN_K)
    )
    n = F.size("t")
    grams = d.select(
        "doc_id",
        n.alias("n"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n - DUP_SPAN_K + 1),
                lambda i: F.concat_ws(" ", F.slice("t", i, DUP_SPAN_K)),
            )
        ).alias("pos0", "gram"),
    ).select("doc_id", "n", (F.col("pos0") + 1).alias("pos"), "gram")
    wg = Window.partitionBy("gram")
    p = (
        grams.withColumn("mn", F.min("doc_id").over(wg))
        .withColumn("mx", F.max("doc_id").over(wg))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "n", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    flag = p.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) > DUP_SPAN_K, 1).otherwise(0),
    )
    isl = flag.withColumn("sid", F.sum("brk").over(w))
    return isl.groupBy("doc_id", "n", "sid").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + DUP_SPAN_K - 1).alias("e"),
    )


@query(
    "substring_dup_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id, len(ts) AS n, u.i AS pos,
             array_to_string(list_slice(ts, u.i, u.i + {DUP_SPAN_K} - 1), ' ')
               AS gram
      FROM toks, UNNEST(range(1, len(ts) - {DUP_SPAN_K} + 2)) AS u(i)
      WHERE len(ts) >= {DUP_SPAN_K}
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    p AS (SELECT doc_id, n, pos FROM g JOIN dup USING (gram)),
    flag AS (
      SELECT doc_id, n, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {DUP_SPAN_K} THEN 1 ELSE 0 END AS brk
      FROM p
    ),
    isl AS (
      SELECT doc_id, n, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      FROM flag
    ),
    sp AS (
      SELECT doc_id, n, sid, MIN(pos) AS s, MAX(pos) + {DUP_SPAN_K} - 1 AS e
      FROM isl GROUP BY doc_id, n, sid
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
    FROM sp GROUP BY doc_id, n
    """,
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SUBSTRING-DUPLICATION SPANS — the operator behind "dedup the
    repeated passages, not the whole doc" (Lee et al. 2022, *Deduplicating
    Training Data Makes Language Models Better*): find every maximal span
    of >= {K} consecutive tokens that also appears verbatim in ANOTHER
    document, and report per-doc duplicated-token accounting (the input to
    a span-cut rewrite). Lee et al. build a suffix array; the distributed
    equivalent here is gram-and-merge, which finds exactly the same
    >=K-token cross-doc matches: every length-K token gram, keyed by its
    text, is duplicated iff its gram type spans two docs; overlapping or
    abutting duplicated grams (gap <= K) then merge into maximal spans via
    the gaps-and-islands window (same trick as longest_streak_per_user).

    Scale shape: ONE corpus-sized aggregation (gram types — same cost
    class as the n-gram counts the pipeline already runs), one semi-join
    of the gram stream against the duplicated types (gram-keyed, both
    sides shuffle; broadcast is wrong — dup types grow with the corpus),
    then all window/merge work rides a single doc-keyed exchange. Memory
    is bounded per gram type (min/max doc_id, not a posting list) — the
    HAVING min<>max trick is what keeps hot grams (boilerplate) from
    building giant groups. K tunes recall/cost exactly as in the paper."""
    spans = _dup_span_table(spark, sf_dir)
    return spans.groupBy("doc_id", "n").agg(
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_tokens"),
    ).select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_tokens"),
        "n_spans",
        "dup_tokens",
    )


# --- the actionable half: rewrite docs with duplicated spans removed -----------

@query(
    "substring_dedup_rewrite",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id, len(ts) AS n, u.i AS pos,
             array_to_string(list_slice(ts, u.i, u.i + {DUP_SPAN_K} - 1), ' ')
               AS gram
      FROM toks, UNNEST(range(1, len(ts) - {DUP_SPAN_K} + 2)) AS u(i)
      WHERE len(ts) >= {DUP_SPAN_K}
    ),
    dup AS (
      SELECT gram FROM g GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    p AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)),
    flag AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {DUP_SPAN_K} THEN 1 ELSE 0 END AS brk
      FROM p
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
      FROM flag
    ),
    sp AS (
      SELECT doc_id, sid, MIN(pos) AS s, MAX(pos) + {DUP_SPAN_K} - 1 AS e
      FROM isl GROUP BY doc_id, sid
    ),
    spd AS (
      SELECT doc_id,
             list(struct_pack(s := CAST(s AS BIGINT),
                              e := CAST(e AS BIGINT))) AS sps
      FROM sp GROUP BY doc_id
    ),
    j AS (
      SELECT t.doc_id, t.ts,
             COALESCE(spd.sps, CAST([] AS STRUCT(s BIGINT, e BIGINT)[])) AS sps
      FROM toks t LEFT JOIN spd USING (doc_id)
    ),
    k AS (
      SELECT doc_id, ts,
             list_filter(ts, (x, i) ->
               len(list_filter(sps, sp -> sp.s <= i AND i <= sp.e)) = 0)
               AS kept
      FROM j
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(len(kept) AS BIGINT) AS n_kept,
           md5(COALESCE(array_to_string(kept, ' '), '')) AS clean_md5
    FROM k
    """,
)
def substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE half of passage dedup: rewrite every document with
    its cross-doc duplicated spans CUT OUT (Lee et al. 2022's 'remove the
    repeated substring' step — substring_dup_spans reports the damage,
    this op produces the cleaned corpus). Every doc comes back — docs
    with no duplicated span pass through verbatim — with the cleaned
    text's md5 as the content contract (a single wrongly kept or cut
    token moves the hash).

    Distributed shape: the span detection is the shared plan
    (_dup_span_table — one gram-keyed window exchange + one doc-keyed
    island merge); spans then collapse to a PER-DOC ARRAY (a doc-keyed
    aggregation of a few rows per doc) and the cut itself is a per-row
    array filter over (token, position) — NO shuffle beyond the span
    table's own, and the array-of-spans stays tiny because maximal spans
    are disjoint by construction. The EXISTS containment check is
    O(tokens x spans) per doc with spans ~ O(1); order of the collected
    span array is irrelevant to EXISTS, so collect_list's
    nondeterministic order is safe."""
    spans = _dup_span_table(spark, sf_dir)
    spd = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("s").cast("bigint").alias("s"),
                F.col("e").cast("bigint").alias("e"),
            )
        ).alias("sps")
    )
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    d = table(spark, sf_dir, "documents").select("doc_id", toks.alias("ts"))
    j = d.join(spd, "doc_id", "left").withColumn(
        "sps",
        F.coalesce(F.col("sps"), F.array().cast("array<struct<s:bigint,e:bigint>>")),
    )
    # Spark's filter-lambda index is 0-based; spans are 1-based positions
    kept = F.filter(
        "ts",
        lambda x, i: ~F.exists(
            "sps", lambda sp: (sp["s"] <= i + 1) & (i + 1 <= sp["e"])
        ),
    )
    return j.select(
        "doc_id",
        F.size("ts").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(F.concat_ws(" ", kept)).alias("clean_md5"),
    )


# --- URL-canonical dedup --------------------------------------------------------

# Messy synthetic URL per document (the fixture carries no URL column — same
# convention as url_count's synthetic link): scheme/host case, default and
# explicit ports, trailing slashes, tracking params, and fragments all vary
# deterministically with doc_id so the canonicalizer has real work on every
# axis, and the oracle rebuilds the identical string.
_URL_MESSY_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'HTTPS' END
     || '://'
     || CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
     || '.Example.COM'
     || CASE WHEN doc_id % 4 = 0 THEN ':80'
             WHEN doc_id % 4 = 1 THEN ':443'
             WHEN doc_id % 4 = 2 THEN ':8080'
             ELSE '' END
     || '/A/' || CAST(doc_id % 5 AS VARCHAR)
     || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
     || CASE WHEN doc_id % 3 = 0
             THEN '?utm_source=x&id=' || CAST(doc_id % 4 AS VARCHAR)
             WHEN doc_id % 3 = 1
             THEN '?id=' || CAST(doc_id % 4 AS VARCHAR) || '&b=2'
             ELSE '' END
     || CASE WHEN doc_id % 7 = 0 THEN '#Sec' ELSE '' END)
"""


@query(
    "dedup_url_canonical",
    priority=150,
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_URL_MESSY_SQL} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
             regexp_extract(regexp_replace(url, '#.*$', ''),
                            '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
             regexp_extract(regexp_replace(url, '#.*$', ''),
                            '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
             regexp_extract(regexp_replace(url, '#.*$', ''),
                            '\\?([^#]*)', 1) AS qs
      FROM raw
    ),
    canon AS (
      SELECT doc_id,
             scheme || '://'
             || lower(regexp_replace(hostport, ':[0-9]+$', ''))
             || CASE
                  WHEN regexp_extract(hostport, ':([0-9]+)$', 1) = '' THEN ''
                  WHEN scheme = 'http'
                       AND regexp_extract(hostport, ':([0-9]+)$', 1) = '80'
                       THEN ''
                  WHEN scheme = 'https'
                       AND regexp_extract(hostport, ':([0-9]+)$', 1) = '443'
                       THEN ''
                  ELSE ':' || regexp_extract(hostport, ':([0-9]+)$', 1)
                END
             || CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                     ELSE regexp_replace(path, '/+$', '') END
             || CASE
                  WHEN COALESCE(array_to_string(list_sort(list_filter(
                         string_split(qs, '&'),
                         x -> x <> '' AND NOT starts_with(x, 'utm_'))),
                         '&'), '') = '' THEN ''
                  ELSE '?' || array_to_string(list_sort(list_filter(
                         string_split(qs, '&'),
                         x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&')
                END AS canonical_url
      FROM parts
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS canonical_doc
    FROM canon
    GROUP BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-CANONICAL DEDUP — the stage that runs BEFORE any content dedup
    in a crawl pipeline: normalize each document's URL (lowercase scheme
    and host, drop the scheme's default port, collapse trailing slashes,
    strip fragments, drop utm_* tracking params, sort surviving query
    params) and keep the minimum doc_id per canonical URL. Entirely
    codegen'd string/regex expressions fused with the scan — the only
    shuffle is the final canonical-URL aggregation, so at 100 TB this is
    one narrow pass + one hash-agg keyed on the (high-cardinality,
    skew-free) canonical URL. The fixture has no URL column, so a messy
    synthetic URL is derived per doc (the url_count convention) with
    every normalization axis exercised; the oracle rebuilds the same
    string and canonicalizes it with the same regexes."""
    docs = table(spark, sf_dir, "documents")
    messy = (
        F.concat(
            F.when(F.col("doc_id") % 2 == 0, F.lit("http")).otherwise(
                F.lit("HTTPS")
            ),
            F.lit("://"),
            F.when(F.col("doc_id") % 3 == 0, F.upper("source")).otherwise(
                F.col("source")
            ),
            F.lit(".Example.COM"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(":80"))
            .when(F.col("doc_id") % 4 == 1, F.lit(":443"))
            .when(F.col("doc_id") % 4 == 2, F.lit(":8080"))
            .otherwise(F.lit("")),
            F.lit("/A/"),
            (F.col("doc_id") % 5).cast("string"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit("?utm_source=x&id="),
                    (F.col("doc_id") % 4).cast("string"),
                ),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit("?id="),
                    (F.col("doc_id") % 4).cast("string"),
                    F.lit("&b=2"),
                ),
            )
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit("#Sec")).otherwise(
                F.lit("")
            ),
        )
    )
    d = docs.select("doc_id", messy.alias("url")).withColumn(
        "no_frag", F.regexp_replace("url", "#.*$", "")
    )
    scheme = F.lower(F.regexp_extract("url", "^([A-Za-z]+)://", 1))
    hostport = F.regexp_extract("no_frag", "^[A-Za-z]+://([^/?#]+)", 1)
    path = F.regexp_extract("no_frag", "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    qs = F.regexp_extract("no_frag", r"\?([^#]*)", 1)
    d = d.select(
        "doc_id",
        scheme.alias("scheme"),
        hostport.alias("hostport"),
        path.alias("path"),
        qs.alias("qs"),
    )
    port = F.regexp_extract("hostport", ":([0-9]+)$", 1)
    keep_port = (
        F.when(port == "", F.lit(""))
        .when((F.col("scheme") == "http") & (port == "80"), F.lit(""))
        .when((F.col("scheme") == "https") & (port == "443"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    stripped = F.regexp_replace("path", "/+$", "")
    norm_path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split("qs", "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    canon = F.concat(
        F.col("scheme"),
        F.lit("://"),
        F.lower(F.regexp_replace("hostport", ":[0-9]+$", "")),
        keep_port,
        norm_path,
        F.when(params == "", F.lit("")).otherwise(F.concat(F.lit("?"), params)),
    )
    return (
        d.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc"),
        )
    )


# --- incremental dedup: new batch vs existing corpus ----------------------------

#: Deterministic split: doc_id % INCR_MOD == 0 → the "incoming batch";
#: everything else is the standing corpus.
INCR_MOD = 10

#: Band rows above which the incoming batch stops broadcasting into the
#: corpus index probe and the join runs partitioned instead (same gate
#: pattern as graph.BROADCAST_NODE_LIMIT — the batch here is a corpus
#: fraction, not a constant).
INCR_BROADCAST_LIMIT = 8_000_000


@query(
    "dedup_incremental_minhash",
    priority=150,
    oracle=f"""
    WITH {_SQL_BAND_CTES},
    newb AS (SELECT * FROM bands WHERE doc_id % {INCR_MOD} = 0),
    oldb AS (SELECT * FROM bands WHERE doc_id % {INCR_MOD} <> 0),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
      FROM newb n JOIN oldb o
        ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
    ),
    verified AS (
      SELECT c.new_id, c.old_id,
             ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
               AS jaccard
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.new_id
      JOIN sigs sb ON sb.doc_id = c.old_id
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
            >= {JACCARD_THRESH}
    ),
    best AS (
      SELECT new_id, old_id, jaccard FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
                                     ORDER BY jaccard DESC, old_id) AS rn
        FROM verified
      ) WHERE rn = 1
    ),
    counts AS (
      SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM verified
      GROUP BY new_id
    )
    SELECT d.doc_id,
           COALESCE(c.n_matches, 0) AS n_matches,
           b.old_id AS best_match,
           b.jaccard AS best_jaccard
    FROM (SELECT doc_id FROM documents WHERE doc_id % {INCR_MOD} = 0) d
    LEFT JOIN counts c ON c.new_id = d.doc_id
    LEFT JOIN best b ON b.new_id = d.doc_id
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dedup — the shape a production crawl actually runs:
    a small INCOMING BATCH (doc_id % {INCR_MOD} == 0 here) is checked
    against the STANDING CORPUS's banded minhash index, never corpus ×
    corpus. Every incoming doc gets a verdict row: how many corpus
    near-dups it collides with, and its best match (highest verified
    Jaccard, min doc_id tiebreak) — NULLs when it is genuinely new.

    Scale shape: at 100 TB the corpus band table is a MAINTAINED artifact
    (written bucketed by (band_idx, band_hash), exactly like the graph
    family's edge table) and only the incoming batch is shingled and
    hashed per run; the probe join broadcasts the batch's bands into the
    index scan, so per-run cost is O(batch + collisions) regardless of
    corpus size. Here both sides derive from one signature pass (the
    fixture is small); the join/verify/aggregate plan is the production
    one. Candidate cost stays sub-quadratic via the same band-collision
    argument as dedup_minhash_lsh."""
    docs = table(spark, sf_dir, "documents")
    sigs = persist_tracked(minhash_signatures(docs))
    bands = _bands(sigs)
    newb = bands.filter(F.col("doc_id") % INCR_MOD == 0).select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_hash"
    )
    oldb = bands.filter(F.col("doc_id") % INCR_MOD != 0).select(
        F.col("doc_id").alias("old_id"), "band_idx", "band_hash"
    )
    # SIZE-GATED probe broadcast (the graph-family pattern): the fixture's
    # "incoming batch" is a fixed FRACTION of the corpus (doc_id % 10), so
    # an unconditional broadcast would grow linearly with scale; above the
    # gate the probe join runs shuffle-keyed on (band_idx, band_hash).
    n_incoming = (
        docs.filter(F.col("doc_id") % INCR_MOD == 0).count() * NUM_BANDS
    )
    probe = (
        F.broadcast(newb)
        if n_incoming <= INCR_BROADCAST_LIMIT
        else newb.hint("shuffle_hash")
    )
    cand = (
        probe.join(oldb, ["band_idx", "band_hash"])
        .select("new_id", "old_id")
        .distinct()
    )
    sh = sigs.select("doc_id", "shingles")
    verified = (
        cand.join(
            sh.select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_a")),
            "new_id",
        )
        .join(
            sh.select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sh_b")),
            "old_id",
        )
        .withColumn(
            "jaccard_raw",
            _jaccard_sets("sh_a", "sh_b"),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESH)
        .select("new_id", "old_id", F.round("jaccard_raw", 6).alias("jaccard"))
    )
    verified = persist_tracked(verified)  # consumed by both aggs below
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("old_id"))
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("new_id", F.col("old_id").alias("best_match"),
                F.col("jaccard").alias("best_jaccard"))
    )
    counts = verified.groupBy("new_id").agg(
        F.count("*").cast("bigint").alias("n_matches")
    )
    incoming = docs.filter(F.col("doc_id") % INCR_MOD == 0).select("doc_id")
    return (
        incoming.join(counts.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .join(best.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_matches"), F.lit(0).cast("bigint")).alias(
                "n_matches"
            ),
            "best_match",
            "best_jaccard",
        )
    )


# --- apply the dedup decision to the corpus -------------------------------------

@query(
    "dedup_apply_keep_canonical",
    priority=150,
    oracle=f"""
    WITH RECURSIVE {_SQL_COMP_CTES}
    SELECT d.doc_id,
           COALESCE(c.canonical_id, d.doc_id) AS canonical_id,
           (c.doc_id IS NULL OR c.canonical_id = d.doc_id) AS kept
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    """,
)
def dedup_apply_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the near-dedup decision to the corpus — the stage after
    clustering that actually produces the training set: every document
    gets its cluster's canonical id (itself when it never matched any
    pair) and a KEPT verdict (canonical of its cluster, or untouched).
    Filtering ``kept`` downstream yields the deduped corpus; the full
    verdict table is emitted (not just keepers) because production
    pipelines keep the drop list for lineage/audit. Plan: the cluster
    labels are the dedup_cluster program (banded LSH pairs → hash-min
    components — sub-quadratic throughout), then ONE left join of the
    corpus against the node-sized label table; at 100 TB that join is a
    broadcast when labels fit, shuffled co-partitioned otherwise — either
    way corpus-sized work is one pass."""
    clusters = dedup_cluster(spark, sf_dir).select("doc_id", "canonical_id")
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("canonical_id"), F.col("doc_id")).alias("canonical_id"),
        (
            F.col("canonical_id").isNull()
            | (F.col("canonical_id") == F.col("doc_id"))
        ).alias("kept"),
    )


# --- minhash estimator-quality eval ------------------------------------------

@query(
    "eval_minhash_jaccard_error",
    priority=150,
    oracle=f"""
    WITH {_SQL_CAND_CTES}
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS BIGINT)
             AS n_inter,
           CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
             AS BIGINT) AS n_union,
           CAST(len(list_filter(range(1, {NUM_HASHES} + 1),
                                i -> sa.sig[i] = sb.sig[i])) AS BIGINT)
             AS n_sig_match,
           CAST(FLOOR(CAST(abs(
                  len(list_intersect(sa.shingles, sb.shingles))
                    * {NUM_HASHES}
                  - len(list_filter(range(1, {NUM_HASHES} + 1),
                                    i -> sa.sig[i] = sb.sig[i]))
                    * len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                ) AS DOUBLE) * 1000000
                / CAST(len(list_distinct(list_concat(sa.shingles, sb.shingles)))
                       * {NUM_HASHES} AS DOUBLE)) AS BIGINT) AS err_micro
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    """,
)
def eval_minhash_jaccard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATOR-QUALITY EVAL for the minhash index — the dedup family's
    analog of ann_recall_at_k_eval: on every LSH candidate pair, compare
    the SIGNATURE-estimated Jaccard (matching minhash positions / 16 —
    the unbiased estimator LSH banding is built on) against the EXACT
    shingle Jaccard the verify stage computes anyway, and report the
    absolute estimation error. This is the measurement that justifies
    (or indicts) the signature length: E[err] ~ sqrt(J(1-J)/16), so a
    drifting corpus shows up here before it shows up as missed dups.
    Plan: reuses the banded self-join candidate derivation (bucketed,
    never all-pairs) and the persisted signature table; the estimator
    compare is one zip_with over two 16-element arrays — no extra
    shuffle beyond the verify joins the LSH query already pays.
    Exactness: n_inter/n_union/n_sig_match are integers; the error is
    |ni*H - m*nu| / (nu*H) — integer numerator via cross-multiplication,
    FLOOR of one IEEE multiply+divide (ROUND-tie lesson)."""
    docs = table(spark, sf_dir, "documents")
    sigs = persist_tracked(minhash_signatures(docs))
    cand = _band_candidates(_bands(sigs))
    sh = sigs.select("doc_id", "shingles", "sig")
    j = (
        cand.join(
            sh.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("shingles", "sh_a")
            .withColumnRenamed("sig", "sig_a"),
            "doc_a",
        )
        .join(
            sh.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("shingles", "sh_b")
            .withColumnRenamed("sig", "sig_b"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b"))
            .cast("bigint")
            .alias("n_inter"),
            # |A∪B| by inclusion-exclusion over the distinct shingle
            # sets — same integer, no union-array materialization per
            # pair (see _jaccard_sets); codegen CSE shares the intersect
            (
                F.size("sh_a")
                + F.size("sh_b")
                - F.size(F.array_intersect("sh_a", "sh_b"))
            )
            .cast("bigint")
            .alias("n_union"),
            F.expr(
                "CAST(size(filter(zip_with(sig_a, sig_b,"
                " (x, y) -> x = y), b -> b)) AS BIGINT)"
            ).alias("n_sig_match"),
        )
    )
    h = F.lit(NUM_HASHES)
    return j.select(
        "doc_a",
        "doc_b",
        "n_inter",
        "n_union",
        "n_sig_match",
        F.floor(
            F.abs(
                F.col("n_inter") * h - F.col("n_sig_match") * F.col("n_union")
            ).cast("double")
            * 1000000
            / (F.col("n_union") * h).cast("double")
        )
        .cast("bigint")
        .alias("err_micro"),
    )


# --- LSH operating-point tuning: bands × rows sweep ---------------------------

BAND_EVAL_ROWS = (1, 2, 4, 8, 16)  #: rows-per-band configs (bands = 16/r)
BAND_EVAL_CAP = 32   #: drop hotter (config, band, hash) buckets (load-shed)


@query(
    "minhash_band_eval",
    priority=150,
    oracle=f"""
    WITH {_SQL_BAND_CTES},
    cfgs AS (SELECT unnest({list(BAND_EVAL_ROWS)}) AS r),
    eb AS (
      SELECT s.doc_id, c.r, CAST(b.band_idx AS INT) AS band_idx,
             md5(array_to_string(list_transform(
                   sig[CAST(b.band_idx AS INT) * c.r + 1 :
                       CAST(b.band_idx AS INT) * c.r + c.r],
                   x -> CAST(x AS VARCHAR)), ',')) AS band_hash
      FROM sigs s, cfgs c,
           UNNEST(range(0, {NUM_HASHES} // c.r)) AS b(band_idx)
    ),
    capped AS (
      SELECT doc_id, r, band_idx, band_hash FROM (
        SELECT eb.*,
               COUNT(*) OVER (PARTITION BY r, band_idx, band_hash) AS bsz
        FROM eb
      ) WHERE bsz <= {BAND_EVAL_CAP}
    ),
    cand AS (
      SELECT DISTINCT a.r, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.r = b.r AND a.band_idx = b.band_idx
       AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    pooled AS (SELECT DISTINCT doc_a, doc_b FROM cand),
    truth AS (
      SELECT p.doc_a, p.doc_b
      FROM pooled p
      JOIN sigs sa ON sa.doc_id = p.doc_a
      JOIN sigs sb ON sb.doc_id = p.doc_b
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
            >= {JACCARD_THRESH}
    ),
    stats AS (
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM cand GROUP BY r
    ),
    tstats AS (
      SELECT c.r, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM cand c JOIN truth t USING (doc_a, doc_b) GROUP BY c.r
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM truth)
    SELECT CAST({NUM_HASHES} // cfgs.r AS BIGINT) AS bands,
           CAST(cfgs.r AS BIGINT) AS rows_per_band,
           COALESCE(s.n_candidates, 0) AS n_candidates,
           COALESCE(t.n_true, 0) AS n_true,
           CASE WHEN COALESCE(s.n_candidates, 0) = 0 THEN 0
                ELSE (COALESCE(t.n_true, 0) * 1000000) // s.n_candidates
           END AS precision_ppm,
           CASE WHEN tot.n = 0 THEN 0
                ELSE (COALESCE(t.n_true, 0) * 1000000) // tot.n
           END AS recall_ppm
    FROM cfgs
    LEFT JOIN stats s ON s.r = cfgs.r
    LEFT JOIN tstats t ON t.r = cfgs.r
    CROSS JOIN tot
    """,
)
def minhash_band_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH OPERATING-POINT SWEEP: candidate count, true-pair count,
    precision, and pooled recall for every (bands × rows-per-band)
    factorization of the {NUM_HASHES}-hash minhash signature — the
    empirical S-curve a dedup team reads before committing a banding to a
    100 TB run (more rows per band → higher precision / lower recall;
    the shipped NUM_BANDS×2 default is one point on this curve, and this
    query is the evidence it is the right one for the corpus at hand).

    Methodology: ground truth over a web-scale corpus cannot be all-pairs
    Jaccard, so recall is POOLED (TREC-style): the truth set is every
    candidate pair surfaced by ANY config whose exact shingle Jaccard
    clears JACCARD_THRESH, and each config's recall is measured against
    that pool. Exact Jaccard is computed ONCE per distinct pooled pair,
    not per config. Hot (config, band, hash) buckets wider than
    BAND_EVAL_CAP are dropped before the pair join — the same mirrored
    load-shedding contract as SRC_OVERLAP_CAP (rows=1 buckets key on a
    SINGLE minhash value, which any popular shingle makes corpus-hot;
    the cap bounds every bucket's fanout at C(cap,2)).

    Scale shape: one Arrow pass builds signatures (minhash_signatures —
    shared builder, also the oracle's sigs CTE); the banded explode is
    {sum(NUM_HASHES // r for r in BAND_EVAL_ROWS)} rows per doc; the
    candidate self-join shuffles on (r, band_idx, band_hash); the truth
    join is pooled-pair-sized. Two bounded scalar collects (the pooled
    truth total) parameterize the recall column. Configs with zero
    candidates still emit a row (guarded integer division) so the sweep
    is always {len(BAND_EVAL_ROWS)} rows."""
    docs = table(spark, sf_dir, "documents")
    sigs = persist_tracked(minhash_signatures(docs))
    cfgs_arr = F.array(*[F.lit(int(r)) for r in BAND_EVAL_ROWS])
    eb = (
        sigs.select("doc_id", "sig", F.explode(cfgs_arr).alias("r"))
        .select(
            "doc_id",
            "r",
            F.explode(
                F.expr(f"sequence(0, {NUM_HASHES} DIV r - 1)")
            ).alias("band_idx"),
            "sig",
        )
        .select(
            "doc_id",
            "r",
            "band_idx",
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(
                            "sig",
                            F.col("band_idx") * F.col("r") + 1,
                            F.col("r"),
                        ),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("band_hash"),
        )
    )
    from pyspark.sql import Window

    # KEPT as a window despite _band_candidates' agg+anti-join pattern:
    # measured same-session A/B at sf0.1 (round 17) — window 0.60 s vs
    # agg+anti-join 0.83 s at steady state, identical rows — the sort
    # rides the one (r, band_idx, band_hash) exchange the self-join
    # needs anyway, while the anti-join adds a second join pass.
    capped = persist_tracked(
        eb.withColumn(
            "bsz",
            F.count("*").over(
                Window.partitionBy("r", "band_idx", "band_hash")
            ),
        )
        .filter(F.col("bsz") <= BAND_EVAL_CAP)
        .select("doc_id", "r", "band_idx", "band_hash")
    )
    a, b = capped.alias("a"), capped.alias("b")
    cand = persist_tracked(
        a.join(
            b,
            (F.col("a.r") == F.col("b.r"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.r").alias("r"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pooled = cand.select("doc_a", "doc_b").distinct()
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    jac = _jaccard_sets("sh_a", "sh_b")
    truth = persist_tracked(
        pooled.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= JACCARD_THRESH)
        .select("doc_a", "doc_b")
    )
    pool_total = truth.count()  # bounded scalar: pooled truth-set size
    cfgs = spark.range(1).select(F.explode(cfgs_arr).alias("r"))
    stats = cand.groupBy("r").agg(F.count("*").alias("n_candidates"))
    tstats = (
        cand.join(truth, ["doc_a", "doc_b"])
        .groupBy("r")
        .agg(F.count("*").alias("n_true"))
    )
    return (
        cfgs.join(F.broadcast(stats), "r", "left")
        .join(F.broadcast(tstats), "r", "left")
        .selectExpr(
            f"CAST({NUM_HASHES} DIV r AS BIGINT) AS bands",
            "CAST(r AS BIGINT) AS rows_per_band",
            "CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates",
            "CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true",
            "CAST(CASE WHEN COALESCE(n_candidates, 0) = 0 THEN 0"
            "     ELSE (COALESCE(n_true, 0) * 1000000) DIV n_candidates"
            " END AS BIGINT) AS precision_ppm",
            f"CAST(CASE WHEN {pool_total} = 0 THEN 0"
            f"     ELSE (COALESCE(n_true, 0) * 1000000) DIV {pool_total}"
            " END AS BIGINT) AS recall_ppm",
        )
    )


# --- per-source dedup-rate report --------------------------------------------

@query(
    "dedup_rate_by_source",
    priority=150,
    oracle=f"""
    WITH keyed AS (
      SELECT source,
             {SQL_CONTENT_KEY} AS content_key
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT content_key) AS BIGINT) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT content_key) AS BIGINT) AS n_dups,
           CAST(FLOOR(CAST(COUNT(*) - COUNT(DISTINCT content_key) AS DOUBLE)
                * 1000000 / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
             AS dup_rate_micro
    FROM keyed GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAWL-HEALTH REPORT: exact-duplicate rate PER SOURCE — the
    monitoring view over the dedup_exact content key (same normalized
    md5, ONE definition) that catches a misbehaving feed (a source
    whose dup rate jumps is re-crawling itself) before it poisons the
    training mix. One aggregation: count + distinct-count per source —
    Spark plans the distinct as a two-phase partial aggregate, so the
    shuffle carries (source, key) pairs once, and at 100 TB the same
    report runs as a rollup over the already-materialized key table the
    dedup stage produces anyway. Exactness: integer counts; the rate is
    FLOOR micro-units of one IEEE divide (ROUND-tie lesson)."""
    keyed = table(spark, sf_dir, "documents").select(
        "source", F.md5(_norm()).alias("content_key")
    )
    n, u = F.count("*"), F.countDistinct("content_key")
    return keyed.groupBy("source").agg(
        n.cast("bigint").alias("n_docs"),
        u.cast("bigint").alias("n_unique"),
        (n - u).cast("bigint").alias("n_dups"),
        F.floor((n - u).cast("double") * 1000000 / n.cast("double"))
        .cast("bigint")
        .alias("dup_rate_micro"),
    )


# --- cross-source contamination matrix ----------------------------------------

SRC_OVERLAP_CAP = 10  #: drop shingles present in more sources (boilerplate)


@query(
    "source_overlap_matrix",
    priority=150,
    oracle=f"""
    WITH sp AS (
      SELECT DISTINCT source, u.s AS s
      FROM documents, UNNEST({_SQL_SHINGLES}) AS u(s)
    ),
    capped AS (
      SELECT source, s FROM (
        SELECT source, s, COUNT(*) OVER (PARTITION BY s) AS nsrc FROM sp
      ) WHERE nsrc <= {SRC_OVERLAP_CAP}
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM capped GROUP BY source
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS shared_shingles
      FROM capped a JOIN capped b
        ON a.s = b.s AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, shared_shingles,
           (shared_shingles * 1000000)
             // (sa.n + sb.n - shared_shingles) AS jaccard_ppm
    FROM pairs
    JOIN sizes sa ON pairs.src_a = sa.source
    JOIN sizes sb ON pairs.src_b = sb.source
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE CONTAMINATION MATRIX: pairwise shingle-set Jaccard
    between every pair of sources — the inter-shard duplication report
    curated-corpus releases publish (which crawl slices are near-copies
    of each other decides dedup ORDER and mixture double-counting at
    100 TB). Rides the dedup family's shingle derivation
    (shingle_rows / _SQL_SHINGLES — one tokenizer, both engines).

    Scale shape: the (source, shingle) presence table is deduplicated,
    then shingles present in more than SRC_OVERLAP_CAP sources are
    DROPPED before the pair expansion — boilerplate appears everywhere
    and would both dominate the join (hot-key) and inflate every
    Jaccard; the cap bounds per-shingle pair fanout at C(cap,2), the
    same load-shedding contract as PHASH_BUCKET_CAP/BASKET_CAP, and is
    mirrored exactly in the oracle (all shares are computed on the
    capped shingle universe, stated in the docs rather than silently).
    One shingle-keyed exchange feeds the presence-count window, the
    self-join, and the per-source sizes; the final size join broadcasts
    the #sources-row table. Integer counts and truncating ppm division
    only — module exactness contract."""
    docs = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    # Exchange-reuse: repartition by s ONCE — hash(s) satisfies the
    # clustering required by the (source, s) distinct (subset rule), the
    # presence-count window over s, AND both sides of the s-keyed
    # self-join below, so the whole chain rides a single shuffle of the
    # presence table (the hash(pk)-before-(pk,sk)-groupBy trick).
    sp = (
        shingle_rows(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "s")
        .repartition("s")
        .distinct()
    )
    capped = persist_tracked(
        sp.withColumn(
            "nsrc", F.count("*").over(Window.partitionBy("s"))
        )
        .filter(F.col("nsrc") <= SRC_OVERLAP_CAP)
        .select("source", "s")
    )
    sizes = capped.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n")
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").cast("bigint").alias("shared_shingles"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")
                        .withColumnRenamed("n", "na")),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_b")
                        .withColumnRenamed("n", "nb")),
            "src_b",
        )
        .selectExpr(
            "src_a",
            "src_b",
            "shared_shingles",
            "(shared_shingles * 1000000)"
            " DIV (na + nb - shared_shingles) AS jaccard_ppm",
        )
    )


# --- cluster-size histogram: how duplication mass is distributed --------------


@query(
    "dedup_cluster_size_histogram",
    priority=150,
    oracle=f"""
    WITH RECURSIVE {_SQL_COMP_CTES}
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS n_removable
    FROM (
      SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM comp GROUP BY canonical_id
    )
    GROUP BY cluster_size
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-SIZE HISTOGRAM over the near-dup components: how many
    clusters exist at each size and how many documents dedup REMOVES per
    size bucket (size−1 per cluster) — the report that tells a corpus
    team whether duplication mass sits in a few huge boilerplate
    clusters (fix extraction) or a long tail of pairs (LSH is doing its
    job). Pure composition: rides dedup_cluster's hash-to-min component
    labels (one Spark builder, one recursive oracle CTE chain), then two
    tiny aggregations over the component table — cardinality is
    #clustered-docs then #distinct-sizes, both vanishing next to the
    pair join that feeds them. Integer counts only."""
    comp = dedup_cluster(spark, sf_dir)
    # reuse the builder's own cluster_size column (computed by its window)
    # rather than re-deriving it with a second equivalent aggregation —
    # one source of truth, one less exchange
    sizes = comp.select("canonical_id", "cluster_size").distinct()
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.count("*") * (F.col("cluster_size") - 1))
        .cast("bigint")
        .alias("n_removable"),
    )


# --- n-gram novelty: memorization-risk screen -----------------------------------


@query(
    "ngram_novelty_score",
    priority=150,
    oracle=f"""
    WITH ds AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS s FROM documents
    ), df AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM ds GROUP BY s
    )
    SELECT ds.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           (CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
              * 1000000) // COUNT(*) AS novelty_ppm
    FROM ds JOIN df USING (s)
    GROUP BY ds.doc_id
    """,
)
def ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY SCORE — the memorization-risk / boilerplate screen:
    for every document, the share of its distinct word {SHINGLE_W}-grams
    that occur NOWHERE else in the corpus (document frequency 1). Low
    novelty means the document is assembled from corpus-common n-grams —
    boilerplate, templates, licenses — exactly the text a model memorizes
    fastest and a curation run down-weights; high novelty marks unique
    content worth keeping at full weight. The complement of the dedup
    family: MinHash finds documents similar to SOME other document, this
    scores how much of each document is corpus-commonplace even when no
    single near-duplicate exists.

    Tokenization and shingling are the registered dedup operators' own
    shared builders (``shingle_rows`` / ``_SQL_SHINGLES``), so the
    novelty screen measures exactly the n-gram space the dedup family
    joins on; the short-doc (whole-text shingle) and blank-doc (drops
    out) conventions carry over verbatim. Exactness: counts are
    integers; the ppm share is a truncating integer division on
    positives.

    Scale shape: one (doc_id, shingle) long table (codegen'd, one
    exchange on doc_id from the shared builder), document frequencies by
    one hash aggregate on the shingle key, an equi-join back on the SAME
    shingle clustering (no second shuffle of the corpus-sized side), and
    a final per-doc aggregate. The inverted-index shape every 100 TB
    contamination pass uses; hot shingles are aggregate keys, never pair
    candidates — nothing here is quadratic."""
    ds = persist_tracked(
        shingle_rows(table(spark, sf_dir, "documents")).distinct()
    )
    df = ds.groupBy("s").agg(F.count("*").cast("bigint").alias("df"))
    return (
        ds.join(df, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("int")).cast("bigint").alias("n_novel"),
        )
        .selectExpr(
            "doc_id",
            "n_shingles",
            "n_novel",
            "(n_novel * 1000000) DIV n_shingles AS novelty_ppm",
        )
    )


# --- persistent LSH index: maintained across ingest batches ----------------------

#: The two sequential ingest batches, as doc_id % INCR_MOD remainders; the
#: standing corpus is every other remainder. Batch 2 must see batch 1's
#: bands because batch 1 was APPENDED to the persisted index in between —
#: that cross-batch visibility is what makes the persistence load-bearing.
PERSIST_B1 = 0
PERSIST_B2 = 5


@query(
    "dedup_persistent_index",
    priority=150,
    oracle=f"""
    WITH {_SQL_BAND_CTES},
    b1 AS (SELECT * FROM bands WHERE doc_id % {INCR_MOD} = {PERSIST_B1}),
    b2 AS (SELECT * FROM bands WHERE doc_id % {INCR_MOD} = {PERSIST_B2}),
    idx1 AS (SELECT * FROM bands
             WHERE doc_id % {INCR_MOD} NOT IN ({PERSIST_B1}, {PERSIST_B2})),
    idx2 AS (SELECT * FROM idx1 UNION ALL SELECT * FROM b1),
    cand AS (
      SELECT DISTINCT 1 AS batch, n.doc_id AS new_id, o.doc_id AS old_id
      FROM b1 n JOIN idx1 o
        ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
      UNION ALL
      SELECT DISTINCT 2 AS batch, n.doc_id AS new_id, o.doc_id AS old_id
      FROM b2 n JOIN idx2 o
        ON n.band_idx = o.band_idx AND n.band_hash = o.band_hash
    ),
    verified AS (
      SELECT c.batch, c.new_id, c.old_id,
             ROUND(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6)
               AS jaccard
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.new_id
      JOIN sigs sb ON sb.doc_id = c.old_id
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
            / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
            >= {JACCARD_THRESH}
    ),
    best AS (
      SELECT batch, new_id, old_id, jaccard FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY batch, new_id
                                     ORDER BY jaccard DESC, old_id) AS rn
        FROM verified
      ) WHERE rn = 1
    ),
    counts AS (
      SELECT batch, new_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM verified
      GROUP BY batch, new_id
    ),
    basedocs AS (
      SELECT 1 AS batch, doc_id FROM documents
      WHERE doc_id % {INCR_MOD} = {PERSIST_B1}
      UNION ALL
      SELECT 2 AS batch, doc_id FROM documents
      WHERE doc_id % {INCR_MOD} = {PERSIST_B2}
    )
    SELECT d.batch, d.doc_id,
           COALESCE(c.n_matches, 0) AS n_matches,
           b.old_id AS best_match,
           b.jaccard AS best_jaccard
    FROM basedocs d
    LEFT JOIN counts c ON c.batch = d.batch AND c.new_id = d.doc_id
    LEFT JOIN best b ON b.batch = d.batch AND b.new_id = d.doc_id
    """,
)
def dedup_persistent_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTENT MinHash band index, maintained across ingest batches —
    the cross-run production shape ``dedup_incremental_minhash`` stops
    short of (there, the standing index is rebuilt per run). The band
    table (doc_id, band_idx, band_hash) lives in a versioned
    ``SnapshotTable`` (sources/snapshots.py): v1 commits the standing
    corpus's bands; each ingest batch (1) probes the CURRENT index version
    through the manifest reader, then (2) APPENDS its own bands as the
    next version. Batch 2's probe therefore runs against corpus ∪ batch 1
    — cross-batch matches are only visible THROUGH the persisted index,
    which is what the oracle's idx2 CTE pins. Verdict rows per incoming
    doc mirror the incremental operator: collision count + best verified
    match (highest Jaccard, min doc_id tiebreak), NULLs when genuinely new.

    Scale shape: the index is an append-only parquet table clustered by
    (band_idx, band_hash) at write time; a probe plans only the manifest's
    file list (no directory listing at 100 TB), ships the batch's bands as
    a size-gated broadcast (INCR_BROADCAST_LIMIT, partitioned shuffle_hash
    above it), and appends O(batch) new band rows — per-run cost is
    O(batch + collisions) while the index grows monotonically across runs.
    Retention composes with ``expire_versions``. Reference analog: the
    reference re-lists and re-reads its whole input prefix every job
    (``input_handler_s3.py:51-70``) — it has no standing-index story."""
    import shutil

    from serverless_mapreduce_spark.paths import scratch, sf_tag
    from serverless_mapreduce_spark.sources.snapshots import SnapshotTable

    docs = table(spark, sf_dir, "documents")
    sigs = persist_tracked(minhash_signatures(docs))
    bands = _bands(sigs)
    rem = F.col("doc_id") % INCR_MOD

    base = scratch(sf_tag(sf_dir), "dedup_band_index")
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(base)
    standing = bands.filter(~rem.isin(PERSIST_B1, PERSIST_B2))
    # cluster the stored index on the probe key so file-local band groups
    # stay tight (the graph-family bucketed-artifact pattern)
    version = t.commit(standing.repartition("band_idx", "band_hash"), mode="append")

    # both batch sizes in ONE scan-sized aggregate job (was one count
    # job per batch over the same table — guide §1.2, don't re-scan)
    _bn = docs.agg(
        *[
            F.count(F.when(rem == r, 1)).alias(f"n{r}")
            for r in (PERSIST_B1, PERSIST_B2)
        ]
    ).collect()[0]
    cands = []
    for batch_no, r in ((1, PERSIST_B1), (2, PERSIST_B2)):
        pb = bands.filter(rem == r).select(
            F.col("doc_id").alias("new_id"), "band_idx", "band_hash"
        )
        # SIZE-GATED probe broadcast (same gate as dedup_incremental_minhash:
        # the batch is a corpus fraction, not a constant)
        n_probe = int(_bn[f"n{r}"]) * NUM_BANDS
        probe = (
            F.broadcast(pb)
            if n_probe <= INCR_BROADCAST_LIMIT
            else pb.hint("shuffle_hash")
        )
        # resolve the CURRENT version's file list BEFORE appending the batch
        idx = t.read(spark, version).select(
            F.col("doc_id").alias("old_id"), "band_idx", "band_hash"
        )
        cands.append(
            probe.join(idx, ["band_idx", "band_hash"])
            .select(
                F.lit(batch_no).cast("int").alias("batch"), "new_id", "old_id"
            )
            .distinct()
        )
        version = t.commit(bands.filter(rem == r), mode="append")  # ← batch bands

    cand = cands[0].unionAll(cands[1])
    sh = sigs.select("doc_id", "shingles")
    verified = (
        cand.join(
            sh.select(F.col("doc_id").alias("new_id"), F.col("shingles").alias("sh_a")),
            "new_id",
        )
        .join(
            sh.select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sh_b")),
            "old_id",
        )
        .withColumn(
            "jaccard_raw",
            _jaccard_sets("sh_a", "sh_b"),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESH)
        .select("batch", "new_id", "old_id", F.round("jaccard_raw", 6).alias("jaccard"))
    )
    verified = persist_tracked(verified)  # consumed by both aggs below
    from pyspark.sql import Window

    w = Window.partitionBy("batch", "new_id").orderBy(
        F.desc("jaccard"), F.asc("old_id")
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "batch",
            F.col("new_id").alias("doc_id"),
            F.col("old_id").alias("best_match"),
            F.col("jaccard").alias("best_jaccard"),
        )
    )
    counts = verified.groupBy("batch", "new_id").agg(
        F.count("*").cast("bigint").alias("n_matches")
    ).withColumnRenamed("new_id", "doc_id")
    incoming = docs.filter(rem.isin(PERSIST_B1, PERSIST_B2)).select(
        F.when(rem == PERSIST_B1, F.lit(1)).otherwise(F.lit(2)).cast("int").alias("batch"),
        "doc_id",
    )
    return (
        incoming.join(counts, ["batch", "doc_id"], "left")
        .join(best, ["batch", "doc_id"], "left")
        .select(
            "batch",
            "doc_id",
            F.coalesce(F.col("n_matches"), F.lit(0).cast("bigint")).alias("n_matches"),
            "best_match",
            "best_jaccard",
        )
    )


# --- apply the keep-list: copy-on-write purge of a snapshot corpus ---------------


@query(
    "dedup_purge_rewrite",
    priority=150,
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, {SQL_CONTENT_KEY} AS ck FROM documents
    ), keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY ck) AS keeper FROM keyed
      ) WHERE doc_id = keeper
    )
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(bit_xor(d.doc_id) AS BIGINT) AS xor_doc_id
    FROM documents d JOIN keep ON keep.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def dedup_purge_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY THE KEEP-LIST — the curation step every dedup decision
    operator here stops short of: physically rewrite the corpus so the
    losers are GONE. The documents table is committed to a
    ``SnapshotTable``; the exact-dedup rule (min doc_id per normalized
    content key, the ``dedup_exact`` convention, NULL-safe via a window
    instead of an equi-join — the r9 cascade lesson) produces the loser
    id set; ``delete_keys`` then rewrites ONLY the files containing a
    loser (copy-on-write, broadcast key set) and publishes the purged
    version, which the query reads back and checksums per source
    (bit_xor of surviving doc_ids — order-free, overflow-free, the
    export_training_shards convention). The pre-purge version remains
    time-travel readable until retention; purge + ``expire_versions`` is
    the full erasure pipeline.

    The synthetic fixture has NO exact duplicates below sf0.1 (the purge
    legitimately no-ops and the version is unchanged — the oracle
    agrees); the rewrite mechanics are pinned non-vacuously by a crafted
    dual-engine corpus in tests/test_round10_edges.py and fire for real
    at sf0.1 (8 duplicate content keys).

    Scale: decision cost is the dedup groupBy (one digest-keyed
    shuffle); apply cost is O(files containing losers + loser set),
    never O(corpus) — at 100 TB with a clustered layout the losers'
    files are a thin slice, and everything else carries over
    path-identical."""
    import shutil

    from serverless_mapreduce_spark.paths import scratch, sf_tag
    from serverless_mapreduce_spark.sources.snapshots import SnapshotTable

    base = scratch(sf_tag(sf_dir), "dedup_purge")
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(base)
    docs = table(spark, sf_dir, "documents")
    t.commit(docs.repartition(8))

    from pyspark.sql import Window

    w = Window.partitionBy("ck")
    losers = (
        docs.select("doc_id", F.md5(_norm()).alias("ck"))
        .withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id")
    )
    purged = t.delete_keys(spark, losers, ("doc_id",))
    return (
        t.read(spark, purged)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.expr("CAST(bit_xor(doc_id) AS BIGINT)").alias("xor_doc_id"),
        )
    )
