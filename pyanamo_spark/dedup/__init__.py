"""Deduplication operators for training-data pipelines (SURVEY.md §2.10
X1/X2 + north star): exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine.

The fixture corpus has no natural duplicates, so near-dup operators run
over ``corpus_with_mutants``: documents plus a deterministic mutated
copy of every 100th doc (two tokens appended, doc_id offset by
1,000,000). The construction is pure SQL, so DuckDB oracles can rebuild
the identical corpus.

The n-gram family (q_dedup_ngram, q_dedup_contain, q_dedup_clusters)
shares the frames ``ngram_index`` persists on every call: the tokenized
corpus and the FAMILY_MIN_T prefix pool. q_dedup_ngram also persists
its verified (doc_a, doc_b, jaccard) pair frame, which is output-sized
and which q_dedup_clusters closes into components. Spark's cache
manager shares that data between calls that do not clear the cache,
so in such a session the first family member to run pays the one
build. Containment additionally prunes candidates with the exact
container-size bound |B| >= ceil(T*|A|) (dedup/ngram.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MUTANT_OFFSET = 1_000_000
MUTANT_SUFFIX = " mutated token"

#: DuckDB/Spark-shared SQL for the mutant corpus (dialect-neutral)
CORPUS_SQL = f"""
SELECT doc_id, text, lang FROM documents
UNION ALL
SELECT doc_id + {MUTANT_OFFSET} AS doc_id,
       text || '{MUTANT_SUFFIX}' AS text,
       lang
FROM documents
WHERE doc_id % 100 = 0
"""


def corpus_with_mutants(spark: SparkSession) -> DataFrame:
    docs = spark.table("documents").select("doc_id", "text", "lang")
    mutants = (
        spark.table("documents")
        .filter(F.col("doc_id") % 100 == 0)
        .select(
            (F.col("doc_id") + MUTANT_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(MUTANT_SUFFIX)).alias("text"),
            "lang",
        )
    )
    return docs.unionByName(mutants)


def shingles(col, k: int = 3):
    """Word k-shingles as an array column (distinct not applied).

    The tokenization is bound once per row via a single-element
    ``transform`` wrapper: higher-order functions are interpreted with
    no common-subexpression elimination, so naming ``split`` inside the
    per-shingle lambda would re-split the text once per output element
    (~50x per doc on the fixture corpus).
    """
    return F.expr(
        f"transform(array(split({col}, ' ')),"
        f" w -> transform(sequence(1, greatest(size(w) - {k - 1}, 1)),"
        f"   i -> array_join(slice(w, i, {k}), ' ')))[0]"
    )


def hashed_shingles(col, k: int = 3):
    """xxhash64 of each word k-shingle WITHOUT building the joined
    shingle string: the multi-arg xxhash64 chains the k words directly,
    so the per-shingle slice+array_join+UTF8String allocation of
    ``xxhash64(shingles(...))`` disappears (r13 A/B at sf0.1: the
    prepped tokenize pass 0.39 → 0.25 s warm best-of-3). Hash equality
    still ⟺ shingle equality modulo xxhash64 collisions — words cannot
    contain the split delimiter, so the word-tuple determines the
    joined string and vice versa; short docs (< k words) hash their
    full word list because xxhash64 skips the NULL out-of-range
    elements, matching the string form's whole-text shingle. The
    out-of-range access MUST be ``get(w, i)`` (NULL past the end) —
    ``w[i]`` throws INVALID_ARRAY_INDEX under ANSI mode, caught by
    the short-doc test corpus (the driver fixtures have no <k-word
    doc, so driver_sim alone never exercises this branch).

    ONLY for consumers whose declared output is hash-value-invariant
    (the ngram family: exact verify, prefix recall holds under any
    consistent (df, h) order). MinHash keeps the string form — its
    banding dice are seeded by the hash values, so changing them
    re-rolls which candidate pairs LSH surfaces (r12 rejection).
    """
    return F.expr(
        f"transform(array(split({col}, ' ')),"
        f" w -> transform(sequence(1, greatest(size(w) - {k - 1}, 1)),"
        f"   i -> xxhash64({', '.join(f'get(w, i + {j} - 1)' for j in range(k))})"
        f"))[0]"
    )


# ---------------------------------------------------------------------
# shared prefix-filter index for the ngram dedup family

#: loosest threshold any family member cuts a prefix at — the CACHED
#: prefix pool is sized for this bound, and tighter thresholds (e.g.
#: containment's 0.8) select a SUBSET of it: both rank by the same
#: (df, h) per-doc order, so a (1-t')-prefix is a prefix of the
#: (1-t)-prefix whenever t' >= t
FAMILY_MIN_T = 0.6

#: shared-shingle (df >= 2) vocabulary rows above which the prefix
#: build's join-back stops broadcasting and falls back to a shuffle
#: join — ~4M (h, df) rows is ~200 MB as a broadcast hash relation,
#: the comfortable ceiling for the executor profile this is tuned for
_DF_BROADCAST_MAX = 4_000_000


class NgramIndex:
    """The frames q_dedup_ngram / q_dedup_contain / q_dedup_clusters
    all derive from the corpus:

    - ``prepped``: (doc_id, lang, size_bucket, sh, n_sh) — xxhash64'd
      distinct trigram sets per doc
    - ``postings``: prepped exploded to one row per (doc, shingle)
    - ``prefix_pool``: the df-ranked postings (df >= 2 only — df=1
      shingles cannot pair; rarest-first per doc) already cut to the
      FAMILY_MIN_T prefix bound — the largest prefix any member needs.
      Persisting the pool instead of the full ranked set keeps only
      ~(1-t)·|doc| rows per doc in executor storage; ``prefix(t)``
      re-filters it for tighter thresholds.

    ``ngram_index`` builds and persists these frames on every call,
    and the query passes them down. Calls that do not clear the cache
    in between share the persisted data through Spark's cache manager,
    which serves a rebuilt identical plan from the cached one; a
    different ``documents`` view is a different plan and gets its own
    answer. At 100 TB the df table alone is a full corpus shuffle, so
    a session running the whole family pays the posting pass once.
    """

    def __init__(self, prepped, postings, prefix_pool):
        self.prepped = prepped
        self.postings = postings
        self.prefix_pool = prefix_pool

    def doc_stats(self):
        """(doc_id, n_sh, n2) for every doc with a non-empty prefix —
        the per-doc constants the pair-dedup aggregation used to ship
        inside every occurrence struct (r12: the slim agg carries only
        (doc_a, doc_b, packed ra/rb) through the exchange — 24 B/row
        instead of 64 — and re-attaches these constants afterwards;
        measured 7.5 -> 4.4 s on the sf10 emission stage for the
        identical 4.9M-pair output). One row per candidate-eligible
        doc; any doc in a bucket has a pool row, so the re-attach
        joins lose nothing. dropDuplicates needs no exchange: the
        pool inherits prepped's doc_id partitioning. Persisted: the
        caller's broadcast-size probe and both re-attach joins read
        it."""
        return (
            self.prefix_pool.select("doc_id", "n_sh", "n2")
            .dropDuplicates(["doc_id"])
            .persist()
        )

    def prefix(self, t: float):
        """(doc_id, lang, size_bucket, n_sh, h, rnk, n2) rows of each
        doc's ``|A| - ceil(t·|A|) + 1`` rarest df>=2 shingles; ``rnk``
        is the shingle's position in the doc's global (df, h) order
        and ``n2`` the doc's df>=2 universe size — the PPJoin
        positional-filter inputs (r11)."""
        assert t >= FAMILY_MIN_T, "prefix pool is cut at FAMILY_MIN_T"
        return self.prefix_pool.filter(
            F.col("rnk")
            <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
        ).select(
            "doc_id", "lang", "size_bucket", "n_sh", "h", "rnk", "n2"
        )


def ngram_index(spark: SparkSession) -> NgramIndex:
    """Build the shared prefix-filter index over the ``documents``
    view's mutant corpus (see NgramIndex for how calls share it)."""
    from pyspark.sql import Window

    # the doc_id repartition (required below for the cache's output
    # partitioning) happens BEFORE tokenization on the narrow
    # (doc_id, text, lang) rows: expressions compute in the stage
    # that feeds the exchange, so tokenize+shingle+hash — the
    # build's CPU — would otherwise run on the scan's few parquet
    # splits (2-4 on the fixture) and strand the other cores
    corpus = corpus_with_mutants(spark).repartition("doc_id")
    # persisted (spillable), not localCheckpoint: the shingle arrays
    # are corpus-sized and must be allowed to overflow to disk on big
    # fixtures. Cached PRE-PARTITIONED on doc_id (the repartition
    # above survives the projection): the verify joins key on doc
    # ids, so the cache's output partitioning satisfies
    # ENSURE_REQUIREMENTS and only the (tiny) candidate-pair side
    # exchanges — the corpus-sized shingle-array rows are shuffled
    # ONCE at build instead of twice per family query
    prepped = (
        corpus.select(
            "doc_id",
            "lang",
            (F.size(F.split("text", " ")) / 20)
            .cast("int")
            .alias("size_bucket"),
            # hashed_shingles: no per-shingle string materialization —
            # output-invariant here because every family consumer
            # verifies exactly on the hashed sets and the prefix
            # pigeonhole holds under any consistent hash order (r13)
            F.array_distinct(hashed_shingles("text")).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        .persist()
    )
    postings = prepped.select(
        "doc_id", "lang", "size_bucket", "n_sh", F.explode("sh").alias("h")
    )
    # df via aggregate + join-back, NOT a count-over-window: the agg
    # partial-combines map-side so its exchange carries only distinct
    # shingles, while a window would sort-shuffle EVERY posting row by
    # h (measured 1.6x worse on the sf1 gate).
    #
    # adaptive join-back (r12): the df>=2 table is the SHARED-shingle
    # vocabulary — tiny next to the postings (813k rows / 13 MB at
    # sf10, vs 27M posting rows). When it fits a broadcast, the
    # join-back keeps the postings' doc_id partitioning, so the rank
    # window below needs NO exchange: both corpus-sized shuffles of
    # the prefix build (postings by h for the join, df>=2 postings
    # back by doc_id for the window) disappear — measured 8.7 -> 4.1 s
    # at sf10. The df aggregation's own exchange still runs, but it
    # carries one row per distinct shingle, not per posting. Above the
    # bound (a 100 TB vocabulary is not broadcastable) the plan falls
    # back to the shuffle join unchanged; the persisted df table makes
    # the probe count a one-small-frame action either way.
    df_tab = (
        postings.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .persist()
    )
    df2 = F.broadcast(df_tab) if df_tab.count() <= _DF_BROADCAST_MAX else df_tab
    ranked = (
        postings.join(df2, "h")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "h")
            ),
        )
        # n2 = the doc's df>=2 shingle count — the universe size the
        # PPJoin positional bound counts "elements after position rnk"
        # in (r11). Same partitioning as the rank window, no orderBy,
        # so it shares the exchange+sort and adds no shuffle.
        .withColumn(
            "n2", F.count("*").over(Window.partitionBy("doc_id"))
        )
    )
    prefix_pool = ranked.filter(
        F.col("rnk")
        <= F.col("n_sh") - F.ceil(F.lit(FAMILY_MIN_T) * F.col("n_sh")) + 1
    ).persist()
    return NgramIndex(prepped, postings, prefix_pool)
