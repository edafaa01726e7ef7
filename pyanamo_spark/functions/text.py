"""Text analysis for training-data pipelines (SURVEY.md §2.10 X4 + the
north-star text operators): token counting, language ID heuristic,
quality scoring, document fingerprinting, corpus statistics.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
codegen) — no Python UDFs. At 100 TB each of these is a single scan
with partial aggregation; nothing shuffles except the final group-bys
on low-cardinality keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyanamo_spark.registry import register

from pyanamo_spark.session import spread as _spread  # noqa: E402 — the
# canonical repartition-before-per-row-CPU helper; only the hot
# per-token operators use it (for cheap scans the extra exchange costs
# more than it saves)


#: tiny English stopword set for the language-ID heuristic
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

_STOP_LIST_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


@register(
    "q_text_stats",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY lang
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 corpus statistics per language: doc counts, exact distinct
    sources, char/token length profiles — one scan, partial aggs."""
    docs = spark.table("documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(F.split(F.col("text"), " "))), 4).alias(
            "avg_tokens"
        ),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
    )


#: q_approx_distinct's audit band: |HLL estimate − exact| / exact must
#: stay within 3x the configured rsd (0.02) — HLL++ lands within 1 rsd
#: in expectation and the fixture measures ~0 error (sparse-mode exact
#: counting at fixture vocabulary sizes)
HLL_RSD = 0.02
HLL_ERR_BOUND = 3 * HLL_RSD


def approx_vocab(spark: SparkSession) -> DataFrame:
    """Raw HLL++ vocabulary estimate per language (library form — the
    one-pass, mergeable-sketch scale path with no exact counterpart)."""
    docs = spark.table("documents")
    return (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang")
        .agg(F.approx_count_distinct("tok", HLL_RSD).alias("approx_vocab"))
    )


@register(
    "q_approx_distinct",
    oracle=f"""
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_vocab,
       CAST(1 AS INTEGER) AS hll_ok
FROM toks GROUP BY lang
""",
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 approx_count_distinct, audited: HyperLogLog++ token-vocabulary
    cardinality per language, certified in-engine against the exact
    distinct count on the same scan (the q_percentiles_approx pattern).
    DuckDB's approx sketch is a different algorithm, so the raw
    estimate can never hash-match — instead the DECLARED output emits
    the exact vocabulary (which DuckDB re-derives) plus an ``hll_ok``
    flag asserting the estimate sits within HLL_ERR_BOUND of it; an
    accuracy regression (rsd misconfig, merge bug) flips the flag and
    fails the compare. The pure one-pass sketch stays available as
    ``approx_vocab`` — the audit's exact pass is the certification
    cost, paid here and not in the library scale path."""
    docs = spark.table("documents")
    both = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang")
        .agg(
            F.approx_count_distinct("tok", HLL_RSD).alias("est"),
            F.count_distinct("tok").alias("n_vocab"),
        )
    )
    rel_err = F.abs(F.col("est") - F.col("n_vocab")) / F.col("n_vocab")
    return both.select(
        "lang",
        "n_vocab",
        (rel_err <= HLL_ERR_BOUND).cast("int").alias("hll_ok"),
    )


@register(
    "q_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT)
         AS bpe_ish_tokens
FROM documents
""",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star token counting: whitespace tokens plus a BPE-ish
    regex tokenization (alnum runs | single punctuation) — the standard
    pre-tokenizer shape, all in JVM regex."""
    docs = spark.table("documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0
            )
        )
        .cast("long")
        .alias("bpe_ish_tokens"),
    )


@register(
    "q_lang_id",
    oracle=f"""
SELECT doc_id, lang,
       CASE WHEN len(list_filter(string_split(text, ' '),
                                 t -> t IN ({_STOP_LIST_SQL})))
                 >= 0.05 * len(string_split(text, ' '))
            THEN 'en' ELSE 'unknown' END AS predicted_lang
FROM documents
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star language ID: n-gram/stopword-ratio heuristic —
    a doc is 'en' when ≥5% of its tokens are English stopwords. A real
    deployment swaps the token list for per-language profiles; the
    plan shape (filter-lambda over the token array, zero shuffles) is
    what matters at scale."""
    docs = spark.table("documents")
    toks = F.split(F.col("text"), " ")
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(*STOPWORDS))
    )
    return docs.select(
        "doc_id",
        "lang",
        F.when(stop_hits >= 0.05 * F.size(toks), "en")
        .otherwise("unknown")
        .alias("predicted_lang"),
    )


@register(
    "q_quality_score",
    oracle=f"""
SELECT doc_id,
       CAST(
         LEAST(100, len(string_split(text, ' '))) * 4
         + CASE WHEN n_chars BETWEEN 50 AND 2000 THEN 300 ELSE 0 END
         + LEAST(300, (3000 * len(list_filter(string_split(text, ' '),
                                  t -> t IN ({_STOP_LIST_SQL}))))
                      // len(string_split(text, ' ')))
       AS BIGINT) AS quality_milli
FROM documents
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star quality scoring: composite of length band, token
    count, and stopword ratio (the Gopher-rules shape) — pure
    expressions, one scan, no UDF.

    Scored in integer milli-units (0-1000): token term up to 400,
    length-band term 300, stopword-ratio term up to 300. Integer
    arithmetic keeps the score bit-exact across engines — float
    ROUND is implementation-defined on boundary-adjacent doubles
    (Spark HALF_UP vs DuckDB rounding the same double the other way).
    """
    docs = spark.table("documents")
    return docs.select(
        "doc_id", quality_expr().cast("long").alias("quality_milli")
    )


def quality_expr():
    """The composite quality score as a reusable Column (expects
    `text` and `n_chars` in scope)."""
    n_toks = F.size(F.split(F.col("text"), " "))
    stop_term = F.expr(
        f"(3000 * size(filter(split(text, ' '), t -> t IN ({_STOP_LIST_SQL}))))"
        f" div size(split(text, ' '))"
    ).cast("int")
    return (
        F.least(F.lit(100), n_toks) * 4
        + F.when(F.col("n_chars").between(50, 2000), 300).otherwise(0)
        + F.least(F.lit(300), stop_term)
    )


@register(
    "q_fingerprint",
    oracle="""
SELECT doc_id,
       md5(lower(text)) AS fingerprint,
       substring(md5(lower(text)), 1, 4) AS shard_key
FROM documents
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star document fingerprinting: content hash of the
    normalized text plus a hash-prefix shard key — the join/partition
    key for exact dedup at 100 TB (dedupe on the 128-bit digest, never
    on the raw text)."""
    docs = spark.table("documents")
    fp = F.md5(F.lower(F.col("text")))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 4).alias("shard_key"),
    )


@register(
    "q_repetition",
    oracle="""
WITH grams AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
           i -> array_to_string((string_split(text, ' '))[i:i+2], ' ')
         )) AS gram
  FROM documents
),
counts AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       CAST(MAX(c) AS BIGINT) AS top_gram_count,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS rep_ratio
FROM counts
GROUP BY doc_id
""",
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 repetition detection (the Gopher-style quality rule "drop
    docs whose most frequent n-gram dominates"): per doc, the trigram
    count, the top trigram's multiplicity, and their ratio.

    Both aggregations collapse map-side: every occurrence of a gram in
    a doc shares the (doc_id, gram) key within the doc's partition, so
    the first shuffle ships one row per DISTINCT gram per doc, and the
    second reduces those to one row per doc. Text itself never
    shuffles — only gram strings, and only deduplicated ones."""
    from pyanamo_spark.dedup import shingles

    grams = spark.table("documents").select(
        "doc_id", F.explode(shingles("text")).alias("gram")
    )
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.max("c").alias("top_gram_count"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias(
            "rep_ratio"
        ),
    )


@register(
    "q_tfidf",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         CAST(tf.tf AS BIGINT) AS tf,
         CAST(df.df AS BIGINT) AS df,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) DESC,
                    tf.term
         ) AS rnk
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS BIGINT) AS rnk
FROM scored WHERE rnk <= 3
""",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 TF-IDF: each document's top-3 most characteristic terms.

    Shuffle profile at scale: tf collapses map-side on (doc_id, term);
    df aggregates the already-distinct tf pairs per term; the corpus
    size and the term→df table ride back as broadcasts (vocabulary ≪
    corpus), so document text crosses the wire only once, as
    (doc_id, term, count) triples. Ranking ties break on the term
    itself, making top-3 deterministic for the oracle."""
    toks = _spread(spark.table("documents"), "doc_id", "text").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = spark.table("documents").agg(
        F.count("*").alias("n_docs")
    )
    from pyspark.sql import Window as W

    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "raw",
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("raw").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round("raw", 6).alias("tfidf"),
            "rnk",
        )
    )


@register(
    "q_lang_mix",
    oracle="""
WITH counts AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY source, lang
),
shares AS (
  SELECT source, lang, n_docs, n_chars,
         n_docs * 1.0 / SUM(n_docs) OVER (PARTITION BY source) AS share
  FROM counts
)
SELECT source, lang, n_docs, n_chars,
       ROUND(share, 6) AS share,
       ROUND(SUM(-share * log2(share)) OVER (PARTITION BY source), 6)
         AS source_entropy
FROM shares
""",
)
def q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture diagnostics for corpus curation: per-source language
    composition (doc counts, char volume, share) plus the source's
    language entropy — the report that drives mixture-rebalance rates
    (`operators/curation.py::q_stratified_sample`). One map-side
    combinable aggregation over (source, lang) — cardinality is
    sources x languages, never data-sized — then window math on the
    tiny aggregate; the entropy never touches row-level data."""
    w = W.partitionBy("source")
    counts = (
        spark.table("documents")
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )
    share = F.col("n_docs") / F.sum("n_docs").over(w)
    return (
        counts.withColumn("_share", share)
        .select(
            "source",
            "lang",
            "n_docs",
            "n_chars",
            F.round("_share", 6).alias("share"),
            F.round(
                F.sum(-F.col("_share") * F.log2("_share")).over(w), 6
            ).alias("source_entropy"),
        )
    )


@register(
    "q_quality_filter",
    oracle=f"""
WITH scores AS (
  SELECT doc_id,
         CAST(
           LEAST(100, len(string_split(text, ' '))) * 4
           + CASE WHEN n_chars BETWEEN 50 AND 2000 THEN 300 ELSE 0 END
           + LEAST(300, (3000 * len(list_filter(string_split(text, ' '),
                                    t -> t IN ({_STOP_LIST_SQL}))))
                        // len(string_split(text, ' ')))
         AS BIGINT) AS quality_milli
  FROM documents
),
cut AS (
  SELECT quantile_cont(CAST(quality_milli AS DOUBLE), 0.25) AS c
  FROM scores
)
SELECT s.doc_id, s.quality_milli
FROM scores s, cut
WHERE CAST(s.quality_milli AS DOUBLE) >= cut.c
""",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-threshold quality filtering — keep documents at or
    above the corpus's exact 25th-percentile quality score. The cutoff
    comes from the bounded-memory global percentile
    (functions/quantiles.py with an empty group list) and rides back
    as a one-row broadcast, so the filter is a single codegen'd scan:
    the standard "drop the worst quartile" curation pass, exact and
    oracle-checkable end to end. quality_milli is an integral
    milli-score (≤1001 distinct values), so the cutoff takes the
    value-histogram percentile path — one map-side-combined count per
    distinct score, independent of corpus size."""
    from pyanamo_spark.functions.quantiles import (
        exact_group_percentiles_lowcard,
    )

    scores = spark.table("documents").select(
        "doc_id", quality_expr().cast("long").alias("quality_milli")
    )
    cut = exact_group_percentiles_lowcard(
        scores, [], "quality_milli", {"c": 0.25}
    )
    return (
        scores.crossJoin(F.broadcast(cut))
        .filter(F.col("quality_milli").cast("double") >= F.col("c"))
        .select("doc_id", "quality_milli")
    )


#: top-k merge candidates reported by the BPE pair count
BPE_TOP_K = 20


@register(
    "q_bpe_pairs",
    oracle=f"""
WITH words AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
pairs AS (
  SELECT substring(w, i, 2) AS pair
  FROM (
    SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
    FROM words WHERE len(w) >= 2
  )
)
SELECT pair, COUNT(*) AS n_pairs
FROM pairs
GROUP BY pair
ORDER BY n_pairs DESC, pair
LIMIT {BPE_TOP_K}
""",
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop at corpus scale: count every
    adjacent character pair inside words and surface the top merge
    candidates. One explode over in-word positions (the word is bound
    once; substring windows read the bound value), a map-side
    combinable pair count, and a TakeOrderedAndProject top-k — no
    global sort. A full BPE trainer iterates this exact aggregation,
    re-tokenizing against the grown merge table each round; the
    per-round plan is what must scale, and this is it."""
    words = spark.table("documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(w) - 1),"
                    " i -> substring(w, i, 2))"
                )
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "pair")
        .limit(BPE_TOP_K)
    )


@register(
    "q_lm_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
),
cnt AS (
  SELECT term, SUM(tf) AS c FROM tf GROUP BY 1
),
tot AS (
  SELECT SUM(c) AS n, COUNT(*) AS v FROM cnt
),
scored AS (
  SELECT tf.doc_id,
         SUM(tf.tf) AS n_tokens,
         SUM(tf.tf * ln((cnt.c + 1.0) / (tot.n + tot.v))) AS ll
  FROM tf JOIN cnt USING (term) CROSS JOIN tot
  GROUP BY tf.doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(-ll / n_tokens, 4) AS nll
FROM scored
""",
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM fluency score per document: mean negative log-
    likelihood under an add-one-smoothed unigram model fit on the
    corpus itself — the CCNet-style (Wenzek et al., LREC 2020)
    perplexity filter that ranks documents by how ordinary their
    vocabulary is (gibberish, boilerplate codes and lorem-ipsum tails
    score high-nll; fluent prose scores low).

    Shuffle profile at scale: the token stream collapses map-side to
    (doc_id, term, tf) before anything term-keyed happens; the unigram
    model is a rollup OF that table (one more map-side-combinable agg),
    and scoring is a term-keyed shuffle join of tf against the model —
    web-scale vocabularies (URLs, typos, code identifiers) are NOT
    assumed broadcastable, and AQE downgrades to broadcast at runtime
    whenever the model actually is small. The (N, V) totals ride in as
    a 1-row cross join. nll is rounded to 4 decimals on both sides:
    per-doc log-prob sums are order-sensitive in the last bits
    (~1e-12), so the half-step of ROUND(x, 4) keeps ~5e7x headroom —
    the q_embed_covariance lesson applied from the start.
    """
    return lm_score(spark.table("documents"))


def lm_score(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, nll) for any (doc_id, text, ...) corpus —
    the q_lm_score plan on a caller-supplied DataFrame."""
    toks = _spread(docs, "doc_id", "text").select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    cnt = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    tot = cnt.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    scored = (
        tf.join(cnt, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(
                F.col("tf")
                * F.log(
                    (F.col("c") + F.lit(1.0))
                    / (F.col("n") + F.col("v"))
                )
            ).alias("ll"),
        )
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(-F.col("ll") / F.col("n_tokens"), 4).alias("nll"),
    )


# ---------------------------------------------------------------------
# BM25 relevance (retrieval scoring over the corpus)

#: literal query set (terms drawn from the fixture vocabulary) — the
#: deterministic stand-in for a query log, same pattern as
#: q_decontaminate's benchmark set
BM25_QUERIES: tuple[tuple[str, str], ...] = (
    ("q1", "spark sort column"),
    ("q2", "hash join order"),
    ("q3", "scan value fast batch"),
)
BM25_K1, BM25_B, BM25_TOP = 1.2, 0.75, 5

#: BM25 scoring as DuckDB CTEs ending in bm25_scored(query_id, doc_id,
#: score[rounded 6]) — shared by the q_bm25 oracle and the hybrid-RRF
#: oracle so the lexical leg cannot drift between the two
BM25_SCORE_CTES = f"""queries(query_id, term) AS (
  VALUES {", ".join(f"('{qid}', '{t}')" for qid, q in BM25_QUERIES for t in q.split())}
),
docs AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
),
stats AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM docs
),
toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT t.doc_id, t.term, COUNT(*) AS tf
  FROM toks t SEMI JOIN queries q ON t.term = q.term
  GROUP BY 1, 2
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
bm25_scored AS (
  SELECT q.query_id, tf.doc_id,
         ROUND(SUM(
           ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * d.dl / s.avgdl))
         ), 6) AS score
  FROM tf
  JOIN queries q USING (term)
  JOIN df USING (term)
  JOIN docs d USING (doc_id)
  CROSS JOIN stats s
  GROUP BY 1, 2
)"""


@register(
    "q_bm25",
    oracle=f"""
WITH {BM25_SCORE_CTES},
ranked AS (
  SELECT query_id, doc_id, score,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS rnk
  FROM bm25_scored
)
SELECT query_id, doc_id, score, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {BM25_TOP}
""",
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring: top-5 documents per query for a literal
    query set (Robertson/Okapi form, the lexical half of every
    RAG/retrieval stack).

    Shuffle profile at scale: document text crosses the wire ONCE, as
    (doc_id, term, tf, dl) rows pre-filtered by a broadcast semi-join
    on the query vocabulary (dl rides the surviving token rows, so no
    doc-keyed length join re-reads the corpus — r12); df and the
    corpus stats ride back as broadcasts (query vocab ≪ corpus).
    Ranking uses the ROUNDED score with a doc_id tie-break so both
    engines order identically."""
    scored = bm25_scores(spark)
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= BM25_TOP)
        .select("query_id", "doc_id", "score", "rnk")
    )


def bm25_scores(spark: SparkSession) -> DataFrame:
    """(query_id, doc_id, score): rounded BM25 of every matching doc
    per query — the full lexical leg, shared by q_bm25 (top-k) and the
    hybrid RRF fusion (rank frame)."""
    docs = spark.table("documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    stats = docs.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qterms = spark.createDataFrame(
        [(qid, t) for qid, q in BM25_QUERIES for t in q.split()],
        "query_id string, term string",
    )
    # dl rides the token pipeline (r12): the old form joined the
    # corpus-sized (doc_id, dl) table back onto tf by doc_id — a third
    # full text scan+tokenize plus a doc-keyed join — when every
    # surviving token row can carry its document's length into the tf
    # aggregation for 8 bytes each (and only QUERY-MATCHED tokens
    # survive the broadcast semi-join, so the widened rows are the
    # tiny filtered set). min(dl) is constant per doc_id; output
    # verified bit-identical down to the full scores table.
    words = _spread(spark.table("documents"), "doc_id", "text").select(
        "doc_id", F.split("text", " ").alias("_w")
    )
    toks = words.select(
        "doc_id", F.size("_w").alias("dl"), F.explode("_w").alias("term")
    )
    tf = (
        toks.join(F.broadcast(qterms.select("term").distinct()), "term", "semi")
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.min("dl").alias("dl"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log(
        1
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    norm = F.col("tf") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(idf * F.col("tf") * (BM25_K1 + 1) / norm).alias("raw")
        )
        .withColumn("score", F.round("raw", 6))
    )
    return scored.select("query_id", "doc_id", "score")


# ---------------------------------------------------------------------
# PMI co-occurrence (collocation / phrase-mining primitive)

#: frequent-vocabulary cap: only words appearing in ≥ MIN_DF docs can
#: form pairs — the prune that bounds per-doc pair fan-out at corpus
#: scale (a doc's pair count is ≤ |vocab∩doc|², not |doc|²)
PMI_MIN_DF = 50
PMI_TOP = 20

_PMI_ORACLE = f"""
WITH words AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
),
df AS (
  SELECT w, COUNT(*) AS df FROM words GROUP BY w
  HAVING COUNT(*) >= {PMI_MIN_DF}
),
kept AS (
  SELECT wo.doc_id, wo.w FROM words wo SEMI JOIN df ON wo.w = df.w
),
pair_df AS (
  SELECT a.w AS wa, b.w AS wb, COUNT(*) AS df_ab
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.w < b.w
  GROUP BY a.w, b.w
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT p.wa, p.wb, p.df_ab, da.df AS df_a, db.df AS df_b,
         ROUND(ln((CAST(p.df_ab AS DOUBLE) / n.n_docs)
                  / ((CAST(da.df AS DOUBLE) / n.n_docs)
                     * (CAST(db.df AS DOUBLE) / n.n_docs))), 6) AS pmi
  FROM pair_df p
  JOIN df da ON p.wa = da.w
  JOIN df db ON p.wb = db.w
  CROSS JOIN n
),
ranked AS (
  SELECT wa, wb, df_ab, df_a, df_b, pmi,
         ROW_NUMBER() OVER (ORDER BY pmi DESC, wa, wb) AS rnk
  FROM scored
)
SELECT wa, wb, df_ab, df_a, df_b, pmi, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= {PMI_TOP}
"""


@register("q_pmi", oracle=_PMI_ORACLE)
def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word pairs by document-level pointwise mutual
    information — the collocation signal phrase mining / tokenizer
    curricula start from.

    Scale shape (r12): per-doc word dedup happens IN-TASK
    (array_distinct before the explode — no corpus-wide distinct
    exchange), the min-df prune is a broadcast semi-join BEFORE any
    pairing, and pairs are emitted by an in-task combinations explode
    after one doc_id regroup — per-doc fan-out bounded by the
    frequent vocabulary, never by document length. All probabilities
    are document frequencies over one broadcast corpus count; the
    final top-k is a single ordered limit on the vocab²-bounded pair
    table. (The r08-r11 form paid a posting-sized distinct exchange
    plus a doc-keyed self-join: sf10 45.3 s → 11.2 s from the two
    changes, A/B'd same-host.)"""
    # per-doc word dedup in-task (r12): (doc_id, w) rows can only
    # repeat WITHIN a document, so array_distinct before the explode
    # yields exactly the rows the old corpus-wide .distinct() did —
    # minus its full posting-sized exchange. words is then a pure map
    # pipeline off the scan; the only remaining shuffles are the df
    # aggregation (distinct-word-sized after partial agg) and the
    # doc_id regroup for pair emission.
    words = spark.table("documents").select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
    )
    df_ = (
        words.groupBy("w")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= PMI_MIN_DF)
    )
    kept = words.join(F.broadcast(df_.select("w")), "w", "semi")
    # grouped pair emission: each doc's frequent words collapse into
    # one sorted array after ONE doc_id shuffle, and the in-task
    # two-level explode emits the (wa < wb) pair multiset with peak
    # row width O(doc). No skew valve (functions.skew.bucket_pairs):
    # a doc's fan-out is bounded by |frequent vocab ∩ doc| (the
    # PMI_MIN_DF prune), and routing it through the helper cost two
    # extra jobs, 12 -> 20 exchanges and 0.46 -> 0.56 s best-of-3 at
    # sf0.1 on 4 cores.
    pair_df = (
        kept.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("w")).alias("ws"))
        .select("ws", F.posexplode("ws").alias("i", "wa"))
        .select(
            "wa",
            F.explode(F.expr("slice(ws, i + 2, size(ws))")).alias("wb"),
        )
        .groupBy("wa", "wb")
        .agg(F.count("*").alias("df_ab"))
    )
    n_docs = spark.table("documents").agg(F.count("*").alias("n_docs"))
    scored = (
        pair_df.join(
            F.broadcast(df_.select(F.col("w").alias("wa"), F.col("df").alias("df_a"))),
            "wa",
        )
        .join(
            F.broadcast(df_.select(F.col("w").alias("wb"), F.col("df").alias("df_b"))),
            "wb",
        )
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("df_ab").cast("double") / F.col("n_docs"))
                    / (
                        (F.col("df_a").cast("double") / F.col("n_docs"))
                        * (F.col("df_b").cast("double") / F.col("n_docs"))
                    )
                ),
                6,
            ),
        )
    )
    # top-k first (TakeOrdered: distributed partial top-N — the old
    # plan ranked the whole pair table through one window task), then
    # number the PMI_TOP surviving rows. The trailing window IS
    # single-partition, but over a frame bounded by the limit — the
    # declared top-N contract (GLOBAL_WINDOW_OK in the plan audit);
    # the global_rank_frame machinery would add an eager checkpoint +
    # offsets collect (~0.8 s at sf0.1) to rank 20 rows.
    top = scored.orderBy(F.col("pmi").desc(), "wa", "wb").limit(PMI_TOP)
    w = W.orderBy(F.col("pmi").desc(), "wa", "wb")
    return (
        top.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("wa", "wb", "df_ab", "df_a", "df_b", "pmi", "rnk")
    )


@register(
    "q_zipf",
    oracle="""
WITH counts AS (
  SELECT w, COUNT(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
ranked AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS rank
  FROM counts
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab,
       ROUND(regr_slope(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
         AS zipf_slope,
       ROUND(regr_r2(ln(CAST(freq AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
         AS r2
FROM ranked
""",
)
def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the token frequency distribution: OLS slope of
    log-frequency on log-rank plus R² — natural language sits near
    slope −1 with high R², so the report is the cheap corpus-
    naturalness check (synthetic/templated/spam-heavy crawls bend the
    curve). One token aggregation; the full-vocabulary ranking runs
    through :func:`global_rank_frame` (range exchange +
    per-partition row_number + broadcast offsets) instead of a
    single-partition window, so a billion-token vocabulary ranks
    across the cluster; (freq desc, w) is a total order so ranks are
    engine-identical, and the fit is the exact regr_* closed form."""
    from pyanamo_spark.operators.windows import global_rank_frame

    counts = (
        spark.table("documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        # the helper ranks ascending; negating the integer count is
        # exact and flips to the required (freq DESC, w ASC) order
        .withColumn("nfreq", -F.col("freq"))
    )
    # deliberately UNPERSISTED (r11): caching counts here looked like a
    # win (the range partitioner's sampling pass re-runs the corpus
    # aggregation otherwise) but an InMemoryRelation child defeats
    # AQE's exchange-stage reuse — the executed plan then carries THREE
    # independently-sampled range exchanges whose boundaries may
    # disagree, the exact pid-consistency hazard global_rank_frame
    # guards against (caught by the r11 ReusedExchange consumer test;
    # it also leaked a vocab-sized cache per run, ADVICE r10). The
    # uncached agg child reuses into ONE exchange; the sampling pass's
    # extra aggregation compute is the price of guaranteed-consistent
    # pids.
    ranked = global_rank_frame(
        counts,
        "nfreq",
        "w",
        base=1,
        # NO extra= ride-along: the count pass prunes extras out of its
        # exchange input, the projections then canonicalize differently
        # and ReuseExchange silently fails — the exact failure mode the
        # helper guards against (ADVICE r10, caught by
        # test_global_rank_consumers_reuse_range_exchange). freq is
        # derivable from the key instead.
        width=int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
    ).withColumn("freq", -F.col("nfreq"))
    lf = F.log(F.col("freq").cast("double"))
    lr = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.count("*").cast("long").alias("n_vocab"),
        F.round(F.regr_slope(lf, lr), 6).alias("zipf_slope"),
        F.round(F.regr_r2(lf, lr), 6).alias("r2"),
    )


# ---------------------------------------------------------------------
# compression-ratio quality signal

#: flag documents whose utf-8 bytes compress below this ratio —
#: highly repetitive/templated content (the deflate-filter rule real
#: corpus-quality pipelines run alongside Gopher heuristics)
COMPRESS_MIN_RATIO = 0.35


def _deflate_doc_stats(doc_id, text) -> dict:
    """The per-document deflate signal — ONE implementation shared by
    the production stats stage and the audit, so the audit certifies
    the code path the filter actually runs."""
    import zlib

    raw = (text or "").encode("utf-8")
    comp = zlib.compress(raw, 6)
    ratio = round(len(comp) / max(len(raw), 1), 6)
    return {
        "doc_id": doc_id,
        "n_bytes": len(raw),
        "n_compressed": len(comp),
        "ratio": ratio,
        "too_repetitive": ratio < COMPRESS_MIN_RATIO,
        "_raw": raw,
        "_comp": comp,
    }


def compression_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bytes, n_compressed, ratio, too_repetitive): stdlib
    deflate per document, Arrow-batched.

    This is a sanctioned Python stage: no JVM expression computes
    deflate, and the work is bytes-local — each batch compresses its
    own documents with zero shuffle, so the stage scales exactly like
    the scan. Ratio = compressed/raw; natural prose lands ~0.4-0.7,
    templated/repeated content collapses toward 0."""
    from collections.abc import Iterator

    import pandas as pd

    cols = ["doc_id", "n_bytes", "n_compressed", "ratio", "too_repetitive"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                {
                    k: v
                    for k, v in _deflate_doc_stats(doc_id, text).items()
                    if not k.startswith("_")
                }
                for doc_id, text in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id", "text").mapInPandas(
        gen,
        "doc_id bigint, n_bytes bigint, n_compressed bigint, "
        "ratio double, too_repetitive boolean",
    )


def compression_audit(docs: DataFrame) -> DataFrame:
    """Per-doc certification of the deflate quality signal — the same
    Arrow-batched bytes-local stage as compression_stats, but instead
    of the library-defined compressed sizes it emits what an engine-
    independent checker can assert:

    - ``roundtrip_ok``: inflate(deflate(text)) == text byte-for-byte;
    - ``bounds_ok``: 0 < n_compressed ≤ n_bytes + 64 (zlib's documented
      worst-case envelope) and the emitted ratio is the rounded
      n_compressed / max(n_bytes, 1);
    - ``flag_ok``: the production row's too_repetitive equals the
      declared rule (ratio < COMPRESS_MIN_RATIO) applied to its own
      emitted ratio.

    The per-doc signal comes from _deflate_doc_stats — the SAME
    function compression_stats runs — so a regression in the
    production path flips these flags."""
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = _deflate_doc_stats(doc_id, text)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "n_bytes": d["n_bytes"],
                        "roundtrip_ok": int(
                            zlib.decompress(d["_comp"]) == d["_raw"]
                        ),
                        "bounds_ok": int(
                            0 < d["n_compressed"] <= d["n_bytes"] + 64
                            and d["ratio"]
                            == round(
                                d["n_compressed"] / max(d["n_bytes"], 1), 6
                            )
                        ),
                        "flag_ok": int(
                            d["too_repetitive"]
                            == (d["ratio"] < COMPRESS_MIN_RATIO)
                        ),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_bytes", "roundtrip_ok", "bounds_ok",
                    "flag_ok",
                ],
            )

    return docs.select("doc_id", "text").mapInPandas(
        gen,
        "doc_id bigint, n_bytes bigint, roundtrip_ok int, "
        "bounds_ok int, flag_ok int",
    )


@register(
    "q_compress_filter",
    oracle="""
SELECT doc_id,
       CAST(strlen(COALESCE(text, '')) AS BIGINT) AS n_bytes,
       CAST(1 AS INTEGER) AS roundtrip_ok,
       CAST(1 AS INTEGER) AS bounds_ok,
       CAST(1 AS INTEGER) AS flag_ok
FROM documents
""",
)
def q_compress_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality filter, audited per document: the
    deflate signal (compression_stats) certified in-engine — exact
    utf-8 byte counts the oracle re-derives, a decompress round-trip,
    zlib's worst-case size envelope, and the repetitive flag's
    consistency with its own ratio (see compression_audit). Raw ratios
    stay available as ``compression_stats`` — deflate output is
    library-defined, which is exactly why the declared output
    certifies the contract instead; the planted high/low-entropy flag
    semantics are pinned in tests/test_text.py."""
    return compression_audit(spark.table("documents"))


_VOCAB_K = 256


@register(
    "q_vocab_coverage",
    oracle=f"""
WITH toks AS (
  SELECT lang, unnest(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))
           AS tok
  FROM documents
),
tf AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
vocab AS (SELECT tok FROM tf ORDER BY n DESC, tok LIMIT {_VOCAB_K})
SELECT lang,
       COUNT(*) AS n_tokens,
       COUNT(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 END)
         AS covered,
       ROUND(COUNT(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 END)
             * 1.0 / COUNT(*), 6) AS coverage
FROM toks
GROUP BY lang
""",
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: take the corpus-global top-256
    pre-tokens (the BPE-ish regex of q_token_count) as the vocabulary
    and report, per language, what fraction of token occurrences it
    covers — the first question asked of any proposed vocab size
    before training a tokenizer (q_bpe_train) on a multilingual mix.

    Scale shape: term frequencies collapse map-side to a VOCAB-sized
    table; top-K is TakeOrdered over that table (K rows, never a
    global sort of tokens); membership joins back as a broadcast
    LEFT SEMI-shaped flag on the token stream, and the readout is one
    LANGS-sized aggregation. The token stream itself is never
    shuffled — explode, flag, aggregate all pipeline in the scan
    stage.
    """
    toks = spark.table("documents").select(
        "lang",
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0
            )
        ).alias("tok"),
    )
    tf = toks.groupBy("tok").agg(F.count("*").alias("n"))
    vocab = (
        tf.orderBy(F.col("n").desc(), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    flagged = toks.join(F.broadcast(vocab), "tok", "left")
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_tokens"),
        F.count("in_vocab").alias("covered"),
        F.round(F.count("in_vocab") / F.count("*"), 6).alias("coverage"),
    )


@register(
    "q_bigram_entropy",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
big AS (
  SELECT lang, tok,
         LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM toks
),
cab AS (
  SELECT lang, prev, tok, COUNT(*) AS c_ab
  FROM big WHERE prev IS NOT NULL
  GROUP BY lang, prev, tok
),
ctx AS (
  SELECT lang, prev, c_ab,
         SUM(c_ab) OVER (PARTITION BY lang, prev) AS c_a,
         SUM(c_ab) OVER (PARTITION BY lang) AS n
  FROM cab
)
SELECT lang,
       CAST(MAX(n) AS BIGINT) AS n_bigrams,
       COUNT(*) AS n_distinct_bigrams,
       ROUND(-SUM((c_ab * 1.0 / n) * LN(c_ab * 1.0 / c_a)), 6)
         AS cond_entropy
FROM ctx
GROUP BY lang
""",
)
def q_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-word entropy per language,
    H(next|prev) = −Σ p(a,b)·ln(c_ab/c_a) over word bigrams — the
    zeroth-order language-model signal: low entropy means the corpus
    is predictable (templated/boilerplate), high means diverse; the
    cross-language comparison normalizes quality thresholds per lang
    before filtering.

    Scale shape: consecutive tokens are ADJACENT in the split array,
    so bigrams are formed in-task — ``zip_with`` over the array's two
    adjacent slices — and collapse straight into the
    BIGRAM-VOCAB-sized count table as a pure map pipeline off the
    scan. (Through r11 this was a lag window partitioned by doc: a
    full token-stream exchange plus a per-doc sort to rediscover
    adjacency the array already had — r12 removed both; output
    identical at sf0.1 and sf1, ~20% faster at sf1 and the
    token-volume exchange is gone at 100x.) The context total stays a
    window (partitioned by (lang, prev) — a high-cardinality key,
    frames bounded by a context's successor vocabulary), but the
    per-LANGUAGE total is a LANGS-sized aggregate broadcast back
    (r10): a ``partitionBy(lang)`` window funnels a whole language's
    bigram vocabulary through ONE task at 100x — low-cardinality
    partition keys are the same single-task trap as no key at all.
    The entropy fold is one LANGS-sized aggregation.
    """
    pairs_col = F.expr(
        "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
        "         slice(split(text, ' '), 2, size(split(text, ' ')) - 1),"
        "         (a, b) -> struct(a AS prev, b AS tok))"
    )
    big = (
        _spread(spark.table("documents"), "lang", "text")
        .select("lang", F.explode(pairs_col).alias("bg"))
        .select(
            "lang",
            F.col("bg.prev").alias("prev"),
            F.col("bg.tok").alias("tok"),
        )
    )
    cab = big.groupBy("lang", "prev", "tok").agg(F.count("*").alias("c_ab"))
    totals = cab.groupBy("lang").agg(F.sum("c_ab").alias("n"))
    ctx = cab.select(
        "lang",
        "c_ab",
        F.sum("c_ab").over(W.partitionBy("lang", "prev")).alias("c_a"),
    ).join(F.broadcast(totals), "lang")
    p_ab = F.col("c_ab") / F.col("n")
    return ctx.groupBy("lang").agg(
        F.max("n").cast("long").alias("n_bigrams"),
        F.count("*").alias("n_distinct_bigrams"),
        F.round(-F.sum(p_ab * F.log(F.col("c_ab") / F.col("c_a"))), 6).alias(
            "cond_entropy"
        ),
    )


@register(
    "q_langid_eval",
    oracle=f"""
WITH p AS (
  SELECT lang,
         CASE WHEN len(list_filter(string_split(text, ' '),
                                   t -> t IN ({_STOP_LIST_SQL})))
                   >= 0.05 * len(string_split(text, ' '))
              THEN 'en' ELSE 'unknown' END AS predicted_lang
  FROM documents
)
SELECT lang, predicted_lang,
       COUNT(*) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY lang),
             6) AS row_share
FROM p
GROUP BY lang, predicted_lang
""",
)
def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the declared label vs the
    stopword-heuristic prediction (q_lang_id), with row-normalized
    shares — the evaluation artifact that turns a classifier into a
    decision ("trust 'en' predictions; route 'unknown' to the n-gram
    profile model"). Recall for a label reads directly off its
    diagonal cell.

    Scale shape: the prediction is the same zero-shuffle
    filter-lambda expression as q_lang_id, collapsing into a
    LABELS²-bounded aggregate; the normalizing window runs over that
    tiny matrix.
    """
    toks = F.split(F.col("text"), " ")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    p = spark.table("documents").select(
        "lang",
        F.when(stop_hits >= 0.05 * F.size(toks), "en")
        .otherwise("unknown")
        .alias("predicted_lang"),
    )
    agg = p.groupBy("lang", "predicted_lang").agg(F.count("*").alias("n"))
    wl = W.partitionBy("lang")
    return agg.select(
        "lang",
        "predicted_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(wl), 6).alias("row_share"),
    )


_CURVE_KS = (64, 128, 256, 512, 1024)


@register(
    "q_coverage_curve",
    oracle=f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))
           AS tok
  FROM documents
),
tf AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
tot AS (SELECT SUM(n) AS t FROM tf),
vocab AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS r
  FROM tf QUALIFY r <= {max(_CURVE_KS)}
),
ks(k) AS (VALUES {", ".join(f"({k})" for k in _CURVE_KS)})
SELECT ks.k AS vocab_size,
       CAST(SUM(v.n) AS BIGINT) AS covered_tokens,
       ROUND(SUM(v.n) * 1.0 / (SELECT t FROM tot), 6) AS coverage
FROM ks JOIN vocab v ON v.r <= ks.k
GROUP BY ks.k
""",
)
def q_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-size sizing curve: corpus coverage of the top-k
    pre-tokens for k in 64..1024 (_CURVE_KS) — the marginal-return
    readout that decides how large a tokenizer vocabulary to train
    (q_vocab_coverage answers for ONE k; this sweeps the knee of the
    curve).

    Scale shape: the token stream is scanned ONCE into term
    frequencies (map-combined, VOCAB-sized); the corpus total is the
    sum of that table, not a second scan; the top-1024 ranking is
    TakeOrdered + a row_number over those 1024 rows (bounded, single
    partition by construction); and the curve is a 5x1024 range join
    over bounded frames.
    """
    toks = spark.table("documents").select(
        F.explode(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"), 0
            )
        ).alias("tok")
    )
    tf = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = tf.agg(F.sum("n").alias("t"))
    top = tf.orderBy(F.col("n").desc(), "tok").limit(max(_CURVE_KS))
    # number the top-1024 survivors: the window is single-partition
    # but limit-bounded by construction (the declared top-N contract,
    # GLOBAL_WINDOW_OK in the plan audit) — TakeOrdered did the
    # distributed work, and the global_rank_frame machinery costs an
    # eager checkpoint + offsets collect to rank 1024 rows
    vocab = top.select(
        "n",
        F.row_number()
        .over(W.orderBy(F.col("n").desc(), "tok"))
        .alias("r"),
    )
    ks = spark.createDataFrame([(k,) for k in _CURVE_KS], "k int")
    return (
        F.broadcast(ks)
        .join(vocab, vocab["r"] <= ks["k"])
        .groupBy(F.col("k").alias("vocab_size"))
        .agg(F.sum("n").cast("long").alias("covered_tokens"))
        .join(F.broadcast(tot))
        .select(
            "vocab_size",
            "covered_tokens",
            F.round(F.col("covered_tokens") / F.col("t"), 6).alias(
                "coverage"
            ),
        )
    )
