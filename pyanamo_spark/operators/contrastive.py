"""Contrastive triplet mining: (anchor, positive, negative) document
triplets for embedding-model training — positives from verified
near-duplicate pairs, negatives drawn deterministically from the
corpus at large.

A retrieval/embedding model trains on exactly this shape (SimCSE/DPR
style); a data engine that already finds near-dups (the positive
signal) and numbers the corpus (the sampling frame) can emit training
triplets as one more query:

- positives: MinHash-LSH candidate pairs (banded self-join on band
  ids, never content — dedup/minhash.candidate_pairs) verified by
  exact Jaccard over hashed shingles at ``jaccard_min``
- negatives: for anchor a and slot i, the document at global rank
  ``xxhash64(a, i) mod n_docs`` — a pure row property, so the sample
  is identical across reruns, engines, and partitionings (the
  q_hash_split determinism contract), with no RNG state to ship
- the rank→doc mapping is the q_global_ids scale pattern (range
  exchange + per-partition rank + driver-cumsum offsets, nothing
  single-partition); the negative lookup is one narrow join on the
  rank key
- accidental positives (a sampled negative that IS a near-dup of the
  anchor) are removed by an anti-join against the verified pair set,
  both orientations — at corpus scale the loss is ~|dups|/n per slot,
  and dropping beats silently training on a false negative

Oracle-checked via the planted ground-truth audit (r09): LSH banding
is seeded-hash-specific (xxhash64), but DuckDB recomputes the exact
shingle-Jaccard verdict of every planted mutant pair and the declared
query certifies the miner agreed, plus the triplet contract (negatives
distinct, no false negatives, slots unique); negative determinism
stays pinned in tests/test_contrastive.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyanamo_spark.dedup import MUTANT_SUFFIX
from pyanamo_spark.dedup.minhash import _SH_SQL, candidate_pairs
from pyanamo_spark.operators.windows import global_rank_frame
from pyanamo_spark.registry import register

#: exact-Jaccard floor for a candidate pair to count as a positive
JACCARD_MIN = 0.35
#: negatives per (anchor, positive) pair
N_NEGATIVES = 2


def global_ranks(df: DataFrame, key: str) -> DataFrame:
    """(key, rank): contiguous 0-based ranks of ``key`` — the shared
    global-rank scale frame (operators/windows.global_rank_frame):
    range exchange whose width tracks the input, per-partition
    row_number, driver cumsum of partition counts broadcast back. No
    single-partition window, no constant parallelism."""
    return global_rank_frame(df, key, base=0)


def mine_contrastive(
    spark: SparkSession,
    corpus: DataFrame,
    jaccard_min: float = JACCARD_MIN,
    n_negatives: int = N_NEGATIVES,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """(anchor_id, positive_id, jaccard, slot, negative_id) triplets.

    ``pairs`` lets the declared query hand in the persisted
    mutant-corpus candidate table (minhash.mutant_candidate_pairs),
    whose LSH pipeline q_dedup_near builds identically; ad-hoc corpora
    (tests) compute their own candidates."""
    return mine_contrastive_parts(
        spark, corpus, jaccard_min, n_negatives, pairs
    )[1]


def mine_contrastive_parts(
    spark: SparkSession,
    corpus: DataFrame,
    jaccard_min: float = JACCARD_MIN,
    n_negatives: int = N_NEGATIVES,
    pairs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(positives, triplets): the verified positive PAIR set and the
    mined triplets. The structure audit in q_contrastive_pairs builds
    its OWN independent false-negative join rather than reusing the
    miner's internal ``_fn`` marker — reusing the marker would make
    the audit true by definition of the filter it certifies (an r11
    fusion attempt, reverted for exactly that reason), so the marked
    frame is no longer returned. Recall is judged on the pair set
    BEFORE negative fan-out, so a planted pair whose every negative
    slot drops as an accidental positive still counts as found (the
    miner did find it; slot survival is a separate contract)."""
    if pairs is None:
        pairs = candidate_pairs(spark, corpus)
    if "jaccard_raw" not in pairs.columns:
        # ad-hoc corpora hand in raw array-carrying candidates; the
        # declared query hands in minhash.mutant_candidate_pairs'
        # persisted (doc_a, doc_b, jaccard_raw) table, where the verify
        # already ran inside the shared build (r11)
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        pairs = pairs.withColumn(
            "jaccard_raw",
            # |A∪B| as na+nb-|A∩B|: same integers, same double, no
            # per-row array_union allocation (r11)
            inter / (F.size("sh_a") + F.size("sh_b") - inter),
        )
    positives = (
        pairs.withColumn("jaccard", F.col("jaccard_raw"))
        .filter(F.col("jaccard") >= jaccard_min)
        .select(
            F.col("doc_a").alias("anchor_id"),
            F.col("doc_b").alias("positive_id"),
            F.round("jaccard", 6).alias("jaccard"),
        )
    )
    # positives has SEVEN consumers across the miner and the declared
    # audit (recall leg, both pair-set orientations twice, slot
    # fan-out): each would re-derive it — against the persisted pair
    # table on the declared path, against the whole LSH band pipeline
    # for ad-hoc corpora — and the duplicated subtrees made the final
    # action's plan balloon (the r12-start explain was 250 KB of
    # repeated InMemoryRelation trees). One eager localCheckpoint
    # materializes the (small, output-sized) verified pair set once:
    # downstream plans reference a scanned RDD instead of the build
    # subtree, and on the declared path the checkpoint's own job is
    # what populates the shared pair cache q_dedup_near reuses (the
    # old eager pairs.count() did the same work without truncating
    # anything).
    positives = positives.localCheckpoint()
    ranks = global_ranks(corpus.select("doc_id"), "doc_id")
    # n_docs rides the plan as a broadcast one-row aggregate, NOT a
    # driver-side count(): the count was a whole extra job over the
    # corpus per query (r12 — the modulus is the only consumer, and
    # pmod evaluates it lazily per row; an empty corpus yields zero
    # candidate rows, so the ANSI pmod-by-zero case never evaluates)
    n_docs_row = corpus.select("doc_id").agg(
        F.count("*").alias("n_docs")
    )
    slots = positives.select(
        "*",
        F.explode(
            F.array(*[F.lit(i) for i in range(n_negatives)])
        ).alias("slot"),
    )
    cand = (
        slots.crossJoin(F.broadcast(n_docs_row))
        .withColumn(
            "neg_rank",
            F.pmod(F.xxhash64("anchor_id", "slot"), F.col("n_docs")),
        )
        .drop("n_docs")
    )
    neg = cand.join(
        ranks.select(
            F.col("rank").alias("neg_rank"),
            F.col("doc_id").alias("negative_id"),
        ),
        "neg_rank",
    ).drop("neg_rank")
    # drop self-hits and accidental near-dup negatives (both pair
    # orientations) — never train on a false negative. The removal is
    # a LEFT join carrying a marker, filtered to null markers —
    # identical anti-join semantics (the pair set is duplicate-free:
    # candidate pairs are distinct with doc_a < doc_b, so the two
    # orientations cannot collide — dropDuplicates below is a cheap
    # guard on that invariant). The structure audit deliberately does
    # NOT consume this marker (see mine_contrastive_parts docstring).
    pair_set = (
        positives.select("anchor_id", "positive_id")
        .unionByName(
            positives.select(
                F.col("positive_id").alias("anchor_id"),
                F.col("anchor_id").alias("positive_id"),
            )
        )
        .dropDuplicates(["anchor_id", "positive_id"])
    )
    marked = neg.filter(
        (F.col("negative_id") != F.col("anchor_id"))
        & (F.col("negative_id") != F.col("positive_id"))
    ).join(
        pair_set.select(
            "anchor_id",
            F.col("positive_id").alias("negative_id"),
        ).withColumn("_fn", F.lit(1)),
        ["anchor_id", "negative_id"],
        "left",
    )
    triplets = marked.filter(F.col("_fn").isNull()).select(
        "anchor_id", "positive_id", "jaccard", "slot", "negative_id"
    )
    return positives, triplets


@register(
    "q_contrastive_pairs",
    oracle=f"""
WITH planted AS (
  SELECT doc_id, text, text || '{MUTANT_SUFFIX}' AS mut
  FROM documents WHERE doc_id % 100 = 0 AND text IS NOT NULL
),
sh AS (
  SELECT doc_id,
         {_SH_SQL.format(c="text")} AS a,
         {_SH_SQL.format(c="mut")} AS b
  FROM planted
)
SELECT 'planted' AS kind, doc_id AS id,
       CAST(ROUND(CAST(len(list_intersect(a, b)) AS DOUBLE)
                  / (len(a) + len(b) - len(list_intersect(a, b))), 6)
            >= {JACCARD_MIN} AS INTEGER) AS expected_match,
       CAST(1 AS INTEGER) AS ok
FROM sh
UNION ALL
SELECT 'structure', CAST(-1 AS BIGINT), CAST(1 AS INTEGER),
       CAST(1 AS INTEGER)
""",
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining, audited: the full LSH-positive +
    hash-negative pipeline runs over the mutant corpus
    (``mine_contrastive``), then the DECLARED output certifies it
    against ground truth the oracle re-derives —

    - ``kind='planted'``: one row per planted mutant source.
      ``expected_match`` is the exact 3-shingle Jaccard verdict of
      (text, text+suffix) at the {JACCARD_MIN} positive floor, which
      DuckDB recomputes exactly (the q_dedup_near machinery); ``ok``
      certifies the miner agreed — the anchor/positive PAIR mined
      when expected, absent when not. Recall is judged on the
      verified pair set BEFORE negative fan-out (r10, ADVICE fix):
      a pair whose every negative slot drops as an accidental
      positive was still FOUND; slot survival is the structure leg's
      business.
    - ``kind='structure'``: one global row certifying the triplet
      contract over the WHOLE output: negatives never equal their
      anchor or positive, no negative is a verified near-dup of its
      anchor in either orientation (the no-false-negative guarantee),
      and slots are distinct within each (anchor, positive) pair —
      all three flags from ONE aggregation pass over the triplets
      (slot distinctness as count_distinct(anchor, positive, slot) ==
      count(*); the false-negative probe rides a left-join marker),
      replacing r09's three crossJoined audit legs.

    Negative ids themselves are seeded-hash-specific (why this seat
    was rows-only); negative determinism and planted recall stay
    pinned in tests/test_contrastive.py."""
    from pyanamo_spark.dedup import (
        MUTANT_OFFSET,
        corpus_with_mutants,
        shingles,
    )

    from pyanamo_spark.dedup.minhash import mutant_candidate_pairs

    corpus = corpus_with_mutants(spark)
    positives, trips = mine_contrastive_parts(
        spark, corpus, pairs=mutant_candidate_pairs(spark)
    )

    def hs(col_sql: str):
        return F.array_distinct(
            F.transform(shingles(col_sql), lambda s: F.xxhash64(s))
        )

    planted = (
        spark.table("documents")
        # null text drops on BOTH sides (the null-row contract): the
        # shingle expressions would null-propagate into a NULL verdict
        .filter((F.col("doc_id") % 100 == 0) & F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("id"),
            hs("text").alias("h_a"),
            hs(f"concat(text, '{MUTANT_SUFFIX}')").alias("h_b"),
        )
    )
    jac = F.size(F.array_intersect("h_a", "h_b")) / F.size(
        F.array_union("h_a", "h_b")
    )
    expected = planted.select(
        "id",
        (F.round(jac, 6) >= JACCARD_MIN).cast("int").alias("expected_match"),
    )
    # recall judged on the positive PAIR set, not the post-fan-out
    # triplets (ADVICE r09: a pair losing all its negative slots to
    # the accidental-positive anti-join is still FOUND). positives is
    # localCheckpoint'ed by mine_contrastive_parts (r12), so this leg
    # scans the materialized pair set rather than re-filtering the
    # persisted candidate table.
    found = (
        positives.filter(
            F.col("positive_id") - F.col("anchor_id") == MUTANT_OFFSET
        )
        .select(F.col("anchor_id").alias("id"))
        .distinct()
        .withColumn("_found", F.lit(1))
    )
    planted_audit = expected.join(found, "id", "left").select(
        F.lit("planted").alias("kind"),
        "id",
        "expected_match",
        (F.coalesce(F.col("_found"), F.lit(0)) == F.col("expected_match"))
        .cast("int")
        .alias("ok"),
    )
    # the VERIFIED near-dup set (both orientations) the no-false-
    # negative guarantee is stated against — from the checkpointed
    # positives, so deriving it re-runs nothing. Deliberately a
    # SECOND, independently-built join (rename + distinct + its own
    # key expressions), not the miner's own `_fn` marker: reusing the
    # marker would make no_false_neg_ok true BY DEFINITION of the
    # filter, certifying nothing — this form catches a mis-keyed or
    # orientation-dropping removal join (tried fusing in r11, reverted
    # for exactly that reason; the independent join costs ~1s at sf1).
    sym_pairs = (
        positives.select(
            F.col("anchor_id").alias("a"), F.col("positive_id").alias("n")
        )
        .unionByName(
            positives.select(
                F.col("positive_id").alias("a"),
                F.col("anchor_id").alias("n"),
            )
        )
        .distinct()  # at most one match per triplet row: the join
        # marker below must not duplicate rows under the fused counts
        .withColumn("_audit_fn", F.lit(1))
    )
    # ONE aggregation pass computes all three structure flags (r09 ran
    # three crossJoined legs over the persisted triplets):
    #   - neg_distinct_ok: min over rows of the inequality predicate
    #   - no_false_neg_ok: no triplet carries the sym-pair marker
    #   - slots_ok: slots distinct within every (anchor, positive)
    #     pair <=> no duplicate (anchor, positive, slot) triple
    enriched = trips.join(
        sym_pairs,
        (F.col("anchor_id") == F.col("a"))
        & (F.col("negative_id") == F.col("n")),
        "left",
    )
    struct_flags = enriched.agg(
        F.coalesce(
            F.min(
                (
                    (F.col("negative_id") != F.col("anchor_id"))
                    & (F.col("negative_id") != F.col("positive_id"))
                ).cast("int")
            ),
            F.lit(1),
        ).alias("neg_distinct_ok"),
        (F.count(F.col("_audit_fn")) == 0)
        .cast("int")
        .alias("no_false_neg_ok"),
        (
            F.count_distinct("anchor_id", "positive_id", "slot")
            == F.count("*")
        )
        .cast("int")
        .alias("slots_ok"),
    )
    structure = struct_flags.select(
        F.lit("structure").alias("kind"),
        F.lit(-1).cast("long").alias("id"),
        F.lit(1).cast("int").alias("expected_match"),
        (
            (F.col("neg_distinct_ok") == 1)
            & (F.col("no_false_neg_ok") == 1)
            & (F.col("slots_ok") == 1)
        )
        .cast("int")
        .alias("ok"),
    )
    return planted_audit.unionByName(structure)
