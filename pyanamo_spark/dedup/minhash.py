"""MinHash + LSH near-duplicate detection (X2), fully in DataFrame ops.

Pipeline (the standard shingle → minhash → band → bucket-join shape):
  1. word 3-shingles per doc
  2. 32-permutation MinHash signature — shingles are xxhash64'd once
     JVM-side, then an Arrow-batched pandas UDF derives all 32
     permutations as one uint64 outer product per doc (see
     minhash_signature for why this beat the pure-expression forms)
  3. 8 bands × 4 rows: band hash groups docs into buckets
  4. docs sharing any band bucket become candidate pairs (ONE grouped
     shuffle of 20-byte (doc_id, band) rows, pairs emitted by an
     in-bucket combinations explode — see candidate_pairs)
  5. candidates verified with exact Jaccard over the hashed shingle
     sets (longs, not strings — see candidate_pairs)

At 100 TB the band-bucket shuffle is the scale bottleneck; bucket
sizes stay small because identical band hashes imply near-identical
docs, and the pathological all-same-doc corpus routes through a
skew-splittable self-join (functions.skew.bucket_pairs).

Oracle-checked via the planted-mutant audit (r09): DuckDB cannot
replay the xxhash64 signatures, but it CAN recompute the exact
3-shingle Jaccard of every planted (text, text+suffix) pair — the
declared q_dedup_near output certifies that the LSH+verify pipeline's
verdict agrees with that ground truth pair-by-pair; determinism and
full-corpus recall stay pinned in tests/test_dedup.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from pyanamo_spark.dedup import (
    MUTANT_OFFSET,
    MUTANT_SUFFIX,
    corpus_with_mutants,
    shingles,
)
from pyanamo_spark.functions.skew import bucket_pairs
from pyanamo_spark.registry import register

N_PERM = 32
N_BANDS = 8
ROWS_PER_BAND = N_PERM // N_BANDS
JACCARD_THRESHOLD = 0.5

#: universal-hash permutation constants (seeded, odd multipliers) —
#: fixed at import so signatures are deterministic across executors
_rng = np.random.RandomState(0xDED0)
_PERM_A = (
    _rng.randint(1, 2**63, size=N_PERM, dtype=np.int64).view(np.uint64) | 1
)
_PERM_B = _rng.randint(1, 2**63, size=N_PERM, dtype=np.int64).view(np.uint64)


# type object, not a DDL string: string return types are parsed at
# decoration time and require an active session, but this module loads
# before any SparkSession exists
@F.pandas_udf(ArrayType(LongType()))
def minhash_signature(hs: pd.Series) -> pd.Series:
    """32-long MinHash signature over a shingle-hash array: element s =
    min over hashes h of (a_s * h + b_s) mod 2^64.

    Three generations of this expression: hashing the shingle *strings*
    32x was the suite's hottest expression (~40M string hashes at
    sf0.1); mixing the precomputed 64-bit hash with JVM murmur3(s, h)
    cut that to one string hash per shingle but stayed interpreted
    (higher-order lambdas don't codegen) — ~8M boxed hash calls. The
    numpy form does the same mix as one (N_PERM x |hs|) uint64 outer
    product per doc, where overflow wraps for free; ANSI mode forbids
    that arithmetic JVM-side (long overflow throws)."""
    out = []
    for h in hs:
        hh = np.asarray(h, dtype=np.int64).view(np.uint64)
        sig = (_PERM_A[:, None] * hh[None, :] + _PERM_B[:, None]).min(axis=1)
        out.append(sig.view(np.int64))
    return pd.Series(out)


def band_structs(sig_col):
    """Explodeable array of (band_idx, band_hash) structs."""
    return F.expr(
        f"transform(sequence(0, {N_BANDS - 1}),"
        f" b -> struct(b AS band_idx,"
        f"   xxhash64(array_join(transform("
        f"     slice({sig_col}, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND}),"
        f"     x -> cast(x AS STRING)), ',')) AS band_hash))"
    )


def candidate_pairs(spark: SparkSession, corpus: DataFrame) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one band bucket.

    Pair emission is grouped, not self-joined: the (doc_id, band)
    rows — 20 bytes each, never any text — shuffle ONCE into their
    band bucket, and each bucket emits its id combinations in-task.
    Shingle-hash arrays are joined back onto the deduped pairs
    afterwards (two narrow hash joins on doc_id), so the hottest
    shuffles never ship content.

    Skew valve: see ``functions.skew.bucket_pairs``.

    The corpus is prepped straight to *hashed* shingle sets (one
    xxhash64 per shingle string, then array_distinct on the longs): the
    signature, the bands, AND the exact-Jaccard verify all run on the
    64-bit hashes, so shingle strings are hashed exactly once and never
    stored, shipped, or compared again. Jaccard over distinct hashes
    equals Jaccard over distinct shingles up to xxhash64 collisions
    (~1e-9 at fixture scale, and a collision only perturbs one
    set-element out of ~100).

    The hashed corpus is persisted: it feeds the band branch AND both
    join-backs, and without materialization each consumer re-tokenizes
    the full corpus (3x the dominant cost). Production materializes
    this table to parquet anyway — it IS the minhash index. The prep
    runs behind a keyed doc_id repartition (r13; previously
    session.spread — the r08 experiment that measured a rebalance 2x
    WORSE here was against the join-dominated plan, and once the
    grouped emission removed the self-join the rebalance won,
    6.8 -> 4.5 s at sf1): hash-partitioning on the unique doc_id
    spreads the CPU identically to round-robin, skips round-robin's
    sortBeforeRepartition, and leaves the persisted cache partitioned
    for the verify join-backs, so the array rows shuffle once at
    build (guide §8).
    """
    # keyed doc_id repartition instead of the round-robin spread (r13,
    # the ngram_index discipline): the rebalance before the CPU-heavy
    # shingle/signature stage stays (the fixture scan is 2-4 splits),
    # but hash-partitioning on the unique doc_id spreads identically
    # AND the persisted cache's output partitioning then satisfies
    # both verify join-backs below — the corpus-sized shingle-array
    # rows shuffle ONCE at build instead of twice more per query (the
    # pair-id side, output-sized, is all that exchanges). Round-robin
    # also paid a per-partition sort (sortBeforeRepartition); the hash
    # form doesn't. Output-identical (partitioning never feeds the
    # banding dice); sf0.1/sf1 A/B small-positive, the real claim is
    # the two removed corpus-array exchanges at scale (guide §8).
    prepped = (
        corpus.select("doc_id", "text")
        .repartition("doc_id")
        .withColumn(
            "hs",
            F.array_distinct(
                F.transform(shingles("text"), lambda s: F.xxhash64(s))
            ),
        )
        .select("doc_id", "hs")
        .persist()
    )
    # persisted bucket table: feeds both emission branches, and holds
    # ~1 sorted id array per non-singleton bucket instead of 8 band
    # rows/doc — far cheaper to hold than to recompute the signature
    buckets = (
        prepped.withColumn("sig", minhash_signature("hs"))
        .select("doc_id", F.explode(band_structs("sig")).alias("band"))
        .groupBy("band.band_idx", "band.band_hash")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .persist()
    )
    pair_ids = (
        bucket_pairs(buckets, ["band_idx", "band_hash"], "ids")
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = prepped.select(
        F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a")
    )
    sh_b = prepped.select(
        F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b")
    )
    return pair_ids.join(sh_a, "doc_a").join(sh_b, "doc_b")


def mutant_candidate_pairs(spark: SparkSession) -> DataFrame:
    """(doc_a, doc_b, jaccard_raw) for every LSH candidate pair of the
    mutant corpus — the EXACT unrounded shingle Jaccard, persisted.
    q_dedup_near (at 0.5) and q_contrastive_pairs (at 0.35) consume
    the identical banded candidates (candidate generation is
    threshold-independent; only their verify floors differ), so in a
    session that does not clear the cache between them Spark's cache
    manager serves the signature + banding + verify pipeline once.

    r11: the persisted table is the verified-jaccard one, not the
    array-carrying candidate frame — both consumers only ever filter
    a jaccard derived from the arrays, so persisting the shingle
    arrays per pair (~2 KB/row, ~800 MB at sf1) materialized content
    no one re-read; the verify expression now streams through one
    pipeline into a 24 B/row cache. |A∪B| is computed as
    |A|+|B|-|A∩B| (identical integers → identical double) to skip the
    per-row array_union allocation."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidate_pairs(spark, corpus_with_mutants(spark))
        .select(
            "doc_a",
            "doc_b",
            (
                inter / (F.size("sh_a") + F.size("sh_b") - inter)
            ).alias("jaccard_raw"),
        )
        .persist()
    )


def near_dup_pairs(spark: SparkSession) -> DataFrame:
    """X2 near-dup dedup (library form): MinHash-LSH candidates
    verified by exact shingle Jaccard ≥ 0.5 over the mutant corpus —
    the raw pair output q_dedup_near's audit certifies."""
    pairs = mutant_candidate_pairs(spark)
    return (
        pairs.withColumn("jaccard", F.round("jaccard_raw", 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


#: DuckDB 3-shingle set, mirroring dedup.shingles() (the ngram-oracle
#: vocabulary): distinct word trigrams, whole text when < 3 words
_SH_SQL = (
    "list_distinct(list_transform("
    " generate_series(1, greatest(len(string_split({c}, ' ')) - 2, 1)),"
    " i -> array_to_string((string_split({c}, ' '))[i:i+2], ' ')))"
)


@register(
    "q_dedup_near",
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
SELECT doc_id,
       CAST(ROUND(CAST(len(list_intersect(a, b)) AS DOUBLE)
                  / (len(a) + len(b) - len(list_intersect(a, b))), 6)
            >= {JACCARD_THRESHOLD} AS INTEGER) AS expected_match,
       CAST(1 AS INTEGER) AS found_ok
FROM sh
""",
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 near-dup dedup, audited: the full MinHash-LSH + exact-verify
    pipeline runs (``near_dup_pairs``), then the DECLARED output
    certifies it against the planted ground truth the oracle can
    re-derive — one row per planted mutant source with
    ``expected_match`` (does the exact 3-shingle Jaccard of
    (text, text+suffix) clear the threshold? DuckDB recomputes this
    with the ngram-oracle list vocabulary) and ``found_ok`` (the LSH
    pipeline's verdict for that pair AGREES — found when expected,
    absent when not). A banding regression that drops a true mutant
    pair, or a verify regression that lets a sub-threshold one
    through, flips found_ok and fails the hash compare; xxhash64
    signatures themselves stay un-replayed (hash-vs-shingle Jaccard
    differs only on in-doc 64-bit collisions, ~1e-9/doc). Precision
    beyond the planted set is enforced by the verify stage's exact
    filter by construction; full recall beyond it is the planted-
    mutant test's job (tests/test_dedup.py)."""
    pairs = near_dup_pairs(spark)

    def hs(col_sql: str):  # shingles() takes a SQL expression string
        return F.array_distinct(
            F.transform(shingles(col_sql), lambda s: F.xxhash64(s))
        )

    planted = (
        spark.table("documents")
        # null text drops on BOTH sides (the null-row contract): the
        # shingle expressions would null-propagate into a NULL verdict
        # against the oracle's literal ok=1
        .filter((F.col("doc_id") % 100 == 0) & F.col("text").isNotNull())
        .select(
            "doc_id",
            hs("text").alias("h_a"),
            hs(f"concat(text, '{MUTANT_SUFFIX}')").alias("h_b"),
        )
    )
    jac = F.size(F.array_intersect("h_a", "h_b")) / F.size(
        F.array_union("h_a", "h_b")
    )
    expected = planted.select(
        "doc_id",
        (F.round(jac, 6) >= JACCARD_THRESHOLD)
        .cast("int")
        .alias("expected_match"),
    )
    mutant_found = pairs.filter(
        F.col("doc_b") - F.col("doc_a") == MUTANT_OFFSET
    ).select(F.col("doc_a").alias("doc_id"), F.lit(1).alias("_found"))
    return (
        expected.join(mutant_found, "doc_id", "left")
        .select(
            "doc_id",
            "expected_match",
            (F.coalesce(F.col("_found"), F.lit(0)) == F.col("expected_match"))
            .cast("int")
            .alias("found_ok"),
        )
    )
