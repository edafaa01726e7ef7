"""Skew-handling utilities (SURVEY.md §4 / the 100 TB contract).

AQE's skew-join splitting handles skewed *joins* automatically
(spark.sql.adaptive.skewJoin.enabled, on in session.py). Skewed
*aggregations* — a groupBy where one key holds most rows — still
funnel one key's rows to one task; ``salted_agg`` is the standard
two-stage rewrite:

  stage 1: group by (key, salt) where salt = pmod(hash-ish, N) —
           spreads the hot key over N tasks, partial results per shard
  stage 2: group by key — combines N shard rows per key (tiny input)

Only algebraic aggregates compose this way (count/sum/min/max —
anything with a merge function); avg is sum/count at the call site.

``bucket_pairs`` is the pair-emission step of the dedup family: every
pair inside a bucket, without pinning a mega-bucket to one task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: buckets with at most this many items emit their pairs in-task;
#: larger ones pair through the skew-splittable self-join
MAX_COMBO_BUCKET = 256

#: aggregate name → (stage-1 fn, stage-2 combiner)
_MERGEABLE = {
    "count": (lambda c: F.count(c), F.sum),
    "sum": (F.sum, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | Column]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage salted aggregation.

    ``aggs`` maps output column → (agg_name, input column), e.g.
    ``{"n": ("count", "*"), "total": ("sum", "value")}``.
    Result is row-identical to ``df.groupBy(keys).agg(...)`` — the salt
    only changes the physical distribution.
    """
    salted = df.withColumn(
        "_salt", (F.monotonically_increasing_id() % n_salts).cast("int")
    )
    stage1 = salted.groupBy(*keys, "_salt").agg(
        *[
            _MERGEABLE[name][0](col).alias(f"_{out}")
            for out, (name, col) in aggs.items()
        ]
    )
    return stage1.groupBy(*keys).agg(
        *[
            _MERGEABLE[name][1](f"_{out}").alias(out)
            for out, (name, _) in aggs.items()
        ]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Skew-proof equi-join by salt replication — the manual form of
    what AQE's skew-join does adaptively, for when the skew is known
    up front (or the join feeds an operator AQE cannot re-split).

    The fact side gets a random-ish salt in [0, n_salts); the dim side
    is replicated once per salt value (an explode of a literal range —
    dim rows × n_salts, fine for dimension-sized tables). Joining on
    (key, salt) spreads a hot key's fact rows over n_salts tasks
    instead of one. Row-identical to ``fact.join(dim, key)``; inner
    join only (a missing dim key drops all salt shards alike).
    """
    salted_fact = fact.withColumn(
        "_salt", (F.monotonically_increasing_id() % n_salts).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.lit(list(range(n_salts))))
    )
    return salted_fact.join(salted_dim, [key, "_salt"]).drop("_salt")


def bucket_pairs(buckets: DataFrame, keys: list[str], items: str) -> DataFrame:
    """``(a, b)`` for every pair ``a < b`` of each bucket's ``items``.

    ``buckets`` holds one row per bucket: its ``keys`` columns and
    ``items``, a sorted array of distinct elements. Buckets with a NULL
    key pair nothing, as in an SQL equi-join on the keys.

    A bucket's pair count is quadratic in its size. Buckets of at most
    ``MAX_COMBO_BUCKET`` items emit their pairs in-task with a
    two-level explode: one row per (item, later-items slice), then one
    row per pair, so a row is never wider than the bucket (a flattened
    combinations array would be O(k^2) per row). That pins a bucket to
    one task, which a boilerplate mega-cluster at crawl scale would
    overload; larger buckets are therefore re-exploded to rows and
    self-joined on ``keys``, a join whose skewed key AQE splits across
    tasks (spark.sql.adaptive.skewJoin). ``buckets`` feeds both
    branches, so callers persist it when it is costly to recompute.
    """
    keyed = buckets.dropna(subset=keys)
    small = (
        keyed.filter(F.size(items) <= MAX_COMBO_BUCKET)
        .select(items, F.posexplode(items).alias("_i", "a"))
        .select(
            "a",
            F.explode(
                F.slice(items, F.col("_i") + 2, F.size(items))
            ).alias("b"),
        )
    )
    rows = keyed.filter(F.size(items) > MAX_COMBO_BUCKET).select(
        *keys, F.explode(items).alias("_item")
    )
    big = (
        rows.withColumnRenamed("_item", "a")
        .join(rows.withColumnRenamed("_item", "b"), keys)
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    return small.unionByName(big)
