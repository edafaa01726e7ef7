"""Market-basket association rules and top conversion paths — the
classic co-occurrence analytics over baskets and sessions.

Reference parity: the reference's nested task maps group work items
into batches (nest semantics, /root/reference/code/pyanamo/modifier.py
import_nested_item) but can never ask "which items co-occur in a
batch" without a full export; association rules answer exactly that.
North-star extensions: co-occurrence mining doubles as a
training-data signal (template detection via over-frequent paths,
tag co-occurrence for mixture design).

Scale shapes:
- Basket rules: the pair generator is a WITHIN-BASKET self-join —
  cost bounded by Σ (basket size)², never |items|² — collapsing
  straight to the PAIR-VOCAB-sized count table; supports join back
  from ITEM-sized aggregates and the final top-k is TakeOrdered.
- Paths: sessions assemble in ONE aggregation (in-group struct sort,
  the q_session_events shape); path counting is a PATH-VOCAB-sized
  aggregate and top-k is TakeOrdered, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyanamo_spark.registry import register

_MIN_BASKETS = 3
_TOP_RULES = 50
_TOP_PATHS = 10


@register(
    "q_basket_rules",
    oracle=f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
isup AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
         COUNT(*) AS n_baskets
  FROM items a
  JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY antecedent, consequent
)
SELECT antecedent, consequent, n_baskets,
       ROUND(n_baskets * 1.0 / (SELECT n FROM nb), 6) AS support,
       ROUND(n_baskets * 1.0 / ia.c, 6) AS confidence,
       ROUND(n_baskets * 1.0 * (SELECT n FROM nb) / (ia.c * ic.c), 6)
         AS lift
FROM pairs
JOIN isup ia ON ia.l_partkey = antecedent
JOIN isup ic ON ic.l_partkey = consequent
WHERE n_baskets >= {_MIN_BASKETS}
ORDER BY lift DESC, antecedent, consequent
LIMIT {_TOP_RULES}
""",
)
def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for part pairs bought
    together in ≥{_MIN_BASKETS} orders, support, confidence and lift;
    top-{_TOP_RULES} rules by lift (deterministic key tiebreak).

    Scale shape (r12): each basket collapses to one sorted part-set
    row in a single orderkey exchange (collect_set partial-aggregates
    map-side — this replaced the r08-r11 distinct + within-basket
    self-join, which paid three exchanges for the same pair multiset;
    sf1 11-12 s → 6.3-6.9 s in alternated A/Bs); unordered pairs are
    emitted by an in-task combinations explode (cost Σ basket²,
    bounded by the largest basket) and counted once — directed
    (antecedent, consequent) counts are symmetric, so both
    orientations expand from the counted table with one in-row
    explode. Item supports are an ITEM-sized aggregate joined back by
    key (AQE broadcasts); the basket total is a 1-row broadcast
    scalar; top-k is TakeOrderedAndProject. Nothing is ever all-pairs
    over the catalog.

    Reverted experiment (r08, kept for the record): localCheckpoint-ing
    the old ``items`` frame measured ~1.4x WORSE at sf1 — runtime
    exchange reuse already covered the recompute; the same reasoning
    is why ``baskets`` below is left unpersisted across its three
    consumers.
    """
    # grouped pair emission (r12): the old plan built
    # distinct(l_orderkey, l_partkey) — one exchange on both columns —
    # and then self-joined it on l_orderkey, which reshuffled the item
    # table TWICE more (the distinct's partitioning doesn't satisfy
    # the join key). Collapsing each basket to one sorted part-set row
    # does the dedup and the grouping in a single orderkey exchange
    # (collect_set partial-aggregates map-side), and the in-task
    # combinations explode emits each UNORDERED pair once — the
    # directed (antecedent, consequent) counts are symmetric, so the
    # pair aggregation carries half the rows and both orientations are
    # expanded from the counted table afterwards. Identical output by
    # construction; per-task fan-out is Σ basket², bounded by the
    # largest basket, so there is no skew valve here
    # (functions.skew.bucket_pairs): routing this emission through the
    # helper cost two extra jobs, 0.79 -> 1.52 s best-of-3 at sf0.1 on
    # 4 cores, and 16 -> 20 exchanges against an audit budget of 18.
    # baskets feeds three consumers but its identical exchange
    # canonicalizes once (runtime ReuseExchange — the r08
    # items-checkpoint experiment's lesson still applies).
    baskets = (
        spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    nb = baskets.agg(F.count("*").alias("n"))
    isup = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("c"))
    )
    und = (
        baskets.select("ps", F.posexplode("ps").alias("i", "pa"))
        .select(
            "pa",
            F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("pb"),
        )
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_baskets"))
        .filter(F.col("n_baskets") >= _MIN_BASKETS)
    )
    # both orientations expand from the counted table with ONE in-row
    # explode rather than a self-union: a union would print (and,
    # absent runtime exchange reuse, execute) the whole counted
    # subtree twice
    pairs = und.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("antecedent"),
                    F.col("pb").alias("consequent"),
                ),
                F.struct(
                    F.col("pb").alias("antecedent"),
                    F.col("pa").alias("consequent"),
                ),
            )
        ).alias("r"),
        "n_baskets",
    ).select("r.antecedent", "r.consequent", "n_baskets")
    ia = isup.select(
        F.col("l_partkey").alias("antecedent"), F.col("c").alias("c_a")
    )
    ic = isup.select(
        F.col("l_partkey").alias("consequent"), F.col("c").alias("c_c")
    )
    scored = (
        pairs.join(ia, "antecedent")
        .join(ic, "consequent")
        .join(F.broadcast(nb))
        .select(
            "antecedent",
            "consequent",
            "n_baskets",
            F.round(F.col("n_baskets") / F.col("n"), 6).alias("support"),
            F.round(F.col("n_baskets") / F.col("c_a"), 6).alias("confidence"),
            F.round(
                F.col("n_baskets") * F.col("n") / (F.col("c_a") * F.col("c_c")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), "antecedent", "consequent"
    ).limit(_TOP_RULES)


@register(
    "q_top_paths",
    oracle=f"""
WITH paths AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM events GROUP BY user_id, day
),
pc AS (SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path),
tot AS (SELECT SUM(n_sessions) AS t FROM pc)
SELECT path, n_sessions,
       ROUND(n_sessions * 1.0 / (SELECT t FROM tot), 6) AS share
FROM pc
ORDER BY n_sessions DESC, path
LIMIT {_TOP_PATHS}
""",
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_TOP_PATHS} most common per-(user, day) event paths with
    their session share — the template/boilerplate detector for
    behavior sequences (an over-frequent path is the clickstream
    analogue of boilerplate text).

    Scale shape: path assembly is the q_session_events in-group
    struct sort (ONE aggregation, no window); path counting is a
    PATH-VOCAB-sized aggregate; the total is a 1-row broadcast
    scalar and top-k is TakeOrderedAndProject.
    """
    assembled = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("ts"), F.col("event_id"), F.col("event_type")
                    )
                )
            ),
            lambda s: s["event_type"],
        ),
        ">",
    )
    paths = (
        spark.table("events")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(assembled.alias("path"))
    )
    pc = paths.groupBy("path").agg(F.count("*").alias("n_sessions"))
    tot = pc.agg(F.sum("n_sessions").alias("t"))
    return (
        pc.join(F.broadcast(tot))
        .select(
            "path",
            "n_sessions",
            F.round(F.col("n_sessions") / F.col("t"), 6).alias("share"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_TOP_PATHS)
    )
