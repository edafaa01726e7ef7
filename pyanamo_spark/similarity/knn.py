"""Top-k vector similarity search (X3): brute-force baseline plus an
LSH-bucketed scale path.

Brute force: broadcast the (small) query set against the embedding
table, exact cosine per pair, per-query top-k via a ranking window
partitioned by query — the fact side streams once. Norms are
precomputed per row on both sides of the pair stage (recomputing them
per pair triples the flops; see dedup/embedding.py).

Scale path (q_knn_lsh): random-hyperplane sign-LSH — 8 deterministic
hyperplanes (coefficients derived from xxhash64(plane, dim), so no
stored model), bucket = 8-bit sign pattern; queries probe only their
bucket. At 100 TB the bucket column is a partition key: a probe touches
1/256th of the data. Recall is traded for the 256× scan reduction;
tests/test_similarity.py asserts bucket determinism and self-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pyanamo_spark.functions.vectors import (
    dot,
    duckdb_dot_sql,
    duckdb_sq_sum_sql,
)
from pyanamo_spark.registry import register

K = 5
N_QUERIES = 3
N_PLANES = 8

_DOT = duckdb_dot_sql("q.embedding", "v.embedding")
#: oracle-side cosine with precomputed norms — same association as Spark
COS = f"({_DOT} / (q.nrm * v.nrm))"


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "nrm", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    )


def _topk(scored: DataFrame) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= K)
        .select("query_id", "vec_id", "cos_sim", "rnk")
    )


@register(
    "q_knn_topk",
    oracle=f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt({duckdb_sq_sum_sql("embedding")}) AS nrm
  FROM embeddings
)
SELECT q.vec_id AS query_id, v.vec_id AS vec_id,
       ROUND({COS}, 6) AS cos_sim,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY q.vec_id
         ORDER BY ROUND({COS}, 6) DESC, v.vec_id
       ) AS BIGINT) AS rnk
FROM (SELECT * FROM e WHERE vec_id < {N_QUERIES}) q
CROSS JOIN e v
QUALIFY rnk <= {K}
""",
)
def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 brute-force cosine top-k: queries are vec_id < 3; exact
    cosine against every vector; top-5 per query (self-match included —
    rank 1 at cos 1.0 is the built-in sanity check)."""
    return exact_topk(spark)


def exact_topk(spark: SparkSession) -> DataFrame:
    """The exact brute-force ranking (q_knn_topk's body) — also the
    ground truth the LSH and IVF in-engine recall audits rank
    against."""
    emb = _with_norm(spark.table("embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    scored = emb.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "vec_id",
        F.round(
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm")),
            6,
        ).alias("cos_sim"),
    )
    return _topk(scored)


def _plane_matrix(dim: int, n_planes: int = N_PLANES):
    """Deterministic pseudo-random hyperplanes, built ONCE driver-side:
    coefficient (p, d) is md5(p:d) mapped into [-0.5, 0.5) —
    reproducible anywhere with no model artifact to ship."""
    import hashlib

    import numpy as np

    m = np.empty((n_planes, dim))
    for p in range(n_planes):
        for d in range(dim):
            h = int(
                hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:8], 16
            )
            m[p, d] = (h % 1_000_000) / 1_000_000.0 - 0.5
    return m


def _embedding_dim(spark: SparkSession) -> int:
    """Vector length of the ``embeddings`` view, probed with one-row
    ``first()`` — q_knn_lsh needs it to size its literal planes (a
    per-row slice-the-planes form that needed no probe at all measured
    ~2x slower per row: 2.0 -> 3.5 s warm at sf1). Probed on every
    call, so a view that is replaced or fills up later is sized from
    its own rows: wrong-dim literal planes would null every zip_with
    dot and silently collapse all rows into bucket 0 (full-scan LSH)."""
    head = spark.table("embeddings").select("embedding").first()
    if head is None or head[0] is None:
        # empty corpus: any dim yields the correct empty result
        return 1
    return len(head[0])


def _bucket(emb_col: str, dim: int):
    """8-bit sign-LSH bucket via LITERAL plane coefficients.

    The planes are row-independent constants, so they ride into the
    plan as literal arrays and each row pays n_planes fused
    multiply-add folds (the PCA literal-matrix pattern, pca.py). The
    previous form derived every coefficient per ROW with
    xxhash64(string, string) — 8 planes x dim hashes per row for
    values that never change; at sf1 that was most of the query
    (5.6 s -> ~2 s measured best-of-2)."""
    from pyanamo_spark.functions.pca import _dot_lit

    b = F.lit(0)
    for p, w in enumerate(_plane_matrix(dim)):
        b = b + F.when(
            _dot_lit(F.col(emb_col).cast("array<double>"), w) > 0,
            F.lit(1 << p),
        ).otherwise(F.lit(0))
    return b


def lsh_topk(spark: SparkSession) -> DataFrame:
    """Sign-LSH bucketed top-k (the raw X3 scale path): queries probe
    only their own 8-bit bucket — at 100 TB the bucket column is a
    partition key and a probe touches 1/256th of the data. Library
    form; the declared q_knn_lsh wraps it in the recall audit."""
    emb = _with_norm(spark.table("embeddings")).withColumn(
        "bucket", _bucket("embedding", _embedding_dim(spark))
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    )
    scored = emb.join(
        F.broadcast(queries), F.col("bucket") == F.col("q_bucket")
    ).select(
        "query_id",
        "vec_id",
        F.round(
            dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm")),
            6,
        ).alias("cos_sim"),
    )
    return _topk(scored)


#: ANN audit floors: |approx_topk ∩ exact_topk| / |exact_topk| per
#: query.  LSH's floor is what self-bucket membership GUARANTEES (the
#: query's own vector always shares its bucket → ≥ 1 of K); sign-LSH
#: with 8 planes trades the rest of the recall for the 256x scan cut
#: and the fixture measures exactly 1/K at every sf.  IVF probes 2/16
#: lists and measures 0.8-1.0 across sf0.001-0.1.
LSH_RECALL_FLOOR = 1.0 / K
IVF_RECALL_FLOOR = 0.75


def ann_audit(spark: SparkSession, approx: DataFrame, floor: float) -> DataFrame:
    """In-engine ANN certification (the q_percentiles_approx pattern):
    join an approximate top-k against the exact brute-force ranking and
    emit per-query scalar flags the oracle can assert —

    - ``n_exact``: exact top-k row count (DuckDB re-derives it);
    - ``self_ok``: the query's own vector came back at rank 1 with
      cosine 1.0 (the invariant every ANN structure here guarantees);
    - ``recall_ok``: recall@k ≥ the declared floor.

    A bucketing / probe-selection / ranking regression flips a flag
    and fails the driver's hash compare, which upgrades these seeded
    ANN paths from rows-only to oracle-checked without asking DuckDB
    to replay hash seeds. Both inputs are query-set-sized (K rows per
    query), so the audit join is trivially broadcastable."""
    exact = exact_topk(spark)
    hits = (
        exact.select("query_id", "vec_id")
        .join(
            approx.select("query_id", "vec_id", "rnk", "cos_sim"),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(F.col("rnk").isNotNull().cast("long")).alias("n_hit"),
            F.max(
                F.when(
                    (F.col("query_id") == F.col("vec_id"))
                    & (F.col("rnk") == 1)
                    & (F.col("cos_sim") > 0.999999),
                    F.lit(1),
                ).otherwise(F.lit(0))  # null rnk (miss) counts as 0
            ).alias("self_ok"),
        )
    )
    return hits.select(
        "query_id",
        "n_exact",
        "self_ok",
        (F.col("n_hit") >= F.lit(floor) * F.col("n_exact"))
        .cast("int")
        .alias("recall_ok"),
    )


@register(
    "q_knn_lsh",
    oracle=f"""
SELECT vec_id AS query_id,
       CAST(LEAST({K}, (SELECT COUNT(*) FROM embeddings)) AS BIGINT)
         AS n_exact,
       CAST(1 AS INTEGER) AS self_ok,
       CAST(1 AS INTEGER) AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 scale path, audited: sign-LSH bucketed top-k certified
    in-engine against the exact brute-force ranking (see ann_audit).
    The raw neighbor rows stay available as ``lsh_topk`` — they are
    seed-specific, which is exactly why the DECLARED output is the
    audit: the oracle asserts the guarantees (self at rank 1, recall
    ≥ the floor self-bucket membership implies, exact top-k counts)
    rather than asking DuckDB to replay md5-seeded hyperplanes."""
    return ann_audit(spark, lsh_topk(spark), LSH_RECALL_FLOOR)


#: quantized first stage keeps this many candidates per query before
#: full-precision rescoring
RESCORE_POOL = 20

#: int8 stage-1 + full-precision rescore tracks brute force much more
#: closely than the bucketed structures (quantization error ~1/254 per
#: element never reorders well-separated cosines); the fixture measures
#: >= 0.8 at every sf and tests/test_similarity.py pins the same floor.
QUANT_RECALL_FLOOR = 0.8


@register(
    "q_knn_quantized",
    oracle=f"""
SELECT vec_id AS query_id,
       CAST(LEAST({K}, (SELECT COUNT(*) FROM embeddings)) AS BIGINT)
         AS n_exact,
       CAST(1 AS INTEGER) AS self_ok,
       CAST(1 AS INTEGER) AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERIES}
""",
)
def q_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 quantize-then-rescore retrieval, audited: the int8 two-stage
    top-k (quantized_topk) certified in-engine against the exact
    brute-force ranking (see ann_audit) — self back at rank 1 with
    cosine 1.0, recall@k >= {QUANT_RECALL_FLOOR}. The raw neighbor rows
    stay available as ``quantized_topk``; the DECLARED output is the
    audit because candidate membership at the stage-1 pool boundary is
    tie-order-specific, which DuckDB cannot replay — but the
    guarantees above are exactly what a user of the quantized index
    relies on, so they are what the oracle asserts."""
    return ann_audit(spark, quantized_topk(spark, sf_dir), QUANT_RECALL_FLOOR)


def quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 two-stage retrieval over the int8-quantized index
    (functions/vectors.py::quantize_embeddings): stage 1 ranks ALL
    vectors by
    integer dot product on the 4x-smaller quantized representation and
    keeps RESCORE_POOL candidates per query; stage 2 rescores only
    those in full precision — the memory-bound scan runs on int8,
    float math touches pool x queries rows. This is the standard
    quantize-then-rescore shape (IVF-PQ readers, vector DBs);
    production fuses stage 1 with the stored IVF lists so the int8
    scan is also partition-pruned."""
    from pyanamo_spark.functions.vectors import quantize_embeddings

    quant = quantize_embeddings(spark)
    q_quant = quant.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("scale").alias("q_scale"),
    )
    # integer dot: zip_with + aggregate on longs — overflow-safe
    # (127*127*64 « 2^63), no float math in the scan stage
    int_dot = F.expr(
        "aggregate(zip_with(qvec, q_qvec, (a, b) -> a * b),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    stage1 = (
        quant.crossJoin(F.broadcast(q_quant))
        .select(
            "query_id",
            "vec_id",
            (int_dot * F.col("scale") * F.col("q_scale")).alias("qscore"),
        )
    )
    w1 = W.partitionBy("query_id").orderBy(
        F.col("qscore").desc(), F.col("vec_id")
    )
    pool = (
        stage1.withColumn("prnk", F.row_number().over(w1))
        .filter(F.col("prnk") <= RESCORE_POOL)
        .select("query_id", "vec_id")
    )
    # stage 2: exact cosine on the pool only
    emb = _with_norm(spark.table("embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    rescored = (
        pool.join(emb, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(
                dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm")),
                6,
            ).alias("cos_sim"),
        )
    )
    return _topk(rescored)
