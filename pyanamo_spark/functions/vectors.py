"""Vector math over array<float> embedding columns (SURVEY.md §2.10 X5).

Everything here is higher-order built-ins (transform/aggregate/zip_with)
— JVM-side, no Python round-trip. Elements are cast to double before
arithmetic so the sequential fold matches the DuckDB oracle bit-for-bit
at the rounded precision.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyanamo_spark.registry import register


def duckdb_dot_sql(a: str, b: str) -> str:
    """DuckDB dot product in pure DOUBLE (matches the Spark
    zip_with/aggregate fold element-for-element).

    DuckDB's built-in list_cosine_similarity accumulates FLOAT[] inputs
    in float32 and returns FLOAT — it diverges from double math in the
    7th digit, so oracles build cosine from this and duckdb_sq_sum_sql
    instead, every element cast to double first."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))"
    )


def duckdb_sq_sum_sql(v: str) -> str:
    """DuckDB Σx² in pure DOUBLE."""
    return (
        f"list_sum(list_transform({v},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    )


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns via zip_with +
    aggregate — the building block for cosine similarity."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # dot / sqrt(xx * yy) — the same association DuckDB's
    # list_cosine_similarity uses, so rounded values match bit-for-bit
    return dot(a, b) / F.sqrt(dot(a, a) * dot(b, b))


@register(
    "q_vector_math",
    oracle="""
SELECT vec_id, label,
       CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE))), 4) AS vec_sum,
       ROUND(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings
""",
)
def q_vector_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 multimodal/vector columns: per-embedding dimension, sum, and
    L2 norm through transform/aggregate higher-order functions."""
    emb = spark.table("embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vec_sum = F.aggregate(as_double, F.lit(0.0), lambda a, x: a + x)
    sq_sum = F.aggregate(as_double, F.lit(0.0), lambda a, x: a + x * x)
    return emb.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.round(vec_sum, 4).alias("vec_sum"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
    )


#: int8 quantization range
_QMAX = 127.0
#: zero-vector guard (ANSI mode turns a 0-divide into a hard error)
_SCALE_FLOOR = 1e-30

_SCALE_EXPR = (
    "greatest(aggregate(embedding, CAST(0.0 AS DOUBLE),"
    " (a, x) -> greatest(a, abs(CAST(x AS DOUBLE)))) / "
    f"{_QMAX}, {_SCALE_FLOOR})"
)


def quantize_embeddings(spark: SparkSession) -> DataFrame:
    """(vec_id, scale, qvec array<bigint>) — the in-engine quantized
    index. Internal consumers (q_knn_quantized's int8 scan stage) read
    the ARRAY form; the registered ``q_quantize`` wraps it
    comma-joined for the harness.

    All JVM-side higher-order expressions, no UDF. The scale is
    let-bound via the single-element ``transform(array(e), s -> …)[0]``
    trick before the per-element lambda uses it — higher-order lambdas
    are interpreted with no common-subexpression elimination, so a
    naked alias would re-run the absmax fold once per ELEMENT (64x).
    Rounding is spelled floor(x/s + 0.5) in both engines: identical
    IEEE double ops, so the oracle matches bit-for-bit where a
    half-even vs half-up builtin ROUND would diverge."""
    qvec = F.expr(
        f"transform(array({_SCALE_EXPR}), s ->"
        "  transform(embedding,"
        "    x -> CAST(floor(CAST(x AS DOUBLE) / s + 0.5) AS BIGINT))"
        ")[0]"
    )
    return spark.table("embeddings").select(
        "vec_id",
        F.round(F.expr(_SCALE_EXPR), 9).alias("scale"),
        qvec.alias("qvec"),
    )


@register(
    "q_quantize",
    oracle=f"""
WITH s AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(
           embedding, x -> abs(CAST(x AS DOUBLE)))) / {_QMAX},
           {_SCALE_FLOOR}) AS scale
  FROM embeddings
)
SELECT vec_id,
       ROUND(scale, 9) AS scale,
       array_to_string(list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT)),
         ',') AS qvec
FROM s
""",
)
def q_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization: per-vector absmax scale,
    q = round(x / scale) ∈ [-127, 127] — a 4x storage cut for the
    similarity index with reconstruction error ≤ scale/2 per element
    (pinned in tests/test_quantize.py). The quantized vector is emitted
    comma-joined (scalar string) because the harness's pandas canon
    cannot hash array cells; in-engine consumers use
    ``quantize_embeddings`` (array form) directly."""
    return quantize_embeddings(spark).withColumn(
        "qvec", F.array_join("qvec", ",")
    )


_MS_DOT = duckdb_dot_sql("a.mv", "b.mv")
_MS_SQA = duckdb_sq_sum_sql("a.mv")
_MS_SQB = duckdb_sq_sum_sql("b.mv")


@register(
    "q_source_similarity",
    oracle=f"""
WITH e AS (
  SELECT d.source, em.embedding
  FROM embeddings em JOIN documents d ON em.vec_id = d.doc_id
  WHERE em.embedding IS NOT NULL
),
dims AS (
  SELECT source, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS x
  FROM e
),
m AS (
  SELECT source, dim, AVG(CAST(x AS DOUBLE)) AS mx
  FROM dims GROUP BY 1, 2
),
vecs AS (
  SELECT source, list(mx ORDER BY dim) AS mv FROM m GROUP BY source
)
SELECT a.source AS source_a, b.source AS source_b,
       ROUND({_MS_DOT} / sqrt({_MS_SQA} * {_MS_SQB}), 4) AS cos_sim
FROM vecs a JOIN vecs b ON a.source < b.source
""",
)
def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source SEMANTIC similarity matrix: cosine between the
    mean document embedding of each source pair — the embedding-space
    twin of q_source_overlap's lexical span matrix (sources that
    paraphrase or machine-translate each other overlap here while
    sharing no exact 5-grams).

    Scale shape: the corpus-sized work is one Arrow-batched partial
    (per-batch numpy vector sum + count per source); the shuffle
    carries SOURCES x BATCHES partial rows of d+1 doubles, and the
    pair matrix is C(#sources, 2) — catalog-sized. Cosine on the mean
    vectors uses the exact sequential-fold expression the oracle
    mirrors; the 4-dp rounding gives ~5e7x headroom over the ~1e-12
    reassociation noise between numpy's pairwise and DuckDB's
    sequential summation (the q_embed_covariance lesson).
    """
    import numpy as np
    import pandas as pd

    docs = spark.table("documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    emb = (
        spark.table("embeddings")
        .join(docs, "vec_id")
        .where(F.col("embedding").isNotNull())
        .select("source", "embedding")
    )

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for src, grp in pdf.groupby("source"):
                mat = np.stack(grp["embedding"].to_numpy()).astype(
                    np.float64
                )
                out.append(
                    {
                        "source": src,
                        "psum": mat.sum(axis=0).tolist(),
                        "n": len(grp),
                    }
                )
            yield pd.DataFrame(out, columns=["source", "psum", "n"])

    partials = emb.mapInPandas(
        partial, "source string, psum array<double>, n long"
    )
    # partials are SOURCES x BATCHES rows — exploding THEM is tiny
    means = (
        partials.select(
            "source", "n", F.posexplode("psum").alias("dim", "x")
        )
        .groupBy("source", "dim")
        .agg(F.sum("x").alias("sx"), F.sum("n").alias("sn"))
        .groupBy("source")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "sx", "sn"))
            ).alias("parts")
        )
        .select(
            "source",
            F.transform(
                "parts", lambda p: p["sx"] / p["sn"]
            ).alias("mv"),
        )
    )
    a, b = means.alias("a"), means.alias("b")
    return (
        a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
            F.round(
                dot(F.col("a.mv"), F.col("b.mv"))
                / F.sqrt(
                    dot(F.col("a.mv"), F.col("a.mv"))
                    * dot(F.col("b.mv"), F.col("b.mv"))
                ),
                4,
            ).alias("cos_sim"),
        )
    )
