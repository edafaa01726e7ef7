"""Embedding-cosine near-duplicate detection (north star),
oracle-checked.

The declared semantics is EXACT all-pairs-within-``label`` at the
cosine threshold (the oracle joins ``a.label = b.label``), resolved in
two stages:

  1. **Candidate stage** — hash-sharded shard-pair TILES per label
     (``embed_candidates``): each tile's ``applyInPandas`` computes a
     bounded float32 matmul over row-normalized vectors and emits only
     the pairs at or above ``THRESHOLD - CAND_MARGIN``. Vectorized
     BLAS is ~100x the throughput of evaluating a per-pair expression,
     the output is just (vec_a, vec_b) id pairs — the quadratic pair
     space never materializes as rows — and task count grows with the
     DATA (shard pairs), not with label cardinality, so a growing
     corpus buys parallelism for its inherently quadratic exact
     semantics instead of serializing each label onto one core (the
     r11 49×-per-100× finding). Labels small enough to fit ~2 shards
     keep the single-block form.
  2. **Verify stage** — each survivor's cosine is recomputed IN the
     kernel with the *exact* float64 sequential-fold semantics the
     DuckDB oracle mirrors (``dot / (nrm_a * nrm_b)``, every element
     cast to double, one rounded multiply + one rounded add per
     dimension left-to-right — ``_fold_dot``). Output values therefore
     match the oracle bit-for-bit at the rounded precision; float32
     only ever *selects* pairs, with a margin wider than matmul-vs-fold
     reassociation noise AND the half-ulp of ROUND(x, 6), so it can
     neither drop nor add a pair relative to a one-stage float64 plan.
     (The former verify JOINS evaluated the interpreted
     zip_with/aggregate fold over every candidate — 12-15 s of the
     sf10 profile for 5.1M candidates; the vectorized in-kernel fold
     is the identical arithmetic at C speed, and the join stage
     disappears.)

Exact cosine threshold joins over dense vectors have no sub-quadratic
algorithm (that is what ANN trades exactness for); the scale story here
is bounded tiles + data-proportional parallelism + id-only exchanges.
When approximate recall suffices, the LSH/IVF paths in
pyanamo_spark.similarity are the sub-quadratic alternative.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyanamo_spark.functions.vectors import (
    duckdb_dot_sql,
    duckdb_sq_sum_sql,
)
from pyanamo_spark.registry import register

THRESHOLD = 0.35
# the candidate matmul runs in FLOAT32 (2x the flops/byte of float64,
# half the sims-matrix memory): measured |cos32 − cos64| ≤ 3.6e-7 on
# the fixture, theoretical ~1e-6 for 64-dim unit vectors — the margin
# keeps ~100x headroom over that AND over the 5e-7 half-step of
# ROUND(x, 6) at the boundary, so float32 can only ADD candidates the
# exact float64 verify stage then rejects, never drop a true pair
CAND_MARGIN = 1e-4

#: candidate-matmul row-chunk: keeps the (chunk × block) sims slab
#: cache-resident and bounds memory to chunk·|block|·4 bytes — the
#: monolithic |block|² matrix measured 15x slower at sf1 block sizes
#: (2 000 rows) from cache misses + the full lower triangle it wasted
_CAND_CHUNK = 512

_DOT = duckdb_dot_sql("a.embedding", "b.embedding")
_COS = f"({_DOT} / (a.nrm * b.nrm))"


def _block_candidates(pdf: pd.DataFrame) -> pd.DataFrame:
    """One label block -> candidate (vec_a, vec_b) pairs at or above
    the module threshold minus the verify margin. Exactly ONE
    positional arg: applyInPandas dispatches on arity and would pass
    (key, pdf) to anything two-parameter."""
    return block_candidates(pdf, THRESHOLD - CAND_MARGIN)


def _fold_dot(a64: np.ndarray, b64: np.ndarray) -> np.ndarray:
    """Per-row dot product with EXACTLY the Spark/DuckDB fold's
    floating-point semantics: acc starts at 0.0 and each dimension
    contributes one rounded multiply then one rounded add, left to
    right (functions.vectors.dot / duckdb_dot_sql). The loop runs over
    the (tiny, fixed) DIMENSION axis with numpy vectorizing across
    rows — numpy ufuncs round every multiply and add separately (no
    FMA), so the result is bit-for-bit the JVM aggregate's."""
    acc = np.zeros(len(a64), dtype=np.float64)
    for d in range(a64.shape[1]):
        acc += a64[:, d] * b64[:, d]
    return acc


class _Block:
    """One non-null block's kernel state: ids, the row-normalized
    float32 matrix for candidate SELECTION, and the float64 matrix +
    exact fold norms for in-kernel VERIFICATION. Normalizing once
    replaces the per-chunk np.outer division — a full extra pass over
    every sims slab — with a single O(n·d) scale (the r12 profile read
    11 s for one 21.8k block, ~70% of it division+compare passes, vs
    ~3 s for the pure GEMM)."""

    def __init__(self, pdf: pd.DataFrame):
        self.ids = pdf["vec_id"].to_numpy()
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float32)
        nrm = np.linalg.norm(mat, axis=1).astype(np.float32)
        nrm[nrm == 0.0] = 1.0  # zero vectors match nothing either way
        self.unit = mat / nrm[:, None]
        # float32 -> float64 is exact, so mat64 carries the parquet
        # values verbatim and nrm64 is the oracle's sqrt-of-fold
        self.mat64 = mat.astype(np.float64)
        self.nrm64 = np.sqrt(_fold_dot(self.mat64, self.mat64))


def _emit(blk_a: "_Block", blk_b: "_Block", ia, ib) -> pd.DataFrame:
    """Survivor index pairs -> canonical (vec_a, vec_b, cos_raw) with
    the exact float64 verification cosine computed in-kernel: the
    5.1M-candidate sf10 profile spent 12-15 s evaluating the
    interpreted zip_with/aggregate fold through two verify joins; the
    same fold over the survivors here is three vectorized passes.
    cos = dot / (nrm_a * nrm_b), the exact expression (and operation
    order) the oracle mirrors; symmetric under the id swap."""
    dot64 = _fold_dot(blk_a.mat64[ia], blk_b.mat64[ib])
    cos = dot64 / (blk_a.nrm64[ia] * blk_b.nrm64[ib])
    sa, sb = blk_a.ids[ia], blk_b.ids[ib]
    return pd.DataFrame(
        {
            "vec_a": np.minimum(sa, sb),
            "vec_b": np.maximum(sa, sb),
            "cos_raw": cos,
        }
    )


_EMPTY = pd.DataFrame(
    {
        "vec_a": pd.Series([], dtype="int64"),
        "vec_b": pd.Series([], dtype="int64"),
        "cos_raw": pd.Series([], dtype="float64"),
    }
)


def block_candidates(pdf: pd.DataFrame, lo: float) -> pd.DataFrame:
    """Verified candidate (vec_a, vec_b, cos_raw) pairs of one block:
    chunked upper-triangle float32 selection at or above ``lo`` (see
    CAND_MARGIN for why float32 selection is safe), exact float64 fold
    cosine on the survivors."""
    pdf = pdf[pdf["embedding"].notna()]  # null vectors match nothing
    if len(pdf) < 2:
        return _EMPTY
    blk = _Block(pdf)
    n = len(blk.ids)
    out: list[pd.DataFrame] = []
    for i0 in range(0, n, _CAND_CHUNK):
        i1 = min(i0 + _CAND_CHUNK, n)
        # columns start at the chunk's own row offset: the strictly
        # lower triangle is never computed, halving the flops
        sims = blk.unit[i0:i1] @ blk.unit[i0:].T
        ai, bi = np.nonzero(sims >= lo)
        ga, gb = ai + i0, bi + i0
        keep = gb > ga
        out.append(_emit(blk, blk, ga[keep], gb[keep]))
    return pd.concat(out, ignore_index=True) if out else _EMPTY


#: rows per shard for the tiled candidate stage: a label whose row
#: count exceeds 2 shards' worth splits into ceil(n/_SHARD_ROWS)
#: hash-shards and the matmul runs per shard-PAIR tile, so task count
#: scales with data² (bounded each) instead of label cardinality —
#: the label-block applyInPandas pinned each label to ONE task, and
#: the sf10 wall clock was a single 21.8k-row block's kernel (the
#: VERDICT r11 49×-per-100× watch item: fixed label cardinality made
#: in-block work quadratic with NO added parallelism to absorb it)
_SHARD_ROWS = 4096


def _tile_candidates(pdf: pd.DataFrame) -> pd.DataFrame:
    """One (label, ti, tj) tile -> verified candidate pairs at or
    above the module threshold minus the verify margin. Diagonal tiles
    (ti == tj) run the upper-triangle kernel; off-diagonal tiles run a
    bipartite chunked matmul between their two shards. Exactly ONE
    positional arg (applyInPandas arity dispatch)."""
    pdf = pdf[pdf["embedding"].notna()]
    if len(pdf) < 2:
        return _EMPTY
    lo = THRESHOLD - CAND_MARGIN
    if pdf["ti"].iat[0] == pdf["tj"].iat[0]:
        return block_candidates(pdf, lo)
    a = pdf[pdf["side"] == 0]
    b = pdf[pdf["side"] == 1]
    if len(a) == 0 or len(b) == 0:
        return _EMPTY
    blk_a, blk_b = _Block(a), _Block(b)
    out: list[pd.DataFrame] = []
    for i0 in range(0, len(blk_a.ids), _CAND_CHUNK):
        i1 = min(i0 + _CAND_CHUNK, len(blk_a.ids))
        sims = blk_a.unit[i0:i1] @ blk_b.unit.T
        ai, bi = np.nonzero(sims >= lo)
        out.append(_emit(blk_a, blk_b, ai + i0, bi))
    return pd.concat(out, ignore_index=True) if out else _EMPTY


def embed_candidates(emb: DataFrame) -> DataFrame:
    """The candidate stage's Spark plan, adaptive to measured label
    sizes: single-task label blocks while every label fits ~2 shards,
    else hash-sharded shard-pair tiles.

    Tiling is EXACT: a pair's two shards (sa ≤ sb) define exactly one
    tile, every row is fanned out to each tile touching its shard
    (nshards struct copies per row), and the tile kernel compares the
    two sides completely — the candidate set equals the monolithic
    block's modulo float32 summation order, which CAND_MARGIN already
    covers (its headroom budget names reassociation noise
    explicitly). Fan-out ships each row ~n/[shard] times — work/
    [shard·d] of the matmul flops it parallelizes, the standard block
    nested-loop trade.

    The per-label counts collect is bounded by LABEL CARDINALITY (the
    ivf.py centroid-collect precedent), not data size."""
    # the oracle joins ON a.label = b.label: a NULL label pairs nothing
    emb = emb.filter(F.col("label").isNotNull())
    counts = {
        r["label"]: r["n"]
        for r in emb.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    if not counts or max(counts.values()) <= 2 * _SHARD_ROWS:
        return (
            emb.select("label", "vec_id", "embedding")
            .groupBy("label")
            .applyInPandas(_block_candidates, "vec_a long, vec_b long, cos_raw double")
        )
    nsh_map = F.create_map(
        *[
            F.lit(x)
            for label, n in counts.items()
            for x in (label, max(1, -(-n // _SHARD_ROWS)))
        ]
    )
    shard = F.pmod(F.xxhash64("vec_id"), F.col("nsh")).cast("int")
    tiles = (
        emb.select("label", "vec_id", "embedding")
        .withColumn("nsh", nsh_map[F.col("label")])
        .withColumn("s", shard)
        .select(
            "label",
            "vec_id",
            "embedding",
            "s",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("nsh") - 1),
                    lambda t: F.struct(
                        F.least("s", t).alias("ti"),
                        F.greatest("s", t).alias("tj"),
                    ),
                )
            ).alias("tile"),
        )
        .select(
            "label",
            F.col("tile.ti").alias("ti"),
            F.col("tile.tj").alias("tj"),
            F.when(F.col("s") == F.col("tile.ti"), 0)
            .otherwise(1)
            .alias("side"),
            "vec_id",
            "embedding",
        )
    )
    return tiles.groupBy("label", "ti", "tj").applyInPandas(
        _tile_candidates, "vec_a long, vec_b long, cos_raw double"
    )


@register(
    "q_dedup_embed",
    oracle=f"""
WITH e AS (
  SELECT vec_id, label, embedding,
         sqrt({duckdb_sq_sum_sql("embedding")}) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_COS}, 6) AS cos_sim
FROM e a
JOIN e b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND({_COS}, 6) >= {THRESHOLD}
""",
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star embedding near-dup: label-blocked numpy candidate
    matmul, exact-expression verify at cosine ≥ 0.35 (the fixture's
    random vectors top out near 0.46, so the threshold selects the true
    high-similarity tail)."""
    emb = spark.table("embeddings")
    # the kernels emit the exact float64 fold cosine alongside each
    # float32-selected pair (see _emit), so no verify joins remain —
    # only the HALF_UP rounding and the threshold filter, both plain
    # scalar expressions on the survivor rows
    return (
        embed_candidates(emb)
        .withColumn("cos_sim", F.round("cos_raw", 6))
        .filter(F.col("cos_sim") >= THRESHOLD)
        .select("vec_a", "vec_b", "cos_sim")
    )
