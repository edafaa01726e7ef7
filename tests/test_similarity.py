"""Similarity-search behavioral tests: exact top-k self-match, LSH
bucket determinism, and LSH recall against the exact baseline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pyanamo_spark.registry import QUERIES, load_all
from pyanamo_spark.similarity.knn import K, N_QUERIES

pytestmark = pytest.mark.usefixtures("planted_views")

load_all()


def test_topk_selfmatch_rank1(spark, sf_dir):
    rows = QUERIES["q_knn_topk"](spark, sf_dir).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    assert set(by_query) == set(range(N_QUERIES))
    for qid, group in by_query.items():
        assert len(group) == K
        top = min(group, key=lambda r: r.rnk)
        assert top.vec_id == qid  # self-match at rank 1
        assert abs(top.cos_sim - 1.0) < 1e-6


def _ensure(spark, sf_dir):
    from pyanamo_spark import semantics

    semantics.ensure_views(spark, sf_dir)


def test_lsh_selfmatch_and_subset_of_bucket(spark, sf_dir):
    from pyanamo_spark.similarity.knn import lsh_topk

    _ensure(spark, sf_dir)
    rows = lsh_topk(spark).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    # each query's own vector shares its bucket → self-match at rank 1
    for qid, group in by_query.items():
        top = min(group, key=lambda r: r.rnk)
        assert top.vec_id == qid
        assert len(group) <= K


def test_ivf_selfmatch_and_probe_bound(spark, sf_dir):
    from pyanamo_spark.similarity.ivf import ivf_topk

    _ensure(spark, sf_dir)
    rows = ivf_topk(spark, sf_dir).collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    assert set(by_query) == set(range(N_QUERIES))
    for qid, group in by_query.items():
        # the query's own vector lives in one of its probed lists
        # (its cluster IS its nearest centroid) → self-match at rank 1
        top = min(group, key=lambda r: r.rnk)
        assert top.vec_id == qid
        assert abs(top.cos_sim - 1.0) < 1e-6
        assert len(group) <= K


def test_ivf_recall_vs_exact(spark, sf_dir):
    from pyanamo_spark.similarity.ivf import ivf_topk

    _ensure(spark, sf_dir)
    exact = {}
    for r in QUERIES["q_knn_topk"](spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    approx = {}
    for r in ivf_topk(spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.vec_id)
    # probing 2/16 lists: expect meaningful overlap with the exact
    # top-5 — at minimum the self-match; record-and-floor the rest
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert all(r >= 1 / 5 for r in recalls)


def test_ann_audit_flags_green_and_catch_regressions(spark, sf_dir):
    """The declared q_knn_lsh / q_knn_ivf audits must certify the
    fixture (what the oracle asserts as literal 1s), and the audit
    must actually FAIL a broken approximate result — otherwise the
    oracle seats prove nothing."""
    from pyanamo_spark.similarity.knn import (
        LSH_RECALL_FLOOR,
        ann_audit,
        exact_topk,
    )

    for name in ("q_knn_lsh", "q_knn_ivf", "q_knn_quantized"):
        rows = QUERIES[name](spark, sf_dir).collect()
        assert {r.query_id for r in rows} == set(range(N_QUERIES))
        for r in rows:
            assert (r.self_ok, r.recall_ok) == (1, 1), (name, r)
            assert r.n_exact == K
    # a sabotaged "approx" result (every neighbor id shifted out of
    # the corpus → zero overlap with exact) must flip both flags
    broken = exact_topk(spark).withColumn(
        "vec_id", F.col("vec_id") + F.lit(10**9)
    )
    audited = ann_audit(spark, broken, LSH_RECALL_FLOOR).collect()
    assert audited and all(
        r.self_ok == 0 and r.recall_ok == 0 for r in audited
    )


def test_stored_ivf_probe_prunes_partitions(spark, sf_dir, tmp_path):
    """The persisted index must turn probes into partition pruning:
    the search scan's PartitionFilters carry the probed centroid ids,
    and results still self-match + meet the recall floor."""
    from pyanamo_spark import semantics
    from pyanamo_spark.similarity.ivf import search_index, write_index

    semantics.ensure_views(spark, sf_dir)
    index_dir = str(tmp_path / "ivf")
    write_index(spark, index_dir, iters=3)

    import os

    from pyanamo_spark.similarity.ivf import resolve_index_dir

    parts = [
        d
        for d in os.listdir(f"{resolve_index_dir(index_dir)}/lists")
        if d.startswith("centroid_id=")
    ]
    assert parts, "inverted lists must be centroid-partitioned"

    queries = spark.table("embeddings").filter(F.col("vec_id") < N_QUERIES)
    result = search_index(spark, index_dir, queries)

    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        result.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "centroid_id" in plan

    rows = result.collect()
    by_query = {}
    for r in rows:
        by_query.setdefault(r.query_id, []).append(r)
    assert set(by_query) == set(range(N_QUERIES))
    for qid, group in by_query.items():
        top = min(group, key=lambda r: r.rnk)
        assert top.vec_id == qid
        assert abs(top.cos_sim - 1.0) < 1e-6

    exact = {}
    for r in QUERIES["q_knn_topk"](spark, sf_dir).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    approx = {q: {r.vec_id for r in g} for q, g in by_query.items()}
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert all(r >= 1 / 5 for r in recalls)


def test_lsh_deterministic(spark, sf_dir):
    from pyanamo_spark.similarity.knn import lsh_topk

    _ensure(spark, sf_dir)
    a = sorted(map(tuple, lsh_topk(spark).collect()))
    b = sorted(map(tuple, lsh_topk(spark).collect()))
    assert a == b


def test_quantized_recall_vs_exact(spark, sf_dir):
    """int8 stage-1 + float rescore must track exact brute force
    closely: perfect self-match, high top-5 recall, and exact cosine
    values for every returned pair (stage 2 is full precision)."""
    from pyanamo_spark.similarity.knn import quantized_topk

    _ensure(spark, sf_dir)
    exact = {}
    for r in QUERIES["q_knn_topk"](spark, sf_dir).collect():
        exact.setdefault(r.query_id, {})[r.vec_id] = r.cos_sim
    got = {}
    for r in quantized_topk(spark, sf_dir).collect():
        got.setdefault(r.query_id, {})[r.vec_id] = r.cos_sim
        if r.vec_id == r.query_id:
            assert r.rnk == 1 and r.cos_sim == 1.0
    assert set(got) == set(exact)
    hits = total = 0
    for qid, ex in exact.items():
        hits += len(set(ex) & set(got[qid]))
        total += len(ex)
        # any pair both stages returned carries the exact cosine
        for vid, sim in got[qid].items():
            if vid in ex:
                assert sim == ex[vid]
    assert hits / total >= 0.8, f"recall {hits}/{total}"


def test_source_similarity_matches_numpy(spark, sf_dir):
    import numpy as np

    from pyanamo_spark.functions.vectors import q_source_similarity

    got = {
        (r["source_a"], r["source_b"]): r["cos_sim"]
        for r in q_source_similarity(spark, sf_dir).collect()
    }
    docs = {
        r["doc_id"]: r["source"]
        for r in spark.table("documents").select("doc_id", "source").collect()
    }
    by_src = {}
    for r in spark.table("embeddings").collect():
        if r["embedding"] is None or r["vec_id"] not in docs:
            continue
        by_src.setdefault(docs[r["vec_id"]], []).append(
            np.asarray(r["embedding"], dtype=np.float64)
        )
    means = {s: np.mean(v, axis=0) for s, v in by_src.items()}
    assert len(got) == len(means) * (len(means) - 1) // 2
    for (sa, sb), cs in got.items():
        ma, mb = means[sa], means[sb]
        ref = float(ma @ mb / np.sqrt((ma @ ma) * (mb @ mb)))
        assert abs(cs - ref) < 5e-4, (sa, sb)


def test_append_to_index_matches_one_shot_build(spark, sf_dir, tmp_path):
    """Incremental adds against frozen centroids: (base index + append)
    must search IDENTICALLY to lists written one-shot from the same
    centroids over the full corpus — and an appended vector must be
    findable as its own nearest neighbor."""
    from pyanamo_spark import semantics
    from pyanamo_spark.similarity.ivf import (
        _nearest,
        append_to_index,
        dot,
        search_index,
        write_index,
    )

    semantics.ensure_views(spark, sf_dir)
    full = spark.table("embeddings")
    base = full.filter((F.col("vec_id") % 5 != 0) | (F.col("vec_id") < 32))
    extra = full.subtract(base)
    assert extra.count() > 0

    # base-only corpus view -> build + persist
    inc_dir = str(tmp_path / "ivf_inc")
    base.createOrReplaceTempView("embeddings")
    try:
        write_index(spark, inc_dir, iters=3)
    finally:
        semantics.ensure_views(spark, sf_dir)  # restore the full view
    counts = append_to_index(spark, inc_dir, extra)
    assert sum(counts.values()) == extra.count()

    # one-shot comparison index: same frozen centroids, full corpus
    from pyanamo_spark.similarity.ivf import resolve_index_dir

    ref_dir = str(tmp_path / "ivf_ref")
    centroids = spark.read.parquet(
        f"{resolve_index_dir(inc_dir)}/centroids"
    )
    v = full.withColumn(
        "nrm", F.sqrt(dot(F.col("embedding"), F.col("embedding")))
    )
    (
        v.join(_nearest(v, centroids, 1), "vec_id")
        .repartition("centroid_id")
        .write.partitionBy("centroid_id")
        .parquet(f"{ref_dir}/lists")
    )
    centroids.write.parquet(f"{ref_dir}/centroids")

    queries = full.filter(F.col("vec_id").isin(3, 40, 100))
    got = sorted(
        map(tuple, search_index(spark, inc_dir, queries).collect())
    )
    want = sorted(
        map(tuple, search_index(spark, ref_dir, queries).collect())
    )
    assert got == want

    # an appended vector is retrievable as its own top hit
    probe_id = extra.select(F.max("vec_id")).first()[0]
    probe = full.filter(F.col("vec_id") == probe_id)
    hits = search_index(spark, inc_dir, probe).collect()
    top = min(hits, key=lambda r: r.rnk)
    assert top.vec_id == probe_id and abs(top.cos_sim - 1.0) < 1e-6


def test_embedding_dim_probe_never_caches_adhoc_views(spark, sf_dir):
    """The dim probe reads the view it is given on every call: an
    empty view sizes to 1, and the same view once filled sizes from
    its rows. A stale dim=1 for a later-populated view would size the
    LSH planes wrong — every zip_with dot nulls out and all rows
    silently collapse into bucket 0 (full-scan LSH)."""
    from pyanamo_spark import semantics
    from pyanamo_spark.similarity.knn import _embedding_dim

    empty = spark.createDataFrame(
        [], "vec_id long, label string, embedding array<double>"
    )
    try:
        empty.createOrReplaceTempView("embeddings")
        assert _embedding_dim(spark) == 1
        # once the same view fills up, the probe sees the real data
        spark.createDataFrame(
            [(0, "a", [0.0] * 7)], "vec_id long, label string, embedding array<double>"
        ).createOrReplaceTempView("embeddings")
        assert _embedding_dim(spark) == 7
    finally:
        spark.conf.unset(semantics._VIEWS_CONF_KEY)
        semantics.ensure_views(spark, sf_dir)
    assert _embedding_dim(spark) > 7  # the real view is back


def test_rebuild_index_fires_on_imbalance_and_swaps_atomically(
    spark, sf_dir, tmp_path
):
    """The FAISS-style operational loop: frozen-centroid appends skew
    the lists; rebuild_index must (a) no-op while balanced, (b) fire
    once the largest list passes the imbalance bound, (c) restore the
    balance a fresh build would give, and (d) never disturb a reader
    holding the pre-rebuild version (snapshot pointer swap)."""
    from pyanamo_spark import semantics
    from pyanamo_spark.similarity.ivf import (
        append_to_index,
        rebuild_index,
        resolve_index_dir,
        search_index,
        write_index,
    )

    semantics.ensure_views(spark, sf_dir)
    index_dir = str(tmp_path / "ivf_grow")
    write_index(spark, index_dir, iters=2)
    v1 = resolve_index_dir(index_dir)
    assert "/v=" in v1

    # balanced index: no rebuild
    assert rebuild_index(spark, index_dir) is None
    assert resolve_index_dir(index_dir) == v1

    # append 2x corpus aimed at ONE region: every appended vector is a
    # lightly-perturbed copy of vector 0, so one list absorbs ~2N rows
    base = spark.table("embeddings")
    n = base.count()
    first = base.filter(F.col("vec_id") == 0).first()["embedding"]
    lit_first = F.array(*[F.lit(float(x)) for x in first])
    skewed = (
        base.crossJoin(spark.range(2).withColumnRenamed("id", "copy"))
        .select(
            (F.col("vec_id") + 100000 * (F.col("copy") + 1)).alias("vec_id"),
            F.col("label"),
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                lit_first,
                lambda e, f: f + e * 0.001,
            )
            .cast("array<float>")  # append contract: share the schema
            .alias("embedding"),
        )
    )
    counts = append_to_index(spark, index_dir, skewed)
    assert sum(counts.values()) == 2 * n

    # a reader bound BEFORE the rebuild keeps its version
    queries = base.filter(F.col("vec_id") < 3)
    pre_handle = search_index(spark, index_dir, queries)
    pre_rows = sorted(map(tuple, pre_handle.collect()))

    v2 = rebuild_index(spark, index_dir)
    assert v2 == 2
    v2dir = resolve_index_dir(index_dir)
    assert v2dir != v1 and v2dir.endswith("v=00000002")

    # (c) balance restored to fresh-build level: compare max/mean
    # imbalance of the rebuilt lists against a one-shot build over the
    # same union corpus
    def imbalance(d):
        sizes = [
            r.n
            for r in spark.read.parquet(f"{d}/lists")
            .groupBy("centroid_id")
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        return max(sizes) / (sum(sizes) / len(sizes))

    skew_before = imbalance(v1)
    union = base.select("vec_id", "label", "embedding").unionByName(
        skewed.select("vec_id", "label", "embedding")
    )
    fresh_dir = str(tmp_path / "ivf_fresh")
    union.createOrReplaceTempView("embeddings")
    try:
        write_index(spark, fresh_dir, iters=2)
    finally:
        semantics.ensure_views(spark, sf_dir)
    fresh = imbalance(resolve_index_dir(fresh_dir))
    rebuilt = imbalance(v2dir)
    assert skew_before > 3.0  # the signal really fired
    assert rebuilt <= fresh * 1.01  # identical build → identical balance

    # rebuilt index serves the same results as the fresh one
    got = sorted(map(tuple, search_index(spark, index_dir, queries).collect()))
    want = sorted(map(tuple, search_index(spark, fresh_dir, queries).collect()))
    assert got == want

    # (d) the pre-rebuild handle still reads version 1, untouched
    assert sorted(map(tuple, pre_handle.collect())) == pre_rows


def test_vacuum_index_prunes_old_rebuild_versions(spark, sf_dir, tmp_path):
    """Rebuilds copy the whole index per version; vacuum_index must
    drop all but the last keep versions while the live one keeps
    serving (and a legacy flat store is a no-op)."""
    import os

    from pyanamo_spark import semantics
    from pyanamo_spark.similarity.ivf import (
        rebuild_index,
        resolve_index_dir,
        search_index,
        vacuum_index,
        write_index,
    )

    semantics.ensure_views(spark, sf_dir)
    index_dir = str(tmp_path / "ivf_vac")
    write_index(spark, index_dir, iters=2)
    # force two rebuilds regardless of balance by dropping the bound
    assert rebuild_index(spark, index_dir, imbalance_threshold=0.0) == 2
    assert rebuild_index(spark, index_dir, imbalance_threshold=0.0) == 3
    versions = [d for d in os.listdir(index_dir) if d.startswith("v=")]
    assert len(versions) == 3
    removed = vacuum_index(index_dir, keep=1)
    assert removed == 2
    assert resolve_index_dir(index_dir).endswith("v=00000003")
    queries = spark.table("embeddings").filter(F.col("vec_id") < 3)
    rows = search_index(spark, index_dir, queries).collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    # flat legacy stores have nothing to prune
    assert vacuum_index(str(tmp_path / "nothing")) == 0
