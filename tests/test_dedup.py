"""Dedup-suite behavioral tests beyond oracle parity: the rows-only
operators (MinHash-LSH, SimHash) must actually find the planted
mutant pairs, deterministically."""

from __future__ import annotations

from collections import Counter
from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyanamo_spark.dedup import MUTANT_OFFSET
from pyanamo_spark.functions import skew
from pyanamo_spark.registry import QUERIES, load_all

load_all()


def _mutant_pairs(rows):
    return {
        (r.doc_a, r.doc_b)
        for r in rows
        if r.doc_b - r.doc_a == MUTANT_OFFSET
    }


def test_minhash_finds_all_planted_mutants(spark, sf_dir):
    from pyanamo_spark import semantics
    from pyanamo_spark.dedup.minhash import near_dup_pairs

    semantics.ensure_views(spark, sf_dir)
    rows = near_dup_pairs(spark).collect()
    planted = {
        (r.doc_id, r.doc_id + MUTANT_OFFSET)
        for r in spark.table("documents")
        .filter("doc_id % 100 = 0")
        .select("doc_id")
        .collect()
    }
    found = _mutant_pairs(rows)
    # every planted near-dup must surface through the LSH bands
    assert planted <= found
    # and every reported pair must clear the verify threshold
    assert all(r.jaccard >= 0.5 for r in rows)


def test_minhash_deterministic(spark, sf_dir):
    from pyanamo_spark import semantics
    from pyanamo_spark.dedup.minhash import near_dup_pairs

    semantics.ensure_views(spark, sf_dir)
    a = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in near_dup_pairs(spark).collect()
    )
    b = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in near_dup_pairs(spark).collect()
    )
    assert a == b


def test_minhash_audit_certifies_and_catches_misses(spark, sf_dir):
    """The declared q_dedup_near audit must (a) certify the fixture —
    every planted mutant expected to match is found, found_ok all 1 —
    and (b) actually flip when the pipeline misses a pair."""
    rows = QUERIES["q_dedup_near"](spark, sf_dir).collect()
    n_planted = (
        spark.table("documents").filter("doc_id % 100 = 0").count()
    )
    assert len(rows) == n_planted
    assert all(r.found_ok == 1 for r in rows)
    assert any(r.expected_match == 1 for r in rows)
    # sabotage: recompute the audit against an EMPTY pair table — all
    # expected matches must now report found_ok = 0
    import pyanamo_spark.dedup.minhash as mh

    empty = spark.createDataFrame(
        [], "doc_a long, doc_b long, jaccard double"
    )
    orig = mh.near_dup_pairs
    mh.near_dup_pairs = lambda s: empty
    try:
        broken = QUERIES["q_dedup_near"].__wrapped__(spark, sf_dir).collect()
    finally:
        mh.near_dup_pairs = orig
    assert all(
        r.found_ok == (0 if r.expected_match else 1) for r in broken
    )


def test_simhash_finds_mutants_within_radius(spark, sf_dir):
    from pyanamo_spark.dedup import MUTANT_SUFFIX
    from pyanamo_spark.dedup.simhash import (
        HAMMING_MAX,
        _simhash64,
        simhash_pairs,
    )
    from pyanamo_spark import semantics

    semantics.ensure_views(spark, sf_dir)
    rows = simhash_pairs(spark).collect()
    # blocking guarantees detection only within the Hamming radius —
    # compute each planted pair's true distance and expect exactly those
    expected = set()
    for r in (
        spark.table("documents")
        .filter("doc_id % 100 = 0")
        .select("doc_id", "text")
        .collect()
    ):
        a = _simhash64(r.text)
        b = _simhash64(r.text + MUTANT_SUFFIX)
        if bin((a ^ b) & ((1 << 64) - 1)).count("1") <= HAMMING_MAX:
            expected.add((r.doc_id, r.doc_id + MUTANT_OFFSET))
    assert expected, "fixture must contain in-radius mutant pairs"
    found = _mutant_pairs(rows)
    assert expected <= found
    assert all(r.hamming <= HAMMING_MAX for r in rows)


def test_simhash_grouped_path_matches_broadcast_kernel(spark, sf_dir):
    """simhash_pairs has two pairing paths: the broadcast numpy kernel
    (4-of-11 blocks, up to _BROADCAST_MAX distinct sigs, so every
    fixture) and the grouped JVM emission (3-of-10 blocks) above it.
    Force the grouped path, check through spies that each run took the
    path it was meant to, and compare full pair sets. Both carry the
    same pigeonhole guarantee; any divergence is a blocking-recall (or
    the kernel's first-combo dedup) bug."""
    from pyanamo_spark import semantics
    from pyanamo_spark.dedup import simhash as sh

    def run():
        with mock.patch.object(
            sh, "_balanced_blocks", wraps=sh._balanced_blocks
        ) as grouped, mock.patch.object(
            sh, "_broadcast_sig_pairs", wraps=sh._broadcast_sig_pairs
        ) as kernel:
            rows = sorted(
                (r.doc_a, r.doc_b, r.hamming)
                for r in sh.simhash_pairs(spark).collect()
            )
        return rows, grouped.call_count, kernel.call_count

    semantics.ensure_views(spark, sf_dir)
    base, n_grouped, n_kernel = run()
    assert (n_grouped, n_kernel) == (0, 1)
    with mock.patch.object(sh, "_BROADCAST_MAX", 0):
        forced, n_grouped, n_kernel = run()
    assert (n_grouped, n_kernel) == (1, 0)
    assert base == forced


def test_simhash_deterministic_across_runs(spark, sf_dir):
    from pyanamo_spark import semantics
    from pyanamo_spark.dedup.simhash import simhash_pairs

    semantics.ensure_views(spark, sf_dir)
    a = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(spark).collect()
    )
    b = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_pairs(spark).collect()
    )
    assert a == b


def test_simhash_audit_flags_green_and_catch_regressions(spark, sf_dir):
    """The declared audit certifies the fixture (all ok=1 — what the
    oracle asserts as literal 1s), and a sabotaged pipeline (every
    pair dropped) must flip the flags of genuinely-findable pairs."""
    from pyanamo_spark.dedup import simhash as sh

    rows = QUERIES["q_dedup_simhash"](spark, sf_dir).collect()
    assert rows and all(r.ok == 1 for r in rows)
    assert {r.kind for r in rows} == {"dup", "mutant"}
    orig = sh.simhash_pairs
    try:
        sh.simhash_pairs = lambda spark, corpus=None: orig(
            spark, corpus
        ).filter("doc_a < 0")
        broken = QUERIES["q_dedup_simhash"](spark, sf_dir).collect()
    finally:
        sh.simhash_pairs = orig
    # every dup pair is findable by construction; a dropped pipeline
    # must zero those flags (mutant flags flip only where the
    # reference says the pair was in radius)
    assert all(r.ok == 0 for r in broken if r.kind == "dup")
    assert any(r.ok == 0 for r in broken if r.kind == "mutant")


def test_contain_prefix_filter_finds_all_boilerplate_pairs(
    spark, planted_views
):
    """ADVICE r05 regression: a contained doc whose shared shingles are
    ALL high-df (boilerplate duplicated across the whole corpus —
    exactly the content containment targets) must still pair with its
    containers. The old absolute max-df posting prune silently dropped
    such docs from candidate generation; the prefix filter's pigeonhole
    bound (keep the |A|−⌈T·|A|⌉+1 lowest-df shingles) guarantees recall
    at ANY df skew. 150 identical boilerplate docs make every shingle's
    df ≈ 150; the excerpt doc is fully contained in each of them."""
    from pyanamo_spark.dedup.ngram import CONTAIN_T, q_dedup_contain

    boiler = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    excerpt = "gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, boiler, "en") for i in range(150)] + [(900, excerpt, "en")]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).createOrReplaceTempView("documents")
    spark.conf.set("pyanamo_spark.views.sf_dir", "planted")

    out = q_dedup_contain.__wrapped__(spark, "planted").collect()
    found = {
        (r.contained_doc, r.container_doc)
        for r in out
        if r.contained_doc == 900
    }
    # the excerpt must be reported as contained in EVERY boilerplate doc
    # (corpus_with_mutants adds mutated copies — also valid containers)
    assert found >= {(900, i) for i in range(150)}
    assert all(
        r.containment >= CONTAIN_T for r in out if r.contained_doc == 900
    )


def test_ngram_calls_share_spark_cache_without_a_memo(
    spark, sf_dir, planted_views
):
    """Each q_dedup_ngram call builds and persists its frames afresh.
    A second call in a session that did not clear the cache plans
    against the first call's cached data (InMemoryRelation) and
    registers no new persisted RDD; a planted ``documents`` view is a
    different plan and gets its own answer."""
    from pyanamo_spark import semantics

    q = QUERIES["q_dedup_ngram"]
    semantics.ensure_views(spark, sf_dir)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    try:
        first = sorted(map(tuple, q(spark, sf_dir).collect()))
        n_persisted = len(jsc.getPersistentRDDs())
        again = q(spark, sf_dir)
        plan = again._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" in plan
        assert sorted(map(tuple, again.collect())) == first
        assert len(jsc.getPersistentRDDs()) == n_persisted

        # odd ids: corpus_with_mutants plants mutants at doc_id % 100
        # == 0; doc 3 is doc 1 plus one word (8 of 9 trigrams shared)
        text = "a b c d e f g h i j"
        spark.createDataFrame(
            [(1, text, "en"), (3, text + " k", "en"),
             (5, "p q r s t u v w", "en")],
            "doc_id long, text string, lang string",
        ).createOrReplaceTempView("documents")
        spark.conf.set("pyanamo_spark.views.sf_dir", "planted")
        planted = q.__wrapped__(spark, "planted").collect()
        assert [tuple(r) for r in planted] == [(1, 3, round(8 / 9, 6))]
    finally:
        spark.catalog.clearCache()


def test_minhash_mega_bucket_routes_through_skew_join(spark):
    """A boilerplate mega-cluster (one band bucket holding far more
    docs than MAX_COMBO_BUCKET) must still yield every pair: oversized
    buckets skip the in-task combinations explode and pair via the
    skew-splittable self-join branch instead."""
    from pyanamo_spark.dedup.minhash import (
        candidate_pairs,
        JACCARD_THRESHOLD,
    )
    from pyanamo_spark.functions.skew import MAX_COMBO_BUCKET

    n = MAX_COMBO_BUCKET + 44  # forces the big-bucket branch
    same = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, same) for i in range(n)]
    rows += [(1000 + i, f"unique doc {i} " + " ".join(f"w{i}x{j}" for j in range(12)))
             for i in range(6)]
    from pyspark.sql import functions as F

    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = candidate_pairs(spark, corpus)
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in pairs.filter(jac >= JACCARD_THRESHOLD).collect()
    }
    want = {(a, b) for a in range(n) for b in range(n) if a < b}
    assert got == want  # all k(k-1)/2 identical-doc pairs, nothing else


def test_ngram_null_lang_docs_pair_nothing(spark, planted_views):
    """The oracle blocks on ``a.lang = b.lang``, which never holds for
    a NULL lang: two identical NULL-lang docs are no pair, while the
    same two docs with a lang are. bucket_pairs drops NULL-key buckets
    on both of its branches, so the answer cannot depend on bucket
    size."""
    import duckdb

    from pyanamo_spark.registry import ORACLES

    text = "a b c d e f g h i j"
    # odd ids: corpus_with_mutants plants mutants at doc_id % 100 == 0
    rows = [
        (1, text, None),
        (3, text, None),
        (5, text + " x", "en"),
        (7, text + " x", "en"),
        (9, "p q r s t u v w", "en"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).createOrReplaceTempView("documents")
    spark.conf.set("pyanamo_spark.views.sf_dir", "planted")
    try:
        got = sorted(
            tuple(r)
            for r in QUERIES["q_dedup_ngram"]
            .__wrapped__(spark, "planted")
            .collect()
        )
    finally:
        spark.catalog.clearCache()
    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE documents (doc_id BIGINT, text VARCHAR, lang VARCHAR)"
    )
    duck.executemany("INSERT INTO documents VALUES (?, ?, ?)", rows)
    want = sorted(duck.execute(ORACLES["q_dedup_ngram"]).fetchall())
    duck.close()
    assert want == [(5, 7, 1.0)]
    assert got == want


@pytest.mark.parametrize("shard_rows", [None, 1])
def test_embed_null_label_vectors_pair_nothing(
    spark, planted_views, shard_rows
):
    """The oracle joins ``ON a.label = b.label``, which never holds for
    a NULL label: two near-identical NULL-label vectors are no pair,
    while the same shape under label 1 is. ``shard_rows=1`` shrinks
    _SHARD_ROWS below half of label 1's three rows, so the labels take
    the tile path instead of the single-block one."""
    import duckdb

    from pyanamo_spark.dedup import embedding as em
    from pyanamo_spark.registry import ORACLES

    rows = [
        (1, [1.0, 0.125, 0.0, 0.0], None),
        (2, [1.0, 0.0, 0.0, 0.0], None),
        (3, [0.0, 1.0, 0.125, 0.0], 1),
        (4, [0.0, 1.0, 0.0, 0.0], 1),
        (5, [0.0, 0.0, 0.0, 1.0], 2),
        (6, [0.0, 0.0, 1.0, 0.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")
    spark.conf.set("pyanamo_spark.views.sf_dir", "planted")
    shards = em._SHARD_ROWS if shard_rows is None else shard_rows
    try:
        with mock.patch.object(em, "_SHARD_ROWS", shards):
            got = sorted(
                tuple(r)
                for r in QUERIES["q_dedup_embed"]
                .__wrapped__(spark, "planted")
                .collect()
            )
    finally:
        spark.catalog.clearCache()
    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE embeddings"
        " (vec_id BIGINT, embedding FLOAT[], label INTEGER)"
    )
    duck.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)
    want = sorted(duck.execute(ORACLES["q_dedup_embed"]).fetchall())
    duck.close()
    assert [p[:2] for p in want] == [(3, 4)]
    assert got == want


_KEY = st.one_of(st.none(), st.integers(0, 2))


@st.composite
def _bucket_tables(draw):
    """(n_keys, struct_items, rows): bucket rows of one or two key
    columns (NULL keys included, one row per distinct key) and a
    sorted array of 0-12 distinct longs or (doc_id, v) structs."""
    n_keys = draw(st.integers(1, 2))
    structs = draw(st.booleans())
    keys = draw(
        st.lists(st.tuples(*[_KEY] * n_keys), unique=True, max_size=5)
    )
    rows = []
    for k in keys:
        ids = sorted(draw(st.sets(st.integers(0, 40), max_size=12)))
        items = [(i, draw(st.integers(0, 3))) for i in ids] if structs else ids
        rows.append((*k, items))
    return n_keys, structs, rows


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(table=_bucket_tables(), cap=st.one_of(st.none(), st.integers(0, 12)))
@example(
    table=(
        1,
        False,
        [
            (0, list(range(skew.MAX_COMBO_BUCKET))),
            (1, list(range(skew.MAX_COMBO_BUCKET + 1))),
            (None, list(range(skew.MAX_COMBO_BUCKET + 1))),
        ],
    ),
    cap=None,
)
def test_bucket_pairs_equals_the_naive_self_join(spark, table, cap):
    """bucket_pairs emits exactly the multiset of the naive self-join
    of the exploded items ON keys = keys AND a.item < b.item. ``cap``
    lowers MAX_COMBO_BUCKET so generated buckets take either branch;
    the explicit example sits on both sides of the real cap."""
    from pyspark.sql import functions as F

    n_keys, structs, rows = table
    keys = ["k0", "k1"][:n_keys]
    item_t = "struct<doc_id: bigint, v: bigint>" if structs else "bigint"
    schema = "".join(f"{k} bigint, " for k in keys)
    buckets = spark.createDataFrame(rows, f"{schema}items array<{item_t}>")
    with mock.patch.object(
        skew, "MAX_COMBO_BUCKET", skew.MAX_COMBO_BUCKET if cap is None else cap
    ):
        got = Counter(
            map(tuple, skew.bucket_pairs(buckets, keys, "items").collect())
        )
    exploded = buckets.select(*keys, F.explode("items").alias("item"))
    cond = F.col("a.item") < F.col("b.item")
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    naive = exploded.alias("a").join(exploded.alias("b"), cond)
    want = Counter(
        map(tuple, naive.select("a.item", "b.item").collect())
    )
    assert got == want


def test_embed_float32_candidates_superset_of_float64(spark):
    """The float32 chunked candidate stage may only ADD candidates
    relative to exact float64 selection at the tight margin — never
    drop one (the margin proof in dedup/embedding.py). Random blocks,
    including sizes that straddle the chunk boundary."""
    import numpy as np
    import pandas as pd

    from pyanamo_spark.dedup.embedding import (
        CAND_MARGIN,
        THRESHOLD,
        block_candidates,
    )

    rng = np.random.default_rng(7)
    for n in (3, 65, 513, 1030):
        base = rng.normal(size=(max((n + 3) // 4, 2), 64))
        # near-duplicate structure: jittered copies so pairs exist at
        # the threshold boundary region
        mat = np.concatenate(
            [base + rng.normal(0, 0.15, base.shape) for _ in range(4)]
        )[:n]
        ids = np.arange(n)
        nrm = np.linalg.norm(mat, axis=1)
        nrm[nrm == 0] = 1.0
        sims = (mat @ mat.T) / np.outer(nrm, nrm)
        ai, bi = np.nonzero(np.triu(sims >= THRESHOLD - 2e-6, k=1))
        exact64 = set(zip(ai.tolist(), bi.tolist()))
        pdf = pd.DataFrame(
            {
                "vec_id": ids,
                "embedding": pd.Series(list(mat), dtype=object),
            }
        )
        got = block_candidates(pdf, THRESHOLD - CAND_MARGIN)
        got_pairs = set(zip(got["vec_a"].tolist(), got["vec_b"].tolist()))
        assert exact64 <= got_pairs, (n, exact64 - got_pairs)


def test_ngram_mega_bucket_routes_through_skew_join(spark, planted_views):
    """The r10 grouped bucket emission's skew valve: a boilerplate
    mega-cluster (every doc identical, so every prefix bucket holds
    far more members than MAX_COMBO_BUCKET) must route through the
    AQE-splittable self-join branch and still yield EXACTLY the
    all-pairs set — completeness and precision, both branches."""
    from pyanamo_spark.dedup import ngram_index
    from pyanamo_spark.dedup.ngram import verified_ngram_pairs
    from pyanamo_spark.functions.skew import MAX_COMBO_BUCKET

    n = MAX_COMBO_BUCKET + 44  # forces the big-bucket branch
    same = "the quick brown fox jumps over the lazy dog again and again"
    # odd ids: corpus_with_mutants plants mutants at doc_id % 100 == 0,
    # which would add near-dup pairs beyond the clean expectation
    rows = [(2 * i + 1, same, "en") for i in range(n)]
    rows += [
        (9001 + 2 * i, " ".join(f"u{i}x{j}" for j in range(14)), "en")
        for i in range(5)
    ]
    spark.createDataFrame(
        rows, ["doc_id", "text", "lang"]
    ).createOrReplaceTempView("documents")
    try:
        idx = ngram_index(spark)
        got = {
            (r.doc_a, r.doc_b)
            for r in verified_ngram_pairs(idx).collect()
        }
    finally:
        spark.catalog.dropTempView("documents")
    ids = sorted(2 * i + 1 for i in range(n))
    want = {(a, b) for a in ids for b in ids if a < b}
    assert got == want


def test_embed_tiled_candidates_match_block_path(spark, sf_dir):
    """The sharded tile plan (r12) must be candidate-set-invariant vs
    the single-block-per-label form: a pair's two shards define exactly
    one tile, the fan-out puts both members there, and the bipartite
    kernel compares the sides completely. Forced here by shrinking
    _SHARD_ROWS so the fixture's labels split into several shards;
    survivors are compared on the DECLARED output (after exact float64
    verify, so float32 chunk-order noise inside the margin cannot flip
    the comparison)."""
    from pyanamo_spark import semantics
    from pyanamo_spark.dedup import embedding as em
    from pyanamo_spark.registry import QUERIES

    semantics.ensure_views(spark, sf_dir)
    base = sorted(
        (r.vec_a, r.vec_b, r.cos_sim)
        for r in QUERIES["q_dedup_embed"](spark, sf_dir).collect()
    )
    old = em._SHARD_ROWS
    em._SHARD_ROWS = 37  # every label becomes multiple shards
    try:
        tiled = sorted(
            (r.vec_a, r.vec_b, r.cos_sim)
            for r in QUERIES["q_dedup_embed"](spark, sf_dir).collect()
        )
    finally:
        em._SHARD_ROWS = old
    assert base == tiled
    assert len(base) > 0  # the fixture plants a high-similarity tail
