"""SimHash near-duplicate detection (north star).

The 64-bit SimHash is computed in a vectorized Pandas UDF (Arrow batch
transfer — the sanctioned slow path for bit-twiddling Spark expressions
can't do cheaply); everything downstream is DataFrame ops:

  - identical signatures collapse before any pairing (duplicate mass
    multiplies blocking buckets quadratically otherwise)
  - candidate blocking over DISTINCT signatures on combinations of
    signature blocks: 4-of-11 in the broadcast numpy kernel up to
    _BROADCAST_MAX distinct signatures, 3-of-10 in the grouped JVM
    emission above it. Detection within the radius is guaranteed, not
    probabilistic; pairs beyond it are out of scope (the classic
    SimHash blocking trade)
  - verification: F.bit_count(a XOR b) ≤ HAMMING_MAX, JVM-side

Token hashes use md5 (stable across workers/runs — never Python's
builtin hash(), which is salted per process).

Oracle-checked via the planted copy/mutant audit (r09): DuckDB has no
SimHash, but it CAN re-derive every exact-duplicate text pair (which
MUST surface at Hamming 0) and the planted-mutant row set, whose
verdicts the audit certifies against the independent pure-Python
reference `_simhash64`; Spark-side determinism stays asserted in
tests/test_dedup.py.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from pyanamo_spark.dedup import (
    MUTANT_OFFSET,
    MUTANT_SUFFIX,
    corpus_with_mutants,
)
from pyanamo_spark.functions.skew import bucket_pairs
from pyanamo_spark.registry import register
from pyanamo_spark.session import spread

HAMMING_MAX = 7


def _simhash64(text: str) -> int:
    """Reference implementation (tests use it as an independent check);
    the UDF below is the vectorized equivalent."""
    acc = [0] * 64
    for tok in text.split(" "):
        h = int.from_bytes(
            hashlib.md5(tok.encode("utf-8")).digest()[:8], "big"
        )
        for b in range(64):
            acc[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if acc[b] > 0:
            sig |= 1 << b
    # interpret as signed 64-bit for Spark LongType
    return sig - (1 << 64) if sig >= (1 << 63) else sig


#: executor-lifetime token→hash memo; real corpora repeat tokens
#: heavily (Zipf), so this converges to the vocabulary and stays small
_TOK_CACHE: dict[str, int] = {}


def _simhash_batch(texts: pd.Series) -> pd.Series:
    """Whole-batch-vectorized simhash, no per-document Python loop:

      1. one pandas str.split over the batch; all docs' tokens flatten
         into a single array with per-doc offsets
      2. factorize the flat tokens → md5 runs ONCE per distinct token
         (memoized across batches too); a take() rebuilds the flat
         uint64 hash stream
      3. np.unpackbits views the hashes as a (total_tokens, 64) 0/1
         matrix — little-endian bit order makes column b exactly
         ``(h >> b) & 1`` — at 1 byte per bit instead of 8
      4. np.add.reduceat at the doc offsets → per-doc bit votes; the
         majority test and a shift-dot repack the 64 sign bits

    The earlier per-doc form (loop + per-doc broadcast) spent ~90% of
    q_dedup_simhash's wall time in this UDF; this form is one C pass
    per stage over the whole Arrow batch.
    """
    if len(texts) == 0:  # zero-row Arrow batch: concatenate([]) raises
        return pd.Series([], dtype="int64")
    # null-safe: a null doc hashes like the empty string; callers drop
    # null rows before pairing so these never produce bogus matches
    toks = texts.fillna("").str.split(" ")
    lens = toks.str.len().to_numpy(dtype=np.int64)
    flat = np.concatenate([np.asarray(t, dtype=object) for t in toks])
    codes, uniques = pd.factorize(flat)
    uniq_hashes = np.empty(len(uniques), dtype=np.uint64)
    for i, tok in enumerate(uniques):
        h = _TOK_CACHE.get(tok)
        if h is None:
            h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
            _TOK_CACHE[tok] = h
        uniq_hashes[i] = h
    hashes = uniq_hashes[codes]
    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    # unpack + segment-sum in ~256-doc chunks: the (tokens, 64) bit
    # matrix then stays cache-resident, which is worth >10x — one
    # monolithic reduceat over a full 5k-doc batch walks the whole
    # matrix strided and measured seconds instead of milliseconds
    chunk = 256
    tok_bounds = np.append(starts, len(hashes))
    votes = np.empty((len(lens), 64), dtype=np.int64)
    for d0 in range(0, len(lens), chunk):
        d1 = min(d0 + chunk, len(lens))
        seg = np.unpackbits(
            hashes[tok_bounds[d0]:tok_bounds[d1]]
            .view(np.uint8)
            .reshape(-1, 8),
            axis=1,
            bitorder="little",
        )
        votes[d0:d1] = np.add.reduceat(
            seg, starts[d0:d1] - starts[d0], axis=0, dtype=np.int64
        )
    set_bits = 2 * votes > lens[:, None]
    bit_idx = np.arange(64, dtype=np.uint64)
    sig = (set_bits.astype(np.uint64) << bit_idx[None, :]).sum(
        axis=1, dtype=np.uint64
    )
    return pd.Series(sig.view(np.int64))


@F.pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return _simhash_batch(texts)


#: grouped JVM scheme: the 64 bits are dealt into 10 blocks and every
#: 3-block combination is a key (C(10,3)=120). ≤7 differing bits touch
#: ≤7 blocks and leave ≥3 of 10 agreeing, so every pair within
#: HAMMING_MAX shares at least one key: detection inside the radius is
#: guaranteed, not probabilistic.
_TRIPLE_BLOCKS = 10

#: broadcast-kernel regime (r12): below this many DISTINCT signatures
#: the whole blocking problem is a ~16 MB-per-worker numpy job — the
#: distinct-sig array is collected (8 B/sig, ≤16 MB at the bound),
#: broadcast, and the block-combination keys are enumerated ACROSS
#: TASKS instead of exploding keyed rows: the JVM path shuffles
#: n_sigs × C(b,r) keyed rows (53M rows / 1.2 GB at sf10, 11 s of the
#: 50 s e2e before any aggregation) to compute a candidate set that is
#: fully determined by a 3.6 MB array. Shuffling the ALGORITHM'S
#: combo ids (120-330 ints) instead of the data removes the keyed
#: exchange, the collect_list aggregation, and the pair-dedup exchange
#: outright (see _broadcast_sig_pairs' first-agreeing-combo proof).
#: Above the bound the grouped JVM path below remains the scale form —
#: at 100 TB distinct sigs are billions and no longer broadcastable.
_BROADCAST_MAX = 2_000_000
#: the broadcast regime uses 4-subsets of 11 blocks: ≤7 differing bits
#: touch ≤7 blocks, leaving ≥4 of 11 agreeing — same pigeonhole
#: guarantee, chosen over (10,3) because measured on the sf10
#: distinct sigs the candidate volume drops 2.829e9 → 1.701e9 (the
#: ~21-bit 4-block keys collide less than ~19-bit triples) and the
#: numpy kernel's cost is candidate-bound, not combo-bound (sorts are
#: ~3 ms each; 330 of them cost less than 1.1e9 avoided popcounts)
_BCAST_BLOCKS = 11
_BCAST_R = 4


def _deal(ones: list[int], n: int, n_blocks: int) -> list[list[int]]:
    """Assign the 64 signature bits to ``n_blocks`` blocks by measured
    balance, given each bit's count of ones over ``n`` distinct sigs.

    Real-corpus SimHash bits are wildly unequal: bits whose vote is
    dominated by the common vocabulary are near-constant across docs,
    and a block made of such bits agrees for a huge fraction of ALL
    pairs (the sf1 diagnosis measured 200 candidates per true pair
    from exactly this). Bits are ranked by the distance of their
    1-frequency from 0.5 (stable ties by bit index) and dealt
    round-robin so every block carries its share of the high-entropy
    bits. The pigeonhole guarantee is untouched — any partition of the
    64 bits into the scheme's block count works — only bucket sizes
    change."""
    n = max(n, 1)
    order = sorted(range(64), key=lambda b: abs(ones[b] / n - 0.5))
    blocks: list[list[int]] = [[] for _ in range(n_blocks)]
    for rank, bit in enumerate(order):
        blocks[rank % n_blocks].append(bit)
    return blocks


def _balanced_blocks(
    distinct_sigs: DataFrame, n_blocks: int
) -> list[list[int]]:
    """``_deal`` with the ones counted by one 64-sum JVM aggregate over
    the distinct signatures, which are never collected. Cost: a
    64-number driver model."""
    row = distinct_sigs.agg(
        F.count("*").alias("n"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("sig"), b).bitwiseAND(F.lit(1))
            ).alias(f"b{b}")
            for b in range(64)
        ],
    ).first()
    return _deal([row[f"b{b}"] or 0 for b in range(64)], row["n"], n_blocks)


def _balanced_blocks_np(sig_arr: np.ndarray, n_blocks: int) -> list[list[int]]:
    """``_deal`` with the ones counted in numpy over the COLLECTED
    distinct-sig array. The broadcast path already holds the array on
    the driver, so counting there removes a whole Spark job whose 64
    shift/mask sum expressions cost ~2 s of whole-stage-codegen compile
    cold (and ~1 s warm) per query."""
    u = sig_arr.view(np.uint64)
    ones = [
        int(((u >> np.uint64(b)) & np.uint64(1)).sum()) for b in range(64)
    ]
    return _deal(ones, len(u), n_blocks)


def _block_value(sig_col: str, bits: list[int]):
    """One block's bit-gathered value: Σ ((sig >> p) & 1) << k."""
    col = F.col(sig_col)
    v = None
    for k, p in enumerate(bits):
        term = F.shiftrightunsigned(col, p).bitwiseAND(F.lit(1)) * F.lit(
            1 << k
        )
        v = term if v is None else v + term
    return v


def _key_combos(n_blocks: int) -> list[tuple[int, ...]]:
    """The block combinations in pair_idx order: (i, j, k) triples for
    the grouped path's 10-block scheme, (i, j, k, l) quads for the
    broadcast path's 11-block one."""
    from itertools import combinations

    r = {_TRIPLE_BLOCKS: 3, _BCAST_BLOCKS: _BCAST_R}[n_blocks]
    return list(combinations(range(n_blocks), r))


def _with_pair_keys(sigs: DataFrame, sig_col: str, blocks: list[list[int]]):
    """Explode each signature into its (pair_idx, key_val) rows: one
    per block combination — C(10,3)=120 triple keys — with the member
    block values packed at 256-stride (a block carries ≤7 of the 64
    bits).

    The block values are projected ONCE before the explode — the
    naive form embeds every block's full bit-gather expression inside
    every struct, which multiplies the 64 shift/mask extractions into
    hundreds of expression terms and the whole-stage-codegen compile
    of that tree measured ~2 s cold per plan. With the pre-projection
    the Generate node only combines the member columns per key."""
    bvals = sigs.select(
        sig_col,
        *[
            _block_value(sig_col, bits).alias(f"bv{i}")
            for i, bits in enumerate(blocks)
        ],
    )

    def packed(combo: tuple[int, ...]):
        v = F.col(f"bv{combo[0]}")
        for m in combo[1:]:
            v = v * 256 + F.col(f"bv{m}")
        return v

    structs = [
        F.struct(
            F.lit(pid).alias("pair_idx"),
            packed(combo).alias("key_val"),
        )
        for pid, combo in enumerate(_key_combos(len(blocks)))
    ]
    return bvals.select(
        sig_col, F.explode(F.array(*structs)).alias("k")
    ).select(sig_col, "k.pair_idx", "k.key_val")


#: 16-bit popcount table, built once per process (64 KB)
_P16: np.ndarray | None = None


def _p16() -> np.ndarray:
    global _P16
    if _P16 is None:
        t = np.zeros(65536, dtype=np.uint8)
        for i in range(16):
            t[(np.arange(65536) >> i) & 1 == 1] += 1
        _P16 = t
    return _P16


#: per-worker-process memo of the block-value arrays, keyed by the
#: identity of the broadcast sig array (pyspark's broadcast registry
#: returns the same object across tasks within one reused worker, so
#: the 11 block-gather passes run once per worker, not once per task;
#: a cache miss just recomputes — correctness never depends on it)
_BV_CACHE: dict[int, list[np.ndarray]] = {}


def _block_value_np(u: np.ndarray, bits: list[int]) -> np.ndarray:
    v = np.zeros(len(u), dtype=np.uint64)
    for k, p in enumerate(bits):
        v |= ((u >> np.uint64(p)) & np.uint64(1)) << np.uint64(k)
    return v


def _combo_survivors(
    sig: np.ndarray,
    bv: list[np.ndarray],
    combo: tuple[int, ...],
    combo_id: int,
    lut: np.ndarray,
    ham_max: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """All verified pairs of one block-combination key whose FIRST
    agreeing combo is this one: (sig_a, sig_b, hamming) arrays.

    One argsort groups the combo's key values; runs of equal keys are
    batched BY SIZE so the triangular pair expansion is one gather per
    size class, never a per-bucket Python loop; candidates are
    popcount-verified through a progressive 16-bit-quarter filter
    (hamming ≤ {HAMMING_MAX} needs EVERY 16-bit quarter of the XOR at
    ≤ {HAMMING_MAX} set bits, and a random colliding pair averages ~8
    per quarter, so each quarter rejects ~60% of the garbage before
    the next lookup runs)."""
    key = bv[combo[0]]
    for m in combo[1:]:
        key = key * np.uint64(256) + bv[m]
    order = np.argsort(key, kind="stable")
    ks = key[order]
    brk = np.flatnonzero(ks[1:] != ks[:-1]) + 1
    starts = np.concatenate(([0], brk))
    lens = np.diff(np.concatenate((starts, [len(ks)])))
    multi = lens > 1
    rs, rl = starts[multi], lens[multi]
    empty = (
        np.array([], dtype=np.int64),
        np.array([], dtype=np.int64),
        np.array([], dtype=np.int32),
    )
    if not len(rs):
        return empty
    p16 = _p16()
    out_a: list[np.ndarray] = []
    out_b: list[np.ndarray] = []
    out_h: list[np.ndarray] = []
    o = np.argsort(rl, kind="stable")
    rs, rl = rs[o], rl[o]
    sizes, first = np.unique(rl, return_index=True)
    for ui, k in enumerate(sizes):
        hi = first[ui + 1] if ui + 1 < len(sizes) else len(rl)
        run_starts = rs[first[ui]:hi]
        iu, ju = np.triu_indices(k, 1)
        n_pairs = len(iu)
        # chunk the (runs × pairs) expansion so peak temporaries stay
        # ~100 MB/worker regardless of bucket-size distribution
        mchunk = max(1, 8_000_000 // n_pairs)
        for c0 in range(0, len(run_starts), mchunk):
            sk = run_starts[c0:c0 + mchunk]
            idx = order[sk[:, None] + np.arange(k)[None, :]]
            ia = idx[:, iu].ravel()
            ib = idx[:, ju].ravel()
            x = (sig[ia] ^ sig[ib]).view(np.uint64)
            q = x.view(np.uint16).reshape(-1, 4)
            h = p16[q[:, 0]].astype(np.int16)
            alive = h <= ham_max
            for qi in (1, 2, 3):
                live = np.flatnonzero(alive)
                if not len(live):
                    break
                h2 = h[live] + p16[q[live, qi]]
                h[live] = h2
                alive[live] = h2 <= ham_max
            ia, ib, hh = ia[alive], ib[alive], h[alive]
            if not len(ia):
                continue
            # first-agreeing-combo filter: emit the pair only if the
            # minimal combo consistent with its full block-agreement
            # mask is THIS one — every pair then leaves exactly one
            # task, so no downstream dedup exchange exists at all
            mask = np.zeros(len(ia), dtype=np.int32)
            for b in range(len(bv)):
                mask |= (bv[b][ia] == bv[b][ib]).astype(np.int32) << b
            mine = lut[mask] == combo_id
            ia, ib, hh = ia[mine], ib[mine], hh[mine]
            if len(ia):
                sa, sb = sig[ia], sig[ib]
                out_a.append(np.minimum(sa, sb))
                out_b.append(np.maximum(sa, sb))
                out_h.append(hh.astype(np.int32))
    if not out_a:
        return empty
    return (
        np.concatenate(out_a),
        np.concatenate(out_b),
        np.concatenate(out_h),
    )


def _broadcast_sig_pairs(
    spark: SparkSession, sig_arr: np.ndarray, blocks: list[list[int]]
) -> DataFrame:
    """(sig_a, sig_b, hamming) for every distinct-signature pair within
    HAMMING_MAX — the broadcast-kernel path.

    The distinct sigs (≤ _BROADCAST_MAX × 8 B) are collected once and
    torrent-broadcast; the C(11,4)=330 block-combination keys are
    distributed round-robin as combo-id rows, and each task buckets,
    pairs, and popcount-verifies its combos in numpy against the
    shared array. Exchanges shipped: the combo ids (330 ints) out,
    the TRUE pairs back — never keyed rows, never candidates.

    Exactly-once emission (replaces dropDuplicates): a verified pair's
    block-agreement mask M ⊇ every combo whose buckets contain it, and
    the driver-built lut maps M → the minimal such combo; each task
    keeps only pairs whose minimal agreeing combo is the one it is
    processing. Since the pair IS in that minimal combo's bucket too
    (all of its blocks agree by definition of M), it is emitted there
    and only there — completeness and uniqueness both by construction.
    """
    combos = _key_combos(len(blocks))
    # mask → minimal combo fully contained in the agreement mask
    lut = np.full(1 << len(blocks), -1, dtype=np.int16)
    combo_bits = [
        sum(1 << b for b in combo) for combo in combos
    ]
    for mask in range(1 << len(blocks)):
        for ci, cb in enumerate(combo_bits):
            if cb & mask == cb:
                lut[mask] = ci
                break
    sc = spark.sparkContext
    bc_sig = sc.broadcast(sig_arr)
    bc_blocks = sc.broadcast(blocks)
    bc_lut = sc.broadcast(lut)
    ham_max = HAMMING_MAX

    def emit(batches):
        sig = bc_sig.value
        blks = bc_blocks.value
        key = id(sig)
        bv = _BV_CACHE.get(key)
        if bv is None:
            u = sig.view(np.uint64)
            bv = [_block_value_np(u, bs) for bs in blks]
            _BV_CACHE.clear()  # one corpus at a time per worker
            _BV_CACHE[key] = bv
        cmb = _key_combos(len(blks))
        for pdf in batches:
            for ci in pdf["combo_id"]:
                a, b, h = _combo_survivors(
                    sig, bv, cmb[ci], ci, bc_lut.value, ham_max
                )
                yield pd.DataFrame(
                    {"sig_a": a, "sig_b": b, "hamming": h}
                )

    # fan-out = min(combos, cores): each mapInPandas task costs a fixed
    # ~0.25-0.3 s of Python-boundary overhead regardless of kernel work,
    # and the combos' cost is near-uniform (random collisions dominate,
    # ~n²/2^21 per combo), so oversubscribing cores buys no straggler
    # smoothing — the r12 4×-oversubscribed form paid 4× the overhead
    # for the same wall (interleaved A/B at sf0.1: 1.3-1.5 s → 0.5 s for
    # this stage). On a cluster with ≥ C(11,4)=330 cores the fan-out is
    # combo-capped either way and nothing changes.
    par = spark.sparkContext.defaultParallelism
    combo_df = (
        spark.range(len(combos))
        .select(F.col("id").cast("int").alias("combo_id"))
        .repartition(min(len(combos), par))
    )
    return combo_df.mapInPandas(
        emit, "sig_a long, sig_b long, hamming int"
    )


def simhash_pairs(
    spark: SparkSession, corpus: DataFrame | None = None
) -> DataFrame:
    """North-star SimHash dedup (library form): all pairs within
    Hamming distance {HAMMING_MAX} over the mutant corpus (or a
    caller-supplied one) — the raw pair output q_dedup_simhash's
    audit certifies.

    Scale shape (the part that must stay linear-ish at 100 TB):

      1. signature pass — one Arrow-batched UDF scan, persisted as a
         skinny (doc_id, sig) frame
      2. identical signatures collapse BEFORE pairing: duplicate and
         near-duplicate mass (the whole point of a dedup corpus)
         otherwise multiplies every blocking bucket and the candidate
         count grows with the SQUARE of the duplication factor.
         Within-group pairs are emitted directly (hamming 0) by a
         sig-keyed self-join — output-sized work
      3. DISTINCT signatures block on combinations of signature
         blocks (pigeonhole: ≤7 differing bits touch ≤7 blocks, so ≥4
         of 11 or ≥3 of 10 blocks agree → some combination key
         matches; detection within the radius is guaranteed, not
         probabilistic). Bits are dealt to blocks by measured balance
         (_deal) so correlated low-entropy bits can't produce giant
         buckets. Up to _BROADCAST_MAX distinct sigs the pairing runs
         in the broadcast numpy kernel on 4-of-11 keys
         (_broadcast_sig_pairs — no keyed-row exchange at all); above
         it, the grouped JVM emission on 3-of-10 keys is the scale form
      4. verification: F.bit_count(a XOR b) ≤ HAMMING_MAX, JVM-side,
         on candidate signature pairs; survivors expand back to doc
         pairs through two joins against the signature frame

    Output is all qualifying pairs, which is inherently quadratic
    inside one identical-signature group (a boilerplate sig shared by
    millions of docs IS millions² of pairs) — a keeper/representative
    variant of step 2 makes that linear when pair enumeration isn't
    required downstream.
    """
    if corpus is None:
        corpus = corpus_with_mutants(spark)
    sigs = (
        # spread() the Arrow-batched signature UDF across cores instead
        # of the scan's few splits (session.spread)
        spread(
            corpus.where(F.col("text").isNotNull()),
            "doc_id",
            "text",
        )
        .select("doc_id", simhash_udf(F.col("text")).alias("sig"))
        # persisted: three consumers below (within-group join, distinct
        # blocking, member expansion); 16 bytes/doc is far cheaper than
        # re-running the signature UDF over all text per consumer
        .persist()
    )
    x, y = sigs.alias("x"), sigs.alias("y")
    within = x.join(
        y,
        (F.col("x.sig") == F.col("y.sig"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        F.lit(0).cast("int").alias("hamming"),
    )
    uniq = sigs.select("sig").distinct().persist()
    # regime probe fused with the driver pull (r13): ONE limit-collect
    # replaces the count job + the collect job. limit(_BROADCAST_MAX+1)
    # returns the COMPLETE distinct set whenever it is broadcastable
    # (limit(N) yields all rows when fewer than N exist), and above the
    # bound it stops at _BROADCAST_MAX+1 rows — the driver never holds
    # more than the regime cap either way, and the JVM path's own
    # aggregates finish materializing the persisted distinct.
    probe = uniq.limit(_BROADCAST_MAX + 1).collect()
    if len(probe) <= _BROADCAST_MAX:
        # the single driver pull serves both the bit-balance model and
        # the kernel broadcast; the 64-sum JVM aggregate the grouped
        # path uses would be a whole extra job here (r12: ~1-2 s of
        # fixed overhead per query)
        sig_arr = np.array([r[0] for r in probe], dtype=np.int64)
        blocks = _balanced_blocks_np(sig_arr, _BCAST_BLOCKS)
        sig_pairs = _broadcast_sig_pairs(spark, sig_arr, blocks)
        return within.unionByName(_expand_doc_pairs(sig_pairs, sigs))
    # grouped bucket emission (the minhash/ngram family pattern): keyed
    # rows shuffle ONCE into their (pair_idx, key_val) bucket and each
    # bucket emits its sig combinations in-task. A keyed self-join here
    # builds per-task hash relations over the whole keyed table (53M
    # rows at sf10) and OOMs an 8 GB local JVM; the grouped form's peak
    # memory is one bucket's sig array. Skew valve: see
    # skew.bucket_pairs.
    blocks = _balanced_blocks(uniq, _TRIPLE_BLOCKS)
    blocked = _with_pair_keys(uniq, "sig", blocks)
    buckets = (
        blocked.groupBy("pair_idx", "key_val")
        .agg(F.array_sort(F.collect_list("sig")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    # materialize ONCE (r12): three consumers read this aggregation
    # (small combos, and both legs of the over-bucket self-join), and
    # they schedule as parallel subtrees of one action — without an
    # eager persist each recomputed the 60M-keyed-row shuffle+agg (the
    # sf10 profile read 26 s per recompute: 87 s e2e vs 45 s of
    # once-each stage time). The persisted frame is bucket-sized (pairs
    # of longs + sig arrays), far smaller than the keyed rows; released
    # by the suite's per-query clearCache like the sibling pair
    # persists.
    buckets = buckets.persist()
    buckets.count()
    sig_pairs = (
        bucket_pairs(buckets, ["pair_idx", "key_val"], "ms")
        .select(F.col("a").alias("sig_a"), F.col("b").alias("sig_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .dropDuplicates(["sig_a", "sig_b"])
    )
    return within.unionByName(_expand_doc_pairs(sig_pairs, sigs))


def _expand_doc_pairs(sig_pairs: DataFrame, sigs: DataFrame) -> DataFrame:
    """Survivor (sig_a, sig_b, hamming) pairs back to doc pairs via two
    joins against the persisted signature frame."""
    return (
        sig_pairs.join(
            sigs.select(
                F.col("sig").alias("sig_a"), F.col("doc_id").alias("da")
            ),
            "sig_a",
        )
        .join(
            sigs.select(
                F.col("sig").alias("sig_b"), F.col("doc_id").alias("db")
            ),
            "sig_b",
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )


@F.pandas_udf(LongType())
def _reference_hamming(text: pd.Series, mut: pd.Series) -> pd.Series:
    """Hamming distance between the pure-Python reference simhashes of
    (text, mutant text) — deliberately the slow scalar `_simhash64`,
    NOT the vectorized production UDF, so the audit's ground truth is
    an independent implementation (only ever run over the planted
    rows, corpus/100)."""
    return pd.Series(
        [
            bin((_simhash64(t) ^ _simhash64(m)) & ((1 << 64) - 1)).count("1")
            for t, m in zip(text, mut)
        ],
        dtype="int64",
    )


#: verbatim copies planted into the AUDIT corpus (q_dedup_exact's
#: precedent — the fixture has no natural duplicates at small sf), so
#: the Hamming-0 guarantee is always exercised; offset distinct from
#: MUTANT_OFFSET so copy and mutant ids never collide
_COPY_OFFSET = 2_000_000


@register(
    "q_dedup_simhash",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {MUTANT_OFFSET}, text || '{MUTANT_SUFFIX}'
  FROM documents WHERE doc_id % 100 = 0
  UNION ALL
  SELECT doc_id + {_COPY_OFFSET}, text
  FROM documents WHERE doc_id % 100 = 0
),
dups AS (
  SELECT 'dup' AS kind, a.doc_id AS id_a, b.doc_id AS id_b
  FROM corpus a JOIN corpus b
    ON a.text = b.text AND a.doc_id < b.doc_id
),
mutants AS (
  SELECT 'mutant' AS kind, doc_id AS id_a,
         doc_id + {MUTANT_OFFSET} AS id_b
  FROM documents WHERE doc_id % 100 = 0 AND text IS NOT NULL
)
SELECT kind, id_a, id_b, CAST(1 AS INTEGER) AS ok
FROM (SELECT * FROM dups UNION ALL SELECT * FROM mutants)
""",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 SimHash dedup, audited: the full signature + pigeonhole
    blocking + bit_count-verify pipeline runs (``simhash_pairs``), then
    the DECLARED output certifies it against ground truth on two
    SQL-re-derivable row sets —

    - ``kind='dup'``: every exact-duplicate text pair in the audit
      corpus — the mutant corpus plus planted verbatim copies of every
      100th doc (q_dedup_exact's precedent; the fixture has no natural
      duplicates at small sf). DuckDB re-derives these by text
      equality. Identical
      text ⇒ identical signature ⇒ Hamming 0, so the pipeline MUST
      report each such pair at distance 0; ``ok`` certifies it did.
      A within-group join or signature-determinism regression flips it.
    - ``kind='mutant'``: every planted (text, text+suffix) pair.
      DuckDB cannot replay md5 bit votes, but the audit recomputes
      each pair's Hamming through the INDEPENDENT pure-Python
      reference `_simhash64` (_reference_hamming — the scalar
      implementation tests pin the vectorized UDF against) and ``ok``
      certifies the pipeline's verdict agrees: found iff reference
      Hamming ≤ {HAMMING_MAX}. A blocking-completeness regression
      (a ≤{HAMMING_MAX} pair the pigeonhole misses) or a verify
      regression (a beyond-radius pair let through) flips it.

    Precision beyond the planted set is exact by construction (the
    verify stage filters on bit_count of the true signatures); radius
    guarantees and full-corpus recall stay pinned in tests/test_dedup.py.
    """
    # planted ids must clear the natural id domain, or copies/mutants
    # collide with real docs and the audit verdicts corrupt SILENTLY
    # (a natural doc_id >= 1M would alias a mutant id) — fail loudly
    # instead (ADVICE r09); fixture corpora stay far below the offsets
    max_id = spark.table("documents").agg(F.max("doc_id")).first()[0]
    min_offset = min(MUTANT_OFFSET, _COPY_OFFSET)
    if max_id is not None and max_id >= min_offset:
        # ValueError, not assert: stripped under python -O (ADVICE r10)
        raise ValueError(
            f"audit-corpus id collision: max natural doc_id {max_id} >= "
            f"planted offset {min_offset}; raise the offsets above the id "
            f"domain before trusting the audit verdicts"
        )
    copies = (
        spark.table("documents")
        .filter(F.col("doc_id") % 100 == 0)
        .select((F.col("doc_id") + _COPY_OFFSET).alias("doc_id"), "text", "lang")
    )
    audit_corpus = corpus_with_mutants(spark).unionByName(copies)
    pairs = simhash_pairs(spark, audit_corpus).persist()
    # exact-duplicate ground truth: text-equality pairs must be found
    # at hamming 0. The self-join keys on md5 fingerprints
    # (q_dedup_exact's pattern) so the exchange ships 16-byte digests,
    # never document text — equality modulo a ~1e-38 md5 collision,
    # same tolerance the exact-dedup operator declares
    fps = audit_corpus.where(F.col("text").isNotNull()).select(
        "doc_id", F.md5("text").alias("fp")
    )
    t1, t2 = fps.alias("t1"), fps.alias("t2")
    dup_truth = t1.join(
        t2,
        (F.col("t1.fp") == F.col("t2.fp"))
        & (F.col("t1.doc_id") < F.col("t2.doc_id")),
    ).select(
        F.col("t1.doc_id").alias("id_a"), F.col("t2.doc_id").alias("id_b")
    )
    found0 = pairs.filter(F.col("hamming") == 0).select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.lit(1).alias("_found"),
    )
    dup_audit = (
        dup_truth.join(found0, ["id_a", "id_b"], "left")
        .select(
            F.lit("dup").alias("kind"),
            "id_a",
            "id_b",
            F.coalesce(F.col("_found"), F.lit(0)).cast("int").alias("ok"),
        )
    )
    # planted-mutant ground truth: reference-implementation hamming.
    # Null text drops on BOTH sides (the null-row contract): the
    # reference UDF cannot hash None and the pipeline never saw the doc
    planted = (
        spark.table("documents")
        .filter((F.col("doc_id") % 100 == 0) & F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + MUTANT_OFFSET).alias("id_b"),
            _reference_hamming(
                F.col("text"), F.concat(F.col("text"), F.lit(MUTANT_SUFFIX))
            ).alias("ref_hamming"),
        )
    )
    found_m = pairs.select(
        F.col("doc_a").alias("id_a"),
        F.col("doc_b").alias("id_b"),
        F.lit(1).alias("_found"),
    )
    mut_audit = (
        planted.join(found_m, ["id_a", "id_b"], "left")
        .select(
            F.lit("mutant").alias("kind"),
            "id_a",
            "id_b",
            (
                F.coalesce(F.col("_found"), F.lit(0))
                == (F.col("ref_hamming") <= HAMMING_MAX).cast("int")
            )
            .cast("int")
            .alias("ok"),
        )
    )
    return dup_audit.unionByName(mut_audit)
