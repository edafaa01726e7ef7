"""Physical-plan audit: for every declared query, capture
``explain("formatted")`` and grade the plan against the 100 TB design
rules (SURVEY.md §4, the repo's scale contract):

  - scans: is the filter pushed (PushedFilters) and the projection
    pruned (ReadSchema narrower than the table)?
  - joins: did the small side broadcast (BroadcastHashJoin /
    BroadcastNestedLoopJoin) where expected?
  - codegen: are the hot operators inside WholeStageCodegen spans?
  - shuffles: count Exchange nodes — flag queries with more exchanges
    than their shape warrants.

Usage: python scripts/explain_audit.py [sf_dir] [query ...]
Writes PLANS.md with one section per query.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyanamo_spark.registry import QUERIES, load_all
from pyanamo_spark.session import get_spark

#: queries whose shape legitimately needs N exchanges (joins/groupbys);
#: anything above its entry is flagged. Default budget is 2.
EXCHANGE_BUDGET = {
    "q_setops": 12,  # 3 set-ops × re-aggregated branches (static count;
    # ReuseExchange/AQE dedups identical subtrees at runtime — the
    # single-scan rewrite is q_setops_fused)
    "q_pivot": 4,  # Spark's native two-phase pivot: first exchange on
    # (status, priority) partials, second on the already-tiny pivoted
    # intermediate — the conditional-agg single-exchange form is what
    # the oracle uses
    "q_text_stats": 4,  # exact count(distinct) alongside other aggs
    # plans as Expand + two-stage aggregation: 2 extra exchanges are
    # inherent to the distinct rewrite
    "q_lock_protocol": 4,  # the 4-row worker-dim broadcast, ONE
    # itemID-partitioned exchange resolving last-writer-wins, and the
    # two-phase final aggregate whose exchanged rows are W=4 partials
    "q_dedup_near": 6,  # grouped band-bucket emission (one groupBy
    # exchange + the always-planned skew-valve self-join) + pair
    # dedup + the two verify join-backs; r09 adds the planted-mutant
    # audit join, whose exchanged rows are (doc_id, flag) for the
    # n/100 planted docs only
    "q_dedup_simhash": 12,  # sig-group collapse: the distinct-sig
    # aggregate and the within-group join, the broadcast kernel's
    # combo-id repartition (fixture scale is below _BROADCAST_MAX), and
    # the two member expansion joins; every exchanged row is a few
    # longs (sigs, doc ids, combo ids), and the r05 sf1 gate shows the
    # result: 3.6x cost at 10x data where the 2-exchange form was 98x.
    # r09's audit adds the dup-truth text-equality join and the two
    # found-agreement joins (flag-sized rows over the planted set)
    "q_dedup_ngram": 8,  # prefix-filter form (r06): prefix self-join,
    # candidate distinct, and the two verify join-backs; rows are
    # (doc, hash) ids except the verify joins. The price bought the
    # sf1 ratio down from 22.3x to ~5x at 10x data — the d^2 posting
    # blowup was the superlinear term. r07: the df-ranked postings
    # live in the shared persisted ngram_index (the frames
    # q_dedup_contain/q_dedup_clusters build too, prepped
    # pre-partitioned on doc_id so verify joins exchange only
    # candidate ids); the audit
    # now excludes cached-lineage exchanges, so this budget is the
    # live per-run topology
    "q_model_score": 4,  # train-split regr aggregation (two-phase)
    # + the final per-(flag, tree-class) report aggregation; the
    # GROUPS-sized model joins back as a broadcast with no exchange
    "q_bm25": 20,  # the tf subtree is PRINTED thrice (own consumer,
    # each copy now led by the r08 _spread repartition exchange —
    # identical canonical subtrees, so runtime ReuseExchange dedups;
    # df derivation, scored join) — same story as q_tfidf. r12: dl
    # rides the filtered token rows into the tf agg, so the doc-length
    # table survives only under the 1-row stats aggregate and the
    # doc_id length join is gone. Live profile: tf shuffle, df
    # shuffle, doc-length stats agg, final per-query window; the
    # query-vocab semi-join prefilter keeps every exchanged row a
    # (doc, query-term) row
    "q_video_frames": 2,
    "q_capacity_plan": 20,  # one two-phase COUNT aggregate per base
    # table (10 tables; each exchanges a single partial-count row) —
    # the union of 10 single-row plans, not a data-sized shuffle
    # anywhere
    "q_pagerank": 28,  # the damped fixpoint runs 5 FIXED rounds as
    # one lazy plan: each round is an edge⋈rank shuffle + a per-node
    # contribution aggregate (two-phase), and the static print repeats
    # the checkpointed edge/degree scans per consumer. Every exchanged
    # row is (long, long) or (long, double) — 16 bytes; the edge
    # distinct and degree tables are checkpointed once, outside the
    # loop
    "q_transitions": 6,  # per-user lag window + the STATES²-sized
    # transition aggregate (two-phase) + the row-normalizing window,
    # which runs over the bounded transition matrix, not the facts
    "q_kanon": 4,  # two chained aggregations (quasi-identifier groups
    # → per-nation rollup), each two-phase; the first is map-combined
    # and bounded by the quasi-identifier domain
    "q_attribution": 4,  # per-user ordered window (running first/last
    # touch state) + the CHANNELS²-bounded report aggregate
    "q_curriculum": 14,  # r10 lazy global_rank_frame: the rank
    # subtree (range exchange + pid-count agg + triangular offset
    # join) is PRINTED under each of its consumers — identical
    # canonical copies, runtime ReuseExchange reads ONE shuffle
    # (pinned by test_views.test_global_rank_single_range_exchange).
    # Live: the range exchange, the tiny pid aggregates, the
    # rank⋈difficulty join-back, and the 4-row phase aggregate
    "q_gini": 40,  # r10 lazy global_rank_frame: the rank subtree
    # (range exchange + pid aggregates + triangular offset join) is
    # PRINTED once per consumer and the Gini fold reads the rank frame
    # several times — all copies canonicalize identically so runtime
    # ReuseExchange dedups (pinned by
    # test_views.test_global_rank_single_range_exchange). Live: the
    # entity aggregation, ONE range exchange, the tiny pid/offset
    # aggregates, a 1-row broadcast total, and the single-row fold
    "q_autocorr": 4,  # corpus → DAYS-sized daily series aggregation
    # (two-phase); the lag window and final corr singleton run on the
    # bounded series (documented global-window exception)
    "q_streaks": 4,  # distinct (user, day) exchange, the per-user
    # island window, and two entity-bounded aggregations
    "q_dup_by_source": 6,  # digest-only: the corpus+recrawl union is
    # PRINTED for both the per-digest aggregate and the join-back
    # (copies canonicalize; ReuseExchange dedups) — live profile is
    # one (fp) aggregation, a digest-keyed join, and a SOURCES-sized
    # rollup; text never shuffles
    "q_coverage_curve": 8,  # ONE token-stream scan → VOCAB-sized
    # term frequencies (two-phase); total is the sum of that table
    # (subtree printed per consumer), the top-1024 is TakeOrdered +
    # a limit-bounded rank (GLOBAL_WINDOW_OK), and the curve is a
    # 5×1024 range join
    "q_anomaly_seasonal": 6,  # corpus → date×hour observation grid
    # (map-combined two-phase); the 168-cell profile aggregates from
    # the grid (its subtree printed per consumer) and joins back
    # grid-keyed (AQE broadcasts); output is anomalies-sized
    "q_langid_eval": 4,  # zero-shuffle prediction expression →
    # LABELS²-bounded confusion aggregate (two-phase) + the
    # row-normalizing window over that tiny matrix
    "q_session_stats": 4,  # ONE user-partitioned sort powers gap
    # flags and running session ids; the session aggregate reuses the
    # user exchange and the daily readout is DAYS-sized
    # --- r09 second conversion wave: each declared query now runs its
    # production pipeline PLUS an in-engine certification pass, so the
    # static exchange counts include the audit's (metadata-sized) side
    # — every added exchange carries flags/counts, never corpus text
    "q_semantic_prune": 13,  # the IVF quantizer fit (Lloyd assignment
    # aggregates), the centroid-block shuffle feeding the per-block
    # BLAS prune, and r09's audit consumers over the persisted prune
    # output: two copy-agreement joins and the cluster-shape
    # aggregate — all id/flag-sized
    "q_pca_project": 8,  # two BLAS moment passes (fit + projected
    # audit), each a posexplode groupBy over a 73-row partial table,
    # plus the tiny cell joins
    "q_pack_sequences": 12,  # FFD bucket shuffle (persisted), bin
    # totals, bucket fills, and the per-doc flag joins — all over the
    # skinny assignment frame
    "q_knn_quantized": 10,  # int8 stage-1 + rescore windows plus
    # ann_audit's exact brute-force ranking and the query-set-sized
    # agreement join
    "q_token_budget": 8,  # (score, tokens) grid aggregation
    # (two-phase); the ≤101-bucket cumulative window, the 1-row
    # total (its subtree printed per consumer), and the single-row
    # readout
    "q_ltv": 6,  # q_retention's accounting: the user-keyed cohort
    # aggregate (checkpointed, shared by both consumers), the
    # user-keyed purchase join, the cohort-grid revenue aggregate,
    # and the cumulative window + broadcast sizes over that bounded
    # grid
    "q_score_calibrate": 6,  # the (source, score) histogram
    # aggregation (two-phase, grid-sized), the cumulative-ECDF window
    # over that bounded grid, the per-source totals, and the join
    # back onto the scan by (source, score) — no per-document window
    "q_dataset_card": 10,  # three exact count(distinct)s Expand-
    # rewrite into two-phase aggregates (documented HLL swap at the
    # 100 TB tier), plus the value-histogram median and the 1-row
    # dominant-language frame, both broadcast onto the single summary
    # row
    "q_winsorize": 12,  # the exact-percentile machinery's sketch
    # prefilter + spillable-interior passes re-scan the fact per
    # cutoff (same accounting as q_percentiles/q_outliers); the
    # GROUPS-sized cutoff table broadcasts back and the readout is
    # one aggregation
    "q_time_split": 12,  # identical percentile accounting for the
    # 1-row date cutoff; the labeled readout is one aggregation over
    # the scan
    "q_basket_rules": 18,  # the per-basket part-set aggregate is
    # PRINTED three times (the pair emission + both support legs) —
    # copies canonicalize so ReuseExchange dedups at runtime. Live
    # profile: the orderkey part-set aggregate, the in-task pair
    # explode (cost Σ basket², never catalog²), the pair-vocab count
    # aggregate, two ITEM-sized support joins (AQE broadcasts), a
    # 1-row basket total, and the TakeOrdered top-k
    "q_top_paths": 10,  # the assembled-paths subtree is PRINTED per
    # consumer (path counts + the 1-row total); live: the session
    # assembly aggregation, the PATH-VOCAB count aggregate, the
    # broadcast total, and TakeOrdered
    "q_changepoint": 8,  # corpus → DAYS-sized daily aggregation; the
    # series subtree is PRINTED for the stats scalar and the cusum
    # window; live: one aggregation, a 1-row broadcast of mean/σ, the
    # bounded ordered window, and a 1-row TakeOrdered
    "q_vocab_coverage": 4,  # term-frequency aggregation (two-phase,
    # map-combined to VOCAB size) + the K-row TakeOrdered vocabulary;
    # the vocab flag joins back as a broadcast and the readout is a
    # LANGS-sized aggregate — the token stream itself never shuffles
    "q_bigram_entropy": 18,  # r08 _spread repartition (narrow doc
    # rows, spreads the posexplode) + positional token stream → per-doc
    # lag window (one doc-keyed exchange) → bigram-vocab-sized count
    # aggregate, whose subtree is PRINTED per consumer since r10 made
    # the per-language total an aggregate+broadcast (the old
    # partitionBy(lang) window funneled a language's bigram vocab
    # through one task) — identical canonical copies, runtime
    # ReuseExchange dedups; the (lang, prev) context window and the
    # entropy fold run over the bounded count table
    "q_mv_refresh": 8,  # the orders scan subtree is PRINTED per
    # consumer (old image, mutated new image, stored-view aggregate) —
    # copies canonicalize so ReuseExchange dedups at runtime. Live
    # profile: the key-shuffled full-outer diff, the changes-sized
    # delta aggregate, and the GROUPS-sized view merge
    "q_backtest": 4,  # same shape as q_autocorr: corpus → DAYS-sized
    # series aggregation (two-phase); lag window + error fold run on
    # the bounded series
    "q_seasonality": 6,  # one map-combined aggregation to the 168-cell
    # grid (two-phase) plus the 1-row normalizing total, whose subtree
    # the static print repeats per consumer
    "q_degree_stats": 10,  # the distinct-pairs subtree is PRINTED in
    # both histogram legs (copies canonicalize; ReuseExchange dedups
    # at runtime); live: pair distinct, one (key,count) aggregation
    # per side, and the DEGREES-sized histogram fold
    "q_survival": 14,  # the entity min/max aggregate and the
    # DURATIONS-sized death table are each PRINTED per consumer
    # (at-risk window, exhaustion window, running log-sum all read the
    # same subtree) — copies canonicalize so ReuseExchange dedups at
    # runtime; live profile: one entity aggregation, a 1-row censor
    # scalar, and windows over the bounded duration table
    "q_hybrid_search": 32,  # the BM25 leg inherits q_bm25's r08
    # _spread repartition (printed once per tf-subtree copy); the CTE chain (itself
    # print-duplicated, see q_bm25) appears again under the fusion's
    # full-outer join, and the centroid aggregate subtree is PRINTED
    # per consumer — identical copies canonicalize so ReuseExchange
    # dedups at runtime. Live: the q_bm25 profile + posexplode
    # centroid agg + dense window + fusion join; legs are rank frames
    # (query_id, doc_id, r), never text or vectors
    "q_logit_score": 4,  # train-split moment aggregation (two-phase)
    # + the confusion-matrix report aggregation; IRLS re-aggregates
    # per iteration but each pass is the SAME two-exchange shape over
    # the persisted feature frame
    "q_crossval": 14,  # the fold-stats subtree is PRINTED twice (its
    # own consumer + the totals derivation) and the fact is scanned
    # twice (stats pass + residual pass), each pass now led by the r10
    # _spread repartition of the narrow 4-column projection (the md5
    # fold key otherwise computes on the scan's 3 splits) — copies
    # canonicalize so ReuseExchange dedups at runtime. Live: the
    # spread rebalance, one k-row fold-stats shuffle, a singleton
    # totals agg, the broadcast model join, and the final k-row
    # report agg
    "q_drift": 16,  # the (sources x buckets) filled grid feeds four
    # consumers (per-bucket totals, per-source windows, corpus total,
    # PSI fold) and each PRINTS its subtree; all post-scan frames are
    # grid-sized (tens of rows), the corpus is scanned once
    "q_pmi": 24,  # the min-df subtree is PRINTED once per consumer
    # (df join back on both pair sides + the kept semi-join); copies
    # canonicalize so ReuseExchange dedups at runtime. Live: df agg,
    # the doc_id word-set agg with its in-task pair explode, pair-count
    # agg, and the top-k sort — every wide row is a (doc,
    # frequent-word) pair or smaller
    "q_global_ids": 12,  # r10 lazy global_rank_frame over the
    # lineitem scan: the rank subtree (range exchange + pid-count agg
    # + triangular offset join) is PRINTED per consumer — identical
    # canonical copies, runtime ReuseExchange reads ONE shuffle
    # (pinned by test_views.test_global_rank_single_range_exchange).
    # Live: ONE range exchange of the fact plus the tiny pid/offset
    # aggregates
    "q_zipf": 20,  # token-count agg (two-phase, UNPERSISTED r11 — an
    # InMemoryRelation child defeated AQE exchange-stage reuse, giving
    # three independently-sampled range exchanges; uncached, the
    # printed per-consumer copies canonicalize identically) +
    # global_rank_frame's range exchange over the vocabulary + the
    # tiny pid/offset aggregates + the single-row regr fit; the whole
    # agg+rank subtree is PRINTED per consumer (hence the high static
    # count), runtime ReuseExchange reads ONE shuffle — pinned by
    # test_global_rank_consumers_reuse_range_exchange
    "q_ab_test": 4,  # variant aggregation (two-phase) + the 2-row
    # pivot-to-scalars aggregation; everything after the scan is ≤ 2
    # rows
    "q_ks_drift": 8,  # the (source, value) count subtree feeds three
    # consumers (grid join, per-value totals, distinct sources) and
    # each PRINTS it; all post-scan frames are (sources × distinct
    # values)-sized, cumulative windows partition by source
    "q_dedup_contain": 6,  # one-sided prefix join vs full postings +
    # candidate distinct + the two verification joins; wide rows are
    # (doc, shingle-hash) pairs or candidate ids, never text. r07:
    # the prefix pool and doc_id-partitioned corpus come from the
    # persisted ngram_index (its build exchanges sit under cached
    # lineage and are excluded from this count)
    "q_decontaminate": 6,  # bench-side distinct (1) + its broadcast
    # (1) + count-distinct's two-phase Expand aggregation; every
    # exchanged row is an id pair — document text stays map-side
    "q_dedup_incremental": 6,  # three accept rounds, each one groupBy
    # on within-batch fingerprints; rows are 16-byte digests
    "q_repetition": 4,  # two genuine shuffles (distinct-gram counts,
    # then per-doc max/sum), both fed by map-side partial aggregation
    "q_tfidf": 14,  # r08 _spread repartition leads each printed
    # copy; the tf aggregation subtree is PRINTED twice (its
    # own consumer + the df derivation); the two exchanges canonicalize
    # identically so ReuseExchange dedups them at runtime. Live
    # profile: tf shuffle, df term shuffle, singleton corpus count, and
    # the final per-doc window sort; df and n_docs ride back broadcast
    "q_dedup_lines": 10,  # r08 chunk_lines repartition (printed once
    # per consumer lineage — counting agg + removal join both re-derive
    # the chunk explode) + digest-count agg + broadcast removal join +
    # per-doc rebuild groupBy; every wide shuffle row is a 16-byte
    # digest or a per-doc aggregate, never line text
    "q_table_stats": 4,  # four exact count(distinct)s in one agg plan
    # as a single shared Expand with the multi-distinct two-phase
    # rewrite — the extra exchange pair is inherent to exact NDV
    "q_skew_profile": 6,  # the key-count subtree is PRINTED twice
    # (share denominator derivation); copies canonicalize identically
    # so ReuseExchange dedups at runtime. Live: key count agg,
    # singleton totals, TakeOrdered — all post-scan rows are keys
    "q_source_similarity": 8,  # the SOURCES-sized mean-vector subtree
    # is PRINTED twice (self-join sides); copies canonicalize
    # identically so ReuseExchange dedups at runtime. Live: broadcast
    # doc-source join, (source,dim) partial-sum agg, per-source
    # reassembly agg — all downstream rows are SOURCES x d doubles
    "q_sliding_window": 4,  # count(distinct user) alongside plain aggs
    # plans as the two-phase Expand aggregation (q_text_stats
    # precedent): window-key partials, then the distinct merge
    "q_dedup_stats": 4,  # union of two digest rollups, each a genuine
    # two-phase (map-side partial + merge) aggregation
    "q_lm_score": 20,  # r08 _spread repartition leads each of the
    # three printed tf-subtree copies (identical canonical exchanges —
    # runtime ReuseExchange now has a shareable point; sf1 2.5->1.8 s);
    # the tf subtree is PRINTED three times (scored
    # join, term-model derivation, totals derivation); the copies
    # canonicalize identically so ReuseExchange dedups them at runtime
    # (q_tfidf precedent). Live shuffles: tf, term model, singleton
    # totals, final per-doc aggregation; model + totals ride back as
    # broadcasts
    "q_dup_passages": 8,  # position explode -> digest-count agg (2) +
    # digest-keyed hits join (2 sides) + per-doc island window sort +
    # final interval aggregation; every wide row is (doc_id, i, digest).
    # r08: the position table is localCheckpoint'ed (single execution
    # of the tokenize pass) and the pre-explode repartition spreads the
    # gram build across cores — both inside the truncated lineage
    "q_curation_funnel": 12,  # checkpointed numeric flag table feeds
    # the bounded-memory median (sketch agg, below-count agg, interior
    # window sort, pick — its inherent 4-pass shape, cf. q_percentiles)
    # plus the final 1-row rollup; without the checkpoint the composed
    # lineage printed ~90 exchanges
    "q_dup_spans": 12,  # digest-count shuffle + digest-keyed
    # shuffle-hash text recovery (replaced the unbounded broadcast —
    # two more exchanges, bounded memory at any duplication level) +
    # r08's pre-explode repartition, which appears once per consumer
    # lineage (counts + text recovery both re-derive doc_spans; the
    # narrow (doc_id, text) rebalance spreads the CPU-heavy gram build
    # — sf1 8.3 s -> ~5.5 s)
    "q_embed_covariance": 8,  # moment partials (one row per Arrow
    # batch) + coordinate groupBy-sum + three broadcasts of the
    # (1+d+d²)-row moment table slices — all exchanged rows are scalars
    "q_funnel": 4,  # one genuine user-partition exchange feeds both
    # windows AND the per-user rollup (same key, reused); the rest are
    # the singleton funnel-count aggregation
    "q_lang_mix": 4,  # (source,lang) partial agg + window over the
    # aggregate — everything after the first exchange is groups-sized
    "q_outliers": 8,  # two bounded-percentile fits (2 aggs each, run
    # eagerly to GROUPS-sized literal maps) + the final single-scan
    # filter; nothing data-sized shuffles
    "q_percentiles": 4,  # bracket agg + fused stats agg (sketch
    # prefilter + exact verify), each two-phase
    "q_percentiles_approx": 4,  # GK sketch agg (two-phase; the
    # exchange carries per-partition summary blobs) + the in-engine
    # rank-error audit's counting agg (two-phase) after the 3-row
    # sketch result broadcasts back onto the scan — r08 oracle form
    "q_quality_filter": 4,  # global-percentile fit (2 aggs) + one-row
    # broadcast back onto the scoring scan
    "q_source_overlap": 8,  # r08: the distinct-(source, digest) set is
    # localCheckpoint'ed (the self-join legs executed the scan+explode+
    # distinct lineage independently — measured, no ReusedExchange
    # fired), so the printed plan is the pair join + final pair groupBy
    # over the checkpointed rows — all digest- or catalog-sized
    "q_equidepth": 4,  # global-percentile fit (2 aggs, eager) + the
    # tiny per-bucket rollup after the single bucketing scan
    "q_mixture_weights": 4,  # source count agg (two-phase) + the
    # global-partition window over the SOURCES-sized aggregate — the
    # single-partition exchange holds ~|sources| rows, never data
    "q_bloom_join": 12,  # the Bloom word-table subtree is PRINTED once
    # per probe (k=3); the copies canonicalize identically so
    # ReuseExchange builds/broadcasts it once at runtime (verified:
    # executedPlan shows 2 ReusedExchange). Live profile: word agg,
    # the forced sort-merge join's two sides, final 3-group agg — the
    # fact shuffles only Bloom survivors
    "q_salted_join": 6,  # the DEMO forces a sort-merge join (its two
    # shuffle sides carry (key, salt)) + the two-phase final segment
    # aggregation; with broadcast allowed the salt demo would be
    # vacuous
    "q_min_cost_supplier": 4,  # single fact aggregate on (partkey,
    # suppkey) + the supply-sized MIN-winner window repartition on
    # partkey + the final two-phase agg; dims all broadcast
    "q_excess_suppliers": 6,  # single fact aggregate + supply-sized
    # half-of-total window on partkey + dominant-supplier distinct
    # (two-phase) riding back as a semi-join broadcast
    "q_important_stock": 4,  # single fact aggregate checkpointed
    # parts-sized; the 1-row total and the threshold filter both read
    # the materialized rows (no second fact pass)
    "q_resample": 4,  # fact bucket agg checkpointed grid-sized; grid
    # generation, gap join, and LOCF window all run on the
    # materialized buckets (series-partitioned window, slots-bounded)
    "q_join_cardinality": 6,  # two genuine key-count aggregations
    # (each two-phase with map-side combine) + their keys-sized join;
    # the 1-row rollup rides the join's partitioning — that IS the
    # pre-flight's entire cost, by design far below the join it prices
    "q_funnel_latency": 12,  # the bounded-memory percentile fit's
    # inherent multi-pass shape (sketch bracket agg + fused verify,
    # cf. q_percentiles) over the CHECKPOINTED users-sized latency
    # frame, plus the 1-row count — the fact folds once into the
    # first-touch aggregation; everything after is users-sized
    "q_anomaly": 4,  # fact→(series, slot) two-phase aggregation +
    # the grid-sized rolling-window repartition on series — the
    # q_resample shape with a band filter on top
    "q_retention": 6,  # user-keyed first-seen agg (checkpointed
    # users-sized, feeds both consumers), (user, day) distinct
    # two-phase, cohort×offset agg; cohort sizes broadcast back
    "q_contrastive_pairs": 25,  # checkpointed positive pairs feed the
    # slot fan-out + both anti-join orientations without re-running
    # the LSH pipeline; live shuffles: band self-join (2, band-id
    # rows), shingle join-backs on doc_id (2), rank-table range
    # exchange, negative-rank join, accidental-positive anti-join —
    # each exchanged row is ids/digests, never document text. r09's
    # audit adds the persisted-triplet consumers: the planted exact-
    # shingle verdict join, the no-false-negative self-semi-join (both
    # orientations), and the slot-distinctness aggregate — all over
    # the triplets/planted frames (ids + flags), never corpus text
    "q_overlap_estimate": 12,  # r12: the sketch leg and the exact
    # matrix both read the ONE checkpointed (source, gram_hash) table
    # (the corpus tokenize pass runs once, at checkpoint build, outside
    # the printed plan); live: sources-sized sketch agg + its C(n,2)
    # cross join, the digest self-join pair matrix, the map-side
    # word-count agg (no exploded-word exchange), and the sources-sized
    # flag join — everything data-sized happens in the checkpoint
    "q_snapshot_diff": 4,  # CDC's full-outer join cannot broadcast
    # either side by semantics — its two key exchanges are the plan;
    # the derived "new" state is a union read off the same scan (the
    # demo's construction, not the operator's cost)
    "q_bpe_encode": 6,  # (doc, word) count agg + distinct-word agg
    # (each genuinely two-phase) + the final per-doc stats agg; the
    # chained merge folds are all inside the distinct-word projection
    # — token arrays never shuffle, and at fixture scale the encoded
    # word table broadcasts back (at 100 TB it shuffle-joins on the
    # word key, still only (doc_id, word, counts) rows)
    "q_error_context": 4,  # count(distinct action) alongside the pair
    # count plans as the two-phase distinct rewrite (q_text_stats
    # precedent) after the interval join; at fixture scale the errors
    # side auto-broadcasts, at 100 TB both sides shuffle on user_id
    # once — the streaming twin bounds the same state by watermark
    "q_state_join": 3,
    "q_join_equi": 3,
    "q_knn_topk": 3,  # window over scored pairs
    "q_knn_ivf": 10,  # index BUILD (assignment + per-cluster Lloyd
    # mean) fused inline with the search for the declared query;
    # assignment itself is shuffle-free mapInPandas since the centroid
    # model rides into tasks as a numpy constant. Production builds
    # once, stores assignments as the partition key, and the search
    # plan alone is 3 exchanges. r09: the declared output is the
    # ann_audit certification, which adds the exact_topk ground-truth
    # pass (window + agg) and the K-rows-per-query audit join/agg —
    # every added exchange is query-set-sized (K x N_QUERIES rows),
    # never corpus-sized
    "q_knn_lsh": 10,  # 3 for the bucketed search; the rest is the
    # same ann_audit shape as q_knn_ivf (exact ground truth + tiny
    # audit join), all K x N_QUERIES-sized
    "q_approx_distinct": 4,  # the HLL estimate and the exact
    # count-distinct certification aggregate plan as two two-phase
    # aggs over one token explode; the audit's exact pass is the
    # declared certification cost (library approx_vocab stays 2)
    "q_custdist": 4,  # orders pre-agg + final distribution agg (over
    # an already customer-cardinality input) + 2 broadcasts
    "q_idle_customers": 4,  # cohort-avg scalar (exchange + 1-row
    # broadcast) + anti-join broadcast + final group agg
    "q_supplier_parts": 4,  # count-distinct plans as two-phase
    # aggregation (2 exchanges) like q_text_stats, + broadcast + final
    "q_top_supplier": 5,  # the persisted revenue aggregate's build
    # plan (1 exchange) is PRINTED under both of its InMemoryRelation
    # reference sites; at runtime the cache builds once and the live
    # exchanges are: revenue groupBy, singleton max, 2 broadcasts
    "q_small_qty_revenue": 5,  # same cache double-print: the persisted
    # part-filtered fact slice appears under both the threshold agg and
    # the final compare; live exchanges: partkey groupBy, singleton
    # final agg, broadcasts
}


#: per-query prose notes emitted into PLANS.md: design-budget records
#: the STATIC plan cannot show (iterative round counts, shared-cache
#: cost attribution) — VERDICT r06 item 6 asks for the diameter
#: argument on record.
PLAN_NOTES = {
    "q_dedup_clusters": (
        "Iterative operator: the printed plan is only the final label "
        "select — connected components runs min-label propagation at "
        "ONE shuffle per round with rounds = pair-graph DIAMETER. "
        "Duplicate graphs are near-cliques: the mutant corpus "
        "converges in 1 round past the seeded neighbor-min aggregate "
        "(diameter <= 2), so the round budget is 2-3 shuffles over a "
        "(long, long) edge list. If a corpus ever measures deeper "
        "(propagation still changing after 5 rounds), the operator "
        "auto-escalates to alternating large-star/small-star with an "
        "O(log n) round bound (dedup/clusters.py). The input pair "
        "graph is q_dedup_ngram's verified_ngram_pairs frame, persisted "
        "on every call; in a session that does not clear the cache "
        "between family queries, Spark's cache manager serves the "
        "rebuilt identical plan from that data, so candidates+verify "
        "run once. BENCH numbers are per-query COLD by harness design "
        "(bench.py clearCache()s between queries), so the archived "
        "clusters figure includes one full index build + pair "
        "generation + CC."
    ),
    "q_dedup_ngram": (
        "Every family call persists the shared ngram_index frames "
        "(tokenized corpus + FAMILY_MIN_T prefix pool) and q_dedup_ngram "
        "also persists the verified (doc_a, doc_b, jaccard) pair frame "
        "(output-sized — q_dedup_clusters closes the same pairs into "
        "components). Spark's cache manager shares that data between "
        "calls that do not clear the cache, so without a clearCache "
        "the first of the three to run pays the ~one build (r08: "
        "family total at sf1 measured 66 s -> ~34 s; contain "
        "additionally prunes candidates with the exact container-size "
        "bound |B| >= ceil(T*|A|))."
    ),
}


def cached_node_ranges(plan: str) -> list[tuple[int, int]]:
    """(lo, hi] node-id spans of cached subtrees in a formatted plan.

    An ``InMemoryRelation (r)`` prints its cached lineage as the next
    tree line's subtree — formatted node numbering is one global
    sequence, so the cached subtree occupies exactly the ids in
    ``(r, child_id]``. Indentation can't be used instead: nested AQE
    plans inside a cached relation print their own "Final Plan" blocks
    at SHALLOWER columns than the relation node."""
    ranges: list[tuple[int, int]] = []
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        m = re.search(r"InMemoryRelation \((\d+)\)", ln)
        if m and i + 1 < len(lines):
            m2 = re.search(r"\((\d+)\)\s*$", lines[i + 1])
            if m2:
                ranges.append((int(m.group(1)), int(m2.group(1))))
    return ranges


def count_exchanges(plan: str) -> int:
    """Exchange mentions OUTSIDE cached subtrees (tree + details lines,
    matching the historical budget calibration).

    A persisted frame's lineage executes at most ONCE — at cache
    materialization — but the formatted explain prints it under every
    consumer, so counting its exchanges charges the build N times per
    query and double-charges every query reusing a shared cache."""
    ranges = cached_node_ranges(plan)

    def cached(k: int) -> bool:
        return any(lo < k <= hi for lo, hi in ranges)

    ids = [
        int(m.group(1) or m.group(2))
        for m in re.finditer(
            r"(?<![A-Za-z])Exchange \((\d+)\)|\((\d+)\) Exchange\b",
            plan,
        )
    ]
    return sum(1 for k in ids if not cached(k))




#: queries allowed to HASH-partition a raw document text column —
#: empty by design: every hash shuffle (join/groupBy keying) in the
#: suite carries digests/ids, and full text rides only round-robin
#: rebalance exchanges (session.spread before a CPU-heavy stage).
#: A name lands here only with a written justification.
TEXT_HASH_EXCHANGE_OK: set[str] = {
    # the fixture-building repartition("chunk_id") co-locates each
    # WARC chunk's docs before the pack UDF — a one-pass keyed
    # rebalance of the raw corpus (same cost class as spread's
    # round-robin), not a candidate/join shuffle; the parse side
    # exchanges only (chunk_id, payload) blobs
    "q_warc_ingest",
}


def text_hash_exchanges(plan: str) -> list[int]:
    """Node ids of non-cached Exchanges that HASH-partition rows
    carrying a raw document ``text`` column.

    This is the shuffle-payload audit for the dedup family's design
    claim (dedup/minhash.py: candidate shuffles carry only digest/id
    columns): a regression that drags full text through a band/bucket
    or verify join turns a 16-byte/row exchange into a KB/row one —
    invisible at sf0.01, fatal at 100 TB. Round-robin repartitions
    (session.spread) are exempt: they deliberately rebalance the raw
    corpus BEFORE tokenization and their cost is the linear scan
    itself, not a join blowup."""
    ranges = cached_node_ranges(plan)

    def cached(k: int) -> bool:
        return any(lo < k <= hi for lo, hi in ranges)

    bad: list[int] = []
    for m in re.finditer(
        r"\((\d+)\) Exchange\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        node, block = int(m.group(1)), m.group(2)
        if cached(node):
            continue
        if "hashpartitioning" not in block:
            continue
        inp = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
        if inp and re.search(r"(?<![A-Za-z_])text#\d+", inp.group(1)):
            bad.append(node)
    return bad


#: queries allowed an UNPARTITIONED window (empty partition spec —
#: WindowExec funnels the frame through ONE task): each entry must
#: run the window over a frame BOUNDED BY CONSTRUCTION (an aggregate
#: grid, a top-k result, a domain-sized matrix), never a data-sized
#: one. A name lands here only with the boundedness argument written
#: next to it; anything else is a flag (VERDICT r09 item 4).
GLOBAL_WINDOW_OK: dict[str, str] = {
    "q_autocorr": "lag window over the DAYS-sized daily aggregate "
    "(date-domain-bounded, not data-sized)",
    "q_backtest": "same shape as q_autocorr: lag + error fold over "
    "the DAYS-sized series",
    "q_changepoint": "cusum running window over the DAYS-sized "
    "daily series",
    "q_dataset_card": "histogram_percentiles cumulative-rank window "
    "over the DISTINCT-VALUE histogram of a bounded measure (score "
    "buckets; the helper's documented precondition, "
    "functions/quantiles.py:62)",
    "q_quality_filter": "histogram_percentiles over bounded-"
    "cardinality quality scores (functions/quantiles.py:62)",
    "q_mixture_weights": "cumulative window over the SOURCES-sized "
    "per-source aggregate",
    "q_survival": "at-risk/exhaustion windows over the DURATIONS-"
    "sized death table (day-granular tenure domain)",
    "q_token_budget": "cumulative window over <=101 rounded "
    "stopword-ratio buckets (ratio in [0,1] rounded to 2 decimals)",
    "q_pmi": "rank over the PMI_TOP(=20)-row TakeOrdered result — "
    "limit-bounded by construction; the distributed work is the "
    "top-k itself",
    "q_coverage_curve": "rank over the top-1024 TakeOrdered result — "
    "limit-bounded by construction",
}


def _top_level_groups(s: str) -> list[str]:
    """Top-level ``[...]`` group bodies in a Window Arguments line."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


def _is_unpartitioned(groups: list[str]) -> bool:
    """Formatted Window Arguments print [exprs] then, when present,
    [partitionSpec] then [orderSpec] — either trailing group may be
    absent. A partition spec never carries sort direction markers; an
    order spec always does, one per column."""
    if len(groups) >= 3:
        return not groups[1].strip()
    if len(groups) == 2:
        # the second group is an ORDER spec (no partition) iff it
        # reads as sort expressions
        return bool(re.search(r"\b(ASC|DESC) NULLS", groups[1]))
    return True  # exprs only: no partition, no order


def global_window_nodes(plan: str) -> list[int]:
    """Node ids of non-cached Window operators with an EMPTY partition
    spec."""
    ranges = cached_node_ranges(plan)

    def cached(k: int) -> bool:
        return any(lo < k <= hi for lo, hi in ranges)

    bad: list[int] = []
    # plain Window nodes only: WindowGroupLimit prints two bracket
    # groups whether or not it partitions, and the real Window node
    # always follows it anyway
    for m in re.finditer(
        r"\((\d+)\) Window\n((?:(?!\(\d+\) ).*\n?)*)", plan
    ):
        node, block = int(m.group(1)), m.group(2)
        if cached(node):
            continue
        arg = re.search(r"Arguments: (.*)", block)
        if arg and _is_unpartitioned(_top_level_groups(arg.group(1))):
            bad.append(node)
    return bad


def audit_plan(name: str, plan: str) -> list[str]:
    flags: list[str] = []
    if name not in TEXT_HASH_EXCHANGE_OK:
        leaky = text_hash_exchanges(plan)
        if leaky:
            flags.append(
                f"FLAG: raw text hash-shuffled at Exchange node(s) "
                f"{leaky} — candidate shuffles must carry digests/ids"
            )
    if name not in GLOBAL_WINDOW_OK:
        gw = global_window_nodes(plan)
        if gw:
            flags.append(
                f"FLAG: unpartitioned window at node(s) {gw} — the "
                f"frame funnels through one task; two-level rank "
                f"(global_rank_frame) or a written boundedness "
                f"argument in GLOBAL_WINDOW_OK required"
            )
    n_exchange = count_exchanges(plan)
    budget = EXCHANGE_BUDGET.get(name, 2)
    if n_exchange > budget:
        flags.append(f"FLAG: {n_exchange} exchanges (budget {budget})")
    # all-pairs smell: an unbroadcast cross product means NEITHER side
    # was bounded — the genuine big-by-big disaster shape. (Broadcast
    # nested-loop joins are not flagged: their build side is by
    # construction under the broadcast threshold — the scalar-total
    # cross pattern 31 queries legitimately use.)
    if "CartesianProduct" in plan:
        flags.append("FLAG: cartesian product (big-by-big all-pairs)")
    # row-at-a-time Python UDFs are the forbidden slow path; Arrow
    # batched forms (ArrowEvalPython, mapInPandas, FlatMapGroupsIn
    # Pandas) are the sanctioned ones
    if "BatchEvalPython" in plan:
        flags.append("FLAG: row-at-a-time Python UDF (BatchEvalPython)")
    if "SortMergeJoin" in plan and "broadcast" in name:
        flags.append("FLAG: expected broadcast join, got sort-merge")
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    for cols in scans:
        n_cols = len(cols.split(",")) if cols else 0
        if n_cols > 12:
            flags.append(f"FLAG: scan reads {n_cols} columns — prune?")
    # formatted explain marks codegen'd operators with a '*' prefix;
    # AQE-wrapped plans (isFinalPlan=false) hide them until execution,
    # so the check only applies to non-adaptive plans
    has_codegen = bool(re.search(r"^\s*[+:]?-?\s*\* ", plan, re.M)) or (
        "WholeStageCodegen" in plan
    )
    if (
        not has_codegen
        and "InPandas" not in plan
        and "AdaptiveSparkPlan" not in plan
        # a driver-model readout (eager lifecycle/audit flags emitted
        # as a local relation) has no data-sized operators to codegen;
        # any plan that also touches real data wraps in
        # AdaptiveSparkPlan and is judged above
        and "LocalTableScan" not in plan
    ):
        flags.append("FLAG: no whole-stage-codegen operators")
    return flags


def tree_only(plan: str) -> str:
    """Keep the operator tree; drop the per-node detail sections
    (they run to hundreds of lines for sketch aggregates)."""
    cut = plan.find("\n(1)")
    return plan[:cut] if cut != -1 else plan


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    load_all()
    names = args[1:] or sorted(QUERIES)
    spark = get_spark("plan-audit")
    sections = []
    flagged = 0
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        flags = audit_plan(name, plan)
        flagged += bool(flags)
        status = "; ".join(flags) if flags else "ok"
        print(f"[{'FLAG' if flags else 'ok  '}] {name}: {status}")
        note = PLAN_NOTES.get(name)
        body = f"{status}\n\n{note}" if note else status
        sections.append(
            f"## {name}\n\n{body}\n\n```\n{tree_only(plan).strip()}\n```\n"
        )
    Path("PLANS.md").write_text(
        "# Physical-plan audit (explain formatted)\n\n"
        f"sf_dir: {sf_dir}; {flagged} of {len(names)} queries flagged.\n\n"
        + "\n".join(sections)
    )
    print(f"\n{flagged} of {len(names)} flagged; full plans in PLANS.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
