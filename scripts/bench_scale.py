"""Scale-proof bench: a scale factor's hot queries against their sf0.1 times.

sf0.1 verifies correctness and relative cost; this run checks the
bounded-memory / bucketed-candidate claims empirically at 10x and 100x
the bench scale — a query whose cost curve is secretly quadratic (or
whose state is secretly corpus-sized) shows up here long before a
cluster does.

The scale factor comes from the directory name (``sf1``, ``sf10``),
and picks both the query list (HOT_QUERIES) and the fixture generator
(``scripts/make_sf<N>.py``, run first; it does nothing when the
fixtures exist). The sf0.1 reference is ``BENCH_full.json`` as the last
``python bench.py`` at sf0.1 left it; without one each query prints
"no sf0.1 reference" and is judged on nothing but raising. A query
FAILs when every rep raises or when its time exceeds SLACK x the linear
expectation (10x data => 10x time, with slack for fixed overheads and
superlinear-but-sane stages like sort's log factor).

Writes BENCH_sf<N>.json (untracked) with per-query seconds and the
ratio vs sf0.1, with the same keys as the committed BENCH_sf*_rNN.json.

Run: python scripts/bench_scale.py <sf_dir>   (exit 0 = pass, 1 = fail)
Env: SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyanamo_spark.measure import best_of, scale_factor  # noqa: E402
from pyanamo_spark.registry import load_all  # noqa: E402
from pyanamo_spark.session import get_spark  # noqa: E402

#: scale factor -> (record metric name, queries timed at that scale)
HOT_QUERIES: dict[float, tuple[str, list[str]]] = {
    # the hot LLM-pipeline paths the 100 TB design leans on
    1.0: ("hot_llm_path_sf1_wall_clock", [
        # dedup suite
        "q_dedup_exact", "q_dedup_stats", "q_dedup_lines", "q_dedup_near",
        "q_dedup_simhash", "q_dedup_ngram", "q_dedup_contain", "q_dedup_embed",
        "q_dedup_incremental", "q_dedup_clusters", "q_dup_spans",
        "q_dup_passages", "q_source_overlap",
        # similarity / ANN
        "q_knn_topk", "q_knn_ivf", "q_knn_lsh", "q_knn_quantized",
        # exact bounded-memory percentiles family
        "q_percentiles", "q_equidepth", "q_outliers",
        # curation + text scoring
        "q_curation_funnel", "q_hash_split", "q_chunk_documents",
        "q_tfidf", "q_lm_score",
        # retrieval
        "q_bm25", "q_hybrid_search",
        # iterative graph + incremental maintenance + global-rank folds
        "q_pagerank", "q_mv_refresh", "q_curriculum", "q_gini",
        # within-basket self-join, token-stream window, grid calibration
        "q_basket_rules", "q_bigram_entropy", "q_score_calibrate",
        "q_token_budget",
        # web-ingest chain: expression dedup/extraction + the two
        # bytes-local mapInPandas parser stacks
        "q_dedup_url", "q_html_extract", "q_warc_ingest", "q_pdf_extract",
        # expensive paths whose input tables scale at sf1
        # (lineitem/documents/embeddings; q_table_stats &c read
        # verbatim-copied dims and would ratio trivially): two-pass
        # sufficient-stats CV, doc-word PMI pairing, vocabulary rank
        # fit, triplet mining + audit, and the stored-index lifecycle
        # certification at 10x corpus
        "q_crossval", "q_pmi", "q_zipf", "q_contrastive_pairs",
        "q_index_lifecycle",
    ]),
    # a second data point, so the 100 TB extrapolation interpolates for
    # the worst sf1 scalers, the dedup/ANN family heads and the most
    # expensive sf1 queries
    10.0: ("worst_scalers_sf10_wall_clock", [
        "q_chunk_documents", "q_dedup_ngram", "q_pdf_extract",
        "q_dedup_embed", "q_html_extract",
        "q_dedup_near", "q_dedup_simhash", "q_dedup_clusters",
        "q_contrastive_pairs",
        "q_basket_rules", "q_pmi",
    ]),
}

SLACK = 3.0


def main() -> int:
    if len(sys.argv) != 2:
        raise SystemExit("usage: python scripts/bench_scale.py <sf_dir>")
    sf_dir = Path(sys.argv[1])
    sf = scale_factor(sf_dir)
    if sf not in HOT_QUERIES:
        raise SystemExit(f"no hot-query list for {sf_dir.name}; known: "
                         + ", ".join(f"sf{s:g}" for s in HOT_QUERIES))
    metric, names = HOT_QUERIES[sf]
    subprocess.run(
        [sys.executable, str(REPO / "scripts" / f"make_sf{sf:g}.py"), str(sf_dir)],
        check=True,
    )
    try:
        ref = json.loads((REPO / "BENCH_full.json").read_text())
    except OSError:
        ref = {}
    ref = ref["queries"] if ref.get("sf") == 0.1 else {}
    data_ratio = sf / 0.1
    limit = data_ratio * SLACK

    load_all()
    spark = get_spark(f"pyanamo-spark-bench-sf{sf:g}")
    try:
        run = best_of(spark, str(sf_dir), names, reps=2)
    finally:
        spark.stop()

    timings = {n: round(t, 3) for n, t in run.best.items()}
    failures = []
    for name in names:
        if name not in timings:
            failures.append(name)
            print(f"[FAIL] {name:22s} every rep raised: {run.errors[name]}")
            continue
        best, base = timings[name], ref.get(name)
        ratio = best / base if base else None
        flag = ratio is not None and ratio > limit
        if flag:
            failures.append(name)
        print(
            f"[{'FAIL' if flag else 'OK  '}] {name:22s} {best:7.2f}s"
            + (
                f"  ({ratio:5.1f}x of sf0.1 {base:.2f}s, limit {limit:.0f}x)"
                if ratio is not None
                else "  (no sf0.1 reference)"
            )
        )

    if run.rep_errors:
        print(f"raising reps: {run.rep_errors}")

    out = {
        "metric": metric,
        "unit": "sec",
        "sf": sf,
        "data_ratio_vs_sf0.1": data_ratio,
        "scale_slack": SLACK,
        "value": round(sum(timings.values()), 2),
        "queries": timings,
        "ratio_vs_sf0.1": {
            q: round(t / ref[q], 2) for q, t in timings.items() if ref.get(q)
        },
        "failures": failures,
        "rep_errors": run.rep_errors,
    }
    (REPO / f"BENCH_sf{sf:g}.json").write_text(json.dumps(out, indent=1))
    print(json.dumps({k: out[k] for k in ("value", "failures")}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
