#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is forced with a cheap count/collect so the timed span covers
scan -> transform -> action. Value = total wall seconds across queries.

Output order: first ONE short summary line (distinct metric name,
``headline_queries_total_wall_summary``), then the full contract line
LAST, because a parser reads the last stdout line. The complete record
is also written to ``BENCH_FULL_c<cpus>.json`` next to this file, one
file per core count, so an 8-core run never overwrites a 32-core
record and a tail-truncated capture can always be reconstructed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as entry
    from pdf_to_vectordb_etl_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")

    # warm up JVM + parquet footers + the Python worker pool so the
    # first timed query measures the query, not session startup
    for t in ("lineitem", "documents", "embeddings", "events"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.range(int(cpus) * 4).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # fixed-work calibration probe: the noise verdict below catches a
    # BURSTY box (min << median) but not a UNIFORMLY slow one (every
    # run inflated alike — bit the r3 AND r4 driver benches). This
    # scalar is the same work every round — a JVM-side range-sum and a
    # fixed parquet scan+agg — so a later judge divides any query time
    # by (calibration_s / its historical ~baseline) to adjudicate
    # contention without re-running. best-of-3, same policy as queries.
    def _calibrate() -> float:
        runs = []
        for _ in range(3):
            t0 = time.time()
            spark.range(500_000_000).selectExpr("sum(id)").collect()
            spark.read.parquet(f"{sf_dir}/lineitem.parquet").selectExpr(
                "sum(l_extendedprice * (1 - l_discount))", "count(*)"
            ).collect()
            runs.append(time.time() - t0)
        return round(min(runs), 3)

    calibration_s = _calibrate()
    print(f"# calibration_s: {calibration_s}", file=sys.stderr)

    # headline set: one per operator family, heaviest variants included
    names = [
        "a1_groupby_agg",          # scan+agg (TPC-H Q1 class)
        "star_shipping_priority",  # 3-way star join + top-10 (Q3 class)
        "star_region_volume",      # 6-table snowflake join (Q5 class)
        "j2_broadcast_sentinel",   # broadcast lookup join
        "j3_range_bucket_join",    # range join
        "w1_running_sum",          # window
        "a2_ordered_concat",       # order-preserving concat
        "a4_pivot",                # pivot stats
        "k1_topk_cosine",          # vector top-k
        "dedup_exact",             # hash dedup
        "dedup_minhash_lsh",       # minhash LSH near-dup
        "dedup_ngram_jaccard",     # inverted-index jaccard
        "dedup_embedding_cosine",  # embedding near-dup
        "ta_quality",              # text analysis
        "ta_langid",               # language id
        "asof_click_view",         # merge-based as-of join
        "sessionize_batch",        # gap sessions (islands)
        "bm25_search",             # lexical relevance top-k
        "sample_split",            # deterministic split + report
        "curation_repetition",     # gram repetition signals
        "curation_contamination",  # benchmark 8-gram overlap
        "kmeans_centroids",        # iterative Lloyd clustering
        "small_qty_revenue",       # correlated subquery (Q17 class)
        "sentence_chunks",         # RAG sentence-window chunking
        "span_dedup",              # corpus duplicated-span removal
        "exact_substr_dedup",      # char-level ExactSubstr dedup
        "binary_hamming_topk",     # 1-bit sign ANN + rerank
        "graph_pagerank",          # iterative graph centrality
        "pricing_summary",         # full-scan pricing report (Q1 class)
        "hll_distinct",            # portable HLL sketch vs exact
        "ngram_novelty",           # inverted-index novelty scoring
        "trend_per_user",          # per-key OLS (regr_* aggregates)
        "ewma_smooth",             # trailing-window EWMA
        "semantic_chunks",         # embedding-drift chunking
        "merkle_diff",             # anti-entropy snapshot reconcile
        "kmv_distinct",            # KMV bottom-k distinct sketch
        "rendezvous_shard",        # HRW sharding + movement stats
        "text_normalize",          # portable fold/collapse normalize
        "fd_profile",              # functional-dependency profiling
        "seasonal_decompose",      # classical MA trend/seasonal split
        "eval_auc",                # binned distributed ROC AUC
        "silhouette_labels",       # centroid silhouette (O(n*k))
        "assoc_rules",             # market-basket support/conf/lift
        "hll_set_users",           # sketch set algebra (union/Jaccard)
        "cdc_chunks",              # content-defined chunking (r5)
        "blocklist_hits",          # broadcast multi-pattern matcher (r5)
        "ddsketch_quantiles",      # mergeable quantile sketch (r5)
        "equi_depth_bins",         # distributed exact ntile (r5)
        "adaboost_stumps",         # boosted stumps, one-pass histogram (r5)
        "skyline_pareto",          # Pareto frontier, sorted-scan (r5)
        "mann_whitney_u",          # rank-sum via global prefix sums (r5)
        "rouge_l",                 # tiered wavefront LCS DP (r5, r6 numpy tier)
        "ta_quality_gopher",       # full Gopher rule gate, one projection (r6)
        "unigram_lm_train",        # unigram-LM tokenizer training (r6)
        "dedup_incremental_bloom", # Bloom-screened ingest dedup (r6)
        "pass_at_k",               # integer-exact pass@k estimator (r6)
        "curation_pipeline_report",# flagship curation funnel (r6, benched r7)
        "ta_kneser_ney",           # interpolated KN bigram LM scoring (r6)
        "ks_two_sample",           # exact two-sample KS via prefix sums (r6)
        "ccnet_ppl_buckets",       # CCNet tertile staging over KN scores (r7)
        "wordpiece_encode",        # greedy WordPiece apply, vocab-collapsed (r7)
        "bradley_terry",           # integer-grid MM preference fit (r7)
        "knn_shapley",             # exact K-NN Shapley data valuation (r7)
        "pca_top_component",       # integer power-iteration PCA (r7)
        "heavy_hitters_mg",        # Misra-Gries screened exact HH (r7)
        "krippendorff_alpha",      # variable-rater agreement (r7)
        "training_export_report",  # flagship export composition (r7, benched r8)
        "source_health_report",    # per-source health dashboard (r7, benched r8)
        "bpe_bytelevel_train",     # byte-level BPE training (r8)
        "bpe_bytelevel_encode",    # byte-BPE encode + round-trip audit (r8)
        "ann_nndescent_recall",    # NN-descent graph ANN + beam probe (r8)
        "ann_incremental_assign",  # graph ANN upsert-time ingest (r9)
        "sq8_recall",              # int8 storage-quality gate (r9)
        "t41_stream_bytebpe_fertility",  # live byte-BPE economics (r9)
        "ann_graph_drift",         # graph-ANN drift report (r10)
        "ann_tombstone_search",    # tombstone-aware graph serving (r10)
        "quantile_normalize_approx",  # sort-free quantile sketch (r10)
        "ivf_compact_rebuild",     # compaction execution, IVF (r10b2)
        "curriculum_batches",      # global-order training schedule (r10b2)
        "enem_questions" if "enem_questions" in entry.queries() else "ta_fingerprint",
    ]
    qs = entry.queries()
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    # best-of-3 per query: the box hosting local[32] is shared, and a
    # single co-scheduled burst can triple one query's wall time; min
    # over three runs measures the plan, not the neighbor. The median is
    # ALSO reported so a round-over-round delta is self-diagnosing:
    # min << median means scheduler noise, min ~= median means the plan.
    for name in names:
        if name not in qs:
            continue
        runs, n = [], 0
        for _ in range(3):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            n = df.count()
            runs.append(time.time() - t0)
        runs.sort()
        timings[name] = round(runs[0], 3)
        medians[name] = round(runs[len(runs) // 2], 3)
        print(
            f"# {name}: {n} rows in {timings[name]}s"
            f" (median {medians[name]}s)",
            file=sys.stderr,
        )

    # flagship entry() on its pinned sf
    t0 = time.time()
    entry.entry(spark).collect()
    timings["entry_flagship"] = round(time.time() - t0, 3)

    total = round(sum(timings.values()), 3)
    # noise verdict: per query, min << median means a co-scheduled
    # burst inflated some runs (box contention); min ~= median means
    # the number measures the plan. A noisy box produces many noisy
    # queries at once, so the count is the one-line adjudicator a
    # later reader needs before believing any regression.
    noisy = sum(
        1
        for k, m in medians.items()
        if timings[k] > 0.05 and m > 1.5 * timings[k]
    )
    verdict = (
        "clean (min~=median; numbers measure the plans)"
        if noisy <= max(2, len(medians) // 10)
        else f"NOISY box ({noisy}/{len(medians)} queries with median>"
        "1.5x min; re-run before believing regressions)"
    )
    print(f"# noise verdict: {verdict}", file=sys.stderr)
    record = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "noise_verdict": verdict,
        "noisy_query_count": noisy,
        "calibration_s": calibration_s,
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
    }
    # the full contract line is ~4.5k chars and a stored capture may
    # keep only a 2000-char stdout tail, so the complete record is also
    # persisted per core count, and a SHORT summary line (distinct metric
    # name, so a parser keyed on the real metric ignores it) goes first.
    full_name = f"BENCH_FULL_c{cpus}.json"
    try:
        full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), full_name)
        with open(full_path, "w") as fh:
            json.dump(record, fh, indent=1)
    except OSError:
        full_path = None
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_summary",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "calibration_s": calibration_s,
                "noise_verdict": verdict,
                "noisy_query_count": noisy,
                "sf": record["sf"],
                "full_record": full_name if full_path else None,
            }
        )
    )
    print(json.dumps(record))


if __name__ == "__main__":
    main()
