#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan evidence for the headline queries.

Usage: python tools/dump_plans.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    ("s1_scan_pruned_projection", "pushdown + pruning reach the parquet scan"),
    ("j2_broadcast_sentinel", "broadcast hash join, zero shuffle of the fact side"),
    ("j3_range_bucket_join", "range join = broadcast nested loop over a 6-row dim"),
    ("a1_groupby_agg", "two-phase aggregation (map-side combine)"),
    ("w1_running_sum", "per-document windows, no global ordering"),
    ("a2_ordered_concat", "order-preserving concat via in-group sort keys"),
    ("k1_topk_cosine", "rank-limit pushdown (WindowGroupLimit), no full sort"),
    ("dedup_ngram_jaccard", "inverted-index self-join on 8-byte shingle hashes"),
    ("dedup_minhash_lsh", "band-bucket equi-join + verify on candidates only"),
    ("a4_pivot", "explicit pivot values: single pass, no discovery job"),
    ("asof_click_view", "merge-based as-of join: ONE Exchange + ONE Sort, no pair blowup"),
    ("sample_split", "split assignment is a narrow projection at the scan; only the report agg shuffles"),
    ("sessionize_batch", "islands sessionization: one key-partitioned window"),
    ("bm25_search", "term filter below explode; IDF broadcast; rounded-score top-k"),
    ("rollup_revenue", "grouping sets expand + two-phase agg"),
    ("latest_per_key", "CDC compaction: partial+final agg, no per-key sort window"),
    ("interval_ship_join", "equi+range: hash join with residual time predicate"),
    ("ivf_assign_cosine", "broadcast centroid table + per-row window, no shuffle of vectors"),
    ("ta_pii_scrub", "regexp chain fully inside WholeStageCodegen (no Python)"),
    ("small_qty_revenue", "correlated scalar subquery fully decorrelated into agg + join"),
    ("cdc_apply_changes", "CDC MERGE: single max_by partial+final agg, no window"),
    ("zorder_key", "Morton bit math in codegen; only the 1-row bounds agg broadcasts"),
    ("sentence_chunks", "sentence explode-once; <=2 chunk memberships per sentence"),
    ("sessionize_native", "built-in session_window merging aggregate"),
    ("resample_locf", "grid densify via sequence-explode + one LOCF window"),
    ("web_clean", "URL/markup regexp chains fully inside codegen"),
    ("scd2_intervals", "SCD2 historization: lag-collapse + lead window, one shuffle"),
    ("hybrid_search_rrf", "RRF fusion: two k-row shortlists, full-outer join + TakeOrdered"),
    ("order_priority_exists", "EXISTS compiled to LeftSemi, never materializing matches"),
    ("token_pareto", "decile cutpoints via partial percentile agg + broadcast; NO Window"),
    ("histogram_equidepth", "equi-depth buckets with no global sort: percentile + narrow bucketing"),
    ("bpe_pair_counts", "vocab-collapse before pair expansion; TakeOrderedAndProject top-N"),
    ("jl_projection", "literal sign matrix folded into a narrow codegen projection"),
    ("int8_quantize", "per-vector quantization entirely inside codegen, shuffle-free"),
    ("skew_key_report", "skew diagnosis: one partial-combinable agg + constant-size reductions"),
    ("idle_customer_balance", "Q22 class: broadcast 1-row avg + anti join on pre-distinct build side"),
    ("span_dedup", "span hashes built in-array then exploded once: NO per-doc window/sort"),
    ("binary_hamming_topk", "sign-bit ANN: both stages WindowGroupLimit, one qid shuffle"),
    ("graph_pagerank", "per-iteration rank-to-edges equi-join + hash agg; tiny node table broadcast"),
    ("graph_khop", "per-hop frontier-adjacency equi-join + anti-join vs cached visited tiers; no full-graph rescan"),
    ("rendezvous_shard", "HRW argmax is a narrow per-row expression; only the final stats agg shuffles"),
    ("text_normalize", "fold/collapse chain is one codegen projection riding the scan"),
    ("dedup_prefix_filter", "only rarest-prefix postings enter the candidate self-join; exact verify on candidates"),
    ("kmv_distinct", "distinct-on-tag agg + per-group WindowGroupLimit; estimate over <= groups*k rows"),
    ("merkle_diff", "two partial bit_xor summary aggs + tiny fingerprint join; row shuffle only for disagreeing buckets"),
    ("fd_profile", "two partial-combinable aggs per candidate pair; mode via max(count), no windows"),
    ("k_anonymity", "QI-class hash agg + summary fold; class table never leaves executors"),
    ("canary_roundtrip", "md5-selected injection + regexp detection: one narrow codegen projection"),
    ("cusum_changepoints", "max(0,.) recurrence as cumsum - running-min: one per-key window, no UDF"),
    ("seasonal_decompose", "per-key centered-MA window + phase-profile agg broadcast back"),
    ("ta_quality_gopher", "r6: nine Gopher rules in ONE codegen projection — no join, no exchange, no Python"),
    ("dedup_minhash_lsh", "r7: exact-set collapse folds identical docs to one banded rep (star pairs); occupancy cap stays as bucket-partitioned defense"),
    ("training_export_report", "r7: export funnel — WindowGroupLimit dedup, partitioned pack windows, one-row stage aggs"),
    ("pii_report", "r7: five regexp detectors + agg in one codegen projection; single per-source exchange"),
    ("strip_boilerplate", "r7: posexplode -> inventory join -> single groupBy re-assembly; no sort, no global window"),
    ("wordpiece_encode", "r7: vocab-collapsed greedy map-walk; span⋈vocab broadcast, no window/cartesian"),
    ("ccnet_ppl_buckets", "r7: tertile ranks via range-partitioned global_row_number — no per-source window anywhere"),
    ("bradley_terry", "r7: MM rounds checkpoint-truncated; final plan is a tiny ExistingRDD join, not a 6-round chain"),
    ("cross_corpus_lcs", "r7: two-phase hash probes — corpus-wide agg on 8-byte hashes only, text joins on candidates"),
    ("gopher_rule_ablation", "r7: 27 ablation stats in ONE aggregate over the <=512-row mask histogram + a 9-row stack"),
    ("quantile_normalize_approx", "r10: sort-free quantile sketch — the only Sort is the ≤256-row bucket window; pooled range-join broadcasts; per-row mapping is a BroadcastHashJoin on (group, bucket)"),
    ("ivf_tombstone_topk", "r10: tombstone anti-join is a broadcast left_anti on the assigned corpus — no new shuffle vs plain IVF"),
    ("min_k_prob", "r7: broadcast KN model onto the bigram stream; per-doc key-partitioned bottom-k window"),
    ("lang_mix_by_source", "r7: sentence explode -> stateless vote projection -> |sources|x6 cell agg; majority via struct max"),
    ("dedup_incremental_bloom", "r6: broadcast Bloom screen (4 BHJ) gates the anti-join; zero batch-side shuffle before it"),
    ("unigram_lm_train", "vocab-collapse + one per-word Python Viterbi kernel (driver, or mapInPandas above the cap); no windows, no cartesian"),
    ("ks_two_sample", "r6: packed global_prefix_sum CDF walk; range partition, no single-partition window"),
    ("query_expansion", "feedback ids broadcast; TakeOrdered on rounded weight, no global sort"),
    ("record_linkage", "blocked equi-join candidates; literal log-weights in one codegen projection"),
    ("spatial_neighbors", "3x3 cell-neighborhood equi-join bounded by cell occupancy; codegen trig verify"),
    ("cohort_retention", "first-seen agg and join-back share the user_id exchange; cohort sizes broadcast"),
    ("sole_late_supplier", "Q21 class decorrelated: per-order agg + join-back, no EXISTS re-scan"),
    ("ta_perplexity", "LM model broadcast onto the bigram stream; percentile cutpoint broadcast, no sort"),
    ("pricing_summary", "Q1 class: full-scan two-phase agg, every aggregate partial-combinable"),
    ("market_share", "Q8 class: nation dim broadcast twice; conditional numerator folds into ONE partial agg"),
    ("customer_distribution", "Q13 class: LEFT join keeps zero-order customers; two exchanges by construction"),
    ("min_cost_supplier", "Q2 class: supply relation aggregated from the fact table BEFORE any dim join"),
    ("important_parts", "Q11 class: scalar-subquery total joins back as a 1-row broadcast"),
    ("quality_logreg", "logistic quality scoring entirely inside codegen — zero Exchange"),
    ("ngram_novelty", "inverted-index DF join on 8-byte shingle hashes; zero-shingle docs kept via left join"),
    ("embedding_whiten", "2·dim array-slot sums in ONE agg (no explode); whitening narrow, zero Exchange"),
    ("graph_triangles", "ordered-adjacency triangle join (a<b storage = each triangle matched once)"),
    ("hll_distinct", "HLL register file = one partial-combinable max agg; 256 rows/group after it"),
    ("trend_per_user", "per-key OLS via regr_* partial-combinable agg — no window, no fit loop"),
    ("label_spread", "per-round edge-to-label equi-join + count agg + WindowGroupLimit vote"),
    ("temperature_resample", "keep-rate table broadcast back; the per-row keep filter is narrow"),
    ("ewma_smooth", "per-key trailing ROWS window; weight ladder as literals — no recurrence"),
    ("psi_drift", "1-row bounds broadcast + narrow binning + two partial-combinable count aggs"),
    ("ks_drift", "per-group cumulative CDF windows (partitioned, never global)"),
    ("vocab_coverage", "vocabulary cut via TakeOrderedAndProject; vocab side broadcast back"),
    ("semantic_chunks", "explode-once units; ONE per-doc window for lag + boundary cumsum"),
    ("cooccurrence_pairs", "per-key pair self-join bounded by item domain; 1-row key-universe broadcast"),
    ("decay_weighted_value", "snapshot anchor as 1-row broadcast; decay factor in codegen; one agg"),
    ("iqr_outliers", "exact-quartile agg; group-cardinality fence table broadcast back"),
    ("timed_funnel", "three chained min-aggs + key equi-joins; no per-key sort-and-walk"),
    ("dedup_idf_containment", "inverted-index join on shingle hashes; 1-row corpus-size broadcast"),
    ("quota_allocate", "rank window over the GROUP table only (group-cardinality rows)"),
    ("markov_transitions", "one lead window per key + count agg; per-source normalization window"),
    ("hll_sliding_uniques", "sliding distinct via windowed max over the REGISTER table, not raw events"),
    ("sample_weighted_k", "A-ES exponential keys; per-group rank window (WindowGroupLimit)"),
    ("bpe_apply", "merge rules as codegen regexp passes; one agg back to documents"),
    ("timed_funnel", "three chained min-aggs; key equi-joins only"),
    ("bitmap_distinct", "bitmap_construct_agg partial per bucket; exact mergeable distinct"),
    ("try_surface", "error-safe arithmetic entirely inside codegen, zero Exchange"),
    ("eval_auc", "corpus folds to a fixed 1000-bin histogram in ONE partial agg; rank-sum over bins only"),
    ("survival_km", "subjects fold to the distinct-duration table; at-risk/survival windows over time-domain rows"),
    ("silhouette_labels", "k-row centroid broadcast; a/b reduction map-side combines on the point id"),
    ("gini_by_source", "per-source PARTITIONED rank windows; one agg per group"),
    ("assoc_rules", "pair supports via self-join on the basket key (width-bounded fan-out); totals broadcast"),
    ("link_adamic_adar", "two-hop self-join on the middle node with deg<=100 hub cut BEFORE the join"),
    ("eval_mrr_ann", "fixed query panel broadcast; per-qid partitioned rank; corpus never shuffles on content"),
    ("hll_set_users", "set algebra over two 256-row register files; rows scanned once per side"),
    ("bootstrap_mean_ci", "x100 explode folds map-side to n_boot rows/partition; percentile over 100-row table"),
    ("bpe_bytelevel_encode", "ONE regexp_extract_all per scan (bound once); vocab join-back; sentinel-cell doc stats"),
    ("ann_nndescent_recall", "checkpointed graph/vocab leaves; per-qid partitioned ranks; broadcast probe panel"),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from pdf_to_vectordb_etl_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", master="local[8]", shuffle_partitions=8)
    qs = entry.queries()

    out = [
        "# PLANS — physical-plan evidence (generated by tools/dump_plans.py)",
        "",
        f"Plans below are `explain('formatted')` headers + `explain('simple')`",
        f"trees at `{args.sf}`. Regenerate after plan-affecting changes.",
        "",
    ]
    for name, why in HEADLINE:
        df = qs[name](spark, args.sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("simple")
        simple = buf.getvalue().strip()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        formatted = buf.getvalue()
        # keep scan details (pushed filters / read schema) from formatted
        scan_lines = [
            ln
            for ln in formatted.splitlines()
            if "PushedFilters" in ln or "ReadSchema" in ln
        ]
        # iterative ops (pagerank, k-hop BFS) return DataFrames whose
        # lineage nests every persisted tier's full upstream plan via
        # InMemoryRelation — thousands of repeated lines that document
        # nothing (execution reads the caches). Cap the tree; the head
        # holds the operators that matter.
        simple_lines = simple.splitlines()
        if len(simple_lines) > 120:
            simple = "\n".join(simple_lines[:120]) + (
                f"\n... truncated ({len(simple_lines)} lines total: nested"
                " InMemoryRelation lineage of persisted iteration tiers;"
                " runtime reads the caches, not this tree)"
            )
        out.append(f"## {name}")
        out.append(f"*{why}*")
        out.append("")
        out.append("```")
        out.append(simple)
        for ln in scan_lines[:4]:
            out.append(ln.strip())
        out.append("```")
        out.append("")

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
