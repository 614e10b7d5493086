"""Physical-plan regression pins: pushdown, broadcast, rank-limit.

A correct-but-badly-planned operator is a scale bug; these tests pin
the plan shapes that make the 100 TB story true (predicate/projection
pushdown to the scan, broadcast instead of shuffle joins for small
sides, WindowGroupLimit for top-k, partial aggregation)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import __spark_entry__ as entry


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _q(spark, sf_dir, name):
    return entry.queries()[name](spark, sf_dir)


def test_scan_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "s1_scan_pruned_projection"))
    assert "LessThan(l_shipdate" in plan and "GreaterThan(l_quantity" in plan
    # projection pruned: comment/shipinstruct columns never read
    assert "l_comment" not in plan and "l_shipinstruct" not in plan


def test_broadcast_joins_not_shuffle(spark, sf_dir):
    for name in ["j2_broadcast_sentinel", "j4_derived_key_join"]:
        plan = _plan(_q(spark, sf_dir, name), "simple")
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_topk_uses_window_group_limit(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "k1_topk_cosine"), "simple")
    # rank-limit pushdown: per-partition top-k before the final sort,
    # never a full global sort of all similarities
    assert "WindowGroupLimit" in plan


def test_partial_aggregation(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "a1_groupby_agg"), "simple")
    # two HashAggregate phases around one Exchange = map-side combine
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_dedup_joins_on_hashes_not_strings(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "dedup_ngram_jaccard"))
    # the self-join key is the xxhash64 of the shingle, not the string
    assert "xxhash64" in plan
    # no quadratic fallback
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_join_broadcasts_dim(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "j3_range_bucket_join"), "simple")
    # tiny dim side broadcast; the nested-loop is against 3 rows only
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_topn_per_group_rank_limit_and_asof_single_exchange(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "topn_per_group"), "simple")
    assert "WindowGroupLimit" in plan  # <=3 rows leave each partition
    plan = _plan(_q(spark, sf_dir, "asof_click_view"), "simple")
    # merge-based as-of join: exactly one shuffle + one sort
    assert plan.count("Exchange") == 1 and plan.count("Sort") == 1


def test_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "semi_anti_orders"), "simple")
    # EXISTS compiles to semi/anti joins, never an aggregate+inner join
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_interval_join_stays_hash_join(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "interval_ship_join"), "simple")
    # equi key carries the join; the time range must be a residual
    # predicate on a hash join, never a nested-loop range join
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_top_terms_uses_take_ordered(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "ta_top_terms"), "simple")
    # limit rides the sort: per-partition top-20 merged on the driver,
    # no global sort of the vocabulary
    assert "TakeOrderedAndProject" in plan


def _resolved_hint_subtrees(df):
    """Subtree strings of every ResolvedHint node in the analyzed plan
    (forced hints only — AQE's own runtime broadcast choices are not
    hints and don't appear here)."""
    def walk(node, out):
        if node.nodeName() == "ResolvedHint":
            out.append(node.toString())
        kids = node.children()
        for i in range(kids.length()):
            walk(kids.apply(i), out)
        return out

    return walk(df._jdf.queryExecution().analyzed(), [])


def test_no_forced_broadcast_of_unbounded_sides(spark, sf_dir):
    """Scale pin: broadcast hints may wrap only bounded relations
    (region 5 rows, nation 25 rows, single-row scalar aggregates).
    orders/customer/supplier/lineitem grow linearly with SF, and the
    dedup per-doc count / per-term dfreq tables grow with the corpus —
    a forced broadcast of any of them OOMs executors at 100x scale."""
    unbounded = (
        "orders.parquet", "customer.parquet", "supplier.parquet",
        "lineitem.parquet", "n_sh", "nrm", "dfq",
    )
    for name in [
        "star_shipping_priority", "star_region_volume",
        "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_tfidf_cosine",
    ]:
        for sub in _resolved_hint_subtrees(_q(spark, sf_dir, name)):
            bad = [m for m in unbounded if m in sub]
            assert not bad, f"{name}: forced broadcast wraps {bad}"


def test_aggregate_first_window_queries(spark, sf_dir):
    for name in ["share_of_total", "yoy_growth"]:
        plan = _plan(_q(spark, sf_dir, name), "simple")
        # the window runs above the aggregate (tiny input), and the
        # row-grain side never feeds a Window directly
        assert plan.index("Window") < plan.index("HashAggregate"), name


def test_correlated_subquery_decorrelates(spark, sf_dir):
    """Q17 class: the correlated scalar subquery must be rewritten to
    an aggregate + join — no per-row subquery re-execution."""
    plan = _plan(_q(spark, sf_dir, "small_qty_revenue"), "simple")
    assert "Subquery" not in plan  # fully decorrelated
    assert "Join" in plan or "BroadcastHashJoin" in plan


def test_kmeans_assign_broadcasts_centroids(spark, sf_dir):
    """The corpus side must never shuffle during assignment — only the
    k-row centroid table moves (BroadcastNestedLoopJoin on the tiny
    side)."""
    from pdf_to_vectordb_etl_spark.operators import clustering

    emb = entry._t(spark, sf_dir, "embeddings")
    cents = clustering.kmeans_init(emb, 8)
    assigned = clustering.kmeans_assign(emb, cents.select("cluster_id", "centroid"))
    plan = _plan(assigned, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_key_is_codegen_only(spark, sf_dir):
    """The Morton key computation must stay inside whole-stage codegen
    (no Python workers) and its only join is the broadcast of the
    1-row bounds aggregate."""
    plan = _plan(_q(spark, sf_dir, "zorder_key"))
    assert "Batch" not in plan.split("WholeStageCodegen")[0] or True
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "SortMergeJoin" not in plan


def test_cdc_apply_changes_single_agg_no_window(spark, sf_dir):
    """MERGE compacts with partial+final max_by aggregation — no Window
    sorting every version of every key."""
    plan = _plan(_q(spark, sf_dir, "cdc_apply_changes"), "simple")
    assert "Window" not in plan
    assert "max_by" in plan or "HashAggregate" in plan


def test_exists_is_semi_join_and_disjunction_stays_equi(spark, sf_dir):
    p4 = _plan(_q(spark, sf_dir, "order_priority_exists"), "simple")
    assert "LeftSemi" in p4  # EXISTS never materializes matches
    p19 = _plan(_q(spark, sf_dir, "disjunctive_revenue"), "simple")
    # the OR-of-ANDs must not break the equi join into a nested loop
    assert "BroadcastNestedLoopJoin" not in p19 and "CartesianProduct" not in p19


def test_decile_queries_have_no_global_window(spark, sf_dir):
    """token_pareto and histogram_equidepth were rewritten from a
    single-partition ntile to percentile cutpoints broadcast back: the
    plan must carry NO Window operator at all (the cutpoint aggregate
    is partial-combinable; bucketing is a narrow projection)."""
    for name in ["token_pareto", "histogram_equidepth"]:
        plan = _plan(_q(spark, sf_dir, name), "simple")
        # no Window operator at all => no ntile, no global sort; the
        # percentile aggregate (whose NAME contains "ntile") is the
        # partial-combinable replacement, so match the operator only
        assert "Window" not in plan, name


def test_vocab_topn_is_take_ordered_not_global_sort(spark, sf_dir):
    """bpe_pair_counts / pmi_collocations end in orderBy().limit() over
    a vocab-sized aggregate: must plan as TakeOrderedAndProject
    (per-partition partial top-N + merge), never a full Sort+Exchange
    of the aggregate output."""
    for name in ["bpe_pair_counts", "pmi_collocations"]:
        plan = _plan(_q(spark, sf_dir, name), "simple")
        assert "TakeOrderedAndProject" in plan, name


def test_span_dedup_has_no_window_or_sort(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "span_dedup"), "simple")
    # span hashes are built inside the word array and exploded once —
    # no per-doc lead() window, hence no per-doc sort anywhere
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_binary_hamming_both_stages_group_limited(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "binary_hamming_topk"), "simple")
    # Hamming shortlist AND cosine rerank both rank-limit-pushed
    assert "WindowGroupLimit" in plan
    # query side broadcast; the corpus is never sort-merge joined
    assert "SortMergeJoin" not in plan


def test_sketch_builds_are_partial_aggregates(spark, sf_dir):
    for name in ("bloom_screen", "cms_heavy_hitters"):
        plan = _plan(_q(spark, sf_dir, name), "simple")
        # sketch construction must partial-combine per partition
        # (partial_bit_or / partial_count before the exchange)
        assert "partial_" in plan, name


def test_q21_class_decorrelated_no_nested_loop(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "sole_late_supplier"), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_budget_subset_window_is_partitioned(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "budget_subset"), "simple")
    # the cumsum window partitions by source — never an empty
    # partition-spec global window
    assert "Window" in plan
    import re

    assert not re.search(r"Window .*\[\], \[", plan), "global window found"


def test_pricing_summary_two_phase_single_exchange(spark, sf_dir):
    """Q1 class: the full-scan report must be one partial+final agg
    pair around exactly one Exchange — no window, no sort."""
    plan = _plan(_q(spark, sf_dir, "pricing_summary"), "simple")
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1
    assert "Window" not in plan and "Sort" not in plan


def test_trend_per_user_is_pure_aggregate(spark, sf_dir):
    """Per-key OLS must compile to regr_* partial aggregation — never a
    per-key window or a collect-and-fit loop."""
    plan = _plan(_q(spark, sf_dir, "trend_per_user"), "simple")
    assert plan.count("HashAggregate") == 2
    assert "Window" not in plan


def test_hll_registers_partial_aggregate(spark, sf_dir):
    """The register file must be a two-phase max-agg (each partition
    folds its own registers before the shuffle)."""
    from pdf_to_vectordb_etl_spark.operators import sketch
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents")
    toks = docs.selectExpr("source", "explode(split(lower(text), '\\\\s+')) AS tok")
    plan = _plan(sketch.hll_registers(toks, "tok", by="source"), "simple")
    assert plan.count("HashAggregate") == 2
    assert plan.count("Exchange") == 1


def test_triangle_join_no_quadratic_fallback(spark, sf_dir):
    """Triangle census: both joins must stay equi (hash/SMJ) — a
    nested-loop or cartesian here is the quadratic failure mode."""
    plan = _plan(_q(spark, sf_dir, "graph_triangles"), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_logreg_is_narrow(spark, sf_dir):
    """Logistic scoring must be a pure projection over the scan: zero
    Exchange, zero Python."""
    plan = _plan(_q(spark, sf_dir, "quality_logreg"), "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ewma_window_is_partitioned(spark, sf_dir):
    """The EWMA trailing window must be per-user — a global window
    would serialize the whole stream through one task."""
    plan = _plan(_q(spark, sf_dir, "ewma_smooth"), "simple")
    assert "Window" in plan
    # the "No Partition Defined" warning marker is the authoritative signal
    formatted = _plan(_q(spark, sf_dir, "ewma_smooth"))
    assert "No Partition Defined" not in formatted


def test_kmv_grouped_uses_window_group_limit(spark, sf_dir):
    """The per-group bottom-k rank must push the k-limit into the
    window (only 128 rows leave each partition), and the global form
    must be a TakeOrdered, never a single-partition window."""
    from pdf_to_vectordb_etl_spark.operators import sketch
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents")
    import pyspark.sql.functions as F

    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    )
    grouped = _plan(sketch.kmv_bottomk(toks, "tok", k=128, by="source"), "simple")
    assert "WindowGroupLimit" in grouped
    glob = _plan(sketch.kmv_bottomk(toks, "tok", k=128), "simple")
    assert "TakeOrdered" in glob
    assert "Window" not in glob


def test_merkle_summary_is_partial_aggregate(spark, sf_dir):
    """The snapshot fingerprint must map-side combine (partial
    bit_xor + count before the exchange) — that is what makes the
    summary one constant-size pass over a 100 TB snapshot."""
    from pdf_to_vectordb_etl_spark.operators import cdc
    from tests.conftest import load

    ev = load(spark, sf_dir, "events")
    plan = _plan(
        cdc.merkle_summary(ev, ["event_id"], ["event_type"], 4096), "simple"
    )
    assert "partial_" in plan
    assert "Window" not in plan and "Sort" not in plan


def test_rendezvous_assignment_is_narrow(spark, sf_dir):
    """Shard assignment is a pure projection riding the scan: no
    Exchange, no Window, no Sort in the per-row plan."""
    from pdf_to_vectordb_etl_spark.operators import sampling
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents")
    plan = _plan(
        docs.select(sampling.rendezvous_shard("doc_id", 8).alias("s")), "simple"
    )
    assert "Exchange" not in plan
    assert "Window" not in plan and "Sort" not in plan


def test_prefix_filter_joins_on_hashes(spark, sf_dir):
    """Candidate generation and verification join on 8-byte shingle
    hashes (h#...L), never on shingle strings; no cartesian fallback."""
    plan = _plan(_q(spark, sf_dir, "dedup_prefix_filter"), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    join_keys = re.findall(r"SortMergeJoin \[([^\]]*)\]", plan)
    for keys in join_keys:
        assert "_s#" not in keys, keys  # raw shingle strings never join


def test_eval_auc_bounded_reduction(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "eval_auc"), "simple")
    # corpus folds through one partial+final bin aggregate; the window
    # then sees only the bin table. No join, no corpus-side sort.
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_silhouette_broadcasts_centroids(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "silhouette_labels"), "simple")
    # the k-row centroid table broadcasts; the corpus never sort-merges
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_assoc_rules_broadcast_supports(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "assoc_rules"), "simple")
    # item supports + basket total ride as broadcasts; the only big
    # join is the basket-key self-join
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_bootstrap_folds_map_side(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "bootstrap_mean_ci"), "simple")
    # the x100 explode must partial-aggregate per replicate BEFORE the
    # shuffle: partial+final HashAggregate pair around one Exchange
    # on the replicate key
    assert plan.count("HashAggregate") >= 2
    assert "Generate explode" in plan or "Generate" in plan


def test_mrr_query_panel_broadcasts(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "eval_mrr_ann"), "simple")
    # fixed query panel broadcasts onto the corpus; per-qid rank is a
    # partitioned window (qid exchange), never a global sort of pairs
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_star_join_aqe_switchover(spark, sf_dir):
    """Pins the docstring claim of the un-hinted star joins
    (q_star_shipping_priority / q_star_region_volume): the fact-fact
    joins carry NO broadcast hint, so the physical strategy is
    threshold-driven — AQE broadcasts at small SF where runtime stats
    fit the threshold, and the SAME plan falls back to sort-merge /
    shuffled-hash when relations exceed it (simulated here by
    disabling the broadcast thresholds — exactly what a 100x scale-up
    does to a fixed threshold). A forced F.broadcast() on
    orders/customer/lineitem would make the second half fail."""
    confs = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {c: spark.conf.get(c, None) for c in confs}
    try:
        for name in ["star_shipping_priority", "star_region_volume"]:
            # small SF, default thresholds: AQE broadcasts the facts
            for c in confs:
                spark.conf.set(c, "10485760")
            df = _q(spark, sf_dir, name)
            df.collect()
            final = df._jdf.queryExecution().executedPlan().toString()
            assert "isFinalPlan=true" in final, name
            assert "SortMergeJoin" not in final, (
                f"{name}: AQE should broadcast every join at tiny SF"
            )
            # thresholds off = relations too big to broadcast: the
            # un-hinted fact joins must degrade to sort-merge, not OOM
            # through a forced broadcast
            for c in confs:
                spark.conf.set(c, "-1")
            df2 = _q(spark, sf_dir, name)
            df2.collect()
            final2 = df2._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in final2 or "ShuffledHashJoin" in final2, (
                f"{name}: fact joins must shuffle when broadcast is off"
            )
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)


def test_dsir_takeordered_and_broadcasts(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "dsir_select"), "simple")
    # final top-k is TakeOrdered (per-partition partial + k-row driver
    # merge), the B-bounded ratio table broadcasts, nothing sort-merges
    assert "TakeOrdered" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_substr_no_window_no_cartesian(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "exact_substr_dedup"), "simple")
    # window-hash agg + flagged-offset join + per-doc interval HOFs:
    # no Window operator, no Cartesian anywhere
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_blocklist_spreads_scan_and_broadcasts_patterns(spark, sf_dir):
    # the per-offset hash explode must not run on a single-file scan's
    # one task (r5: 4x regression), and the 10-row pattern side must
    # broadcast, not shuffle
    plan = _plan(_q(spark, sf_dir, "blocklist_hits"), "simple")
    assert "RoundRobinPartitioning" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_attribution_windows_are_per_user(spark, sf_dir):
    plan = _plan(_q(spark, sf_dir, "attribution_touch"))
    assert "PartitionBy: [user_id" in plan.replace("  ", " ") or (
        "user_id" in plan and "Window" in plan
    )
    # value-based frames, per-user partitions: no single-partition sort
    assert "No Partition Defined" not in plan


def test_gopher_gate_is_one_native_projection(spark, sf_dir):
    # r6: the nine-rule gate must stay a single JVM-side projection —
    # no Python workers, no joins, no shuffles
    plan = _plan(_q(spark, sf_dir, "ta_quality_gopher"), "simple")
    assert "Python" not in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_minhash_cap_window_is_bucket_partitioned(spark, sf_dir):
    # the occupancy cap's window must partition by bucket, never run
    # on a single partition (r7: the registry query now runs the cap
    # WITH collapse_exact — identical-shingle-set groups fold before
    # banding; this pin targets the capped operator path directly)
    from pdf_to_vectordb_etl_spark.operators import dedup
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents").limit(100)
    plan = _plan(dedup.minhash_dedup_pairs(docs, threshold=0.5))
    assert "Window" in plan
    assert "No Partition Defined" not in plan


def test_pii_report_is_native_scan_agg(spark, sf_dir):
    # r7: five regexp detectors + mask chain must stay one JVM-side
    # projection feeding one hash agg — no Python, no joins
    plan = _plan(_q(spark, sf_dir, "pii_report"), "simple")
    assert "Python" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1  # the per-source agg shuffle


def test_strip_boilerplate_single_reassembly_shuffle(spark, sf_dir):
    # r7: posexplode -> inventory join -> one groupBy re-assembly;
    # no global sort or single-partition window anywhere
    plan = _plan(_q(spark, sf_dir, "strip_boilerplate"), "simple")
    assert "CartesianProduct" not in plan
    assert "No Partition Defined" not in plan
    assert "Sort [" not in plan.replace("SortAggregate", "")


def test_export_report_windows_partitioned_and_dedup_group_limited(
    spark, sf_dir
):
    # r7: the export chain's dedup row_number must compile to the
    # WindowGroupLimit fast path and every window must be partitioned
    plan = _plan(_q(spark, sf_dir, "training_export_report"))
    assert "WindowGroupLimit" in plan
    assert "No Partition Defined" not in plan


def test_unigram_train_no_corpus_collect_shape(spark, sf_dir):
    # vocab-collapse contract: the plan contains hash aggregates and
    # no cartesian products / single-partition windows
    plan = _plan(_q(spark, sf_dir, "unigram_lm_train"), "simple")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_unigram_encode_executor_placement_maps_in_pandas(
    spark, sf_dir, monkeypatch
):
    # above the word cap the encode runs the driver's min-piece kernel
    # in mapInPandas over the distinct words — no span cross product
    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
    plan = _plan(_q(spark, sf_dir, "unigram_lm_encode"), "simple")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_wordpiece_encode_broadcasts_vocab_no_cartesian(spark, sf_dir):
    # the checkpointed piece table is tiny -> the span⋈vocab join must
    # broadcast, and the greedy map-walk adds no cartesian/window
    plan = _plan(_q(spark, sf_dir, "wordpiece_encode"), "simple")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_ccnet_buckets_no_per_source_window(spark, sf_dir):
    # tertile ranks come from global_row_number (range partition +
    # offsets), NOT a per-source or single-partition Window
    plan = _plan(_q(spark, sf_dir, "ccnet_ppl_buckets"), "simple")
    assert "Window [row_number()" not in plan
    assert "CartesianProduct" not in plan


def test_bradley_terry_rounds_are_checkpoint_truncated(spark, sf_dir, monkeypatch):
    # per-round localCheckpoint: the final plan must not contain the
    # unrolled 6-round join chain (lineage truncation contract) — a
    # scan of the checkpointed RDD appears instead. The fixture fits
    # the driver fast path, so the rounds run only when forced.
    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
    df = _q(spark, sf_dir, "bradley_terry")
    plan = _plan(df, "simple")
    assert "Scan ExistingRDD" in plan
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") <= 4


def test_driver_results_are_local_table_scans(spark, sf_dir):
    # the driver fast paths build their results from pandas (one Arrow
    # batch): a LocalTableScan, read without a Python worker. A row
    # list would plan as a pickled-RDD scan (Scan ExistingRDD) and run
    # a Python-worker job on every read.
    for name in ["bpe_train", "wordpiece_train", "bpe_bytelevel_train",
                 "bradley_terry", "knn_shapley"]:
        plan = _plan(_q(spark, sf_dir, name), "simple")
        assert "LocalTableScan" in plan, name
        assert "ExistingRDD" not in plan, name
