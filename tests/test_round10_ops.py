"""Round-10 operators: graph-ANN lifecycle (drift report + refresh
trigger), deletion tombstones for both ANN families, the compaction
signal, the sort-free approximate quantile normalization, and the
r10 ADVICE fixes (chunked driver local-join fold, token-budget
duplicate-key re-aggregation, T41 n_oov)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import load


# ---------------------------------------------------------------------------
# ADVICE: chunked candidate expansion in the NN-descent driver fast path
# ---------------------------------------------------------------------------

def test_nn_driver_chunked_fold_identical():
    """The per-block incremental _topk fold must be bit-identical to
    the all-at-once fold for ANY chunk boundary (the streaming top-k
    identity: kept edges are the strictly smallest per src, so a
    discarded candidate can never re-enter)."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        _nn_descent_driver,
    )

    rng = np.random.RandomState(7)
    n, dim = 60, 6
    ids = np.arange(100, 100 + n, dtype=np.int64)
    mat = rng.randint(-1000, 1000, size=(n, dim)).astype(np.int64)
    big = _nn_descent_driver(ids, mat, k=5, rounds=3)
    for chunk in (1, 7, 50):
        small = _nn_descent_driver(
            ids, mat, k=5, rounds=3, chunk_pairs=chunk
        )
        for a, b in zip(big, small):
            assert np.array_equal(a, b)


# ---------------------------------------------------------------------------
# graph-ANN lifecycle: drift report + refresh trigger
# ---------------------------------------------------------------------------

def _line_corpus(spark, ids, offset=0.0):
    return spark.createDataFrame(
        [(int(i), [float(i) * 0.01 + offset, 0.0]) for i in ids],
        "vec_id long, embedding array<double>",
    )


def test_drift_report_shares_and_means(spark):
    """Report invariants: shares sum to ~1 per side, full-outer keeps
    nodes touched by only one side, integer means are exact."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_drift_report,
    )

    base = spark.createDataFrame(
        [(1, 2, 10), (1, 3, 20), (2, 3, 30), (3, 2, 31)],
        "src long, dst long, dist long",
    )
    new = spark.createDataFrame(
        [(9, 2, 100), (9, 5, 4)], "src long, dst long, dist long"
    )
    rows = {
        r["node"]: r
        for r in nn_descent_drift_report(base, new).collect()
    }
    assert set(rows) == {2, 3, 5}
    assert rows[2]["n_base"] == 2 and rows[2]["n_new"] == 1
    assert rows[5]["n_base"] == 0 and rows[5]["n_new"] == 1
    assert rows[5]["share_base"] == 0.0 and rows[5]["mean_dist_base"] is None
    # exact floor means: node 2 base (10+31)//2 = 20
    assert rows[2]["mean_dist_base"] == 20
    assert rows[2]["mean_dist_new"] == 100
    assert abs(sum(r["share_base"] for r in rows.values()) - 1.0) < 1e-5
    assert abs(sum(r["share_new"] for r in rows.values()) - 1.0) < 1e-5


def test_refresh_trigger_planted_drift_fires(spark):
    """Planted drift: new vectors from a FAR cluster adopt edges whose
    distances dwarf the base build's — the distance-ratio arm of
    refresh_due fires. Near-duplicate new vectors under loose
    thresholds do NOT fire."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_drift_report,
        nn_descent_graph,
        nn_descent_incremental_assign,
        nn_descent_refresh_trigger,
    )

    corpus = _line_corpus(spark, range(30))
    g = nn_descent_graph(corpus, k=4, rounds=3)
    far = _line_corpus(spark, range(200, 208), offset=50.0)
    assigned_far = nn_descent_incremental_assign(
        g, corpus, far, k=3, hops=3, beam=4
    )
    fired = nn_descent_refresh_trigger(
        nn_descent_drift_report(g, assigned_far)
    ).first()
    assert fired["refresh_due"] is True
    assert fired["mean_dist_new"] > 2 * fired["mean_dist_base"]

    # near-duplicates of nodes 0..7 — close to the beam entry (node 0),
    # so 4 hops at beam 4 reach every true neighborhood
    near = spark.createDataFrame(
        [(300 + j, [float(j) * 0.01 + 0.0015, 0.0]) for j in range(8)],
        "vec_id long, embedding array<double>",
    )
    assigned_near = nn_descent_incremental_assign(
        g, corpus, near, k=3, hops=4, beam=4
    )
    calm = nn_descent_refresh_trigger(
        nn_descent_drift_report(g, assigned_near),
        drift_threshold_micro=1_000_000,  # share arm disabled
        dist_ratio_pct=200,
    ).first()
    assert calm["refresh_due"] is False
    assert calm["n_new_edges"] == 8 * 3


# ---------------------------------------------------------------------------
# deletion tombstones
# ---------------------------------------------------------------------------

def test_graph_tombstone_next_nearest_surfaces(spark):
    """Delete a probe's known nearest neighbor: the tombstone search
    never serves it and the next-nearest visited node takes rank 1 —
    while the beam still ROUTES through the deleted entry node (id 0
    is both the graph entry point and deleted)."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_graph,
        nn_descent_tombstone_search,
    )

    corpus = _line_corpus(spark, range(12))
    probes = spark.createDataFrame(
        [(999, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    g = nn_descent_graph(corpus, k=4, rounds=3)
    deletions = spark.createDataFrame([(0,)], "vec_id long")
    out = nn_descent_tombstone_search(
        g, corpus, probes, deletions, k=3, hops=4, beam=4
    ).orderBy("dist", "cand").collect()
    assert [r["cand"] for r in out][0] == 1  # next-nearest after 0
    assert 0 not in {r["cand"] for r in out}


def test_ivf_tombstone_deleted_never_served(spark, sf_dir):
    """IVF tombstones on the real fixture: no deleted id in any
    result, and results equal the untombstoned search minus deleted
    rows re-ranked (the index itself is unchanged)."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        ivf_tombstone_topk,
        topk_cosine_ivf,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
    )
    c = emb.filter(F.col("vec_id") >= 2)
    dele = c.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    deleted = {r["vec_id"] for r in dele.collect()}
    out = ivf_tombstone_topk(
        c, q, dele, k=5, n_lists=16, n_probe=4,
        corpus_vec="embedding", corpus_id="vec_id",
    ).collect()
    assert len(out) > 0
    assert not ({r["vec_id"] for r in out} & deleted)
    # same candidates as plain IVF minus tombstones, re-ranked
    plain = topk_cosine_ivf(
        c.join(dele, "vec_id", "left_anti"), q, k=5, n_lists=16,
        n_probe=4, corpus_vec="embedding", corpus_id="vec_id",
    )
    # NOTE: plain-minus-rows retrains centroids on the shrunken corpus,
    # so results may legitimately differ — the invariant we pin is only
    # that tombstoned search serves no deleted id and full rank order.
    ranks = {}
    for r in out:
        ranks.setdefault(r["qid"], []).append(r["rank"])
    for qid, rk in ranks.items():
        assert sorted(rk) == list(range(1, len(rk) + 1))


def test_compaction_signal_threshold_boundary(spark):
    from pdf_to_vectordb_etl_spark.operators.topk import (
        ann_compaction_signal,
    )

    corpus = spark.createDataFrame(
        [(i,) for i in range(10)], "vec_id long"
    )
    dele = spark.createDataFrame([(0,), (1,), (2,)], "vec_id long")
    at = ann_compaction_signal(corpus, dele, threshold_micro=300_000).first()
    assert at["n_total"] == 10 and at["n_deleted"] == 3
    assert at["deleted_frac_q6"] == 0.3
    assert at["compaction_due"] is True  # >= is inclusive
    above = ann_compaction_signal(
        corpus, dele, threshold_micro=300_001
    ).first()
    assert above["compaction_due"] is False
    # deletions not in the corpus don't count
    ghost = spark.createDataFrame([(999,)], "vec_id long")
    g = ann_compaction_signal(corpus, ghost, threshold_micro=1).first()
    assert g["n_deleted"] == 0 and g["compaction_due"] is False


# ---------------------------------------------------------------------------
# approximate quantile normalization
# ---------------------------------------------------------------------------

def test_quantile_normalize_approx_rank_error_bound(spark, sf_dir):
    """The sketch guarantee: the served value's pooled rank (cum_hi of
    its bucket) differs from the exact Bolstad target rank by less
    than the landing bucket's occupancy. Verified row by row against
    an independent Python replay."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        quantile_normalize_approx,
    )

    B = 64
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    )
    out = quantile_normalize_approx(
        ev, "value", "event_type", "event_id", n_buckets=B
    ).collect()
    base = [
        (r["event_id"], r["event_type"], r["value"])
        for r in ev.select("event_id", "event_type", "value").collect()
    ]
    assert len(out) == len(base)
    lo = min(v for _, _, v in base)
    hi = max(v for _, _, v in base)

    def bucket(v):
        if hi <= lo:
            return 0
        return min(int(np.floor((v - lo) / (hi - lo) * B)), B - 1)

    # pooled bucket cum ranges + occupancy
    occ: dict[int, int] = {}
    for _, _, v in base:
        occ[bucket(v)] = occ.get(bucket(v), 0) + 1
    cum_hi, run = {}, 0
    for b in sorted(occ):
        run += occ[b]
        cum_hi[b] = run
    n = len(base)
    # per-group sizes + per-(g,b) top ranks
    from collections import defaultdict

    gsz: dict[str, int] = defaultdict(int)
    gb: dict[tuple, int] = defaultdict(int)
    for _, g, v in base:
        gsz[g] += 1
        gb[(g, bucket(v))] += 1
    r_hi: dict[tuple, int] = {}
    for g in gsz:
        run_g = 0
        for b in sorted(b2 for (g2, b2) in gb if g2 == g):
            run_g += gb[(g, b)]
            r_hi[(g, b)] = run_g
    val_bucket = {(eid): bucket(v) for eid, _, v in base}
    max_occ = max(occ.values())
    for r in out:
        b = val_bucket[r["event_id"]]
        g = r["event_type"]
        target = -(-r_hi[(g, b)] * n // gsz[g])  # ceil
        served_b = bucket(r["norm_value"])
        served_rank = cum_hi[served_b]
        assert target <= served_rank < target + occ[served_b]
        assert served_rank - target < max_occ


def test_quantile_normalize_approx_degenerate(spark):
    """All-equal values: one bucket, every row maps to the max (the
    only pooled value)."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        quantile_normalize_approx,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", 5.0) for i in range(6)],
        "event_id long, event_type string, value double",
    )
    rows = quantile_normalize_approx(
        df, "value", "event_type", "event_id", n_buckets=16
    ).collect()
    assert len(rows) == 6
    assert all(r["norm_value"] == 5.0 for r in rows)


# ---------------------------------------------------------------------------
# ADVICE: token-budget duplicate-key merge, T41 n_oov
# ---------------------------------------------------------------------------

def test_token_budget_cells_null_and_empty_merge(spark):
    """Raw cells carrying BOTH a NULL and a real '' group must merge
    into ONE ''-keyed row (sums combined), not two duplicate-key
    allocations."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        token_budget_from_cells,
    )

    cells = spark.createDataFrame(
        [(None, 4, 2, 100), ("", 6, 6, 50), ("x", 10, 5, 200)],
        "source string, n_docs long, n_pass long, n_tokens long",
    )
    rows = token_budget_from_cells(cells, budget=1000).collect()
    keys = [r["source"] for r in rows]
    assert sorted(keys) == ["", "x"]
    merged = next(r for r in rows if r["source"] == "")
    assert merged["n_tokens"] == 150
    assert merged["quality_q6"] == 0.8  # (2+6)/(4+6)


def test_fertility_cells_count_oov(spark, sf_dir):
    """Vocab trained on a SUBSET of the corpus: pre-tokens unseen in
    training surface as n_oov (instead of silently deflating
    fertility); a full-corpus vocab yields n_oov == 0 everywhere."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    sub = docs.filter(F.col("doc_id") < 10)
    pieces_sub = ta.bpe_bytelevel_pieces(sub, n_merges=4)
    cells = ta.bpe_bytelevel_fertility_cells(docs, pieces_sub)
    tot = cells.agg(
        F.sum("n_oov").alias("oov"), F.sum("n_pretokens").alias("pre")
    ).first()
    assert tot["oov"] > 0
    assert tot["oov"] < tot["pre"]

    pieces_full = ta.bpe_bytelevel_pieces(docs, n_merges=4)
    full = ta.bpe_bytelevel_fertility_cells(docs, pieces_full)
    assert full.agg(F.sum("n_oov")).first()[0] == 0
    # finale projects the new column through
    fin = ta.bpe_bytelevel_fertility_finale(full)
    assert "n_oov" in fin.columns


# ---------------------------------------------------------------------------
# batch 2: compaction execution + training-plan operators
# ---------------------------------------------------------------------------

def test_ivf_compact_rebuild_conservation(spark, sf_dir):
    """Both occupancy columns partition the SAME live row set (every
    live row lands in exactly one list under each quantizer); with no
    deletions the quantizers coincide, so before == after per list."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        ivf_compact_rebuild,
    )

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & (F.col("vec_id") >= 2)
    )
    dele = emb.filter(F.col("vec_id") % 7 == 3).select("vec_id")
    n_live = emb.join(dele, "vec_id", "left_anti").count()
    rep = ivf_compact_rebuild(
        emb, dele, n_lists=8, vec_col="embedding", id_col="vec_id"
    )
    tot = rep.agg(
        F.sum("n_live_before").alias("b"), F.sum("n_after").alias("a")
    ).first()
    assert tot["b"] == n_live and tot["a"] == n_live

    empty = dele.filter(F.lit(False))
    same = ivf_compact_rebuild(
        emb, empty, n_lists=8, vec_col="embedding", id_col="vec_id"
    )
    assert same.filter("n_live_before != n_after").count() == 0


def test_stratified_split_stable_under_growth(spark, sf_dir):
    """The split is a pure function of the id: a doc's split never
    changes when the corpus grows (no re-shuffling on append), and the
    realized fractions sit near 80/10/10."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        stratified_split_report,
    )

    docs = load(spark, sf_dir, "documents")
    small = stratified_split_report(docs.filter(F.col("doc_id") < 100))
    grown = stratified_split_report(docs)
    # per-(split, lang) doc counts of the subset must be <= the grown
    # corpus's counts (rows only ever ADD to a cell, never move out)
    j = (
        small.select("split", "lang", F.col("n_docs").alias("ns"))
        .join(grown.select("split", "lang", F.col("n_docs").alias("ng")),
              ["split", "lang"], "left")
    )
    assert j.filter("ng IS NULL OR ns > ng").count() == 0
    fr = {
        r["split"]: r["n"]
        for r in grown.groupBy("split").agg(F.sum("n_docs").alias("n")).collect()
    }
    tot = sum(fr.values())
    assert 0.70 < fr["train"] / tot < 0.90
    assert 0.04 < fr.get("val", 0) / tot < 0.17
    assert 0.04 < fr.get("test", 0) / tot < 0.17


def test_curriculum_batches_quality_monotone(spark, sf_dir):
    """Batches cover the corpus exactly (64 docs each except the
    last), and quality is globally non-increasing across batch
    boundaries: batch i's min >= batch i+1's max."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        curriculum_batches,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    n = docs.count()
    rows = sorted(
        curriculum_batches(docs, batch_size=64).collect(),
        key=lambda r: r["batch_idx"],
    )
    assert sum(r["n_docs"] for r in rows) == n
    assert [r["batch_idx"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["n_docs"] == 64
    for a, b in zip(rows, rows[1:]):
        assert a["min_quality_q6"] >= b["max_quality_q6"]
        assert a["min_quality_q6"] <= a["max_quality_q6"]


def test_epoch_mixture_plan_arithmetic(spark):
    """Integer-exact plan: at T=1.0 the share is the token share, the
    target is share of the budget, epochs = target / n_tokens; shares
    per temperature sum to 1 within the micro-floor loss."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        epoch_mixture_plan,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d", "s1"), (2, "a b", "s1"), (3, "a b c d e f", "s2")],
        "doc_id long, text string, source string",
    )
    rows = epoch_mixture_plan(docs, budget_tokens=1_000_000).collect()
    t1 = {r["source"]: r for r in rows if r["t"] == "1.0"}
    # s1: 6 tokens, s2: 6 tokens -> share 0.5 each at T=1
    assert t1["s1"]["share_q6"] == 0.5
    assert t1["s1"]["target_tokens"] == 500_000
    # epochs = share_micro * budget div n_tokens, on the micro grid
    assert t1["s1"]["epochs_q6"] == (500_000 * 1_000_000 // 6) / 1e6
    assert abs(t1["s1"]["epochs_q6"] - 500_000 / 6) < 1e-4
    for t in ("0.5", "1.0", "2.0"):
        s = sum(r["share_q6"] for r in rows if r["t"] == t)
        assert 0.999 < s <= 1.0 + 1e-9


def test_split_contamination_planted(spark):
    """Planted leakage: the same content on train ids {1, 2}, val id
    {0} and test id {3} (md5-split membership precomputed) must
    surface as shared-fp + contaminated-doc counts per pair; disjoint
    contents contribute nothing."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        split_contamination_report,
    )

    # ids 1,2 -> train; 0,5 -> val; 3 -> test (md5 hex prefixes)
    rows = [
        (1, "shared document body"),
        (2, "shared document body"),
        (0, "shared document body"),
        (3, "shared   DOCUMENT body"),  # normalizes to the same fp
        (5, "unique val-only text"),
        (4, "unique train-only text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rep = {
        r["split_pair"]: r
        for r in split_contamination_report(df).collect()
    }
    assert rep["train|val"]["n_shared_fps"] == 1
    assert rep["train|val"]["n_contaminated_docs"] == 1  # val doc 0
    assert rep["train|test"]["n_shared_fps"] == 1
    assert rep["train|test"]["n_contaminated_docs"] == 1  # test doc 3
    assert rep["val|test"]["n_shared_fps"] == 1
    assert rep["val|test"]["n_contaminated_docs"] == 1


def test_shard_manifest_conservation_and_order(spark, sf_dir):
    """Shards conserve the corpus (docs + tokens), index contiguously
    from 0, and cover disjoint ascending id ranges."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        shard_manifest,
    )
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        token_count,
    )

    docs = load(spark, sf_dir, "documents")
    tot = docs.select(
        F.sum(token_count(F.coalesce("text", F.lit("")))).alias("t"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    rows = sorted(
        shard_manifest(docs, shard_tokens=5000).collect(),
        key=lambda r: r["shard_idx"],
    )
    assert [r["shard_idx"] for r in rows] == list(range(len(rows)))
    assert sum(r["n_docs"] for r in rows) == tot["n"]
    assert sum(r["n_tokens"] for r in rows) == tot["t"]
    for a, b in zip(rows, rows[1:]):
        assert a["last_doc"] < b["first_doc"]


def test_stratified_split_cells_finale_composition(spark, sf_dir):
    """The cells/finale split must compose back to the one-shot
    report exactly (the T43 stream twin's parity basis)."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        stratified_split_cells,
        stratified_split_from_cells,
        stratified_split_report,
    )

    docs = load(spark, sf_dir, "documents")
    a = sorted(
        map(tuple, stratified_split_report(docs).collect())
    )
    b = sorted(
        map(
            tuple,
            stratified_split_from_cells(
                stratified_split_cells(docs)
            ).collect(),
        )
    )
    assert a == b


# ---------------------------------------------------------------------------
# r10 optimization: beam-probe driver fast path parity
# ---------------------------------------------------------------------------

def test_beam_probe_fast_path_equals_distributed(spark, sf_dir, monkeypatch):
    """The bounded driver fast path for the beam probe (collected
    micro matrices + k-bounded edge list, vectorized exact-int64
    numpy) must produce the IDENTICAL visited set as the distributed
    join loop — same integer arithmetic, same (dist, cand) beam tie
    order, same (qid, cand) dedupe (the nn_descent_graph fast-path
    contract)."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_beam_probe,
        nn_descent_graph,
    )

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    probes = emb.filter(F.col("vec_id") < 12)
    corpus = emb.filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 260)
    )
    g = nn_descent_graph(corpus, k=5, rounds=3)
    fast = sorted(
        tuple(r)
        for r in nn_descent_beam_probe(
            g, corpus, probes, hops=4, beam=6
        ).collect()
    )
    with monkeypatch.context() as mp:
        mp.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
        dist = sorted(
            tuple(r)
            for r in nn_descent_beam_probe(
                g, corpus, probes, hops=4, beam=6
            ).collect()
        )
    assert fast == dist and len(fast) > 0


def test_beam_probe_fast_path_degenerate(spark):
    """Empty graph (single-node corpus) and empty probe panel both
    come back clean through the fast path."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_beam_probe,
    )

    corpus = spark.createDataFrame(
        [(5, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    g = spark.createDataFrame([], "src bigint, dst bigint, dist bigint")
    probes = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = nn_descent_beam_probe(g, corpus, probes, hops=2, beam=2)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["cand"] == 5
    none = nn_descent_beam_probe(
        g, corpus, probes.filter("vec_id < 0"), hops=2, beam=2
    )
    assert none.count() == 0


def test_merge_rounds_fast_path_equals_distributed(spark, sf_dir, monkeypatch):
    """The driver fast path for the greedy merge loop must produce the
    IDENTICAL merge table and final vocab segmentation as the
    distributed argmax/rewrite loop — BPE count argmax and WordPiece
    likelihood argmax both (the nn_descent fast-path contract)."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        bpe_bytelevel_pieces,
        bpe_bytelevel_train_merges,
        wordpiece_train_merges,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    fast_m = sorted(
        tuple(r) for r in bpe_bytelevel_train_merges(docs, 6).collect()
    )
    fast_v = sorted(
        tuple(r) for r in bpe_bytelevel_pieces(docs, 6).collect()
    )
    fast_wp = sorted(
        tuple(r) for r in wordpiece_train_merges(docs, 5).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
    dist_m = sorted(
        tuple(r)
        for r in bpe_bytelevel_train_merges(docs, 6).collect()
    )
    dist_v = sorted(
        tuple(r) for r in bpe_bytelevel_pieces(docs, 6).collect()
    )
    dist_wp = sorted(
        tuple(r) for r in wordpiece_train_merges(docs, 5).collect()
    )
    assert fast_m == dist_m and len(fast_m) == 6
    assert fast_v == dist_v and len(fast_v) > 0
    assert fast_wp == dist_wp and len(fast_wp) == 5


def test_incremental_assign_and_tombstone_fast_equals_distributed(
    spark, sf_dir, monkeypatch
):
    """The fused driver paths (beam probe + per-probe top-k, and the
    tombstone mask) must match the distributed window/anti-join plans
    row for row."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_graph,
        nn_descent_incremental_assign,
        nn_descent_tombstone_search,
    )

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    probes = emb.filter(F.col("vec_id") < 12)
    corpus = emb.filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 260)
    )
    deletions = corpus.filter(F.col("vec_id") % 5 == 2).select("vec_id")
    g = nn_descent_graph(corpus, k=5, rounds=3)
    fast_a = sorted(
        tuple(r)
        for r in nn_descent_incremental_assign(
            g, corpus, probes, k=4, hops=3, beam=5
        ).collect()
    )
    fast_t = sorted(
        tuple(r)
        for r in nn_descent_tombstone_search(
            g, corpus, probes, deletions, k=6, hops=3, beam=5
        ).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
    g2 = nn_descent_graph(corpus, k=5, rounds=3)
    dist_a = sorted(
        tuple(r)
        for r in nn_descent_incremental_assign(
            g2, corpus, probes, k=4, hops=3, beam=5
        ).collect()
    )
    dist_t = sorted(
        tuple(r)
        for r in nn_descent_tombstone_search(
            g2, corpus, probes, deletions, k=6, hops=3, beam=5
        ).collect()
    )
    assert fast_a == dist_a and len(fast_a) > 0
    assert fast_t == dist_t and len(fast_t) > 0
    deleted = {r["vec_id"] for r in deletions.collect()}
    assert not deleted & {c for (_, c, _) in fast_t}


def test_bradley_terry_fast_path_equals_distributed(spark, monkeypatch):
    """The driver MM loop must reproduce the distributed integer
    trajectory bit for bit (same floor divisions, same clamps)."""
    from pdf_to_vectordb_etl_spark.operators.supervised import (
        bradley_terry_strengths,
    )

    cells = spark.createDataFrame(
        [("a", "b", 7), ("b", "a", 3), ("a", "c", 2), ("c", "b", 9),
         ("d", "a", 1), ("b", "d", 0)],
        "i string, j string, w long",
    )
    fast = sorted(
        tuple(r)
        for r in bradley_terry_strengths(cells, n_rounds=6).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
    dist = sorted(
        tuple(r)
        for r in bradley_terry_strengths(cells, n_rounds=6).collect()
    )
    assert fast == dist and len(fast) == 4


def test_kmeans_assign_literal_equals_window(spark, sf_dir):
    """The literal-centroid projection argmax must pick the identical
    cluster as the crossJoin+window assign for both metrics, including
    zero vectors (cosine convention -1.0) and rounded-score ties."""
    from pdf_to_vectordb_etl_spark.operators.clustering import (
        kmeans_assign,
        kmeans_assign_literal,
        kmeans_init,
    )

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    zeros = spark.createDataFrame(
        [(9001, [0.0] * 64), (9002, [1e-9] * 64)],
        "vec_id long, embedding array<float>",
    )
    src = emb.select("vec_id", "embedding").unionByName(zeros)
    cents = kmeans_init(src, 6)
    rows = cents.collect()
    for metric in ("cosine", "l2"):
        lit_out = sorted(
            (r["vec_id"], r["cluster_id"])
            for r in kmeans_assign_literal(
                src, rows, metric=metric
            ).collect()
        )
        win_out = sorted(
            (r["vec_id"], r["cluster_id"])
            for r in kmeans_assign(src, cents, metric=metric).collect()
        )
        assert lit_out == win_out and len(lit_out) > 0


def test_knn_shapley_fast_path_equals_distributed(spark, sf_dir, monkeypatch):
    """The driver valuation (int64 distances, pico suffix recursion,
    top-n cut) must match the distributed rank-primitive plan row for
    row — both with and without the top-n cut."""
    from pdf_to_vectordb_etl_spark.operators.valuation import knn_shapley

    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    train = emb.filter(F.col("vec_id") >= 4)
    probes = emb.filter(F.col("vec_id") < 4)
    fast_top = sorted(
        tuple(r) for r in knn_shapley(train, probes, k=5, top_n=7).collect()
    )
    fast_all = sorted(
        tuple(r)
        for r in knn_shapley(train, probes, k=5, top_n=None).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
    dist_top = sorted(
        tuple(r)
        for r in knn_shapley(train, probes, k=5, top_n=7).collect()
    )
    dist_all = sorted(
        tuple(r)
        for r in knn_shapley(train, probes, k=5, top_n=None).collect()
    )
    assert fast_top == dist_top and len(fast_top) > 0
    assert fast_all == dist_all and len(fast_all) > len(fast_top)


def _persisted_rdd_ids(spark):
    """Ids of the persisted RDDs the context holds, read after a Python
    and a JVM GC (dropped DataFrame proxies release their RDDs first).
    Ids, not a count: RDDs that earlier tests dropped may be released
    while a test runs, which would hide a new one in a count."""
    import gc
    import time

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_unigram_fast_paths_equal_distributed(spark, sf_dir, monkeypatch):
    """Driver-side seed+EM training and the min-piece encode DP must
    match the executor placement (the same kernels in mapInPandas) row
    for row — on the corpus, on words no piece table covers (a snowman
    word and a word over max_word_len) and on an empty corpus — and
    neither placement may leave a persisted RDD behind."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        unigram_lm_encode,
        unigram_lm_train,
    )

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    with_oov = docs.select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [(-1, "the \u2603\u2603 incomprehensibilities"), (-2, "")],
            "doc_id long, text string",
        )
    )
    empty = docs.limit(0)

    def run():
        pieces = unigram_lm_train(docs, vocab_size=32)
        pieces_0 = unigram_lm_train(empty, vocab_size=32)
        return [
            sorted(tuple(r) for r in frame.collect())
            for frame in (
                pieces,
                unigram_lm_encode(with_oov, pieces),
                pieces_0,
                unigram_lm_encode(empty, pieces_0),
            )
        ]

    before = _persisted_rdd_ids(spark)
    fast_t, fast_e, fast_t0, fast_e0 = run()
    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
    dist_t, dist_e, dist_t0, dist_e0 = run()
    assert _persisted_rdd_ids(spark) <= before  # nothing new left
    assert fast_t == dist_t and len(fast_t) > 0
    assert fast_e == dist_e and len(fast_e) > 0
    # the snowman word (no piece) and the 21-char word are OOV
    assert [r[:3] for r in fast_e[:2]] == [(-2, 0, 0), (-1, 3, 2)]
    assert fast_t0 == dist_t0 == [] and fast_e0 == dist_e0 == []
