"""Semantic pins for the round-3 operators (JL projection, int8
quantization, length-bucketed batching, skew diagnosis). Oracle parity
proves cross-engine equality; these pin the mathematical properties the
operators claim."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark.operators import (
    curation,
    embedding,
    quantization,
    skew,
)
from pdf_to_vectordb_etl_spark.streaming.pipeline import (
    await_stream,
    drain_to_memory,
    table_stream,
)
from tests.conftest import load


def test_jl_projection_preserves_geometry(spark, sf_dir):
    """JL with +-1/sqrt(k) signs preserves squared norms in
    expectation; with k=16 over 64 dims, most vectors land within a
    loose multiplicative band — enough to keep near-dup candidate
    generation meaningful after projection."""
    emb = load(spark, sf_dir, "embeddings").limit(200)
    out = embedding.random_projection(emb, out_dim=16, in_dim=64)
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    rows = out.select(
        sq(F.col("embedding").cast("array<double>")).alias("n_in"),
        sq(F.col("projected")).alias("n_out"),
    ).collect()
    ratios = [r["n_out"] / r["n_in"] for r in rows if r["n_in"] > 0]
    within = sum(1 for r in ratios if 0.3 <= r <= 3.0) / len(ratios)
    assert within >= 0.9, f"only {within:.0%} of norms within the JL band"
    # expectation: mean ratio ~ 1
    mean = sum(ratios) / len(ratios)
    assert 0.7 <= mean <= 1.3, mean


def test_jl_sign_matrix_deterministic_and_scaled():
    m1 = embedding.jl_sign_matrix(8, 4)
    m2 = embedding.jl_sign_matrix(8, 4)
    assert m1 == m2
    s = 1.0 / math.sqrt(4)
    assert all(abs(x) == s for row in m1 for x in row)
    # a different seed flips at least one sign
    assert m1 != embedding.jl_sign_matrix(8, 4, seed="jl1")


def test_int8_quantize_error_bound_and_range(spark, sf_dir):
    """Codes fit int8; reconstruction error <= scale/2 (round-to-nearest
    guarantee); all-zero vectors quantize cleanly to scale 0."""
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .limit(100)
    )
    zero = spark.createDataFrame(
        [(10**9, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    out = quantization.int8_quantize(
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(zero)
    ).collect()
    for r in out:
        assert all(-127 <= c <= 127 for c in r["codes"]), r["vec_id"]
        if r["scale"] == 0.0:
            assert r["max_abs_err"] == 0.0 and all(c == 0 for c in r["codes"])
        else:
            # +5e-7: max_abs_err is reported rounded to 6 dp, which can
            # round UP past the exact scale/2 bound
            assert r["max_abs_err"] <= r["scale"] / 2 + 5e-7, r["vec_id"]


def test_length_bucketed_batches_invariants(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    out = curation.length_bucketed_batches(docs, batch_size=32, n_shards=4)
    rows = out.collect()
    assert rows, "no batches produced"
    for r in rows:
        assert 1 <= r["n_docs"] <= 32
        # max_len inside its power-of-two bucket
        assert 2 ** r["bucket"] <= r["max_len"] < 2 ** (r["bucket"] + 1)
        assert 0.0 <= r["padding_frac"] < 1.0
    # batch indices are dense from 0 within each (bucket, shard)
    from collections import defaultdict

    seen = defaultdict(set)
    for r in rows:
        seen[(r["bucket"], r["shard"])].add(r["batch_idx"])
    for key, idxs in seen.items():
        assert idxs == set(range(len(idxs))), key
    # total docs conserved
    n_in = docs.filter(
        F.length(F.trim(F.col("text"))) > 0
    ).count()
    assert sum(r["n_docs"] for r in rows) == n_in


def test_key_skew_report_shares_and_counts(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    rep = skew.key_skew_report(ev, "user_id", top_n=5).collect()
    assert len(rep) == 5
    total = ev.count()
    distinct = ev.select("user_id").distinct().count()
    assert all(r["n_keys"] == distinct for r in rep)
    assert abs(sum(r["share"] for r in rep) - sum(r["n"] for r in rep) / total) < 1e-4
    # top keys really are the hottest
    true_top = (
        ev.groupBy("user_id").count().orderBy(F.desc("count"), "user_id").limit(5)
    )
    assert {r["user_id"] for r in rep} == {r["user_id"] for r in true_top.collect()}


def test_span_dedup_removes_shared_spans_only(spark):
    """A 4-gram shared by 3 docs is cut from all of them; unique text
    survives; a doc that is nothing but the hot span comes back as an
    empty string with n_kept = 0 (not a dropped row)."""
    from pdf_to_vectordb_etl_spark.operators import webcorpus

    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"alpha beta {boiler} gamma"),
        (2, f"{boiler} delta epsilon"),
        (3, boiler),
        (4, "totally unique text here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in webcorpus.remove_duplicated_spans(df, n=4, min_docs=3).collect()
    }
    assert len(out) == 4  # every input doc present
    assert out[1]["clean_text"] == "alpha beta gamma"
    assert out[1]["n_removed"] == 4
    assert out[2]["clean_text"] == "delta epsilon"
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean_text"] == "totally unique text here now"
    assert out[4]["n_removed"] == 0


def test_span_dedup_overlapping_hot_spans_union_coverage(spark):
    """Two overlapping hot 3-grams cover the union of their positions —
    tokens are removed once, and the remainder stitches in order."""
    from pdf_to_vectordb_etl_spark.operators import webcorpus

    # "a b c d" contains hot grams "a b c" and "b c d" in 3 docs
    rows = [
        (1, "x a b c d y"),
        (2, "a b c d z"),
        (3, "w a b c d"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in webcorpus.remove_duplicated_spans(df, n=3, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == "x y"
    assert out[2]["clean_text"] == "z"
    assert out[3]["clean_text"] == "w"


def test_perplexity_predictable_text_scores_lower(spark):
    """A document made of the corpus's dominant bigram chain gets lower
    perplexity than one of rare transitions; ppl = exp(-mean ln P) is
    always >= 1."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(10)] + [(99, "quantum flux mat the")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in ta.smoothed_perplexity_scores(df).collect()}
    assert all(r["ppl"] >= 1.0 for r in out.values())
    assert out[0]["ppl"] < out[99]["ppl"]
    assert out[0]["n_bigrams"] == 5


def test_binarize_embeddings_packing_roundtrip(spark):
    """Sign bits land in the right word/bit positions; packed words stay
    within 32 unsigned bits (DOUBLE-exact, oracle-portable)."""
    from pdf_to_vectordb_etl_spark.operators import quantization as qz

    # 34 dims: bit 0 and bit 33 set -> word0 = 1, word1 = 2
    v = [1.0] + [-1.0] * 32 + [0.5]
    df = spark.createDataFrame([(1, v)], ["vec_id", "embedding"])
    row = qz.binarize_embeddings(df).collect()[0]
    assert row["sig"] == [1, 2]
    # dims not a multiple of 32: missing tail bits read as 0
    df2 = spark.createDataFrame([(2, [-1.0, 1.0])], ["vec_id", "embedding"])
    assert qz.binarize_embeddings(df2).collect()[0]["sig"] == [2]


def test_hamming_topk_matches_exact_on_separable_data(spark):
    """With orthogonal-ish sign patterns the Hamming stage keeps the
    true neighbour; rank-1 result equals exact cosine argmax."""
    from pdf_to_vectordb_etl_spark.operators import quantization as qz
    from pyspark.sql import functions as F

    import random

    rng = random.Random(7)
    base = [[rng.choice([-1.0, 1.0]) for _ in range(64)] for _ in range(3)]
    rows = []
    for i, b in enumerate(base):
        for j in range(10):  # noisy copies of each prototype
            rows.append(
                (i * 10 + j, [x + rng.uniform(-0.3, 0.3) for x in b])
            )
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(i, b) for i, b in enumerate(base)], ["qid", "embedding"]
    )
    out = qz.binary_topk_rerank(corpus, queries, k=3, shortlist=10).collect()
    for r in out:
        # every retrieved neighbour comes from the query's own cluster
        assert r["vec_id"] // 10 == r["qid"], r
    assert {(r["qid"], r["rank"]) for r in out} == {
        (q, k) for q in range(3) for k in (1, 2, 3)
    }


def test_mrl_recall_full_prefix_is_perfect(spark):
    """Truncating to the FULL dimension must give recall 1.0 for every
    query (sanity: the metric, not the data)."""
    from pdf_to_vectordb_etl_spark.operators import embedding as ebd
    from pyspark.sql import functions as F
    from tests.conftest import load

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    c = emb.filter(F.col("vec_id") >= 2)
    out = ebd.matryoshka_topk_recall(c, q, prefix_dims=(64,), k=5).collect()
    assert len(out) == 2
    assert all(r["recall"] == 1.0 for r in out)


def test_cohort_retention_triangle(spark):
    """Day-0 retention is 1.0 for every cohort; later offsets count
    only returning users against the cohort's own size."""
    from datetime import datetime as dt

    from pdf_to_vectordb_etl_spark.operators import aggregates

    rows = [
        (1, dt(2024, 1, 1, 9)), (1, dt(2024, 1, 2, 9)),   # A: d0 + d1
        (2, dt(2024, 1, 1, 12)),                            # B: d0 only
        (3, dt(2024, 1, 2, 8)), (3, dt(2024, 1, 4, 8)),    # C: cohort d1
    ]
    ev = spark.createDataFrame(rows, ["user_id", "t"])
    out = {
        (str(r["cohort_day"]), r["day_offset"]): r
        for r in aggregates.cohort_retention(ev).collect()
    }
    assert out[("2024-01-01", 0)]["n_users"] == 2
    assert out[("2024-01-01", 0)]["retention"] == 1.0
    assert out[("2024-01-01", 1)]["n_users"] == 1
    assert out[("2024-01-01", 1)]["retention"] == 0.5
    assert out[("2024-01-02", 0)]["n_users"] == 1
    assert out[("2024-01-02", 2)]["n_users"] == 1
    assert len(out) == 4


def test_rolling_zscore_flags_spike_not_self_contaminated(spark):
    """A spike after a flat run is flagged; the trailing frame excludes
    the current row, so the spike can't suppress its own z-score; the
    flat rows themselves are never flagged (sd = 0)."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    vals = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.2, 9.8, 50.0, 10.0]
    rows = [(7, i, float(i), v) for i, v in enumerate(vals)]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "tus", "value"])
    out = aggregates.rolling_zscore_flags(
        ev, lookback=8, threshold=2.5
    ).collect()
    assert [r["event_id"] for r in out] == [8], out
    assert out[0]["z"] > 100  # flat window -> tiny sd -> huge z


def test_pagerank_cycle_and_mass_conservation(spark):
    """A symmetric 2-cycle splits rank evenly; total rank mass stays 1
    even with a dangling node (its mass is redistributed, not lost);
    a hub with two spokes pointing at it outranks the spokes."""
    from pdf_to_vectordb_etl_spark.operators import graph

    cyc = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], ["src", "dst", "w"]
    )
    r = {x["node"]: x["rank"] for x in graph.pagerank(cyc, weight_col="w").collect()}
    assert abs(r["a"] - 0.5) < 1e-6 and abs(r["b"] - 0.5) < 1e-6

    dang = spark.createDataFrame(
        [("a", "b", 1.0)], ["src", "dst", "w"]  # b has no out-edges
    )
    rd = {x["node"]: x["rank"] for x in graph.pagerank(dang, weight_col="w").collect()}
    assert abs(sum(rd.values()) - 1.0) < 1e-5, rd
    assert rd["b"] > rd["a"]  # b receives a's mass

    star = spark.createDataFrame(
        [("s1", "hub", 1.0), ("s2", "hub", 1.0), ("hub", "s1", 1.0)],
        ["src", "dst", "w"],
    )
    rs = {x["node"]: x["rank"] for x in graph.pagerank(star, weight_col="w").collect()}
    assert rs["hub"] > rs["s1"] >= rs["s2"]


def test_transition_edges_counts_and_order(spark):
    from pdf_to_vectordb_etl_spark.operators import graph

    rows = [  # user 1: a->b->a ; user 2: a->b  => a->b x2, b->a x1
        (1, 0, 0, "a"), (1, 1, 1, "b"), (1, 2, 2, "a"),
        (2, 0, 3, "a"), (2, 1, 4, "b"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "tus", "event_id", "event_type"])
    e = {(r["src"], r["dst"]): r["w"] for r in graph.transition_edges(ev).collect()}
    assert e == {("a", "b"): 2.0, ("b", "a"): 1.0}


def test_mmr_prefers_diverse_over_redundant(spark):
    """With lambda=0.5, a near-duplicate of the first pick scores ~0
    (rel ~ redundancy) and the diverse candidate wins slot 2."""
    from pdf_to_vectordb_etl_spark.operators import topk

    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0]),  # rel 0.8 -> picked first (id tiebreak)
            (11, [1.0, 0.0]),  # exact duplicate: score 0.5*(0.8-1) < 0
            (12, [0.0, 1.0]),  # orthogonal: score 0.5*(0.6-0) = 0.3
        ],
        ["vec_id", "embedding"],
    )
    q = spark.createDataFrame([(0, [0.8, 0.6])], ["qid", "embedding"])
    out = topk.mmr_rerank(corpus, q, k=3, shortlist=3, lam=0.5).collect()
    order = [r["vec_id"] for r in sorted(out, key=lambda r: r["mmr_rank"])]
    assert order == [10, 12, 11], order


def test_resample_interpolate_linear_blend(spark):
    """Observed anchors pass through unchanged; interior gaps blend
    linearly with the right distance weights."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    rows = [(1, 0, 10.0), (1, 4, 30.0)]
    df = spark.createDataFrame(rows, ["user_id", "tus", "value"])
    out = {
        r["bucket_start"]: r
        for r in aggregates.resample_interpolate(
            df, time_col="tus", by="user_id", value_col="value", step=1
        ).collect()
    }
    assert len(out) == 5
    assert out[0]["value_interp"] == 10.0 and out[0]["observed"]
    assert out[4]["value_interp"] == 30.0 and out[4]["observed"]
    assert out[1]["value_interp"] == 15.0 and not out[1]["observed"]
    assert out[2]["value_interp"] == 20.0
    assert out[3]["value_interp"] == 25.0


def test_bloom_no_false_negatives_and_low_fpr(spark):
    """Every inserted element probes MAYBE (structural guarantee);
    absent elements rarely do at 16384 bits / ~1000 set."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    rows = [(i, f"element-{i}") for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "val"])
    corpus = df.filter("id % 2 = 0")
    bloom = sketch.bloom_build(corpus, "val")
    out = {r["id"]: r["bloom_hit"] for r in
           sketch.bloom_probe(df, bloom, "val", "id").collect()}
    present = [out[i] for i in range(0, 400, 2)]
    absent = [out[i] for i in range(1, 400, 2)]
    assert all(present), "false negative: impossible by construction"
    assert sum(absent) / len(absent) < 0.05, "FPR blew past 5%"


def test_cms_never_underestimates_and_is_tight_when_sparse(spark):
    from pdf_to_vectordb_etl_spark.operators import sketch
    from pyspark.sql import functions as F

    rows = [(f"tok{i % 7}",) for i in range(70)] + [("rare",)]
    df = spark.createDataFrame(rows, ["tok"])
    cms = sketch.countmin_build(df, "tok")
    probes = df.distinct()
    est = {r["elem"]: r["est_n"] for r in
           sketch.countmin_estimate(probes, cms, "tok").collect()}
    exact = {r["tok"]: r["cnt"] for r in
             df.groupBy("tok").agg(F.count("*").alias("cnt")).collect()}
    for tok, n in exact.items():
        assert est[tok] >= n, (tok, est[tok], n)
    # 8 distinct keys in 4x1024 cells: min-over-depth recovers exact
    assert est == exact


def test_temperature_resample_limits(spark, sf_dir):
    """alpha=1 reduces to uniform thinning (every group keeps at
    budget_frac); alpha=0 targets equal per-group allocations, so rare
    sources keep at strictly higher rates than dominant ones."""
    docs = load(spark, sf_dir, "documents")
    flat = curation.temperature_resample(docs, alpha=1.0, budget_frac=0.5)
    rates = {r["source"]: r["keep_rate"] for r in
             flat.select("source", "keep_rate").distinct().collect()}
    assert all(abs(v - 0.5) < 1e-6 for v in rates.values()), rates

    counts = {r["source"]: r["n"] for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    smallest = min(counts, key=counts.get)
    biggest = max(counts, key=counts.get)
    if counts[smallest] < counts[biggest]:
        sharp = curation.temperature_resample(docs, alpha=0.0, budget_frac=0.5)
        srates = {r["source"]: r["keep_rate"] for r in
                  sharp.select("source", "keep_rate").distinct().collect()}
        # rare sources survive at a higher rate under flattening
        assert srates.get(smallest, 1.0) > srates.get(biggest, 0.0)


def test_quality_logreg_monotone_in_stopwords(spark):
    """More stopwords (other features equal) must raise the logistic
    score — the weight is positive, so the serving path must preserve
    monotonicity end to end."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    df = spark.createDataFrame(
        [(1, "zqx wvu ptk mno bcd efg hij klm"),
         (2, "the of and to in is it a")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["quality_prob"]
           for r in ta.quality_logreg(df).collect()}
    assert 0.0 <= out[1] <= 1.0 and 0.0 <= out[2] <= 1.0
    assert out[2] > out[1]


def test_ngram_novelty_clone_drops_to_zero(spark):
    """A cloned document shares every 5-gram with its twin => novelty 0
    for both; a unique long doc scores 1; a too-short doc reports 0
    shingles and novelty 0 (kept, not dropped)."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq = "one two three four five six seven eight nine ten eleven"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, uniq), (4, "tiny doc")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in ta.ngram_novelty(df, n=5).collect()}
    assert out[1]["novelty"] == 0.0 and out[2]["novelty"] == 0.0
    assert out[3]["novelty"] == 1.0
    assert out[4]["n_grams"] == 0 and out[4]["novelty"] == 0.0


def test_triangle_stats_known_graph(spark):
    """Triangle {1,2,3} plus pendant edge (3,4): 1 triangle, 4 nodes,
    4 edges, wedges = 1+1+3+0 = 5, cc = 3/5."""
    from pdf_to_vectordb_etl_spark.operators import graph

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], ["a", "b"]
    )
    row = graph.triangle_stats(e).first()
    assert row["n_nodes"] == 4 and row["n_edges"] == 4
    assert row["n_triangles"] == 1 and row["n_wedges"] == 5
    assert abs(row["global_cc"] - 0.6) < 1e-9


def test_whiten_standardizes(spark, sf_dir):
    """Whitened output has per-dimension mean ~0 and std ~1 (to the
    4-dp output rounding), and degenerate dims don't divide by zero."""
    emb = load(spark, sf_dir, "embeddings").limit(300)
    out = embedding.whiten(emb, dim=64)
    x = out.select(F.posexplode("z").alias("dim", "x"))
    st = x.groupBy("dim").agg(
        F.avg("x").alias("m"), F.stddev_pop("x").alias("s")
    ).collect()
    assert all(abs(r["m"]) < 0.01 for r in st)
    assert all(abs(r["s"] - 1.0) < 0.02 for r in st)


def test_whiten_plan_has_no_explode(spark, sf_dir):
    """The stats pass must come from array-slot sums (partial
    aggregation), never a posexplode shuffle with dim-cardinality
    reduce groups; the whitening itself must be a narrow projection
    (zero Exchange in the final plan)."""
    emb = load(spark, sf_dir, "embeddings").limit(50)
    out = embedding.whiten(emb, dim=64)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan  # no explode anywhere
    assert "Exchange" not in plan  # narrow end to end


def test_hll_estimate_accuracy_and_merge_shape(spark):
    """256-register HLL on 5000 known-distinct keys estimates within
    ~2σ (1.04/sqrt(256) ≈ 6.5% per σ; the 2000-key 'key_' family sits
    at −2.3σ — verified unbiased across sizes/families offline); and the
    register file built over a pre-split union equals the one built
    over the whole frame (the mergeable-sketch property — max is
    associative)."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    df = spark.range(5000).select(
        F.concat(F.lit("key_"), F.col("id")).alias("k")
    )
    est = sketch.hll_estimate(df, "k").first()["hll_estimate"]
    assert abs(est - 5000) / 5000 < 0.15, est

    half1 = df.filter(F.col("k") < "key_5")
    half2 = df.filter(~(F.col("k") < "key_5"))
    est_u = sketch.hll_estimate(half1.union(half2), "k").first()["hll_estimate"]
    assert est_u == est


def test_trend_recovers_exact_line(spark):
    """regr_* on exactly linear data returns the planted slope and
    intercept with r2 = 1."""
    rows = [(1, 1_735_689_600_000_000_000 + d * 86_400_000_000_000,
             2.5 * d + 7.0) for d in range(30)]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    x = (F.expr("ts div 1000") - F.lit(1_735_689_600_000_000)) / F.lit(
        86_400_000_000.0
    )
    out = ev.groupBy("user_id").agg(
        F.round(F.regr_slope("value", x), 5).alias("slope"),
        F.round(F.regr_intercept("value", x), 4).alias("intercept"),
        F.round(F.regr_r2("value", x), 5).alias("r2"),
    ).first()
    assert out["slope"] == 2.5 and out["intercept"] == 7.0 and out["r2"] == 1.0


def test_kcenter_farthest_distances_non_increasing(spark, sf_dir):
    """Greedy k-center's selection distance is non-increasing by
    construction (each round's max-min can't exceed the previous), all
    ids distinct, and the seed comes first."""
    from pdf_to_vectordb_etl_spark.operators import clustering

    emb = load(spark, sf_dir, "embeddings").limit(200)
    out = clustering.kcenter_select(emb, k=6, start_id=0).collect()
    assert [r["sel_rank"] for r in out] == list(range(1, 7))
    assert out[0]["id"] == 0 and out[0]["min_dist"] == 0.0
    ids = [r["id"] for r in out]
    assert len(set(ids)) == len(ids)
    d = [r["min_dist"] for r in out[1:]]
    assert all(a >= b for a, b in zip(d, d[1:])), d


def test_label_spread_two_hops_and_tiebreak(spark):
    """A 5-node path seeded at one end labels exactly 2 hops in 2
    rounds; a node with two equal-vote labeled neighbours takes the
    lexicographically smallest label."""
    from pdf_to_vectordb_etl_spark.operators import graph

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["a", "b"]
    )
    seeds = spark.createDataFrame([(1, "x")], ["id", "label"])
    got = {r["id"]: r["label"] for r in
           graph.label_spread(path, seeds, rounds=2).collect()}
    assert got == {1: "x", 2: "x", 3: "x"}  # 2 hops, nodes 4-5 unreached

    tie = spark.createDataFrame([(1, 3), (2, 3)], ["a", "b"])
    seeds2 = spark.createDataFrame([(1, "b"), (2, "a")], ["id", "label"])
    got2 = {r["id"]: r["label"] for r in
            graph.label_spread(tie, seeds2, rounds=1).collect()}
    assert got2[3] == "a"  # tie -> smallest label


def test_ewma_constant_series_and_reference_loop(spark):
    """EWMA of a constant series is that constant (weights
    renormalize); on a varying series the windowed form matches a
    plain Python reference computation of the same truncated dot
    product."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    rows = [(1, i, i * 1000, 5.0) for i in range(30)]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "tus", "value"])
    out = aggregates.ewma(ev, alpha=0.3, lookback=20).collect()
    assert all(r["ewma"] == 5.0 for r in out)

    vals = [float(v) for v in (1, 4, 2, 8, 5, 7, 3, 9, 6, 2)]
    rows2 = [(2, i, i * 1000, v) for i, v in enumerate(vals)]
    ev2 = spark.createDataFrame(rows2, ["user_id", "event_id", "tus", "value"])
    got = {r["event_id"]: r["ewma"]
           for r in aggregates.ewma(ev2, alpha=0.3, lookback=20).collect()}
    wts = [0.3 * 0.7 ** (19 - k) for k in range(20)]
    for t in range(len(vals)):
        lo = max(0, t - 19)
        window = vals[lo:t + 1]
        used = wts[20 - len(window):]
        ref = round(sum(v * w for v, w in zip(window, used)) / sum(used), 6)
        assert abs(got[t] - ref) < 1e-9, (t, got[t], ref)


def test_stream_hll_registers_equal_batch(spark, sf_dir):
    """The streaming register snapshot over the full table equals the
    batch register file row-for-row — the associative-max sketch
    property under micro-batching."""
    from pdf_to_vectordb_etl_spark.operators import sketch
    from pdf_to_vectordb_etl_spark.streaming.pipeline import stream_hll_registers

    stream = table_stream(spark, sf_dir, "documents")
    streamed = drain_to_memory(stream_hll_registers(stream), "t9_regs_test")
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    )
    batch = sketch.hll_registers(toks, "tok", by="source")
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_semantic_chunks_merges_repeats_and_cuts_drift(spark):
    """A document whose segments repeat verbatim stays ONE chunk
    (cos = 1 between identical units); chunk ids are dense, start at 0,
    and never decrease within a doc."""
    from pdf_to_vectordb_etl_spark.operators import chunking

    seg = "alpha beta gamma delta"  # 4 tokens -> one segment at width 4
    df = spark.createDataFrame(
        [(1, " ".join([seg] * 5)),
         (2, "one two three four five six seven eight nine ten eleven twelve")],
        ["doc_id", "text"],
    )
    out = chunking.semantic_chunks(
        df, threshold=0.2, dim=16, segment_tokens=4
    ).collect()
    d1 = sorted([r for r in out if r["doc_id"] == 1], key=lambda r: r["sent_idx"])
    assert len(d1) == 5
    assert all(r["chunk_id"] == 0 for r in d1)  # identical units merge
    assert all(r["cos_prev"] == 1.0 for r in d1[1:])
    d2 = sorted([r for r in out if r["doc_id"] == 2], key=lambda r: r["sent_idx"])
    ids = [r["chunk_id"] for r in d2]
    assert ids[0] == 0 and all(a <= b for a, b in zip(ids, ids[1:]))


def test_psi_drift_detects_planted_shift(spark):
    """PSI ~ 0 when both halves share a distribution; large when the
    late half shifts. Planted: type 'a' stable, type 'b' doubles its
    values in the second half."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    rows = []
    for i in range(400):
        t = i * 1000
        rows.append(("a", t, float(i % 50)))
        rows.append(("b", t, float(i % 50) * (4.0 if i >= 200 else 1.0)))
    ev = spark.createDataFrame(rows, ["event_type", "tus", "value"])
    out = {r["event_type"]: r["psi"]
           for r in profiling.psi_drift(ev, bins=10).collect()}
    assert out["a"] < 0.05, out
    assert out["b"] > 0.5, out


def test_cooccurrence_lift_identifies_dependence(spark):
    """Keys that always pair x with y give lift > 1; independent items
    hover near 1."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    rows = []
    for k in range(100):
        if k < 50:
            rows += [(k, "x"), (k, "y")]  # x and y always together
        else:
            rows += [(k, "z"), (k, "w")]
    ev = spark.createDataFrame(rows, ["user_id", "event_type"])
    out = {(r["item_a"], r["item_b"]): r
           for r in profiling.cooccurrence_pairs(ev, min_keys=5).collect()}
    # P(x)=P(y)=0.5, P(x,y)=0.5 -> lift = 0.5/(0.5*0.5) = 2
    assert out[("x", "y")]["n_keys"] == 50
    assert out[("x", "y")]["lift"] == 2.0
    assert ("x", "z") not in out  # never co-occur


def test_vocab_coverage_full_vocab_zero_oov(spark):
    """With vocab_size >= distinct tokens, OOV is zero everywhere; with
    a tiny vocab, OOV is strictly positive."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    df = spark.createDataFrame(
        [(1, "a b c d", "en"), (2, "a b e f", "de")],
        ["doc_id", "text", "lang"],
    )
    full = ta.vocab_coverage(df, vocab_size=100).collect()
    assert all(r["oov_rate"] == 0.0 for r in full)
    tiny = {r["lang"]: r["oov_rate"]
            for r in ta.vocab_coverage(df, vocab_size=2).collect()}
    assert tiny["en"] > 0 and tiny["de"] > 0


def test_quota_allocate_sums_exactly(spark, sf_dir):
    """Largest-remainder quotas must sum to EXACTLY the requested
    total (the floor-only plan undershoots) and never exceed a
    group's availability."""
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = load(spark, sf_dir, "documents")
    out = curation.quota_allocate(
        docs, total=123, weight=F.sqrt(F.col("n_avail")), by="source"
    ).collect()
    assert sum(r["n_alloc"] for r in out) == 123
    assert all(r["n_alloc"] <= r["n_avail"] for r in out)


def test_time_decay_sum_discounts_age(spark):
    """An event at the anchor keeps full value; one exactly one
    half-life older contributes half."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    day_us = 86_400_000_000
    rows = [(1, 30 * day_us, 10.0), (1, 0, 10.0)]  # anchor + 30d older
    ev = spark.createDataFrame(rows, ["user_id", "tus", "value"])
    out = aggregates.time_decay_sum(ev, half_life_days=30.0).first()
    assert out["decayed_value"] == 15.0  # 10 + 10*0.5


def test_iqr_outliers_flags_planted_point(spark):
    """A planted extreme value is flagged; the bulk interior is not."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    rows = [("a", float(v)) for v in range(100)] + [("a", 10_000.0)]
    ev = spark.createDataFrame(rows, ["event_type", "value"])
    out = aggregates.iqr_outlier_flags(ev, by="event_type").collect()
    assert len(out) == 1 and out[0]["value"] == 10_000.0


def test_explain_pairs_counts_shared_shingles(spark):
    """Two identical 6-token docs share all 4 trigram shingles; the
    sample is the sorted first 3."""
    from pdf_to_vectordb_etl_spark.operators import dedup

    txt = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame([(1, txt), (2, txt)], ["doc_id", "text"])
    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    row = dedup.explain_pairs(df, pairs, n=3, sample=3).first()
    assert row["n_shared"] == 4
    assert row["shared_sample"].count("|") == 2  # exactly 3 entries


def test_negative_edges_disjoint_from_positives(spark):
    """Sampled negatives never collide with the positive edge set and
    respect the per-source cap."""
    from pdf_to_vectordb_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    neg = graph.negative_edge_sample(edges, k_per_src=2).collect()
    pos = {(1, 2), (2, 3), (3, 4), (4, 5)}
    got = {(r["src"], r["dst"]) for r in neg}
    assert got and not (got & pos)
    from collections import Counter

    per_src = Counter(r["src"] for r in neg)
    assert all(v <= 2 for v in per_src.values())


def test_timed_funnel_windows_enforced(spark):
    """User A converts fully in-window; user B's click lands outside
    30 min (drops at step 2); user C clicks before viewing (no
    conversion). Rates are relative to step-1 keys."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    m = 60_000_000  # one minute in micros
    rows = [
        (1, "view", 0), (1, "click", 10 * m), (1, "purchase", 60 * m),
        (2, "view", 0), (2, "click", 45 * m),
        (3, "click", 0), (3, "view", 10 * m),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "tus"])
    out = {r["step"]: r for r in aggregates.timed_funnel(ev).collect()}
    assert out["view"]["n_keys"] == 3
    assert out["click"]["n_keys"] == 1  # only user 1 within 30 min
    assert out["purchase"]["n_keys"] == 1
    assert out["click"]["rate"] == round(1 / 3, 6)


def test_stream_cdc_converges_across_adversarial_batches(spark, tmp_path):
    """Micro-batch boundaries are arbitrary relative to version order;
    tombstone retention must make the streamed snapshot equal the
    one-shot MERGE even when a LOW-versioned delete arrives AFTER a
    high-versioned upsert (must not kill) and a low-versioned upsert
    arrives after a high-versioned delete (must not resurrect)."""
    from pdf_to_vectordb_etl_spark.operators.cdc import live_rows, merge_changelog
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        read_snapshot,
        stream_apply_changes,
    )

    cols = ["user_id", "value", "op", "ord"]
    batch1 = [(1, 10.0, "upsert", 100), (2, 20.0, "delete", 100)]
    batch2 = [(1, 1.0, "delete", 50), (2, 2.0, "upsert", 50),
              (3, 30.0, "upsert", 10)]
    drop = tmp_path / "drop"
    drop.mkdir()
    spark.createDataFrame(batch1, cols).coalesce(1).write.parquet(
        str(drop / "b1.parquet")
    )
    spark.createDataFrame(batch2, cols).coalesce(1).write.parquet(
        str(drop / "b2.parquet")
    )
    schema = spark.createDataFrame(batch1, cols).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop) + "/*.parquet")
    )
    snap = str(tmp_path / "snap")
    q = stream_apply_changes(
        stream, snap, str(tmp_path / "ckpt"), ["user_id"], "ord"
    )
    await_stream(q)
    streamed = {
        r["user_id"]: r["value"]
        for r in live_rows(read_snapshot(spark, snap)).collect()
    }
    allc = spark.createDataFrame(batch1 + batch2, cols)
    oneshot = {
        r["user_id"]: r["value"]
        for r in live_rows(
            merge_changelog(None, allc, ["user_id"], "ord")
        ).collect()
    }
    assert streamed == oneshot == {1: 10.0, 3: 30.0}
    # user 1 survives the late low-ver delete; user 2 stays dead


def test_hll_sliding_uniques_tracks_churn(spark):
    """Planted churn: 100 users active in days 0-2, a DISJOINT 100 in
    days 3-5. The 6-day window at day 5 must see ~200 uniques while the
    per-day estimate sees ~100 — the merge across buckets is what a
    plain per-bucket distinct cannot give without rescanning."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    rows = []
    for d in range(6):
        base = 0 if d < 3 else 1000
        rows += [(d, str(base + u)) for u in range(100)]
    ev = spark.createDataFrame(rows, ["day", "uid"])
    out = {r["time_bucket"]: r["hll_estimate"]
           for r in sketch.hll_sliding_uniques(
               ev, "uid", "day", window_buckets=6).collect()}
    assert abs(out[2] - 100) / 100 < 0.2      # only cohort 1 so far
    assert abs(out[5] - 200) / 200 < 0.2      # both cohorts in window

    narrow = {r["time_bucket"]: r["hll_estimate"]
              for r in sketch.hll_sliding_uniques(
                  ev, "uid", "day", window_buckets=1).collect()}
    assert abs(narrow[5] - 100) / 100 < 0.2   # single-day window


def test_weighted_sample_without_replacement_favors_heavy(spark):
    """A-ES exponential keys: with one row carrying overwhelming
    weight, it must appear in essentially every top-k; sample size is
    exactly k per group; zero-weight rows never displace weighted
    ones."""
    from pdf_to_vectordb_etl_spark.operators import sampling

    rows = [(i, "g", 1000.0 if i == 7 else 0.001) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "grp", "w"])
    out = sampling.weighted_sample_without_replacement(
        df, k=5, weight=F.col("w"), by="grp"
    ).collect()
    assert len(out) == 5
    assert 7 in {r["doc_id"] for r in out}  # heavy row always sampled

    zeros = [(100 + i, "g", 0.0) for i in range(5)]
    df2 = spark.createDataFrame(rows + zeros, ["doc_id", "grp", "w"])
    out2 = sampling.weighted_sample_without_replacement(
        df2, k=5, weight=F.col("w"), by="grp"
    ).collect()
    assert all(r["doc_id"] < 100 for r in out2)  # zero-weight rows last


def test_observation_metrics_single_pass(spark, sf_dir):
    """Pipeline instrumentation via the Observation API: quality-gate
    metrics (row count, null count, value sum) ride along with the
    action — ONE pass, no second job — the production alternative to
    re-counting a frame for monitoring."""
    from pyspark.sql import Observation

    docs = load(spark, sf_dir, "documents")
    obs = Observation("ingest_metrics")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("n_chars")).alias("total_chars"),
        F.count(F.when(F.col("text").isNull(), 1)).alias("null_texts"),
    )
    n = observed.filter(F.length("text") > 0).count()
    got = obs.get
    assert got["n_rows"] == docs.count()
    assert got["null_texts"] == 0
    assert got["total_chars"] > 0
    assert n <= got["n_rows"]


def test_python_udtf_integration_point(spark):
    """Spark 4 Python UDTF surface: a table function that yields one
    row per fixed-size text window — the integration point for custom
    generators that genuinely need imperative logic (everything in the
    engine's own hot paths stays native; this pins that the escape
    hatch works and keeps its declared schema)."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="win_id: int, chunk: string")
    class WindowsOf:
        def eval(self, text: str, size: int):
            if text is None:
                return
            for i in range(0, len(text), size):
                yield i // size, text[i:i + size]

    spark.udtf.register("windows_of", WindowsOf)
    out = WindowsOf(lit("abcdefghij"), lit(4)).collect()
    assert [(r["win_id"], r["chunk"]) for r in out] == [
        (0, "abcd"), (1, "efgh"), (2, "ij")
    ]
    sql_out = spark.sql(
        "SELECT * FROM windows_of('xyz', 2)"
    ).collect()
    assert [(r["win_id"], r["chunk"]) for r in sql_out] == [(0, "xy"), (1, "z")]


def test_merge_changelog_version_tie_is_atomic(spark):
    """A delete and an upsert sharing one version must resolve to ONE
    row's (op, payload) pair — upsert wins deterministically — in
    every batch split (two independent max_by calls would tear them)."""
    from pdf_to_vectordb_etl_spark.operators.cdc import live_rows, merge_changelog

    cols = ["user_id", "value", "op", "ord"]
    a = [(1, 10.0, "delete", 5)]
    b = [(1, 20.0, "upsert", 5)]
    for first, second in ((a, b), (b, a)):
        snap = merge_changelog(None, spark.createDataFrame(first, cols),
                               ["user_id"], "ord")
        snap = merge_changelog(snap, spark.createDataFrame(second, cols),
                               ["user_id"], "ord")
        rows = live_rows(snap).collect()
        assert len(rows) == 1 and rows[0]["value"] == 20.0
    oneshot = merge_changelog(
        None, spark.createDataFrame(a + b, cols), ["user_id"], "ord"
    )
    assert live_rows(oneshot).first()["value"] == 20.0


def test_k_hop_reachability_min_hops(spark):
    """Hand-built path graph a-b-c-d-e plus an isolated island: hop
    distances are the true BFS minima, nodes beyond max_hops are
    absent, and an undirected traversal crosses edges both ways."""
    from pdf_to_vectordb_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("x", "y")],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([("a",)], ["id"])
    out = {
        r["node"]: r["hops"]
        for r in graph.k_hop_reachability(
            edges, seeds, max_hops=3, directed=False
        ).collect()
    }
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}  # e is 4 hops; x,y island
    # directed: the reverse edge is not traversable
    seeds_e = spark.createDataFrame([("e",)], ["id"])
    out_dir = {
        r["node"]: r["hops"]
        for r in graph.k_hop_reachability(
            edges, seeds_e, max_hops=3, directed=True
        ).collect()
    }
    assert out_dir == {"e": 0}
    # multi-source: min over seeds wins, duplicate seeds collapse
    seeds2 = spark.createDataFrame([("a",), ("d",), ("d",)], ["id"])
    out2 = {
        r["node"]: r["hops"]
        for r in graph.k_hop_reachability(
            edges, seeds2, max_hops=1, directed=False
        ).collect()
    }
    assert out2 == {"a": 0, "d": 0, "b": 1, "c": 1, "e": 1}


def test_rendezvous_shard_stability_and_movement(spark):
    """HRW invariants: assignment is layout-independent and in range;
    growing 8->9 shards moves roughly 1/9 of keys (far below mod-N's
    ~8/9), and every key that moved landed on the NEW shard."""
    from pdf_to_vectordb_etl_spark.operators import sampling

    n = 2000
    df = spark.range(n).withColumnRenamed("id", "k")
    out = df.select(
        "k",
        sampling.rendezvous_shard("k", 8).alias("s8"),
        sampling.rendezvous_shard("k", 9).alias("s9"),
    ).collect()
    assert all(0 <= r["s8"] < 8 and 0 <= r["s9"] < 9 for r in out)
    moved = [r for r in out if r["s8"] != r["s9"]]
    frac = len(moved) / n
    assert 0.05 <= frac <= 0.20, f"moved {frac:.2%}, expected ~1/9"
    assert all(r["s9"] == 8 for r in moved), "HRW move must target the new shard"
    # repartitioned layout yields byte-identical assignments
    out2 = {
        r["k"]: r["s8"]
        for r in df.repartition(7)
        .select("k", sampling.rendezvous_shard("k", 8).alias("s8"))
        .collect()
    }
    assert all(out2[r["k"]] == r["s8"] for r in out)


def test_normalize_text_folds_and_collapses(spark):
    """Accent fold + NBSP + whitespace collapse on adversarial rows,
    including chars outside the fold table passing through."""
    from pdf_to_vectordb_etl_spark.operators import webcorpus

    rows = [
        ("Crème  brûlée",),          # fold + run collapse
        ("    padded   ",),  # NBSP + trim
        ("ÀÉÎÕÜ çñ ýÿ",),            # uppercase + consonant folds
        ("中文 unchanged",),          # outside the table: passthrough
        ("s\u0440\u0430m \u0395\u039dEM",),  # Cyrillic/Greek homoglyph spoof
        ("",),
    ]
    df = spark.createDataFrame(rows, ["t"])
    got = [
        r["n"] for r in df.select(webcorpus.normalize_text("t").alias("n")).collect()
    ]
    assert got == [
        "creme brulee",
        "padded",
        "aeiou cn yy",
        "中文 unchanged",
        "spam enem",
        "",
    ]


def test_prefix_filter_equals_baseline_with_fewer_candidates(spark, sf_dir):
    """The prefix lemma: identical pair output to the full
    inverted-index operator at the same threshold, while the candidate
    self-join touches strictly fewer postings (common shingles fall
    outside every prefix)."""
    from pdf_to_vectordb_etl_spark.operators import dedup
    from pdf_to_vectordb_etl_spark.operators.dedup import _shingle_hashes

    docs = load(spark, sf_dir, "documents")
    base = dedup.ngram_jaccard_pairs(docs, threshold=0.5, n=3).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("j")
    )
    pf = dedup.prefix_filter_jaccard_pairs(docs, threshold=0.5, n=3).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("j")
    )
    assert base.exceptAll(pf).count() == 0
    assert pf.exceptAll(base).count() == 0
    # posting-volume pin: Sum df(s)^2 over indexed shingles shrinks
    ex = _shingle_hashes(docs, "text", "doc_id", 3)
    full_fanout = (
        ex.groupBy("h").count().agg(F.sum(F.col("count") ** 2)).first()[0]
    )
    # recompute the prefix posting count directly: rarest-first ranks
    from pyspark.sql import Window

    counts = ex.groupBy("id").agg(F.count("*").alias("n_sh"))
    docfreq = ex.groupBy("h").agg(F.count("*").alias("_df"))
    pref = (
        ex.join(docfreq, "h")
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy("id").orderBy("_df", "h")),
        )
        .join(counts, "id")
        .filter(F.col("_rn") <= F.col("n_sh") - F.ceil(0.5 * F.col("n_sh")) + 1)
    )
    pref_fanout = (
        pref.groupBy("h").count().agg(F.sum(F.col("count") ** 2)).first()[0]
    )
    assert pref_fanout < full_fanout, (pref_fanout, full_fanout)


def test_kmv_merge_and_exact_small_groups(spark):
    """KMV invariants: a group with < k distinct elements is counted
    exactly; bottom-k of a union equals bottom-k over concatenated
    per-split sketches (mergeability); estimate tracks the true
    cardinality within the k^-1/2 error regime."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    n = 5000
    df = spark.range(n).select(
        F.concat(F.lit("e"), F.col("id")).alias("elem")
    )
    k = 64
    sk = sketch.kmv_bottomk(df, "elem", k=k)
    est = sketch.kmv_estimate(sk, k=k).first()["est_distinct"]
    assert abs(est - n) / n < 0.5, est  # 1/sqrt(64) regime, loose band
    # exact when under k
    small = spark.range(40).select(F.concat(F.lit("s"), F.col("id")).alias("elem"))
    est_small = sketch.kmv_estimate(
        sketch.kmv_bottomk(small, "elem", k=k), k=k
    ).first()["est_distinct"]
    assert est_small == 40.0
    # mergeability: sketch(A ∪ B) == bottom-k(sketch(A) ∪ sketch(B))
    a = df.filter(F.col("elem") < "e3")
    b = df.filter(F.col("elem") >= "e3")
    sk_union = sketch.kmv_bottomk(df, "elem", k=k)
    # merge = bottom-k over the CONCATENATED sketches' tags (no rehash)
    merged = (
        sketch.kmv_bottomk(a, "elem", k=k)
        .unionByName(sketch.kmv_bottomk(b, "elem", k=k))
        .distinct()
        .orderBy("u")
        .limit(k)
    )
    got = sorted(r["u"] for r in merged.collect())
    want = sorted(r["u"] for r in sk_union.collect())
    assert got == want


def test_stream_cms_registers_equal_batch(spark, sf_dir):
    """T11: the streaming Count-Min counter snapshot over the full
    table equals the batch sketch row-for-row — associative-sum state
    under micro-batching."""
    from pdf_to_vectordb_etl_spark.operators import sketch
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        stream_countmin_registers,
    )

    stream = table_stream(spark, sf_dir, "documents")
    streamed = drain_to_memory(stream_countmin_registers(stream), "t11_regs_test")
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    batch = sketch.countmin_build(toks, "tok")
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_merkle_diff_equals_snapshot_diff_and_localizes(spark, sf_dir):
    """Anti-entropy reconciliation invariants: the bucket-localized
    diff equals the one-shot full-outer snapshot_diff row-for-row; the
    summary is bounded at n_buckets rows; and the disagreeing-bucket
    set is a small fraction of the table's buckets when churn is
    small (that locality is the entire point)."""
    from pdf_to_vectordb_etl_spark.operators import cdc
    from tests.conftest import load as _load

    ev = _load(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.floor(F.col("value") * 10000).cast("long").alias("vi"),
    )
    old = ev
    new = (
        ev.filter(F.col("event_id") % 211 != 0)
        .withColumn(
            "vi",
            F.when(F.col("event_id") % 199 == 0, F.col("vi") + 7).otherwise(
                F.col("vi")
            ),
        )
    )
    keys, payload = ["event_id"], ["event_type", "vi"]
    want = sorted(
        (r["event_id"], r["change_type"])
        for r in cdc.snapshot_diff(old, new, keys, payload).collect()
    )
    got = sorted(
        (r["event_id"], r["change_type"])
        for r in cdc.merkle_diff(old, new, keys, payload, n_buckets=512).collect()
    )
    assert got == want and len(got) > 0
    s_old = cdc.merkle_summary(old, keys, payload, n_buckets=512)
    s_new = cdc.merkle_summary(new, keys, payload, n_buckets=512)
    assert s_old.count() <= 512
    n_changed = cdc.merkle_changed_buckets(s_old, s_new).count()
    # ~1.5% churn over 512 buckets: most buckets must fingerprint equal
    assert 0 < n_changed < 512 * 0.5, n_changed
    # identical snapshots -> zero disagreeing buckets, empty diff
    assert cdc.merkle_changed_buckets(s_old, s_old).count() == 0
    assert cdc.merkle_diff(old, old, keys, payload, n_buckets=512).count() == 0


def test_fd_violations_g3_semantics(spark):
    """g3 measure by hand: det=1 -> {a:3, b:1} violates by 1; det=2 ->
    {a:2} clean; an exact FD reports holds=True with 0 violations."""
    from pdf_to_vectordb_etl_spark.operators import profiling

    rows = [(1, "a")] * 3 + [(1, "b")] + [(2, "a")] * 2
    df = spark.createDataFrame(rows, ["k", "v"])
    out = {
        (r["determinant"], r["dependent"]): r
        for r in profiling.fd_violations(df, [("k", "v"), ("v", "k")]).collect()
    }
    kv = out[("k", "v")]
    assert kv["n_groups"] == 2 and kv["n_violations"] == 1 and not kv["holds"]
    vk = out[("v", "k")]  # v=a -> {1:3, 2:2} violates by 2; v=b clean
    assert vk["n_groups"] == 2 and vk["n_violations"] == 2 and not vk["holds"]
    ident = profiling.fd_violations(df.withColumn("w", F.col("k")), [("k", "w")])
    r = ident.first()
    assert r["holds"] and r["n_violations"] == 0


def test_cc_star_topologies_and_truth(spark):
    """Star-contraction CC on adversarial topologies: a 64-node path
    (diameter 63 — the min-label killer), two islands incl. a cycle,
    and a 150-edge random graph checked against driver-side
    union-find ground truth."""
    from pdf_to_vectordb_etl_spark.operators import graph

    def cc(rows):
        e = spark.createDataFrame(rows, ["a", "b"])
        return {
            r["id"]: r["cluster_id"]
            for r in graph.connected_components_star(e).collect()
        }

    path = [(i + 1, i) if i % 2 else (i, i + 1) for i in range(63)]
    out = cc(path)
    assert set(out.values()) == {0} and len(out) == 64
    out2 = cc([(10, 11), (11, 12), (20, 21), (21, 22), (22, 20)])
    assert out2 == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 22: 20}
    import random

    random.seed(7)
    pairs = [
        (a, b)
        for a, b in [
            (random.randrange(200), random.randrange(200)) for _ in range(150)
        ]
        if a != b
    ]
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    from collections import defaultdict

    comp = defaultdict(set)
    for n in parent:
        comp[find(n)].add(n)
    truth = {n: min(comp[find(n)]) for n in parent}
    assert cc(pairs) == truth


def test_cluster_pairs_raises_on_nonconvergence(spark, monkeypatch):
    """A 30-node path with a 3-round budget cannot converge — the old
    code returned silently-wrong labels; it must now raise and point
    at the star-contraction alternative."""
    import pytest

    from pdf_to_vectordb_etl_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    with monkeypatch.context() as mp:
        mp.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
        # distributed path (driver fast path off): must raise, not lie
        with pytest.raises(ValueError, match="connected_components_star"):
            dedup.cluster_pairs(chain, max_iterations=3)
        # and with budget it converges to one component
        out = dedup.cluster_pairs(chain, max_iterations=40).collect()
    assert {r["cluster_id"] for r in out} == {0}
    # the driver union-find fast path needs no iteration budget at all
    out2 = dedup.cluster_pairs(chain, max_iterations=3).collect()
    assert {r["cluster_id"] for r in out2} == {0}
    assert sorted(r["id"] for r in out2) == list(range(31))


def test_k_anonymity_semantics(spark):
    """Hand-built QI classes: sizes {a:6, b:3, c:1} at k=5 -> 2 classes
    under k covering 4 rows, min size 1, suppression 4/10; a k=1 check
    is always anonymous."""
    from pdf_to_vectordb_etl_spark.operators import quality_checks

    rows = [("a",)] * 6 + [("b",)] * 3 + [("c",)]
    df = spark.createDataFrame(rows, ["qi"])
    r = quality_checks.k_anonymity_report(df, ["qi"], k=5).first()
    assert r["n_classes"] == 3 and r["classes_under_k"] == 2
    assert r["rows_under_k"] == 4 and r["min_class_size"] == 1
    assert not r["k_anonymous"] and abs(r["suppression_frac"] - 0.4) < 1e-9
    assert quality_checks.k_anonymity_report(df, ["qi"], k=1).first()[
        "k_anonymous"
    ]


def test_canary_inject_detect_roundtrip(spark, sf_dir):
    """Canary invariants: detection recovers exactly the injected set
    with the expected marker per id; non-selected docs are untouched;
    the selected set is layout-invariant (same ids after repartition)."""
    import hashlib

    from pdf_to_vectordb_etl_spark.operators import curation

    docs = load(spark, sf_dir, "documents")
    inj = curation.inject_canaries(docs, rate=0.1)
    got = {
        r["doc_id"]: r["canary"]
        for r in curation.detect_canaries(inj).collect()
    }
    flagged = {
        r["doc_id"]: r["text"]
        for r in inj.filter("has_canary").collect()
    }
    assert set(got) == set(flagged) and len(got) > 0
    for doc_id, canary in got.items():
        want = hashlib.md5(f"canary!{doc_id}".encode()).hexdigest()[:16]
        assert canary == want
        assert flagged[doc_id].endswith(f"<canary:{canary}>")
    # untouched rows: text byte-identical to the source
    clean = inj.filter("NOT has_canary").select("doc_id", "text")
    orig = docs.select("doc_id", "text")
    assert clean.exceptAll(orig).count() == 0
    # layout invariance
    inj2 = curation.inject_canaries(docs.repartition(13), rate=0.1)
    got2 = {r["doc_id"] for r in curation.detect_canaries(inj2).collect()}
    assert got2 == set(got)


def test_seasonal_decompose_recovers_planted_structure(spark):
    """Planted series v = 2*t + weekly pattern: the centered MA
    recovers the linear trend exactly, the per-phase profile recovers
    the (centered) pattern, and interior remainders are ~0; seasonal
    components sum to ~0 over one period; edge rows carry NULL trend."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    pattern = [5.0, -3.0, 0.0, 2.0, -4.0, 1.0, -1.0]
    rows = [
        ("k", t, 2.0 * t + pattern[t % 7]) for t in range(35)
    ]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    out = {
        r["t"]: r
        for r in aggregates.seasonal_decompose(
            df, value_col="v", time_col="t", by="g", period=7
        ).collect()
    }
    assert len(out) == 35
    for t in range(35):
        r = out[t]
        if t < 3 or t >= 32:
            assert r["trend"] is None and r["remainder"] is None
            continue
        assert abs(r["trend"] - 2.0 * t) < 1e-6, t
        want_seasonal = pattern[t % 7] - sum(pattern) / 7
        assert abs(r["seasonal"] - want_seasonal) < 1e-6, t
        assert abs(r["remainder"]) < 1e-6, t
    season_sum = sum(out[t]["seasonal"] for t in range(7, 14))
    assert abs(season_sum) < 1e-5


def test_stream_kmv_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """T12: the streaming KMV snapshot over rows split across TWO
    micro-batches equals the batch bottom-k sketch estimate — min-k
    state is batch-split-invariant."""
    import shutil

    from pdf_to_vectordb_etl_spark.operators import sketch
    from pdf_to_vectordb_etl_spark.streaming.stateful import stream_kmv_bottomk

    docs = load(spark, sf_dir, "documents")
    half_a = tmp_path / "a"
    half_b = tmp_path / "b"
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(half_a))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(half_b))
    live = tmp_path / "live"
    live.mkdir()

    def _move_in(src_dir, name):
        part = next(pp for pp in src_dir.glob("*.parquet"))
        shutil.copy(part, live / name)

    raw_schema = spark.read.parquet(str(half_a)).schema
    ck = str(tmp_path / "ck")
    rows = []

    def run_once():
        stream = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(live))
        )
        q = (
            stream_kmv_bottomk(stream, k=64)
            .writeStream.foreachBatch(
                lambda bdf, _bid: rows.extend(bdf.collect())
            )
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        await_stream(q)

    # batch 1: even docs only; batch 2 (same checkpoint): odd docs —
    # the state must carry across runs
    _move_in(half_a, "a.parquet")
    run_once()
    n_first = len(rows)
    _move_in(half_b, "b.parquet")
    run_once()
    assert n_first > 0 and len(rows) > n_first  # two real batches
    best = {}
    for r in rows:
        if r["key"] not in best or r["n_tags"] > best[r["key"]][0]:
            best[r["key"]] = (r["n_tags"], r["est_distinct"])
    got = best
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).filter("tok != ''")
    bk = sketch.kmv_bottomk(toks, "tok", k=64, by="source")
    want_est = {
        r["source"]: round(r["est_distinct"], 4)
        for r in sketch.kmv_estimate(bk, k=64, by="source").collect()
    }
    want_n = {
        r["source"]: r["cnt"]
        for r in bk.groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert {k: v[1] for k, v in got.items()} == want_est
    assert {k: v[0] for k, v in got.items()} == want_n


def test_cusum_matches_recurrence_and_detects_shift(spark):
    """The windowed closed form (cumsum - running-min) equals the
    direct S_t = max(0, S_{t-1} + z_t - k) recurrence computed in
    Python, and a planted +2σ mean shift raises alarm_up only after
    the shift while the in-control prefix stays quiet."""
    from pdf_to_vectordb_etl_spark.operators import aggregates

    base = [0.0, 1.0, -1.0, 0.5, -0.5] * 6          # in-control
    shifted = [4.0, 5.0, 3.5, 4.5, 4.0] * 4          # mean shift
    vals = base + shifted
    rows = [("k", t, v) for t, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["key", "t", "v"])
    out = {
        r["t"]: r
        for r in aggregates.cusum_changepoints(
            df, value_col="v", by="key", order_cols=("t",),
            slack=0.5, threshold=3.0,
        ).collect()
    }
    # direct recurrence on the same standardization
    mu = sum(vals) / len(vals)
    sd = (sum((x - mu) ** 2 for x in vals) / len(vals)) ** 0.5
    sp = sn = 0.0
    for t, v in enumerate(vals):
        z = (v - mu) / sd
        sp = max(0.0, sp + z - 0.5)
        sn = max(0.0, sn - z - 0.5)
        assert abs(out[t]["s_pos"] - round(sp, 6)) < 1e-6, t
        assert abs(out[t]["s_neg"] - round(sn, 6)) < 1e-6, t
    assert not any(out[t]["alarm_up"] for t in range(len(base)))
    assert any(out[t]["alarm_up"] for t in range(len(base), len(vals)))


def test_query_expansion_hand_computed(spark):
    """Tiny corpus with hand-computable RM3 weights: the feedback docs
    (matching 'spark') contribute 'shuffle' (rare, high idf) above
    'common' (in every doc, idf ln(1)=0 → weight 0 and excluded only
    by rank); query terms and short tokens never expand."""
    from pdf_to_vectordb_etl_spark.operators import textsearch

    rows = [
        (1, "spark shuffle shuffle common ok"),
        (2, "spark shuffle common go"),
        (3, "nothing relevant here common"),
        (4, "common filler text common"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textsearch.expand_query(
        df, ["spark"], fb_k=2, n_expansion=3, min_len=3
    ).collect()
    terms = [r["term"] for r in out]
    assert "spark" not in terms and "ok" not in terms and "go" not in terms
    assert terms[0] == "shuffle"
    import math

    top = out[0]
    assert top["fb_tf"] == 3 and top["df"] == 2
    assert abs(top["weight"] - round(3 * math.log(4 / 2), 6)) < 1e-9
    # 'common' appears in all 4 docs -> idf ln(1) = 0 -> weight 0
    w = {r["term"]: r["weight"] for r in out}
    if "common" in w:
        assert w["common"] == 0.0


def test_record_linkage_precision_recall(spark, sf_dir):
    """The planted-feed linkage recovers every clone (recall 1.0) with
    zero false links (precision 1.0) at threshold 10; decoys never
    link; per-field agreement booleans are all true on links."""
    import __spark_entry__ as entry

    out = entry.q_record_linkage(spark, sf_dir).collect()
    assert out, "no links"
    assert all(r["id_r"] == r["id_l"] + 1_000_000 for r in out)
    assert all(
        r["agree_name"] and r["agree_bal"] and r["agree_seg"] for r in out
    )
    n_clones = (
        load(spark, sf_dir, "customer").filter("c_custkey % 7 = 0").count()
    )
    assert len(out) == n_clones
    assert not any(r["id_r"] >= 2_000_000 for r in out)  # decoys rejected


def test_spatial_neighbor_join_equals_brute_force(spark):
    """Cell-binned neighbor join == brute-force all-pairs haversine
    filter on a deterministic point cloud (no pair lost at cell
    borders, none duplicated); a known distance pins the formula
    (1° of longitude at the equator = 111.19 km)."""
    import math

    from pdf_to_vectordb_etl_spark.operators import spatial

    pts = [
        (i, -30.0 + (i * 37 % 60), -100.0 + (i * 53 % 120) * 0.9)
        for i in range(80)
    ]
    df = spark.createDataFrame(pts, ["id", "lat", "lon"])
    got = sorted(
        (r["id_a"], r["id_b"], r["dist_km"])
        for r in spatial.neighbor_pairs(
            df, radius_km=500.0, cell_deg=10.0
        ).collect()
    )

    def hav(a, b):
        (la1, lo1), (la2, lo2) = a, b
        dphi = math.radians(la2 - la1) / 2
        dl = math.radians(lo2 - lo1) / 2
        x = (
            math.sin(dphi) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(dl) ** 2
        )
        return 2 * 6371.0 * math.asin(math.sqrt(x))

    want = sorted(
        (i, j, round(hav((pts[i][1], pts[i][2]), (pts[j][1], pts[j][2])), 6))
        for i in range(80)
        for j in range(i + 1, 80)
        if round(hav((pts[i][1], pts[i][2]), (pts[j][1], pts[j][2])), 6) <= 500.0
    )
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_a, _b, dg), (_c, _d, dw) in zip(got, want):
        assert abs(dg - dw) < 1e-5
    eq = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 0.0, 1.0)], ["id", "lat", "lon"]
    )
    d = spatial.neighbor_pairs(eq, radius_km=200.0, cell_deg=5.0).first()[
        "dist_km"
    ]
    assert abs(d - 111.194927) < 1e-3


def test_density_clusters_roles_and_labels(spark):
    """Hand-built geometry: a 4-point tight cluster (all core), one
    border point near a single core, and two isolated noise points.
    Labels are component minima; border adopts its core neighbor's
    cluster; DBSCAN role decomposition is exact."""
    from pdf_to_vectordb_etl_spark.operators import spatial

    # degrees at the equator: 1 deg ~ 111 km; radius 150 km ~ 1.35 deg
    pts = [
        (1, 0.0, 0.0), (2, 0.0, 1.0), (3, 1.0, 0.0), (4, 1.0, 1.0),  # clique
        (5, 0.0, 2.0),  # 111 km from #2 only (#4 is 157 km) -> border
        (6, 30.0, 30.0), (7, -40.0, 100.0),  # noise
    ]
    df = spark.createDataFrame(pts, ["id", "lat", "lon"])
    out = {
        r["id"]: (r["role"], r["cluster_id"])
        for r in spatial.density_clusters(
            df, radius_km=120.0, cell_deg=3.0, min_neighbors=2
        ).collect()
    }
    assert out[1] == ("core", 1)
    assert out[2] == ("core", 1) and out[3] == ("core", 1)
    assert out[4] == ("core", 1)
    assert out[5] == ("border", 1)
    assert out[6] == ("noise", None) and out[7] == ("noise", None)


def test_stream_cusum_carries_recurrence_across_batches(spark, sf_dir, tmp_path):
    """T13: the recurrence frontier survives micro-batch boundaries —
    two time-ordered files replayed through one checkpoint produce
    exactly the batch detector's rows; out-of-order arrival raises."""
    import pytest

    from pdf_to_vectordb_etl_spark.operators import aggregates
    from pdf_to_vectordb_etl_spark.streaming.stateful import stream_cusum

    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr("(ts div 1000) div 86400000000").alias("day"),
    ).agg(F.count("*").cast("double").alias("v"))
    stats = daily.groupBy("event_type").agg(
        F.avg("v").alias("_mu"), F.stddev_pop("v").alias("_sd")
    )
    ref = {
        r["event_type"]: (r["_mu"], r["_sd"]) for r in stats.collect()
    }
    cut = daily.agg(F.expr("percentile(day, 0.5)")).first()[0]
    live = tmp_path / "live"
    live.mkdir()
    daily.filter(F.col("day") <= cut).coalesce(1).write.parquet(
        str(live / "p1")
    )
    schema = daily.schema
    ck = str(tmp_path / "ck")
    rows = []

    def run_once():
        q = (
            stream_cusum(
                spark.readStream.schema(schema).parquet(str(live / "*")),
                ref,
                key_col="event_type",
                time_col="day",
                value_col="v",
                slack=0.5,
                threshold=3.0,
            )
            .writeStream.foreachBatch(
                lambda bdf, _id: rows.extend(bdf.collect())
            )
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        await_stream(q)

    run_once()
    n_first = len(rows)
    daily.filter(F.col("day") > cut).coalesce(1).write.parquet(
        str(live / "p2")
    )
    run_once()
    assert 0 < n_first < len(rows)
    got = sorted(
        (r["key"], r["t"], r["s_pos"], r["s_neg"]) for r in rows
    )
    want = sorted(
        (r["event_type"], r["day"], r["s_pos"], r["s_neg"])
        for r in aggregates.cusum_changepoints(
            daily, value_col="v", by="event_type", order_cols=("day",),
            slack=0.5, threshold=3.0, stats=stats,
        ).collect()
    )
    assert got == want
    # replaying an EARLIER day against the carried frontier must raise
    bad = tmp_path / "bad"
    bad.mkdir()
    daily.filter(F.col("day") <= cut).coalesce(1).write.parquet(
        str(bad / "late")
    )
    with pytest.raises(Exception, match="out-of-order"):
        q = (
            stream_cusum(
                spark.readStream.schema(schema).parquet(str(bad / "*")),
                ref,
                key_col="event_type",
                time_col="day",
                value_col="v",
            )
            .writeStream.foreachBatch(lambda bdf, _id: bdf.collect())
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)  # frontier already past cut
            .start()
        )
        await_stream(q)


def test_stream_cusum_tolerates_equal_timestamps(spark, tmp_path):
    """A duplicate metric sample (same t, same key) folds in arrival
    order instead of permanently failing the query; strictly-late rows
    still raise (pinned by the cross-batch test above)."""
    from pdf_to_vectordb_etl_spark.streaming.stateful import stream_cusum

    src = tmp_path / "dups"
    src.mkdir()
    df = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, 11.0), ("k", 2, 12.0), ("k", 3, 13.0)],
        "event_type string, day long, v double",
    )
    df.coalesce(1).write.parquet(str(src / "p1"))
    rows = []
    q = (
        stream_cusum(
            spark.readStream.schema(df.schema).parquet(str(src / "*")),
            {"k": (11.0, 1.0)},
            key_col="event_type",
            time_col="day",
            value_col="v",
            slack=0.5,
            threshold=3.0,
        )
        .writeStream.foreachBatch(lambda bdf, _id: rows.extend(bdf.collect()))
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    await_stream(q)
    assert len(rows) == 4  # both t=2 samples processed, none dropped
    assert [r["t"] for r in sorted(rows, key=lambda r: (r["t"], r["v"]))] == [1, 2, 2, 3]
