"""Round-4 additions: hash-bucketed negative sampling, degenerate-ratio
NULL guards (kappa, sketch Jaccard), zero-query PQ sentinel, streaming
PSI bin clamp."""
from __future__ import annotations

import hashlib

import pyspark.sql.functions as F


def test_negative_edges_small_domain_exact(spark):
    """B = 1 (node count below the candidate pool) keeps the exact
    all-pairs semantics: per src, the k non-neighbours with globally
    smallest md5(src‖dst), replicated here with hashlib."""
    from pdf_to_vectordb_etl_spark.operators import graph

    pos = [(1, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(pos, ["src", "dst"])
    got = {
        (r["src"], r["dst"])
        for r in graph.negative_edge_sample(edges, k_per_src=2).collect()
    }
    nodes = {1, 2, 3, 4, 5}
    expected = set()
    for s in nodes:
        cands = [
            (s, d)
            for d in nodes
            if d != s and (s, d) not in set(pos)
        ]
        cands.sort(
            key=lambda p: (
                hashlib.md5(f"{p[0]}→{p[1]}".encode()).hexdigest(),
                p[1],
            )
        )
        expected.update(cands[:2])
    assert got == expected


def test_negative_edges_bucketed_path_bounded(spark):
    """Above the candidate pool the generator must go through the
    md5-bucket equi-join — never a cross join. Planted 10k-node chain:
    the physical plan carries no Cartesian/nested-loop join, output is
    disjoint from positives, capped per source, and non-trivially
    large (most sources get their full k)."""
    from collections import Counter

    from pdf_to_vectordb_etl_spark.operators import graph

    n = 10_000
    base = spark.range(n).select(F.col("id").alias("src"))
    edges = base.select(
        "src", ((F.col("src") + 1) % n).alias("dst")
    )
    out = graph.negative_edge_sample(edges, k_per_src=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = out.collect()
    pos = {(i, (i + 1) % n) for i in range(n)}
    got = {(r["src"], r["dst"]) for r in rows}
    assert not (got & pos)
    assert all(r["src"] != r["dst"] for r in rows)
    per_src = Counter(r["src"] for r in rows)
    assert all(v <= 2 for v in per_src.values())
    # pool≈64 candidates per src vs degree 2: virtually every source
    # fills its quota — guards against a silently-empty generator
    assert len(rows) > 1.9 * n


def test_stream_psi_counts_clamps_low_outliers(spark):
    """Live values below the batch-trained v_lo literal land in bin 0,
    never a negative bin (which batch PSI could never emit)."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        stream_psi_counts,
    )

    ev = spark.createDataFrame(
        [
            (1, "2024-01-02 00:00:00", "click", -50.0),
            (2, "2024-01-02 00:00:00", "click", 5.0),
            (3, "2024-01-02 00:00:00", "click", 999.0),
        ],
        ["event_id", "ts_s", "event_type", "value"],
    ).select(
        "event_id",
        F.col("ts_s").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    out = stream_psi_counts(
        ev, t_mid_us=0, v_lo=0.0, v_hi=10.0, bins=10
    ).collect()
    bins = {r["bin"]: r["c"] for r in out}
    assert min(bins) >= 0 and max(bins) <= 9
    assert bins[0] == 1 and bins[5] == 1 and bins[9] == 1


def test_cohens_kappa_single_class_is_null(spark):
    """pe = 1 (single-class confusion matrix) reports NULL kappa, not
    NaN — matching the module's degenerate-ratio convention."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    df = spark.createDataFrame(
        [("a", "a")] * 5, ["pred", "truth"]
    )
    row = ev.cohens_kappa(df, "pred", "truth").first()
    assert row["po"] == 1.0 and row["pe"] == 1.0
    assert row["kappa"] is None


def test_kmv_jaccard_empty_slices_null(spark):
    """Empty union sketch yields NULL jaccard/intersection, not 0/0."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    df = spark.createDataFrame(
        [(1, "other")], ["uid", "event_type"]
    )
    row = sketch.kmv_set_report(
        df, "uid", "event_type", "click", "view"
    ).first()
    assert row["jaccard"] is None and row["est_intersection"] is None


def test_exact_substr_straddling_duplicate_removed(spark):
    """The adversarial case the token span-hash variant was suspected
    of missing: a duplicated region at DIFFERENT offsets in each doc
    (no shared alignment). Per-offset sliding windows must remove it
    in full from both docs."""
    from pdf_to_vectordb_etl_spark.operators.webcorpus import (
        exact_substring_dedup,
    )

    dup = "THE-EXACT-DUPLICATED-PASSAGE-IS-THIS-SENTENCE-1234567890"
    # boundary chars differ on every side so the maximal duplicated
    # substring is exactly `dup` (a shared adjacent char would join it)
    docs = spark.createDataFrame(
        [
            (1, "aaa1" + dup + "2tail one"),
            (2, "a much longer and different prefix here9" + dup),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(docs, min_len=40, min_count=2)
        .collect()
    }
    assert dup not in out[1]["clean_text"]
    assert dup not in out[2]["clean_text"]
    assert out[1]["clean_text"] == "aaa12tail one"
    assert out[2]["clean_text"] == "a much longer and different prefix here9"
    assert out[1]["n_removed"] == len(dup)
    assert out[2]["n_removed"] == len(dup)


def test_exact_substr_below_threshold_survives(spark):
    """A duplicate one char SHORTER than min_len is untouched — the
    documented exact bound of the windowed formulation."""
    from pdf_to_vectordb_etl_spark.operators.webcorpus import (
        exact_substring_dedup,
    )

    dup = "x" * 39  # min_len - 1
    docs = spark.createDataFrame(
        [(1, "aaa" + dup + "bbb"), (2, "ccc" + dup + "ddd")],
        ["doc_id", "text"],
    )
    out = exact_substring_dedup(docs, min_len=40, min_count=2).collect()
    assert all(r["n_removed"] == 0 for r in out)


def test_exact_substr_within_doc_repeat_removed(spark):
    """min_count counts OCCURRENCES (Lee et al. semantics): a passage
    repeated twice inside ONE doc is cut — both copies — while
    cross_doc_only=True keeps it."""
    from pdf_to_vectordb_etl_spark.operators.webcorpus import (
        exact_substring_dedup,
    )

    dup = "INTERNAL-REPEATED-BLOCK-0123456789-ABCDEFGHIJ"
    # distinct boundary chars: the maximal within-doc repeat is `dup`
    docs = spark.createDataFrame(
        [(1, "s1A" + dup + "Bmid C" + dup + "D s2")], ["doc_id", "text"]
    )
    row = exact_substring_dedup(docs, min_len=40, min_count=2).first()
    assert dup not in row["clean_text"]
    assert row["n_removed"] == 2 * len(dup)
    keep = exact_substring_dedup(
        docs, min_len=40, min_count=2, cross_doc_only=True
    ).first()
    assert keep["n_removed"] == 0


def test_exact_substr_short_doc_untouched(spark):
    """Docs shorter than min_len have no windows — and must not fall
    into Spark's sequence(1, 0) == [1, 0] descending-sequence trap."""
    from pdf_to_vectordb_etl_spark.operators.webcorpus import (
        exact_substring_dedup,
    )

    docs = spark.createDataFrame(
        [(1, "short"), (2, "short"), (3, "")], ["doc_id", "text"]
    )
    out = exact_substring_dedup(docs, min_len=40, min_count=2).collect()
    assert all(r["n_removed"] == 0 for r in out)
    assert {r["doc_id"]: r["clean_text"] for r in out} == {
        1: "short", 2: "short", 3: ""
    }


def test_suffix_ranks_match_python_sort(spark):
    """Prefix-doubling ranks equal the dense rank of a plain Python
    sort of all suffixes — including the shorter-prefix-sorts-first
    boundary ('ban' suffixes interleaving with 'banana' ones)."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = spark.createDataFrame(
        [(1, "banana"), (2, "ban"), (3, "abc")], ["doc_id", "text"]
    )
    got = {
        (r["doc_id"], r["pos"]): r["srank"]
        for r in suffixes.suffix_ranks(docs).collect()
    }
    sufs = []
    for did, txt in [(1, "banana"), (2, "ban"), (3, "abc")]:
        for p in range(len(txt)):
            sufs.append((txt[p:], did, p))
    ranks, last, r = {}, None, -1
    for s, did, p in sorted(sufs):
        if s != last:
            r += 1
            last = s
        ranks[(did, p)] = r
    assert got == ranks


def test_suffix_ranks_ties_on_identical_docs(spark):
    """Identical documents produce identical suffixes — dense ranks
    must TIE (equal srank), not break arbitrarily."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = spark.createDataFrame(
        [(1, "xyzw"), (2, "xyzw"), (3, "qq")], ["doc_id", "text"]
    )
    ranks = suffixes.suffix_ranks(docs)
    rows = ranks.collect()
    by_rank = {}
    for r in rows:
        by_rank.setdefault(r["srank"], []).append((r["doc_id"], r["pos"]))
    # every suffix of doc1 ties with the same-pos suffix of doc2
    for pos in range(4):
        shared = [
            k for k, v in by_rank.items() if (1, pos) in v and (2, pos) in v
        ]
        assert shared, f"pos {pos} suffixes of identical docs must tie"


def test_longest_repeated_substring_known_answer(spark):
    """Binary-search LRS finds the planted longest duplicate exactly:
    length, witness, occurrence and doc counts."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    dup = "SHARED-RUN-abcdefgh"
    docs = spark.createDataFrame(
        [
            (1, "xx" + dup + "yy"),
            (2, "zzz" + dup + "w"),
            (3, "bcdefghijk"),  # all-distinct chars: zero repeats
        ],
        ["doc_id", "text"],
    )
    row = suffixes.longest_repeated_substring(docs).first()
    assert row["lrs_len"] == len(dup)
    assert row["lrs"] == dup
    assert row["n_occurrences"] == 2 and row["n_docs"] == 2
    none = suffixes.longest_repeated_substring(
        docs.filter("doc_id = 3")
    ).first()
    assert none["lrs_len"] == 0 and none["lrs"] is None
    assert none["n_occurrences"] == 0 and none["n_docs"] == 0


def test_dsir_prefers_target_like_docs(spark):
    """DSIR's importance ratio must rank documents that share the
    target's n-gram distribution above the off-distribution pool."""
    from pdf_to_vectordb_etl_spark.operators.curation import dsir_weights

    target_like = [
        (i, "the quick brown fox jumps over the lazy dog again")
        for i in range(10)
    ]
    off = [
        (100 + i, "zzz qqq www eee rrr ttt yyy uuu iii ooo")
        for i in range(10)
    ]
    raw = spark.createDataFrame(target_like + off, ["doc_id", "text"])
    target = spark.createDataFrame(target_like[:5], ["doc_id", "text"])
    top = dsir_weights(raw, target, n_buckets=256, k=10).collect()
    assert {r["doc_id"] for r in top} == {i for i, _ in target_like}
    # full scoring separates the two populations strictly
    allrows = dsir_weights(raw, target, n_buckets=256, k=20).collect()
    tgt_scores = [r["logw"] for r in allrows if r["doc_id"] < 100]
    off_scores = [r["logw"] for r in allrows if r["doc_id"] >= 100]
    assert min(tgt_scores) > max(off_scores)


def test_bpe_train_merges_known_corpus(spark):
    """Hand-checkable BPE run (the Sennrich toy): corpus of 'low' x3 +
    'lower' x2 — first merge must be the most frequent adjacent pair
    ('l','o': 5 occurrences), second ('lo','w': 5), and the merged
    symbol participates in later rounds (proof the rewrite feeds back
    into counting)."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        bpe_train_merges,
    )

    docs = spark.createDataFrame(
        [(1, "low low low lower lower")], ["doc_id", "text"]
    )
    rows = bpe_train_merges(docs, n_merges=3).orderBy("step").collect()
    assert [(r["l"], r["r"], r["n"]) for r in rows] == [
        ("l", "o", 5),
        ("lo", "w", 5),
        # (low,e) and (e,r) tie at 2; lexicographic tiebreak: 'e' < 'low'
        ("e", "r", 2),
    ]
    # adjacent-occurrence regression: 'abab' must merge BOTH (a,b)
    # pairs in one rewrite (the shared-separator trap)
    docs2 = spark.createDataFrame([(1, "abab abab")], ["doc_id", "text"])
    first = bpe_train_merges(docs2, n_merges=1).first()
    assert (first["l"], first["r"], first["n"]) == ("a", "b", 4)
    # single-char vocab: no pairs -> empty merge table, no crash
    docs3 = spark.createDataFrame([(1, "a b c a")], ["doc_id", "text"])
    assert bpe_train_merges(docs3, n_merges=2).count() == 0


def test_global_dense_rank_exact(spark):
    """The distributed dense-rank primitive is exact on a key set that
    spans many range partitions, with duplicates."""
    import pyspark.sql.functions as SF

    from pdf_to_vectordb_etl_spark.operators.suffixes import (
        global_dense_rank,
    )

    df = spark.range(5000).select(
        (SF.col("id") % 997).alias("k"), SF.col("id").alias("orig")
    )
    out = global_dense_rank(df, ["k"], "rk").collect()
    assert len(out) == 5000
    assert all(r["rk"] == r["k"] for r in out)  # dense rank of 0..996


def test_real_kernel_probe_plumbing(spark, tmp_path):
    """The real-PDF integration probe must run its full
    scan -> decode -> parse -> report chain with the fake decoder on a
    planted folder (the hermetic twin of the pymupdf-host run that
    asserts BASELINE.md's 2022 counts), and the CLI must exit 2 (clean
    skip) when pymupdf is absent."""
    import subprocess
    import sys as _sys

    from tools.real_kernel_probe import run_probe

    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    for name in [
        "2022_PV_impresso_D1_CD1.pdf",
        "2022_GB_impresso_D1_CD1.pdf",
    ]:
        (pdf_dir / name).write_bytes(b"%PDF-1.4 fake " + name.encode())
    got = run_probe(spark, str(pdf_dir), use_fake=True)
    assert isinstance(got, dict)  # ran end-to-end; fake pages parse to 0

    try:
        import fitz  # type: ignore  # noqa: F401

        return  # real pymupdf present: the CLI path is the real probe
    except ImportError:
        pass
    r = subprocess.run(
        [_sys.executable, "tools/real_kernel_probe.py"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=120,
    )
    assert r.returncode == 2, r.stdout + r.stderr
    assert "PROBE SKIPPED" in r.stdout


def test_pq_topk_zero_query_scores_sentinel(spark, sf_dir):
    """A zero query vector scores the cosine sentinel -1.0 everywhere,
    matching ivfpq_topk and functions.vector.cosine_similarity."""
    from pdf_to_vectordb_etl_spark.operators import quantization as pq
    from tests.conftest import load

    emb = load(spark, sf_dir, "embeddings").limit(50)
    books = pq.pq_train(emb, m=4, k=4, n_iters=1, dim=64)
    codes = pq.pq_encode(emb, books)
    top = pq.pq_topk(codes, books, [0.0] * 64, k=5).collect()
    assert len(top) == 5
    assert all(r["adc_sim"] == -1.0 for r in top)


def test_k_core_clique_survives_pendant_path_peels(spark):
    """K5 (every node degree 4) with a pendant path 5-10-11-12 hung off
    node 5: the 3-core is exactly the clique — the path peels from the
    free end over several rounds (degree-1 tail each round)."""
    from pdf_to_vectordb_etl_spark.operators import graph

    clique = [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b]
    path = [(5, 10), (10, 11), (11, 12)]
    edges = spark.createDataFrame(clique + path, ["a", "b"])
    got = {
        (r["node"], r["degree"])
        for r in graph.k_core(edges, k=3).collect()
    }
    assert got == {(n, 4) for n in range(1, 6)}


def test_k_core_empty_when_k_exceeds_graph(spark):
    """k above the max possible degree peels everything to the empty
    core (no rows), without raising."""
    from pdf_to_vectordb_etl_spark.operators import graph

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["a", "b"])
    assert graph.k_core(edges, k=3).count() == 0


def test_k_core_raises_on_exhausted_rounds(spark):
    """A chain peels one node per end per round; max_rounds=1 on a
    6-node path cannot reach fixpoint and must raise, never return a
    partially-peeled set."""
    import pytest

    from pdf_to_vectordb_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["a", "b"]
    )
    with pytest.raises(ValueError, match="no fixpoint"):
        graph.k_core(edges, k=2, max_rounds=1)


def test_isotonic_calibration_matches_hand_pava(spark):
    """Hand-computed PAVA: bin rates [0.5, 0.0, 1.0] with weights
    [2, 1, 1] pool the violating first two bins into 1/3; the minimax
    closed form must reproduce exactly that fit."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    rows = [(0.1, 1), (0.1, 0), (0.35, 0), (0.6, 1)]
    df = spark.createDataFrame(rows, ["score", "y"])
    got = {
        r["bin"]: (r["n"], r["pos_rate"], r["iso"])
        for r in ev.isotonic_calibration(
            df, "score", F.col("y") == 1, n_bins=4, lo=0.0, hi=1.0
        ).collect()
    }
    assert got == {
        0: (2, 0.5, 0.333333),
        1: (1, 0.0, 0.333333),
        2: (1, 1.0, 1.0),
    }


def test_isotonic_calibration_monotone_on_events(spark, sf_dir):
    """On real event data the fitted curve must be non-decreasing in
    the bin index (the defining isotonic property)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev
    from tests.conftest import load

    events = load(spark, sf_dir, "events")
    iso = [
        r["iso"]
        for r in ev.isotonic_calibration(
            events, "value", F.col("event_type") == "purchase",
            n_bins=50, lo=0.0, hi=500.0,
        ).collect()
    ]
    assert len(iso) > 5
    assert all(a <= b + 1e-9 for a, b in zip(iso, iso[1:]))


def test_woe_iv_hand_computed(spark):
    """Two buckets, P=3 pos / N=3 neg total: bucket a has 2 pos + 1
    neg -> WoE = ln((2/3)/(1/3)) = ln 2; bucket b mirrors to -ln 2.
    A single-class bucket yields NULL WoE/IV."""
    import math

    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    rows = [("a", 1), ("a", 1), ("a", 0), ("b", 0), ("b", 0), ("b", 1),
            ("c", 1)]
    df = spark.createDataFrame(rows, ["k", "y"])
    out = {
        r["bucket"]: (r["n"], r["n_pos"], r["woe"], r["iv_contrib"])
        for r in ev.woe_iv(df, F.col("k"), F.col("y") == 1).collect()
    }
    # totals: P = 4 positives, N = 3 negatives (bucket c's lone
    # positive counts toward P even though its own WoE is undefined)
    woe_a = math.log((2 / 4) / (1 / 3))
    woe_b = math.log((1 / 4) / (2 / 3))
    assert out["a"] == (
        3, 2, round(woe_a, 6), round((2 / 4 - 1 / 3) * woe_a, 6)
    )
    assert out["b"] == (
        3, 1, round(woe_b, 6), round((1 / 4 - 2 / 3) * woe_b, 6)
    )
    assert out["c"][2] is None and out["c"][3] is None


def test_zonemap_prune_report_perfect_vs_useless_layout(spark):
    """100 rows keyed 0..99 in 10 perfectly clustered shards (k//10)
    vs one big shard: predicate [20, 39] scans exactly 2 clustered
    shards (20 rows, 80% pruned) but the whole single-shard table."""
    from pdf_to_vectordb_etl_spark.operators import zorder

    df = spark.range(100).select(F.col("id").cast("int").alias("k"))
    out = {
        r["layout"]: (
            r["n_shards"], r["shards_scanned"], r["rows_scanned"],
            r["prune_pct"],
        )
        for r in zorder.zonemap_prune_report(
            df, F.col("k"),
            {"clustered": (F.col("k") / 10).cast("int"),
             "single": F.lit(0)},
            F.lit(20), F.lit(39),
        ).collect()
    }
    assert out["clustered"] == (10, 2, 20, 80.0)
    assert out["single"] == (1, 1, 100, 0.0)


def test_js_divergence_identical_zero_disjoint_ln2(spark):
    """JSD is 0 for identical distributions and ln 2 for disjoint
    ones (its maximum in nats); a mixed pair lands strictly between."""
    import math

    rows = (
        [(1, "alpha beta", "A"), (2, "alpha beta", "B")]
        + [(3, "gamma delta", "C")]
        + [(4, "alpha gamma", "D")]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    out = {
        (r["g1"], r["g2"]): r["jsd"]
        for r in ta.js_divergence_pairs(docs, "source", "text").collect()
    }
    assert out[("A", "B")] == 0.0
    assert abs(out[("A", "C")] - math.log(2.0)) < 1e-5
    assert 0.0 < out[("A", "D")] < math.log(2.0)


def test_stump_split_finds_planted_threshold(spark):
    """Labels are exactly value > 10: the best Gini split must land on
    the bin whose right edge is 10.0 with impurity 0."""
    from pdf_to_vectordb_etl_spark.operators import supervised

    rows = [(float(v), 1 if v > 10 else 0) for v in range(1, 21)]
    df = spark.createDataFrame(rows, ["value", "y"])
    row = supervised.stump_split(
        df, "value", F.col("y") == 1, n_bins=20, lo=0.0, hi=20.0
    ).first()
    # value 10 lands in bin 10 (right edge 11.0): the zero-impurity
    # split keeps values 1..10 left, 11..20 right
    assert row["threshold"] == 11.0
    assert row["gini"] == 0.0
    assert row["n_left"] == 10 and row["n_right"] == 10


def test_ols_closed_form_matches_numpy(spark):
    """Exact-integer Cramer solve equals numpy lstsq on a
    well-conditioned planted system; a constant-feature group is
    singular and yields NULL betas."""
    import numpy as np

    from pdf_to_vectordb_etl_spark.operators import supervised

    rng_rows = [
        (i % 7, (i * 3) % 5, 100 + 20 * (i % 7) - 7 * ((i * 3) % 5) + (i % 3))
        for i in range(60)
    ]
    data = [("g", x1, x2, y) for x1, x2, y in rng_rows] + [
        ("flat", 1, 1, 5), ("flat", 1, 1, 9)
    ]
    df = spark.createDataFrame(data, ["k", "x1", "x2", "y"])
    out = {
        r["group"]: r
        for r in supervised.ols_closed_form(
            df, "k", F.col("x1"), F.col("x2"), F.col("y")
        ).collect()
    }
    X = np.array([[1.0, x1, x2] for x1, x2, _ in rng_rows])
    yv = np.array([y for _, _, y in rng_rows], dtype=float)
    beta = np.linalg.lstsq(X, yv, rcond=None)[0]
    got = out["g"]
    assert abs(got["b0"] - beta[0]) < 1e-4
    assert abs(got["b1"] - beta[1]) < 1e-4
    assert abs(got["b2"] - beta[2]) < 1e-4
    flat = out["flat"]
    assert flat["b0"] is None and flat["b1"] is None and flat["b2"] is None


def test_auc_delong_matches_reference_formula(spark):
    """Binned DeLong vs a direct numpy placement-value implementation
    on well-separated distinct scores (one observation per bin, so
    binning is exact)."""
    import numpy as np

    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    pos_scores = [12.0, 15.0, 17.0, 9.0, 14.0]
    neg_scores = [3.0, 5.0, 8.0, 11.0, 2.0, 6.0]
    rows = [(s, 1) for s in pos_scores] + [(s, 0) for s in neg_scores]
    df = spark.createDataFrame(rows, ["value", "y"])
    row = ev.auc_delong_ci(
        df, "value", F.col("y") == 1, n_bins=20, lo=0.0, hi=20.0
    ).first()

    p, n = np.array(pos_scores), np.array(neg_scores)
    v10 = np.array([(np.sum(n < x) + 0.5 * np.sum(n == x)) / len(n) for x in p])
    v01 = np.array([(np.sum(p > x) + 0.5 * np.sum(p == x)) / len(p) for x in n])
    auc = v10.mean()
    se = float(
        np.sqrt(v10.var(ddof=1) / len(p) + v01.var(ddof=1) / len(n))
    )
    assert abs(row["auc"] - auc) < 1e-6
    assert abs(row["se"] - se) < 1e-5
    assert abs(row["ci_lo"] - (auc - 1.96 * se)) < 1e-4
    assert abs(row["ci_hi"] - (auc + 1.96 * se)) < 1e-4
    assert row["n_pos"] == 5 and row["n_neg"] == 6


def test_auc_delong_single_class_null_se(spark):
    """One positive observation: AUC defined, SE/CI NULL (n1 < 2)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    rows = [(12.0, 1), (3.0, 0), (5.0, 0)]
    df = spark.createDataFrame(rows, ["value", "y"])
    row = ev.auc_delong_ci(
        df, "value", F.col("y") == 1, n_bins=20, lo=0.0, hi=20.0
    ).first()
    assert row["auc"] == 1.0
    assert row["se"] is None and row["ci_lo"] is None


def test_ece_perfect_and_maximal_calibration(spark):
    """Predictions equal to the empirical rate give ECE 0; confident
    always-wrong predictions give ECE ~1."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    # bin [0.4, 0.5): two rows at p=0.45, one positive -> pos_rate 0.5
    good = spark.createDataFrame(
        [(0.45, 1), (0.45, 0), (0.55, 1), (0.55, 0)], ["p", "y"]
    )
    row = ev.expected_calibration_error(
        good, "p", F.col("y") == 1, n_bins=10
    ).first()
    assert abs(row["ece"] - 0.05) < 1e-9  # |0.45-0.5| and |0.55-0.5|
    assert row["n_bins_used"] == 2 and row["n"] == 4

    bad = spark.createDataFrame([(0.95, 0), (0.95, 0)], ["p", "y"])
    row = ev.expected_calibration_error(
        bad, "p", F.col("y") == 1, n_bins=10
    ).first()
    assert abs(row["ece"] - 0.95) < 1e-9
    assert row["max_ce"] == row["ece"]


def test_keyphrases_tfidf_surfaces_distinctive_token(spark):
    """A token unique to one doc (but above min_df) outranks corpus-
    wide tokens; tokens below min_df never appear."""
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    docs = spark.createDataFrame(
        [
            (1, "common common zebra zebra zebra"),
            (2, "common common zebra unique"),
            (3, "common common common"),
        ],
        ["doc_id", "text"],
    )
    out = ta.keyphrases_tfidf(docs, k=2, min_df=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["token"])
    # 'unique' has df=1 -> dropped; zebra (df=2) outranks common (df=3)
    assert all(t != "unique" for ts in by_doc.values() for t in ts)
    assert by_doc[1][0] == "zebra"
    assert by_doc[3] == ["common"]
    ranks = [r["rank"] for r in out if r["doc_id"] == 1]
    assert ranks == [1, 2]


def test_t18_stream_woe_equals_batch(spark):
    """The T18 snapshot through woe_from_counts equals batch woe_iv
    row-for-row on the same data (shared finale, associative counts)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    live = {
        tuple(r) for r in entry.queries()["t18_stream_woe"](spark, sf).collect()
    }
    batch = {
        tuple(r) for r in entry.queries()["eval_woe_iv"](spark, sf).collect()
    }
    assert live == batch and len(live) > 0
