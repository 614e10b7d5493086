"""Property-based invariants (hypothesis) for the text/dedup kernels.

Each example drives full Spark jobs, so example counts are small but
the generated shapes are adversarial: unicode words, repeated tokens,
single-word docs, duplicate texts."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark.functions.textops import txt_record
from pdf_to_vectordb_etl_spark.operators import chunking, dedup

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

word = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)
doc_text = st.lists(word, min_size=1, max_size=30).map(" ".join)


@given(texts=st.lists(doc_text, min_size=1, max_size=12), ans=st.sampled_from("ABCDE"))
@SETTINGS
def test_txt_roundtrip_chunk_recovers_every_record(spark, texts, ans):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    txt = df.select(
        "doc_id",
        txt_record(F.lit("2022"), F.col("text"), F.lit(ans)).alias("txt"),
    )
    keyed = F.struct(F.col("doc_id").alias("k"), F.col("txt").alias("t"))
    content = txt.groupBy(F.lit(1).alias("g")).agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(keyed)), lambda s: s["t"]), ""
        ).alias("content")
    )
    chunks = chunking.split_chunks(content, text_col="content", key_cols=("g",))
    rows = chunks.orderBy("chunk_index").collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert f"(RESPOSTA CORRETA): {ans}" in r["chunk"]
        assert texts[r["chunk_index"]] in r["chunk"]


@given(texts=st.lists(doc_text, min_size=2, max_size=10))
@SETTINGS
def test_jaccard_pairs_bounded_and_canonical(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = dedup.ngram_jaccard_pairs(df, threshold=0.01, n=2).collect()
    for r in rows:
        assert r["id_a"] < r["id_b"]
        assert 0.0 < r["jaccard"] <= 1.0


@given(base=doc_text)
@SETTINGS
def test_exact_duplicate_always_found(spark, base):
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " extra tail")],
        "doc_id long, text string",
    )
    g = dedup.exact_duplicates(df)
    dup = g.filter(F.col("n_copies") == 2)
    assert dup.count() == 1 and dup.first()["canonical_id"] == 1


@given(texts=st.lists(doc_text, min_size=2, max_size=8))
@SETTINGS
def test_minhash_pairs_subset_of_exact(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5, n=2).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(df, threshold=0.5, shingle_n=2).collect()
    }
    assert approx <= exact  # verify step guarantees precision 1.0


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_cluster_pairs_matches_union_find(spark, edges):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    # distributed min-label propagation (driver fast path off — the
    # fast path IS union-find, which would make this test circular)
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
        got = {
            r["id"]: r["cluster_id"]
            for r in dedup.cluster_pairs(pairs).collect()
        }
    got_fast = {
        r["id"]: r["cluster_id"]
        for r in dedup.cluster_pairs(pairs).collect()
    }
    assert got_fast == got

    # independent union-find reference
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    want = {}
    for n in nodes:
        root = find(n)
        want[n] = min(m for m in nodes if find(m) == root)
    assert got == want


@given(
    changes=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),        # key
            st.floats(min_value=0, max_value=100,
                      allow_nan=False, allow_infinity=False),
            st.sampled_from(["upsert", "delete"]),
        ),
        min_size=1,
        max_size=16,
        unique_by=lambda t: None,  # allow repeats; versions disambiguate
    ),
    split_at=st.integers(min_value=0, max_value=16),
)
@SETTINGS
def test_merge_changelog_any_split_converges(spark, changes, split_at):
    """Associativity property behind streaming CDC (T10): merging a
    changelog in ANY two-batch split equals the one-shot merge —
    including splits that put high versions in the first batch."""
    from pdf_to_vectordb_etl_spark.operators.cdc import live_rows, merge_changelog

    rows = [(k, v, op, i) for i, (k, v, op) in enumerate(changes)]
    cols = ["user_id", "value", "op", "ord"]
    split_at = min(split_at, len(rows))
    # adversarial: REVERSE version order across the split
    rows_rev = sorted(rows, key=lambda r: -r[3])
    b1, b2 = rows_rev[:split_at], rows_rev[split_at:]

    allc = spark.createDataFrame(rows, cols)
    oneshot = {
        r["user_id"]: r["value"]
        for r in live_rows(merge_changelog(None, allc, ["user_id"], "ord")).collect()
    }
    snap = None
    for batch in (b1, b2):
        if not batch:
            continue
        snap = merge_changelog(
            snap, spark.createDataFrame(batch, cols), ["user_id"], "ord"
        )
    streamed = (
        {}
        if snap is None
        else {r["user_id"]: r["value"] for r in live_rows(snap).collect()}
    )
    assert streamed == oneshot


@given(
    weights=st.lists(
        st.floats(min_value=0.01, max_value=50,
                  allow_nan=False, allow_infinity=False),
        min_size=2,
        max_size=6,
    ),
    total=st.integers(min_value=1, max_value=40),
)
@SETTINGS
def test_quota_allocate_exact_sum_property(spark, weights, total):
    """Largest-remainder allocations sum to exactly min(total,
    availability) for arbitrary positive weights."""
    from pdf_to_vectordb_etl_spark.operators import curation

    rows = []
    avail = []
    for g, _w in enumerate(weights):
        n = 3 + (g * 7) % 11
        avail.append(n)
        rows += [(g * 1000 + i, f"s{g}") for i in range(n)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    wmap = {f"s{g}": w for g, w in enumerate(weights)}
    wcol = F.col("source")
    expr = F.lit(float(weights[0]))
    for g, w in enumerate(weights):
        expr = F.when(wcol == f"s{g}", float(w)).otherwise(expr)
    out = curation.quota_allocate(df, total=total, weight=expr, by="source").collect()
    got = sum(r["n_alloc"] for r in out)
    assert got == min(total, sum(avail))


# --------------- evaluation-suite invariants (round 3) -----------------

_scores = st.lists(
    st.tuples(st.floats(0.0, 99.9, allow_nan=False), st.booleans()),
    min_size=4,
    max_size=40,
).filter(lambda xs: any(y for _, y in xs) and any(not y for _, y in xs))


@given(rows=_scores)
@SETTINGS
def test_auc_complement_identity(spark, rows):
    """Mid-rank-tie AUC satisfies AUC(y) + AUC(¬y) = 1 exactly."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    df = spark.createDataFrame(rows, "s double, y boolean")
    a = ev.binned_auc(df, "s", F.col("y"), n_bins=50, lo=0.0, hi=100.0)
    b = ev.binned_auc(df, "s", ~F.col("y"), n_bins=50, lo=0.0, hi=100.0)
    assert abs(a.collect()[0].auc + b.collect()[0].auc - 1.0) < 2e-6


@given(
    xs=st.lists(st.integers(0, 1000), min_size=2, max_size=25),
    c=st.integers(2, 9),
)
@SETTINGS
def test_gini_scale_invariance(spark, xs, c):
    """Gini is scale-free: gini(c·x) == gini(x)."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    rows = [("g", i, x) for i, x in enumerate(xs)] + [
        ("h", i, x * c) for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "g string, id long, x long")
    out = {r.g: r.gini for r in ev.gini_by_group(df, "g", "x", "id").collect()}
    if sum(xs) > 0:
        assert out["g"] == out["h"]


@given(durs=st.lists(st.integers(0, 20), min_size=1, max_size=30))
@SETTINGS
def test_km_no_censoring_equals_ecdf(spark, durs):
    """With zero censoring, Kaplan-Meier reduces to the empirical
    survival function S(t) = |{d > t}| / n at every event time."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    df = spark.createDataFrame(
        [(d, True) for d in durs], "duration long, observed boolean"
    )
    n = len(durs)
    for r in ev.kaplan_meier(df).collect():
        expect = sum(1 for d in durs if d > r.duration) / n
        assert abs(r.survival - expect) < 1e-6


def _brute_exact_substr(texts: dict[int, str], L: int, min_count: int):
    """Python reference for exact_substring_dedup: flag every L-char
    window whose substring occurs >= min_count times corpus-wide, cut
    the union of flagged spans, rebuild."""
    from collections import Counter

    counts = Counter()
    for t in texts.values():
        for i in range(len(t) - L + 1):
            counts[t[i : i + L]] += 1
    out = {}
    for did, t in texts.items():
        cut = [False] * len(t)
        for i in range(len(t) - L + 1):
            if counts[t[i : i + L]] >= min_count:
                for j in range(i, i + L):
                    cut[j] = True
        clean = "".join(ch for ch, c in zip(t, cut) if not c)
        out[did] = (clean, len(t) - len(clean))
    return out


small_ascii = st.text(
    alphabet=st.sampled_from("ab "), min_size=0, max_size=40
)


@given(texts=st.lists(small_ascii, min_size=1, max_size=6))
@SETTINGS
def test_exact_substring_dedup_matches_bruteforce(spark, texts):
    """Tiny alphabet ('a','b',space) maximizes accidental repeats —
    overlapping flagged windows, whole-doc cuts, cross- and within-doc
    duplicates all occur; Spark must equal the quadratic reference."""
    from pdf_to_vectordb_etl_spark.operators.webcorpus import (
        exact_substring_dedup,
    )

    L = 5
    corpus = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_removed"])
        for r in exact_substring_dedup(df, min_len=L, min_count=2).collect()
    }
    assert got == _brute_exact_substr(corpus, L, 2)


@given(texts=st.lists(st.text(alphabet=st.sampled_from("abc"),
                              min_size=0, max_size=12),
                      min_size=1, max_size=4))
@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_suffix_ranks_match_bruteforce(spark, texts):
    """Prefix doubling == dense rank of the Python-sorted suffix list,
    on tiny alphabets where cross-doc ties and shared prefixes abound.
    Few examples: each drives the full O(log max_len) round loop."""
    from pdf_to_vectordb_etl_spark.operators.suffixes import suffix_ranks

    corpus = {i: t for i, t in enumerate(texts)}
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["pos"]): r["srank"]
        for r in suffix_ranks(df).collect()
    }
    sufs = sorted(
        {t[p:] for t in corpus.values() for p in range(len(t))}
    )
    rank_of = {s: i for i, s in enumerate(sufs)}
    expected = {
        (did, p): rank_of[t[p:]]
        for did, t in corpus.items()
        for p in range(len(t))
    }
    assert got == expected


@given(
    pts=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
    )
)
@SETTINGS
def test_skyline_is_exactly_the_undominated_set(spark, pts):
    from pdf_to_vectordb_etl_spark.operators.spatial import skyline_2d

    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id INT, x INT, y INT")
    got = sorted(
        (r.x, r.y, r.id) for r in skyline_2d(df, "x", "y").collect()
    )
    brute = sorted(
        (x, y, i)
        for i, x, y in rows
        if not any(
            qx <= x and qy <= y and (qx < x or qy < y)
            for _, qx, qy in rows
        )
    )
    assert got == brute


@given(
    cand=st.lists(st.sampled_from("abcd"), max_size=14).map(" ".join),
    ref=st.lists(st.sampled_from("abcd"), max_size=14).map(" ".join),
)
@SETTINGS
def test_rouge_l_lcs_matches_dp(spark, cand, ref):
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        rouge_l_corpus,
    )

    df = spark.createDataFrame(
        [(1, cand, ref)], "id INT, cand STRING, ref STRING"
    )
    got = rouge_l_corpus(df, max_words=48).collect()[0]
    a, b = cand.split(), ref.split()
    dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
    for i in range(1, len(a) + 1):
        for j in range(1, len(b) + 1):
            dp[i][j] = (
                dp[i - 1][j - 1] + 1
                if a[i - 1] == b[j - 1]
                else max(dp[i - 1][j], dp[i][j - 1])
            )
    assert got["lcs_sum"] == dp[len(a)][len(b)]


@given(
    xs=st.lists(st.integers(0, 6), min_size=1, max_size=25),
    ys=st.lists(st.integers(0, 6), min_size=1, max_size=25),
)
@SETTINGS
def test_mann_whitney_rank_sums_exact(spark, xs, ys):
    from collections import Counter

    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        mann_whitney_u,
    )

    rows = [("a", float(v)) for v in xs] + [("b", float(v)) for v in ys]
    df = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = mann_whitney_u(df, "v", "g", "a", "b").collect()[0]
    cnt = Counter(v for _, v in rows)
    rank, pos = {}, 1
    for v in sorted(cnt):
        rank[v] = pos + (cnt[v] - 1) / 2
        pos += cnt[v]
    two_r1 = round(2 * sum(rank[float(v)] for v in xs))
    assert got["two_r1"] == two_r1
    assert got["n1"] == len(xs) and got["n2"] == len(ys)
    assert got["tie_sum"] == sum(t**3 - t for t in cnt.values())


@given(texts=st.lists(doc_text, min_size=1, max_size=10))
@SETTINGS
def test_unigram_train_conserves_characters(spark, texts):
    # pieces of the final vocab, weighted by their Viterbi counts,
    # reassemble exactly the character mass of the trainable words
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = ta.unigram_lm_train(
        df, vocab_size=6, n_rounds=1, max_piece_len=3, max_word_len=12
    ).collect()
    got = sum(r.n * r.piece_len for r in rows)
    want = sum(
        len(w)
        for t in texts
        for w in t.lower().split()
        if 0 < len(w) <= 12
    )
    assert got == want


@given(
    counts=st.lists(
        st.tuples(st.integers(1, 25), st.integers(0, 25)).filter(
            lambda t: t[1] <= t[0]
        ),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_pass_at_k_monotone_in_k(spark, counts):
    # sampling more attempts can only help: pass@k is non-decreasing
    # in k over any fixed problem set (restricted to n >= max k so the
    # averaged population is identical across k)
    from pdf_to_vectordb_etl_spark.operators.evaluation import pass_at_k

    kmax = 4
    counts = [(n, c) for n, c in counts if n >= kmax]
    if not counts:
        return
    rows = [
        (g, 1 if i < c else 0)
        for g, (n, c) in enumerate(counts)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "g int, ok int")
    got = {
        r.k: r.pass_rate_q6
        for r in pass_at_k(df, "g", "ok", ks=(1, 2, kmax)).collect()
    }
    assert got[1] <= got[2] + 1e-9 <= got[kmax] + 2e-9


@given(
    xs=st.lists(st.integers(0, 6), min_size=1, max_size=40),
    ys=st.lists(st.integers(0, 6), min_size=1, max_size=40),
)
@SETTINGS
def test_ks_bounds_and_symmetry(spark, xs, ys):
    from pdf_to_vectordb_etl_spark.operators.evaluation import ks_two_sample

    rows = [(float(x), True) for x in xs] + [(float(y), False) for y in ys]
    df = spark.createDataFrame(rows, "x double, arm boolean")
    r = ks_two_sample(df, "x", "arm").first()
    assert 0 <= r.d_num <= r.n1 * r.n2
    # symmetry: swapping the arms leaves D unchanged
    df2 = df.select("x", (~F.col("arm")).alias("arm"))
    r2 = ks_two_sample(df2, "x", "arm").first()
    assert r.d_num == r2.d_num


@SETTINGS
@given(
    wins=st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 3), st.integers(1, 9)
        ).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=8,
    )
)
def test_bradley_terry_mass_and_relabel_invariance(spark, wins):
    from pdf_to_vectordb_etl_spark.operators.supervised import (
        bradley_terry_strengths,
    )

    rows = [(f"i{a}", f"i{b}", w) for a, b, w in wins]
    cells = spark.createDataFrame(rows, "i string, j string, w long")
    got = {r["item"]: r for r in
           bradley_terry_strengths(cells, n_rounds=4).collect()}
    total = sum(r["strength_q9"] for r in got.values())
    # min_a clamps can push the sum slightly over 1; never far under
    assert 0.99 <= total <= 1.0 + 1e-6 * len(got) + 1e-3
    # relabeling items permutes the result verbatim (hash-agnostic)
    relab = spark.createDataFrame(
        [(f"z{a}", f"z{b}", w) for a, b, w in wins],
        "i string, j string, w long",
    )
    got2 = {r["item"]: r["a_grid"] for r in
            bradley_terry_strengths(relab, n_rounds=4).collect()}
    assert {k[1:]: v for k, v in got2.items()} == {
        k[1:]: r["a_grid"] for k, r in got.items()
    }


@SETTINGS
@given(texts=st.lists(doc_text, min_size=1, max_size=6))
def test_wordpiece_encode_token_bounds(spark, texts):
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        wordpiece_encode,
        wordpiece_vocab,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    v = wordpiece_vocab(docs, vocab_size=16, min_count=1)
    out = wordpiece_encode(docs, v).collect()
    for r in out:
        assert 0 <= r["n_oov_words"] <= r["n_words"]
        # every encoded word yields >= 1 and <= wlen tokens
        encoded = r["n_words"] - r["n_oov_words"]
        assert r["n_tokens"] >= encoded
        text = texts[r["doc_id"]]
        assert r["n_tokens"] <= sum(len(w) for w in text.split())


@SETTINGS
@given(
    ps=st.lists(
        st.floats(0.0001, 0.9999, allow_nan=False), min_size=1, max_size=10,
        unique=True,
    ),
    alpha=st.sampled_from([0.05, 0.1, 0.3]),
)
def test_fdr_bh_prefix_and_alpha_monotone(spark, ps, alpha):
    from pdf_to_vectordb_etl_spark.operators.evaluation import fdr_bh

    df = spark.createDataFrame(
        [(f"k{i}", p) for i, p in enumerate(ps)], "key string, p double"
    )
    rows = sorted(fdr_bh(df, "p", "key", alpha).collect(),
                  key=lambda r: r["rank"])
    flags = [r["rejected"] for r in rows]
    # rejected set is a prefix of the p-sorted order
    assert flags == sorted(flags, reverse=True)
    # monotone in alpha: a looser alpha never rejects fewer
    more = fdr_bh(df, "p", "key", min(1.0, alpha * 2)).collect()
    assert sum(r["rejected"] for r in more) >= sum(flags)


@given(
    ratings=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 3)),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_krippendorff_alpha_matches_fractions_replay(spark, ratings):
    """Arbitrary (item, category) rating tables: the pico-grid alpha
    sits within 2 grid ulps of the exact Fractions value, and the
    perfect-agreement transform of the same table gives alpha = 1."""
    from fractions import Fraction

    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        krippendorff_alpha,
    )

    df = spark.createDataFrame(ratings, "item int, cat int")
    out = krippendorff_alpha(df, "item", "cat").first()

    per_item: dict[int, list[int]] = {}
    for i, c in ratings:
        per_item.setdefault(i, []).append(c)
    kept = {i: cs for i, cs in per_item.items() if len(cs) >= 2}
    n = sum(len(cs) for cs in kept.values())
    if not kept:
        assert out.alpha_q6 is None
        return
    do_sum = Fraction(0)
    for cs in kept.values():
        ni = len(cs)
        si = sum(cs.count(c) ** 2 for c in set(cs))
        do_sum += Fraction(ni * ni - si, ni - 1)
    nc: dict[int, int] = {}
    for cs in kept.values():
        for c in cs:
            nc[c] = nc.get(c, 0) + 1
    e_sum = sum(v * (n - v) for v in nc.values())
    if e_sum == 0:
        assert out.alpha_q6 is None
        return
    alpha = 1 - Fraction(n - 1) * do_sum / e_sum
    assert abs(out.alpha_q6 - float(alpha)) < 2e-6

    # collapse every rating of an item to one category -> alpha == 1
    uni = spark.createDataFrame(
        [(i, 0) for i, _ in ratings], "item int, cat int"
    )
    u = krippendorff_alpha(uni, "item", "cat").first()
    assert u.alpha_q6 is None or u.alpha_q6 == 1.0  # single category: D_e=0


@given(
    vals=st.lists(
        st.tuples(
            st.floats(-50, 50, allow_nan=False, width=32),
            st.booleans(),
        ),
        min_size=2,
        max_size=40,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_quantile_normalize_invariants(spark, vals):
    """Any grouped value table: normalized values are drawn from the
    pooled value set, within-group order is preserved, and row count
    is conserved."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        quantile_normalize,
    )

    rows = [(i, "g1" if b else "g0", float(v)) for i, (v, b) in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = quantile_normalize(df, "v", "grp", "id").collect()
    assert len(out) == len(rows)
    pooled = {v for _, _, v in rows}
    assert {r.norm_value for r in out} <= pooled
    by_g: dict[str, list] = {}
    for r in out:
        by_g.setdefault(r.grp, []).append(r)
    for rs in by_g.values():
        rs = sorted(rs, key=lambda r: (r.v, r.id))
        norms = [r.norm_value for r in rs]
        assert norms == sorted(norms)


@given(
    a=st.lists(st.floats(-100, 100, allow_nan=False, width=32),
               min_size=1, max_size=25),
    b=st.lists(st.floats(-100, 100, allow_nan=False, width=32),
               min_size=1, max_size=25),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_wasserstein_1d_metric_properties(spark, a, b):
    """W1 is nonnegative, zero on identical cohorts, symmetric under
    cohort swap (the coupling grid depends only on sizes), and for
    equal sizes equals the scipy-free mean |order-stat diff|."""
    import math

    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        wasserstein_1d,
    )

    rows = [(i, float(v), False) for i, v in enumerate(a)] + [
        (1000 + i, float(v), True) for i, v in enumerate(b)
    ]
    df = spark.createDataFrame(rows, "id long, v double, in_b boolean")
    w = wasserstein_1d(df, "in_b", "v", "id").first()
    assert w.w1_q6 >= 0.0

    swapped = df.withColumn("in_b", ~F.col("in_b"))
    w2 = wasserstein_1d(swapped, "in_b", "v", "id").first()
    assert w.w1_q6 == w2.w1_q6

    if len(a) == len(b):
        qa = sorted(math.floor(v * 1e6) for v in a)
        qb = sorted(math.floor(v * 1e6) for v in b)
        want = sum(abs(x - y) for x, y in zip(qa, qb)) // len(a)
        assert w.w1_q6 == want / 1e6
