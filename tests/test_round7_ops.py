"""Round-7 operator pins: T30 streaming Bloom dedup (multi-batch) and
the collapse-exact graded-minhash invariants not covered by the oracle
gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark.streaming.pipeline import await_stream
from tests.conftest import load


def test_t30_multibatch_admits_exactly_the_batch_digest_set(spark, sf_dir, tmp_path):
    """Three micro-batches (3 files, maxFilesPerTrigger=1): the admitted
    DIGEST set must equal the batch twin's — each unseen digest admitted
    exactly once, across batch boundaries (the persisted _digests table
    is the cross-batch memory). Row ids can differ from the batch twin
    when a later batch carries a smaller id for an already-admitted
    digest, so the pin is on digests — the admit decision itself."""
    from pdf_to_vectordb_etl_spark.operators import dedup
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        stream_bloom_dedup_ingest,
    )

    docs = load(spark, sf_dir, "documents").limit(300)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    corpus, new = docs.filter(h < "8"), docs.filter(h >= "8")
    corpus_digests = dedup.content_digests(corpus)

    src = str(tmp_path / "src")
    new.repartition(3).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "out")
    q = stream_bloom_dedup_ingest(stream, corpus_digests, out, str(tmp_path / "ck"))
    await_stream(q)
    assert q.lastProgress["batchId"] >= 2, "expected >= 3 micro-batches"

    got = spark.read.parquet(f"{out}/data")
    got_digests = sorted(
        r.digest for r in dedup.content_digests(got).select("digest").collect()
    )
    want = dedup.incremental_exact_dedup(new, corpus_digests)
    want_digests = sorted(
        r.digest
        for r in dedup.content_digests(want).select("digest").collect()
    )
    assert got_digests == want_digests and len(got_digests) > 0
    # exactly-once per digest: no digest admitted twice across batches
    assert len(got_digests) == len(set(got_digests)) == got.count()


def test_t30_second_run_admits_nothing_new(spark, sf_dir, tmp_path):
    """Replaying the SAME stream into the same out dir (fresh
    checkpoint, so batches re-fire) must admit zero rows — the
    persisted digest table makes re-ingest idempotent at the digest
    level."""
    from pdf_to_vectordb_etl_spark.operators import dedup
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        stream_bloom_dedup_ingest,
    )

    docs = load(spark, sf_dir, "documents").limit(120)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    corpus_digests = dedup.content_digests(docs.filter(h < "8"))
    new = docs.filter(h >= "8")

    src = str(tmp_path / "src")
    new.coalesce(1).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    out = str(tmp_path / "out")

    def run(ck):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        await_stream(
            stream_bloom_dedup_ingest(stream, corpus_digests, out, str(tmp_path / ck))
        )

    run("ck1")
    n1 = spark.read.parquet(f"{out}/data").count()
    run("ck2")
    n2 = spark.read.parquet(f"{out}/data").count()
    assert n1 > 0 and n2 == n1


def test_fleiss_kappa_hand_fixture(spark):
    """Every item rated a,a,a,b,b: P_i = (9+4-5)/20 = 0.4 exactly,
    P_e = 0.6^2+0.4^2 = 0.52, kappa = -0.12/0.48 = -0.25; a singleton
    item is dropped and counted."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import fleiss_kappa

    rows = [(i, c) for i in range(10) for c in (["a"] * 3 + ["b"] * 2)]
    rows.append((99, "a"))
    df = spark.createDataFrame(rows, "item long, cat string")
    r = fleiss_kappa(df, "item", "cat").first()
    assert r["n_items"] == 10 and r["n_dropped"] == 1
    assert r["n_ratings"] == 50
    assert abs(r["p_bar_q12"] - 0.4) < 1e-9
    assert abs(r["p_e_q12"] - 0.52) < 1e-9
    assert abs(r["kappa_q6"] - (-0.25)) < 1e-9


def test_fleiss_kappa_saturated_and_empty(spark):
    """Perfect single-category agreement saturates chance (P_e = 1)
    -> NULL kappa; an all-singleton table keeps zero items -> NULLs."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import fleiss_kappa

    perfect = spark.createDataFrame(
        [(i, "a") for i in range(5) for _ in range(3)],
        "item long, cat string",
    )
    r = perfect.transform(lambda d: fleiss_kappa(d, "item", "cat")).first()
    assert r["p_bar_q12"] == 1.0 and r["p_e_q12"] == 1.0
    assert r["kappa_q6"] is None
    solo = spark.createDataFrame(
        [(i, "a") for i in range(4)], "item long, cat string"
    )
    r2 = fleiss_kappa(solo, "item", "cat").first()
    assert r2["n_items"] == 0 and r2["n_dropped"] == 4
    assert r2["kappa_q6"] is None


def test_brier_decomposition_perfect_and_identity(spark):
    """A perfect 0/1 forecast has BRIER = REL = 0 and RES = UNC; a
    generic forecast satisfies Murphy's identity up to the within-bin
    forecast variance (>= 0) plus grid quantization."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        brier_decomposition,
    )

    perfect = spark.createDataFrame(
        [(1000000 if i % 3 == 0 else 0, i % 3 == 0) for i in range(30)],
        "p_micro long, y boolean",
    )
    r = brier_decomposition(perfect, "p_micro", "y", n_bins=10).first()
    assert r["brier_q6"] == 0.0 and r["reliability_q6"] == 0.0
    assert abs(r["resolution_q6"] - r["uncertainty_q6"]) <= 2e-6

    generic = spark.createDataFrame(
        [(i * 10000, (i * 7) % 100 < i) for i in range(100)],
        "p_micro long, y boolean",
    )
    g = brier_decomposition(generic, "p_micro", "y", n_bins=10).first()
    # brier = rel - res + unc + (Var_k(p) - 2 Cov_k(p,y)) averaged over
    # bins: Var_k(p) <= (w/2)^2 and |Cov_k(p,y)| <= (w/2)(1/2) for bin
    # width w = 0.1, so the binned identity holds to |gap| <= 0.053
    gap = g["brier_q6"] - (
        g["reliability_q6"] - g["resolution_q6"] + g["uncertainty_q6"]
    )
    assert abs(gap) <= 0.053 + 3e-6


def test_bradley_terry_matches_converged_mm(spark):
    """6 integer-grid MM rounds land within 0.01 of the converged
    float MM fixed point on a 3-item tournament; a never-winning item
    clamps at the 1e-6 floor and the sole winner takes ~all mass."""
    from pdf_to_vectordb_etl_spark.operators.supervised import (
        bradley_terry_strengths,
    )

    cells = spark.createDataFrame(
        [("a", "b", 8), ("b", "a", 2), ("a", "c", 7), ("c", "a", 3),
         ("b", "c", 6), ("c", "b", 4)],
        "i string, j string, w long",
    )
    got = {
        r["item"]: r["strength_q9"]
        for r in bradley_terry_strengths(cells, n_rounds=6).collect()
    }
    # converged float MM reference (50 rounds): a .5997 b .2147 c .1856
    assert abs(got["a"] - 0.5997) < 0.01
    assert abs(got["b"] - 0.2147) < 0.01
    assert abs(got["c"] - 0.1856) < 0.01
    assert abs(sum(got.values()) - 1.0) < 1e-3

    solo = spark.createDataFrame([("a", "b", 5)], "i string, j string, w long")
    s = {r["item"]: r for r in bradley_terry_strengths(solo, 6).collect()}
    assert s["a"]["strength_q9"] == 1.0
    assert s["b"]["strength_q9"] == 1e-6
    assert s["a"]["wins"] == 5 and s["a"]["n_comparisons"] == 5

    empty = bradley_terry_strengths(cells.filter("w < 0"), 3)
    assert empty.count() == 0


def test_wordpiece_encode_greedy_hand_fixture(spark):
    """Explicit flavored vocab: greedy longest-match (capped at
    max_piece_len=4) segments 'unhappy' as un|h|a|p|p|y = 6,
    'unhappiness' as un|h|a|p|p|i|ness = 7 (ness wins at pos 7),
    'un' = 1; 'zzz' has no initial match -> whole-word OOV; empty
    docs report zeros."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        wordpiece_encode,
    )

    docs = spark.createDataFrame(
        [(1, "unhappy unhappiness un un zzz"), (2, ""), (3, "ness")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("un", False), ("ness", True), ("h", True), ("a", True),
         ("p", True), ("y", True), ("n", True), ("e", True), ("s", True),
         ("i", True)],
        "piece string, is_cont boolean",
    )
    got = {
        r["doc_id"]: r
        for r in wordpiece_encode(docs, vocab).collect()
    }
    assert got[1]["n_words"] == 5
    assert got[1]["n_oov_words"] == 1  # zzz
    assert got[1]["n_tokens"] == 6 + 7 + 1 + 1
    assert got[2]["n_words"] == 0 and got[2]["n_tokens"] == 0
    # 'ness' at word start needs an INITIAL flavor piece: 'n' is only
    # continuation here, so the word is OOV — flavor matters
    assert got[3]["n_oov_words"] == 1


def test_wordpiece_train_prefers_likelihood_over_raw_count(spark):
    """'xq' appears 3x but x,q are rare (score 3/(3*3)); 'ab' appears
    4x from frequent a,b (score 4/(8*8)) — WordPiece must merge xq
    first even though ab has the higher raw count; BPE would pick ab."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        bpe_train_merges,
        wordpiece_train_merges,
    )

    text = " ".join(["ab"] * 4 + ["xq"] * 3 + ["a b"] * 4)
    docs = spark.createDataFrame([(text,)], "text string")
    wp = wordpiece_train_merges(docs, n_merges=1).first()
    assert (wp["l"], wp["r"]) == ("x", "q")
    bpe = bpe_train_merges(docs, n_merges=1).first()
    assert (bpe["l"], bpe["r"]) == ("a", "b")


def test_ccnet_buckets_exact_tertiles(spark):
    """9 docs, one source, distinct scores: exactly 3/3/3 into
    head/middle/tail with head = the 3 highest scores; a second
    source with 4 docs splits 1/1/2 (rank*3 <= n integer cuts)."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        ccnet_perplexity_buckets,
    )

    docs = spark.createDataFrame(
        [(i, "s1") for i in range(9)] + [(i, "s2") for i in range(10, 14)],
        "doc_id long, source string",
    )
    scores = spark.createDataFrame(
        [(i, -float(i)) for i in range(9)]
        + [(i, -float(i)) for i in range(10, 14)],
        "doc_id long, kn_score double",
    )
    out = {
        (r["source"], r["bucket"]): r
        for r in ccnet_perplexity_buckets(docs, scores).collect()
    }
    assert out[("s1", "head")]["n_docs"] == 3
    assert out[("s1", "middle")]["n_docs"] == 3
    assert out[("s1", "tail")]["n_docs"] == 3
    # head = highest scores = -0,-1,-2
    assert out[("s1", "head")]["score_min"] == -2.0
    assert out[("s1", "head")]["score_max"] == 0.0
    assert out[("s1", "tail")]["score_max"] == -6.0
    assert out[("s2", "head")]["n_docs"] == 1
    assert out[("s2", "middle")]["n_docs"] == 1
    assert out[("s2", "tail")]["n_docs"] == 2


def test_l_diversity_catches_homogeneous_class(spark):
    """A large class with ONE sensitive value is k-anonymous but not
    l-diverse — the report must count it under l."""
    from pdf_to_vectordb_etl_spark.operators.quality_checks import (
        l_diversity_report,
    )

    rows = [("a", 1, "x")] * 10 + [("b", 1, "x"), ("b", 1, "y"),
                                   ("b", 1, "z")]
    df = spark.createDataFrame(rows, "qi string, band int, sens string")
    r = l_diversity_report(df, ["qi", "band"], "sens", l=2).first()
    assert r["n_classes"] == 2
    assert r["classes_under_l"] == 1
    assert r["rows_under_l"] == 10
    assert r["min_diversity"] == 1
    assert r["l_diverse"] is False
    assert abs(r["suppression_frac"] - round(10 / 13, 4)) < 1e-9


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """On a 4-cycle with one seed, the seed holds the most rank, total
    mass stays ~1, and disjoint seeds return an empty frame."""
    from pdf_to_vectordb_etl_spark.operators.graph import (
        personalized_pagerank,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(edges, seeds, iterations=4).collect()
    }
    assert max(got, key=got.get) == "a"
    assert abs(sum(got.values()) - 1.0) < 1e-3
    # proximity ordering on the cycle: b (1 hop) > c (2 hops)
    assert got["b"] > got["c"]

    none = personalized_pagerank(
        edges, spark.createDataFrame([("zz",)], "node string"), 2
    )
    assert none.count() == 0


def test_cross_corpus_lcs_ignores_within_corpus_repeats(spark):
    """Corpus A repeats 'WWWWWWWWWW' internally (longer than anything
    shared) but the LONGEST CROSS-corpus substring is 'shared-seq':
    within-corpus repeats must not win; witness is the lexicographic
    smallest at the max length; disjoint corpora -> 0/NULL row."""
    from pdf_to_vectordb_etl_spark.operators.suffixes import (
        cross_corpus_lcs,
    )

    df = spark.createDataFrame(
        [
            (1, "a", "xx shared-seq yy WWWWWWWWWW"),
            (2, "a", "qq WWWWWWWWWW zz"),
            (3, "b", "ko shared-seq pf"),
        ],
        "doc_id long, cor string, text string",
    )
    r = cross_corpus_lcs(df, "cor").first()
    assert r["lcs"] == " shared-seq "
    assert r["lcs_len"] == 12
    assert r["n_corpora"] == 2 and r["n_docs"] == 2

    disjoint = spark.createDataFrame(
        [(1, "a", "abc"), (2, "b", "xyz")],
        "doc_id long, cor string, text string",
    )
    r2 = cross_corpus_lcs(disjoint, "cor").first()
    assert r2["lcs_len"] == 0 and r2["lcs"] is None


def test_fdr_bh_textbook_fixture(spark):
    """p = .01,.02,.03,.2,.5 at alpha=.1, m=5: BH thresholds k*.02 ->
    ranks 1..3 rejected (note p4=.2 > .08 even though p3 passed);
    empty input -> empty frame."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import fdr_bh

    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.02), ("c", 0.03), ("d", 0.2), ("e", 0.5)],
        "key string, p double",
    )
    got = {r["key"]: r for r in fdr_bh(df, "p", "key", alpha=0.1).collect()}
    assert [got[k]["rejected"] for k in "abcde"] == [
        True, True, True, False, False
    ]
    assert got["c"]["rank"] == 3
    assert fdr_bh(df.filter("p < 0"), "p", "key").count() == 0


def test_fdr_bh_step_up_not_step_down(spark):
    """BH is STEP-UP: a late rank passing its threshold rescues every
    smaller rank, even ones that individually failed."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import fdr_bh

    # p1=.04 > 1*.05/2=.025 fails alone; p2=.05 <= .05 passes -> both
    df = spark.createDataFrame(
        [("a", 0.04), ("b", 0.05)], "key string, p double"
    )
    got = {r["key"]: r["rejected"] for r in
           fdr_bh(df, "p", "key", alpha=0.05).collect()}
    assert got == {"a": True, "b": True}


def test_source_jaccard_hand_fixture(spark):
    """Two sources sharing exactly one 3-shingle out of 2 and 2:
    J = 1/3; a third disjoint source pairs at no row (inner join)."""
    from pdf_to_vectordb_etl_spark.operators.profiling import (
        source_jaccard_matrix,
    )

    df = spark.createDataFrame(
        [
            ("s1", "alpha beta gamma delta"),      # shingles: abg, bgd
            ("s2", "alpha beta gamma epsilon"),    # shingles: abg, bge
            ("s3", "one two three"),               # shingle: ott
        ],
        "source string, text string",
    )
    rows = source_jaccard_matrix(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert {r["s1"], r["s2"]} == {"s1", "s2"}
    assert r["inter"] == 1 and r["uni"] == 3
    assert abs(r["j_q6"] - 0.333333) < 1e-9


def test_t_closeness_hand_fixture(spark):
    """Class A all-x (4), class B 2x2y (4); global (6x, 2y): both
    classes sit at exactly t = 0.25 — over at t=0.2, within at
    t=0.25; empty input -> NULLs."""
    from pdf_to_vectordb_etl_spark.operators.quality_checks import (
        t_closeness_report,
    )

    df = spark.createDataFrame(
        [("A", "x")] * 4 + [("B", "x")] * 2 + [("B", "y")] * 2,
        "qi string, s string",
    )
    strict = t_closeness_report(df, ["qi"], "s", t=0.2).first()
    assert strict["classes_over_t"] == 2 and strict["t_close"] is False
    assert abs(strict["max_t_q6"] - 0.25) < 1e-9
    loose = t_closeness_report(df, ["qi"], "s", t=0.25).first()
    assert loose["classes_over_t"] == 0 and loose["t_close"] is True
    empty = t_closeness_report(df.filter("qi = 'z'"), ["qi"], "s").first()
    assert empty["n_classes"] == 0 and empty["t_close"] is None


def test_lift_table_concentrates_positives(spark):
    """100 rows, positives exactly where score is highest (top 20):
    deciles 1-2 get lift 5.0, others 0; cumulative gain hits 1.0 at
    decile 2 and stays."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import lift_table

    rows = [(i, (100 - i) * 10000, i < 20) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, p_micro long, y boolean")
    got = {r["tile"]: r for r in
           lift_table(df, "p_micro", "y", "id", n_tiles=10).collect()}
    assert got[1]["lift_q6"] == 5.0 and got[2]["lift_q6"] == 5.0
    assert got[3]["lift_q6"] == 0.0
    assert got[1]["cum_gain_q6"] == 0.5
    assert got[2]["cum_gain_q6"] == 1.0
    assert got[10]["cum_gain_q6"] == 1.0
    assert all(got[t]["n"] == 10 for t in got)


def test_rfm_segments_hand_fixture(spark):
    """10 users with monotone recency/frequency/monetary (user 0 best
    on all three): quintiles put users 0-3 in champions (r<=2,f<=2),
    users 4-9 (r,f >= 3) in hibernating; monetary sums are exact
    micro-grid integers."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import rfm_segments

    rows = []
    for u in range(10):
        for k in range(10 - u):  # freq decreasing in u
            rows.append((u, (100 - u) * 10**9, 10.5 - u))
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")
    got = {r["segment"]: r for r in rfm_segments(df).collect()}
    assert got["champions"]["n_users"] == 4
    assert got["hibernating"]["n_users"] == 6
    assert set(got) == {"champions", "hibernating"}
    # user 0: 10 events at 10.5 -> 105_000_000 micro; exact
    total = sum(r["monetary_micro"] for r in got.values())
    want = sum(int((10.5 - u) * 1e6) * (10 - u) for u in range(10))
    assert total == want


def test_gopher_rule_ablation_invariants(spark):
    """Planted docs, one per failure mode: per rule,
    n_sole_fail <= n_fail; n_pass_without - n_pass == n_sole_fail (the
    docs a rule uniquely removes are exactly what dropping it returns);
    a doc failing two rules is sole-fail for neither."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        gopher_rule_ablation,
    )

    good = "the of and to a in is it you that " * 10   # passes all
    # fails ONLY min_words: >= 2 Gopher stopwords, mean word len in
    # [3, 10], all-alpha, no bullets/symbols
    short = "that have handsome oranges wonderful beautiful"
    # fails min_words AND symbol ratio (many # marks, few words)
    double = "# # # # ## ###"
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, double)], "doc_id long, text string"
    )
    rows = {r["rule"]: r for r in gopher_rule_ablation(docs).collect()}
    assert len(rows) == 9
    n_pass = next(iter(rows.values()))["n_pass"]
    for r in rows.values():
        assert r["n_sole_fail"] <= r["n_fail"]
        assert r["n_pass_without"] - n_pass == r["n_sole_fail"]
        assert r["n_docs"] == 3
    assert rows["min_words"]["n_fail"] == 2
    # 'short' fails ONLY min_words (all-stopword text, sane ratios)
    assert rows["min_words"]["n_sole_fail"] >= 1


def test_repetition_depth_monotone_and_exact(spark):
    """Repeat-position counts are non-increasing in width (a repeated
    w-window implies a repeated w/2-window at the same start is
    possible — the count over FULL positions can only shrink); a
    planted 16-char duplicated block shows up at every width; the
    fully-unique corpus shows zeros past width 1."""
    from pdf_to_vectordb_etl_spark.operators.suffixes import (
        repetition_depth_profile,
    )

    block = "ABCDEFGHIJKLMNOP"  # 16 unique chars, duplicated across docs
    docs = spark.createDataFrame(
        [(1, f"xx{block}yy"), (2, f"qq{block}rr")],
        "doc_id long, text string",
    )
    rows = {r["width"]: r for r in
            repetition_depth_profile(docs).collect()}
    assert rows[16]["n_repeat_groups"] >= 1
    assert rows[16]["max_group"] >= 2
    for w in (1, 2, 4, 8, 16):
        assert rows[w]["n_repeat_positions"] >= 2
    # non-increasing in width
    widths = sorted(rows)
    for a, b in zip(widths, widths[1:]):
        assert rows[a]["n_repeat_positions"] >= rows[b]["n_repeat_positions"]

    uniq = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "ijklmnop")], "doc_id long, text string"
    )
    u = {r["width"]: r for r in repetition_depth_profile(uniq).collect()}
    assert u[2]["n_repeat_groups"] == 0 and u[16]["n_repeat_positions"] == 0


def test_code_switch_entropy_hand_fixture(spark):
    """Doc 1 alternates EN and ES sentences (entropy ln 2 ~ 0.6931,
    2 langs); doc 2 is pure EN (entropy 0, 1 lang); doc 3 has no
    marker evidence (0 classified, NULL entropy)."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        code_switch_entropy,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat and the dog. el perro que la casa. "
                "of the house to a garden. los gatos de la que el."),
            (2, "the cat and the dog. of the house to a garden."),
            (3, "zzz qqq. xxx www."),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in code_switch_entropy(docs).collect()}
    assert got[1]["n_langs"] == 2 and got[1]["n_classified"] == 4
    assert abs(got[1]["lang_entropy_q4"] - 0.6931) < 1e-9
    assert got[2]["n_langs"] == 1 and got[2]["lang_entropy_q4"] == 0.0
    assert got[3]["n_classified"] == 0 and got[3]["lang_entropy_q4"] is None
    assert got[3]["n_sentences"] == 2


def test_min_k_prob_selects_the_bottom_fifth(spark):
    """10 identical high-prob bigrams + 2 planted rare ones: k =
    ceil(12/5) = 3, and the min-k mean must be dragged down by the two
    rare bigrams (min_k score < overall kn score); k_used is the exact
    integer ceil."""
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        kneser_ney_scores,
        min_k_prob,
    )

    common = "alpha beta " * 6          # frequent bigrams
    rare = "zq xv"                      # appears once in the corpus
    target = common + rare
    other_docs = [(i, "alpha beta alpha beta gamma") for i in range(2, 8)]
    docs = spark.createDataFrame(
        [(1, target)] + other_docs, "doc_id long, text string"
    )
    mk = {r["doc_id"]: r for r in min_k_prob(docs, k_denom=5).collect()}
    kn = {r["doc_id"]: r for r in kneser_ney_scores(docs).collect()}
    r1 = mk[1]
    assert r1["k_used"] == (r1["n_bigrams"] + 4) // 5
    assert r1["min_k_score_q4"] < kn[1]["kn_score"]
    # a doc of only frequent bigrams: bottom-k mean >= the mixed doc's
    assert mk[2]["min_k_score_q4"] > r1["min_k_score_q4"]


def test_mcnemar_hand_fixture(spark):
    """10 items: b = 4 (A-only), c = 1 (B-only). chi2 = (4-1)^2/5 =
    1.8; continuity-corrected chi2 = (|4-1|-1)^2/5 = 0.8; neither
    rejects at 3.841459. NULL predictions read as False."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import mcnemar_test

    rows = (
        [(True, True)] * 3
        + [(True, False)] * 4
        + [(False, True)] * 1
        + [(False, False)] * 1
        + [(None, False)] * 1
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    out = mcnemar_test(df, "a", "b").collect()[0]
    assert out.n_items == 10
    assert (out.b_count, out.c_count, out.n_discordant) == (4, 1, 5)
    assert out.chi2_q6 == 1.8
    assert out.chi2_cc_q6 == 0.8
    assert out.reject_05 is False


def test_mcnemar_no_discordance_is_null(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import mcnemar_test

    df = spark.createDataFrame(
        [(True, True), (False, False)], "a boolean, b boolean"
    )
    out = mcnemar_test(df, "a", "b").collect()[0]
    assert out.chi2_q6 is None and out.reject_05 is None


def test_cochran_q_matches_direct_formula(spark):
    """Classic 3-treatment block design; Q checked against the direct
    formula computed independently in Python."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import cochran_q

    # item -> set of treatments that fired (complete 3-treatment blocks)
    blocks = {
        1: "ab", 2: "a", 3: "abc", 4: "b", 5: "ab",
        6: "ac", 7: "a", 8: "abc", 9: "", 10: "ab",
    }
    rows = [(i, t) for i, ts in blocks.items() for t in ts]
    df = spark.createDataFrame(rows, "item long, treat string")
    out = cochran_q(df, "item", "treat").collect()[0]

    k = 3
    tj = {t: sum(1 for ts in blocks.values() if t in ts) for t in "abc"}
    xi = {i: len(ts) for i, ts in blocks.items()}
    g = sum(tj.values())
    num = (k - 1) * (k * sum(v * v for v in tj.values()) - g * g)
    den = k * g - sum(v * v for v in xi.values())
    import math

    assert out.k_treatments == k
    # item 9 has no marks so it never appears in the long form
    assert out.n_items == 9
    assert out.g_marks == g
    assert out.q_q6 == math.floor(num * 1e6 / den) / 1e6


def test_krippendorff_alpha_hand_example(spark):
    """Krippendorff's nominal example (Krippendorff 2011 'Computing
    Krippendorff's Alpha-Reliability', public): 12 units with variable
    raters; expected nominal alpha ~= 0.743 on the pairable subset.
    Replayed independently with exact Fractions."""
    from fractions import Fraction

    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        krippendorff_alpha,
    )

    # unit -> list of nominal ratings (units with 1 rating get dropped)
    units = {
        1: [1, 1],
        2: [2, 2],
        3: [3, 3, 3],
        4: [3, 3, 3],
        5: [2, 2, 2],
        6: [1, 2, 3, 4],
        7: [4, 4, 4],
        8: [1, 1, 2],
        9: [2, 2, 2],
        10: [5, 5, 5],
        11: [1, 1],
        12: [3],  # unpairable
    }
    rows = [(u, c) for u, cs in units.items() for c in cs]
    df = spark.createDataFrame(rows, "item long, cat int")
    out = krippendorff_alpha(df, "item", "cat").collect()[0]

    kept = {u: cs for u, cs in units.items() if len(cs) >= 2}
    n = sum(len(cs) for cs in kept.values())
    do_sum = Fraction(0)
    for cs in kept.values():
        ni = len(cs)
        si = sum(cs.count(c) ** 2 for c in set(cs))
        do_sum += Fraction(ni * ni - si, ni - 1)
    nc = {}
    for cs in kept.values():
        for c in cs:
            nc[c] = nc.get(c, 0) + 1
    e_sum = sum(v * (n - v) for v in nc.values())
    alpha = 1 - Fraction(n - 1) * do_sum / e_sum
    assert out.n_items == 11 and out.n_dropped == 1 and out.n_ratings == n
    # per-item pico quantization truncates thirds (ni-1 == 3), so pin a
    # 2-ulp-of-the-grid envelope around the exact rational, not equality
    assert abs(out.alpha_q6 - float(alpha)) < 2e-6
    # the statistic is in the expected published ballpark
    assert 0.70 < out.alpha_q6 < 0.80


def test_krippendorff_alpha_negative_floor_is_exact(spark):
    """Systematic disagreement drives alpha < 0 — pins the nonneg
    floor-emulation branch (never divide a negative)."""
    from fractions import Fraction
    import math

    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        krippendorff_alpha,
    )

    units = {1: [1, 2], 2: [2, 1], 3: [1, 2], 4: [2, 1]}
    rows = [(u, c) for u, cs in units.items() for c in cs]
    df = spark.createDataFrame(rows, "item long, cat int")
    out = krippendorff_alpha(df, "item", "cat").collect()[0]

    n = 8
    do_sum = Fraction(0)
    for cs in units.values():
        ni, si = 2, 2
        do_sum += Fraction(ni * ni - si, ni - 1)
    e_sum = 4 * (n - 4) * 2
    alpha = 1 - Fraction(n - 1) * do_sum / e_sum
    assert alpha < 0
    # pico-quantization of each do term is exact here (integer terms),
    # so the floored micro value must match the exact rational floor
    assert out.alpha_q6 == math.floor(alpha * 10**6) / 1e6


def test_lexical_diversity_hand_fixture(spark):
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        lexical_diversity,
    )

    df = spark.createDataFrame(
        [
            (1, "a b a c", "s1"),
            (2, "a  d", "s1"),  # double space: empty tokens dropped
            (3, None, "s2"),  # NULL text reads as ''
            (4, "x x x", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        r.source: r for r in lexical_diversity(df, "text", "source").collect()
    }
    s1 = out["s1"]
    # s1 tokens: a,b,a,c,a,d -> 6 tokens, 4 types, hapax = b,c,d = 3
    assert (s1.n_docs, s1.n_tokens, s1.n_types, s1.n_hapax) == (2, 6, 4, 3)
    assert s1.ttr_q6 == 0.666666 and s1.hapax_frac_q6 == 0.75
    s2 = out["s2"]
    assert (s2.n_docs, s2.n_tokens, s2.n_types, s2.n_hapax) == (2, 3, 1, 0)
    assert s2.ttr_q6 == 0.333333 and s2.hapax_frac_q6 == 0.0


def test_vocab_growth_exact_and_monotone(spark):
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        vocab_growth_curve,
    )

    # 10 docs: doc i introduces exactly one new token and repeats an old
    rows = [(i, f"w{i} w0") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = vocab_growth_curve(df, "text", "doc_id", n_checkpoints=5).collect()
    assert [r.checkpoint for r in out] == [1, 2, 3, 4, 5]
    # checkpoint k covers the first 2k docs -> 2k new tokens... doc 0
    # contributes w0 twice, so types at prefix m = m (w0..w{m-1}) and
    # tokens = 2m
    for r in out:
        m = r.n_docs_cum
        assert m == 2 * r.checkpoint
        assert r.n_tokens_cum == 2 * m
        assert r.n_types_cum == m
    # monotone by construction
    for a, b in zip(out, out[1:]):
        assert b.n_types_cum >= a.n_types_cum
        assert b.n_tokens_cum > a.n_tokens_cum


def _brute_force_knn_shapley(dists, labels, qy, k):
    """Definitional Shapley of the K-NN utility v(S) =
    (1/K) * sum_{j<=min(K,|S|)} 1[label of j-th nearest in S == qy],
    exact Fractions over all subsets."""
    from fractions import Fraction
    from itertools import combinations
    from math import factorial

    n = len(dists)
    order = sorted(range(n), key=lambda i: (dists[i], i))

    def v(subset):
        ranked = [i for i in order if i in subset]
        top = ranked[: min(k, len(ranked))]
        return Fraction(sum(1 for i in top if labels[i] == qy), k)

    out = []
    for i in range(n):
        others = [j for j in range(n) if j != i]
        s = Fraction(0)
        for size in range(n):
            for combo in combinations(others, size):
                w = Fraction(
                    factorial(size) * factorial(n - size - 1), factorial(n)
                )
                s += w * (v(set(combo) | {i}) - v(set(combo)))
        out.append(s)
    return out


def test_knn_shapley_matches_brute_force(spark):
    """The closed-form distributed valuation equals the definitional
    Shapley value (all-subsets Fractions) on a 6-point train set, to
    pico-grid quantization (<= n picos of drift)."""
    from pdf_to_vectordb_etl_spark.operators.valuation import knn_shapley

    # vectors on a line -> distances to the origin query are the
    # squared coordinates; labels mix matches and misses
    train = [
        (10, [0.001 * (i + 1)] * 4, lab)
        for i, lab in enumerate([1, 0, 1, 1, 0, 1])
    ]
    train = [(i + 10, v, l) for i, (_, v, l) in enumerate(train)]
    q = [(0, [0.0] * 4, 1)]
    tdf = spark.createDataFrame(
        train, "vec_id long, embedding array<float>, label int"
    )
    qdf = spark.createDataFrame(
        q, "vec_id long, embedding array<float>, label int"
    )
    got = {
        r.vec_id: r.shapley_q12
        for r in knn_shapley(tdf, qdf, k=3, top_n=None).collect()
    }
    labels = [l for _, _, l in train]
    dists = [(i + 1) for i in range(6)]  # monotone in the coordinate
    want = _brute_force_knn_shapley(dists, labels, 1, k=3)
    for i in range(6):
        assert abs(got[i + 10] - float(want[i])) < 1e-9, (i, got, want)


def test_knn_shapley_efficiency_property(spark, sf_dir):
    """Sum of all train Shapley values per query == v(full set) =
    (1/K) * (same-label count among the true top-K) — the Shapley
    efficiency axiom, on real fixture embeddings."""
    from pdf_to_vectordb_etl_spark.operators.valuation import knn_shapley

    emb = load(spark, sf_dir, "embeddings").limit(60)
    tr = emb.filter(F.col("vec_id") >= 2)
    qs = emb.filter(F.col("vec_id") < 2)
    full = knn_shapley(tr, qs, k=5, top_n=None)
    sums = {
        r.qid: r.s
        for r in full.groupBy("qid")
        .agg(F.sum("shapley_q12").alias("s"))
        .collect()
    }
    rows = full.orderBy("qid", "knn_rank").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    for qid, rs in by_q.items():
        topk_matches = sum(1 for r in rs[:5] if r.label_match)
        assert abs(sums[qid] - topk_matches / 5) < 1e-6 * len(rs)


def test_offpolicy_ips_snips_hand_fixture(spark):
    """3 actions with known propensities; IPS and SNIPS replayed with
    exact Fractions. Uniform target over k=3 actions."""
    from fractions import Fraction
    import math

    from pdf_to_vectordb_etl_spark.operators.valuation import (
        offpolicy_ips_snips,
    )

    logs = [("a", 1.0)] * 6 + [("b", 2.0)] * 3 + [("c", 0.5)] * 1
    df = spark.createDataFrame(logs, "act string, rew double")
    out = offpolicy_ips_snips(df, "act", "rew").collect()[0]
    n, k = 10, 3
    counts = {"a": 6, "b": 3, "c": 1}
    rews = {"a": 6 * Fraction(1), "b": 3 * Fraction(2), "c": Fraction(1, 2)}
    # exact rational targets
    ips = sum(
        Fraction(n, k * counts[a]) * rews[a] for a in counts
    ) / n
    den = sum(counts[a] * Fraction(n, k * counts[a]) for a in counts)
    snips = sum(
        Fraction(n, k * counts[a]) * rews[a] for a in counts
    ) / den
    assert out.n_logs == 10 and out.k_actions == 3
    assert out.logged_mean_q6 == math.floor(Fraction(125, 10) / 10 * 1e6) / 1e6
    # pico weight quantization drift is < 1e-6 here
    assert abs(out.ips_q6 - float(ips)) < 2e-6
    assert abs(out.snips_q6 - float(snips)) < 2e-6


def test_offpolicy_negative_rewards_signed_floor(spark):
    """Negative rewards exercise the signed floor-div emulation: the
    floored estimate must sit within one micro of the exact rational
    and BELOW it (floor semantics)."""
    from fractions import Fraction

    from pdf_to_vectordb_etl_spark.operators.valuation import (
        offpolicy_ips_snips,
    )

    logs = [("a", -1.5)] * 4 + [("b", 1.0)] * 4
    df = spark.createDataFrame(logs, "act string, rew double")
    out = offpolicy_ips_snips(df, "act", "rew").collect()[0]
    ips = (
        Fraction(8, 2 * 4) * Fraction(-6) + Fraction(8, 2 * 4) * Fraction(4)
    ) / 8
    assert out.ips_q6 <= float(ips) + 1e-12
    assert out.ips_q6 > float(ips) - 2e-6
    # mean reward = (4*-1.5 + 4*1.0)/8 = -0.25, exactly on the grid
    assert out.logged_mean_q6 == -0.25


def test_pca_top_component_matches_numpy(spark):
    """6 power rounds on the integer covariance recover numpy's top
    eigenvector of the float covariance (|cos| > 0.999) and its
    explained-variance share (within quantization + convergence)."""
    import numpy as np

    from pdf_to_vectordb_etl_spark.operators.clustering import (
        pca_top_component,
    )

    rng = np.random.RandomState(7)
    # anisotropic cloud: dominant direction mixed across 6 dims
    base = rng.randn(200, 6) * np.array([3.0, 1.0, 0.5, 0.25, 0.1, 0.05])
    rot = np.linalg.qr(rng.randn(6, 6))[0]
    pts = (base @ rot).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id long, embedding array<float>",
    )
    out = pca_top_component(df, n_rounds=6).orderBy("dim").collect()
    v = np.array([r.loading_q12 for r in out])
    cov = np.cov(pts.T, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.999, cos
    evr_true = w[-1] / w.sum()
    assert abs(out[0].evr_q6 - evr_true) < 0.01
    # canonical sign: first nonzero loading positive
    nz = v[v != 0]
    assert nz[0] > 0


def test_pca_zero_variance_is_degenerate_safe(spark):
    """All-identical vectors: covariance is 0, the start vector
    survives every round (m == 0 break) and evr is NULL."""
    from pdf_to_vectordb_etl_spark.operators.clustering import (
        pca_top_component,
    )

    df = spark.createDataFrame(
        [(i, [0.5, 0.5, 0.5]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    out = pca_top_component(df, n_rounds=4).orderBy("dim").collect()
    assert [r.loading_q12 for r in out] == [1.0, 0.0, 0.0]
    assert all(r.evr_q6 is None for r in out)


def test_phrase_search_hand_fixture(spark):
    from pdf_to_vectordb_etl_spark.operators.textsearch import phrase_search

    df = spark.createDataFrame(
        [
            (1, "the big cat sat on the big cat mat"),
            (2, "big cat"),          # phrase absent (needs 3 tokens)
            (3, "THE BIG CAT!"),     # case + punctuation tokenization
            (4, None),
            (5, "big the big cat cat"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in phrase_search(df, ["the", "big", "cat"]).collect()
    }
    assert set(out) == {1, 3, 5}
    assert out[1].n_matches == 2 and out[1].first_pos == 0
    assert out[3].n_matches == 1 and out[3].first_pos == 0
    assert out[5].n_matches == 1 and out[5].first_pos == 1


def test_phrase_search_matches_regex_rescan(spark, sf_dir):
    """The postings-join plan equals a naive normalized-text regex
    count on real fixture docs (same tokenization: alnum runs)."""
    from pdf_to_vectordb_etl_spark.operators.textsearch import phrase_search

    docs = load(spark, sf_dir, "documents").limit(200)
    got = {
        r.doc_id: r.n_matches
        for r in phrase_search(docs, ["join", "batch", "table"]).collect()
    }
    norm = F.concat(
        F.lit(" "),
        F.array_join(
            F.filter(
                F.split(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    "[^a-z0-9]+",
                ),
                lambda x: F.length(x) > 0,
            ),
            " ",
        ),
        F.lit(" "),
    )
    # overlapping-safe count via lookahead-free trick: phrase tokens
    # can't overlap themselves here (distinct words), plain count ok
    want = {
        r.doc_id: r.c
        for r in docs.select(
            "doc_id",
            F.expr(
                "regexp_count(concat(' ', array_join(filter(split(lower("
                "coalesce(text, '')), '[^a-z0-9]+'), x -> length(x) > 0),"
                " ' '), ' '), ' join batch table ')"
            ).alias("c"),
        ).collect()
        if r.c > 0
    }
    # regexp_count on non-overlapping windows can undercount abutting
    # matches ('join batch table join batch table' shares the space);
    # compare on docs where they must agree (no abutting repeats)
    for k, v in want.items():
        assert got.get(k, 0) >= v
    assert set(want) <= set(got)


def test_heavy_hitters_partitioning_independent_and_exact(spark):
    from collections import Counter

    from pdf_to_vectordb_etl_spark.operators.sketch import (
        heavy_hitters_exact,
    )

    # planted zipf-ish stream: 'h0' and 'h1' are the only > n/5 items
    items = (
        ["h0"] * 400 + ["h1"] * 300 + [f"t{i}" for i in range(100)] * 3
    )
    n = len(items)
    truth = {
        k: v for k, v in Counter(items).items() if v * 5 > n
    }
    df = spark.createDataFrame([(x,) for x in items], "item string")
    for parts in (1, 7, 32):
        got = {
            r.item: r.cnt
            for r in heavy_hitters_exact(
                df.repartition(parts), "item", k=5, n_counters=10
            ).collect()
        }
        assert got == truth, (parts, got)


def test_heavy_hitters_guard_rejects_undersized_screen(spark):
    import pytest

    from pdf_to_vectordb_etl_spark.operators.sketch import (
        heavy_hitters_exact,
    )

    df = spark.createDataFrame([("a",)], "item string")
    with pytest.raises(ValueError):
        heavy_hitters_exact(df, "item", k=20, n_counters=4)


def test_fairness_report_hand_fixture(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        fairness_report,
    )

    rows = (
        # group g1: 4 rows, 2 selected; labels: 2 pos (1 tp), 2 neg (1 fp)
        [("g1", True, True), ("g1", False, True),
         ("g1", True, False), ("g1", False, False)]
        # group g2: 2 rows, both selected, no positives -> tpr NULL
        + [("g2", True, False), ("g2", None, False)]
    )
    df = spark.createDataFrame(rows, "grp string, pred boolean, y boolean")
    out = {r.grp: r for r in fairness_report(df, "grp", "pred", "y").collect()}
    g1 = out["g1"]
    assert (g1.n, g1.n_selected, g1.n_label_pos) == (4, 2, 2)
    assert g1.sel_rate_q6 == 0.5 and g1.tpr_q6 == 0.5 and g1.fpr_q6 == 0.5
    g2 = out["g2"]
    # NULL pred reads False: 1 of 2 selected; no positives -> tpr NULL
    assert g2.sel_rate_q6 == 0.5 and g2.tpr_q6 is None
    assert g2.fpr_q6 == 0.5
    # dp gap: both groups select at 0.5 -> 0, stamped on every row
    assert g1.dp_gap_q6 == 0.0 and g2.dp_gap_q6 == 0.0


def test_fairness_dp_gap_detects_skewed_gate(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        fairness_report,
    )

    rows = [("a", i < 9, True) for i in range(10)] + [
        ("b", i < 3, True) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "grp string, pred boolean, y boolean")
    out = fairness_report(df, "grp", "pred", "y").collect()
    assert all(abs(r.dp_gap_q6 - 0.6) < 1e-9 for r in out)


def test_tokenizer_fertility_hand_fixture(spark):
    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        tokenizer_fertility_by_group,
    )

    per_doc = spark.createDataFrame(
        [(1, 10, 2, 16), (2, 5, 0, 10), (3, 4, 4, 0)],
        "doc_id long, n_words long, n_oov_words long, n_tokens long",
    )
    docs = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s2")], "doc_id long, source string"
    )
    out = {
        r.source: r
        for r in tokenizer_fertility_by_group(per_doc, docs).collect()
    }
    s1 = out["s1"]
    # in-vocab words = 13, tokens = 26 -> fertility 2.0; oov 2/15
    assert (s1.n_docs, s1.n_words, s1.n_oov_words, s1.n_tokens) == (
        2, 15, 2, 26,
    )
    assert s1.tokens_per_word_q6 == 2.0
    assert s1.oov_rate_q6 == 0.133333
    s2 = out["s2"]
    # every word OOV -> fertility NULL, oov rate 1.0
    assert s2.tokens_per_word_q6 is None and s2.oov_rate_q6 == 1.0


def test_mmd_null_is_small_and_shift_is_large(spark):
    """Same-distribution cohorts give |MMD^2| near 0; a planted mean
    shift gives a strictly larger positive value (deterministic
    pseudo-random vectors, exact integer kernel)."""
    import numpy as np

    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        mmd_linear_two_sample,
    )

    rng = np.random.RandomState(11)
    n, d = 400, 8
    same = rng.randn(n, d).astype(np.float32) * 0.1
    rows = [
        (i, [float(x) for x in same[i]], i % 2 == 0) for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, in_b boolean"
    )
    null = mmd_linear_two_sample(df, "in_b", "embedding", "vec_id").first()
    assert null.n_pairs == 100  # min(200,200) aligned -> 100 h-pairs

    shifted = same.copy()
    shifted[::2] += 0.3  # shift cohort B (even ids)
    rows2 = [
        (i, [float(x) for x in shifted[i]], i % 2 == 0) for i in range(n)
    ]
    df2 = spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, in_b boolean"
    )
    drift = mmd_linear_two_sample(df2, "in_b", "embedding", "vec_id").first()
    assert drift.mmd2_q6 > abs(null.mmd2_q6) * 3
    assert drift.mmd2_q6 > 0


def test_quantile_normalize_equalizes_distributions(spark):
    """Two equal-size groups with shifted distributions: after
    normalization both groups carry the SAME value multiset (the
    pooled quantiles), and within-group order is preserved."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        quantile_normalize,
    )

    rows = [(i, "a", float(i)) for i in range(10)] + [
        (100 + i, "b", 1000.0 + i * 5) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = quantile_normalize(df, "v", "grp", "id").collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r.grp, []).append((r.v, r.norm_value))
    assert sorted(n for _, n in by_g["a"]) == sorted(
        n for _, n in by_g["b"]
    )
    for g in by_g:
        ordered = sorted(by_g[g])
        assert [n for _, n in ordered] == sorted(n for _, n in ordered)
    # every normalized value is an actual pooled value
    pooled = {v for _, _, v in rows}
    assert {n for rs in by_g.values() for _, n in rs} <= pooled


def test_quantile_normalize_unequal_groups_ceil_convention(spark):
    """n_g = 2 vs pooled N = 6: group quantiles 1/2 and 1 map to pooled
    ranks ceil(3) and ceil(6) — pin the exact ceil convention."""
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        quantile_normalize,
    )

    rows = [(1, "s", 5.0), (2, "s", 7.0)] + [
        (10 + i, "big", float(i)) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = {
        r.id: r.norm_value
        for r in quantile_normalize(df, "v", "grp", "id").collect()
    }
    # pooled sorted: 0,1,2,3,5,7 -> rank3 = 2.0, rank6 = 7.0
    assert out[1] == 2.0 and out[2] == 7.0


def test_auc_by_group_matches_global_and_detects_gap(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        auc_by_group,
        binned_auc,
    )

    rows = (
        # group 'good': score perfectly separates labels -> AUC 1.0
        [(float(100 + i), True, "good") for i in range(20)]
        + [(float(i), False, "good") for i in range(20)]
        # group 'coin': IDENTICAL score multisets per label -> 0.5
        + [(float((i // 2) % 50), i % 2 == 0, "coin") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "s double, y boolean, grp string")
    out = {
        r.grp: r
        for r in auc_by_group(
            df, "s", F.col("y"), "grp", n_bins=200, lo=0.0, hi=200.0
        ).collect()
    }
    assert out["good"].auc == 1.0
    assert abs(out["coin"].auc - 0.5) < 0.02
    assert all(
        abs(r.auc_gap - (out["good"].auc - out["coin"].auc)) < 1e-9
        for r in out.values()
    )
    # a single group's slice equals the global binned_auc on that slice
    solo = df.filter(F.col("grp") == "coin")
    g = binned_auc(solo, "s", F.col("y"), n_bins=200, lo=0.0, hi=200.0)
    assert out["coin"].auc == g.first()["auc"]


def test_auc_by_group_single_class_slice_is_null(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import auc_by_group

    df = spark.createDataFrame(
        [(1.0, True, "onlypos"), (2.0, True, "onlypos"),
         (1.0, True, "mixed"), (2.0, False, "mixed")],
        "s double, y boolean, grp string",
    )
    out = {
        r.grp: r for r in auc_by_group(df, "s", F.col("y"), "grp").collect()
    }
    assert out["onlypos"].auc is None
    assert out["mixed"].auc is not None
    # the gap ignores NULL slices: max - min over the one defined AUC
    assert out["mixed"].auc_gap == 0.0


def test_source_health_report_composition_integrity(spark, sf_dir):
    """One row per source; every component column present and
    consistent with its standalone operator on the same data."""
    import __spark_entry__ as entry

    health = entry.queries()["source_health_report"](spark, sf_dir)
    rows = {r.source: r for r in health.collect()}
    ld = {
        r.source: r
        for r in entry.queries()["lexical_diversity"](spark, sf_dir).collect()
    }
    assert set(rows) == set(ld)
    for s, r in rows.items():
        assert r.n_docs == ld[s].n_docs and r.ttr_q6 == ld[s].ttr_q6
        assert r.sel_rate_q6 is not None and r.auc_gap is not None


def test_cohen_d_matches_direct_formula(spark):
    """Two arms with known moments: d and g replayed in plain Python
    from the same 1e-2 lattice; a zero-variance pair is NULL-guarded."""
    import math

    a_vals = [1.0, 2.0, 3.0, 4.0]
    b_vals = [2.5, 3.5, 4.5]
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "arm string, v double")
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        cohen_d_effect,
    )

    out = cohen_d_effect(df, "arm", "v", "a", "b").first()
    qa = [math.floor(v * 100) for v in a_vals]
    qb = [math.floor(v * 100) for v in b_vals]
    na, nb = len(qa), len(qb)
    nva = na * sum(x * x for x in qa) - sum(qa) ** 2
    nvb = nb * sum(x * x for x in qb) - sum(qb) ** 2
    s2p = (nva / na + nvb / nb) / (na + nb - 2)
    d = (sum(qa) / na - sum(qb) / nb) / math.sqrt(s2p)
    g = d * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0))
    assert out.n_a == 4 and out.n_b == 3
    assert out.mean_a_q6 == 2.5 and out.mean_b_q6 == 3.5
    assert out.cohen_d_q4 == math.floor(d * 1e4) / 1e4
    assert out.hedges_g_q4 == math.floor(g * 1e4) / 1e4
    assert abs(g) < abs(d)  # the small-sample correction shrinks

    const = spark.createDataFrame(
        [("a", 1.0)] * 3 + [("b", 1.0)] * 3, "arm string, v double"
    )
    z = cohen_d_effect(const, "arm", "v", "a", "b").first()
    assert z.cohen_d_q4 is None and z.hedges_g_q4 is None


def test_wasserstein_1d_known_distances(spark):
    """Equal-size cohorts: W1 equals the mean |order-statistic diff|;
    a pure location shift of delta gives W1 = delta exactly."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        wasserstein_1d,
    )

    a = [1.0, 2.0, 3.0, 4.0]
    b = [v + 2.5 for v in a]
    rows = [(i, v, False) for i, v in enumerate(a)] + [
        (100 + i, v, True) for i, v in enumerate(b)
    ]
    df = spark.createDataFrame(rows, "id long, v double, in_b boolean")
    out = wasserstein_1d(df, "in_b", "v", "id").first()
    assert out.m_points == 4
    assert out.w1_q6 == 2.5

    # identical cohorts -> 0
    same = spark.createDataFrame(
        [(i, float(i % 5), i >= 50) for i in range(100)],
        "id long, v double, in_b boolean",
    )
    z = wasserstein_1d(same, "in_b", "v", "id").first()
    assert z.w1_q6 == 0.0


def test_wasserstein_unequal_sizes_quantile_coupling(spark):
    """n_small = 2, n_large = 4: j = 1, 2 couple with large ranks
    ceil(j*4/2) = 2, 4 — pin the exact coupling convention."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        wasserstein_1d,
    )

    rows = [(1, 10.0, False), (2, 20.0, False)] + [
        (10, 1.0, True), (11, 2.0, True), (12, 3.0, True), (13, 4.0, True)
    ]
    df = spark.createDataFrame(rows, "id long, v double, in_b boolean")
    out = wasserstein_1d(df, "in_b", "v", "id").first()
    # couples: (10, large-rank2=2.0), (20, large-rank4=4.0)
    assert out.m_points == 2
    assert out.w1_q6 == ((10.0 - 2.0) + (20.0 - 4.0)) / 2


def test_did_estimator_recovers_planted_effect(spark):
    """Planted parallel-trends world: control drifts +1.0 post,
    treated drifts +1.0 AND gains +3.0 treatment effect -> did = 3."""
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        did_estimator,
    )

    rows = (
        [(False, False, 10.0)] * 5
        + [(False, True, 11.0)] * 5
        + [(True, False, 20.0)] * 5
        + [(True, True, 24.0)] * 5
    )
    df = spark.createDataFrame(rows, "t boolean, p boolean, v double")
    out = did_estimator(df, "t", "p", "v").first()
    assert out.did_q6 == 3.0
    assert out.mean_t_post_q6 == 24.0 and out.mean_c_pre_q6 == 10.0

    # an empty cell leaves the design undefined
    part = df.filter(~(F.col("t") & F.col("p")))
    u = did_estimator(part, "t", "p", "v").first()
    assert u.did_q6 is None
