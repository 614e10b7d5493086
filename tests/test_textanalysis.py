"""Text-analysis kernels: PII redaction edge cases (the rest of the
module is pinned by the DuckDB oracle queries ta_*)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark.operators import textanalysis as ta


def test_redact_pii_covers_types_and_leaves_clean_text(spark):
    rows = [
        (1, "mail me at jane.doe+x@sub.example.co.uk today"),
        (2, "server 192.168.0.1 rebooted"),
        (3, "call +1 555 867 5309 or 555-867-5309"),
        (4, "no pii here, just 12345 and v1.2 release notes"),
        (5, "combo a@b.io via 10.0.0.7"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    out = {
        r["id"]: (r["red"], r["hits"])
        for r in df.select(
            "id",
            ta.redact_pii("text").alias("red"),
            ta.pii_hit_count("text").alias("hits"),
        ).collect()
    }
    assert out[1] == ("mail me at <EMAIL> today", 1)
    assert out[2] == ("server <IP> rebooted", 1)
    assert out[3][0] == "call <PHONE> or <PHONE>" and out[3][1] == 2
    # clean text passes through byte-identical, zero hits
    assert out[4] == (rows[3][1], 0)
    assert out[5] == ("combo <EMAIL> via <IP>", 2)


def test_redact_pii_is_native_expression(spark):
    """The scrub must stay JVM-side (no BatchEvalPython / pandas UDF) so
    it runs at scan throughput."""
    df = spark.createDataFrame([(1, "x@y.io")], "id int, text string")
    plan = (
        df.select(ta.redact_pii("text").alias("r"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan


def test_bigram_logprob_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a c"), (3, "a b c")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["lm_score"], r["n_bigrams"])
        for r in ta.bigram_logprob_scores(df).collect()
    }
    # corpus: c(a,b)=2 c(a,c)=1 c(b,c)=1; c1(a)=3 c1(b)=1
    assert out[1] == (round(math.log(2 / 3), 4), 1)
    assert out[2] == (round(math.log(1 / 3), 4), 1)
    assert out[3] == (round((math.log(2 / 3) + 0.0) / 2, 4), 2)


def test_webcorpus_url_canonicalization(spark):
    from pdf_to_vectordb_etl_spark.operators import webcorpus as wc

    cases = [
        ("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&q=1#top",
         "http://example.com/a/b/?q=1"),
        ("https://news.example.co.uk:443/path/", "https://news.example.co.uk/path"),
        ("https://example.com/?fbclid=abc", "https://example.com"),
        ("https://example.com/a?id=2&gclid=z&x=3", "https://example.com/a?id=2&x=3"),
        ("no-scheme/plain", "no-scheme/plain"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r[0] for r in df.select(wc.canonicalize_url(F.col("u"))).collect()]
    assert got == [want for _, want in cases]


def test_webcorpus_registrable_domain(spark):
    from pdf_to_vectordb_etl_spark.operators import webcorpus as wc

    cases = [
        ("https://a.b.news.example.co.uk/x", "example.co.uk"),
        ("http://WWW.Sub.Example.COM/y", "example.com"),
        ("https://localhost/z", ""),  # single label: no registrable domain
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r[0] for r in df.select(wc.registrable_domain(F.col("u"))).collect()]
    assert got == [want for _, want in cases]


def test_webcorpus_strip_markup(spark):
    from pdf_to_vectordb_etl_spark.operators import webcorpus as wc

    df = spark.createDataFrame(
        [('<div class="a">Hello <b>world</b> &amp;amp; <!-- note --> '
          "friends&nbsp;&lt;3</div>",)],
        "h string",
    )
    got = df.select(wc.strip_markup(F.col("h"))).first()[0]
    # single-pass unescape: &amp;amp; -> &amp; (NOT a double unescape)
    assert got == "Hello world &amp; friends <3"


# ------------------------------------------------------------- r6:
# full Gopher rule set — each rule pinned by a planted doc that fails
# exactly that rule (bitmask isolates it).


def _gopher_row(spark, text):
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    return ta.gopher_quality_gate(df).first()


def _good_doc(n=60):
    # 60 plain words, mean length in [3,10], has the/of/and/to/with...
    return " ".join(
        ["the quick brown fox jumps over and beyond with grace because"]
        * (n // 10)
    )


def test_gopher_good_doc_passes(spark):
    r = _gopher_row(spark, _good_doc())
    assert r.gopher_pass and r.gopher_fail_mask == 0
    assert r.n_words == 66 and r.stop_hits >= 2  # 11-word sentence x 6


def test_gopher_min_words(spark):
    r = _gopher_row(spark, "the small and tidy doc of ten words here now")
    assert not r.gopher_pass and r.gopher_fail_mask == 1  # bit 0 only


def test_gopher_mean_word_len_bounds(spark):
    short = " ".join(["a an to of it is"] * 10)  # mean len 1.83
    r = _gopher_row(spark, short)
    assert r.gopher_fail_mask & 4
    longw = _good_doc() + " " + " ".join(["pneumonoultramicroscopic"] * 400)
    r2 = _gopher_row(spark, longw)
    assert r2.gopher_fail_mask & 8 and r2.mean_word_len > 10


def test_gopher_symbol_ratio(spark):
    r = _gopher_row(spark, _good_doc() + " " + "# # # # # # # #")
    assert r.gopher_fail_mask & 16 and r.symbol_word_ratio > 0.1
    # ellipsis counts toward the symbol ratio too
    r2 = _gopher_row(spark, _good_doc() + " " + "... ... ... ... ... ... ... ...")
    assert r2.gopher_fail_mask & 16


def test_gopher_bullet_and_ellipsis_lines(spark):
    words = _good_doc().split()
    bullets = "\n".join(f"- {w}" for w in words)
    r = _gopher_row(spark, bullets)
    assert r.gopher_fail_mask & 32 and r.bullet_line_frac > 0.9
    dots = "\n".join(f"{w} went on and on..." for w in words[:20])
    r2 = _gopher_row(spark, dots)
    assert r2.gopher_fail_mask & 64 and r2.ellipsis_line_frac > 0.3


def test_gopher_alpha_word_frac(spark):
    r = _gopher_row(spark, _good_doc() + " " + " ".join(["12345"] * 40))
    assert r.gopher_fail_mask & 128 and r.alpha_word_frac < 0.8


def test_gopher_stop_hits(spark):
    # 60 alpha words, none of the 8 required stopwords
    r = _gopher_row(spark, " ".join(["zebra lion puma otter crane heron"] * 10))
    assert r.gopher_fail_mask & 256 and r.stop_hits == 0


def test_gopher_empty_doc_no_crash(spark):
    r = _gopher_row(spark, "")
    assert not r.gopher_pass
    assert r.mean_word_len == 0.0 and r.alpha_word_frac == 0.0


def test_gopher_thresholds_overridable(spark):
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    df = spark.createDataFrame(
        [(0, "the cat and dog sat with that hat of straw")],
        "doc_id long, text string",
    )
    r = ta.gopher_quality_gate(df, thresholds={"min_words": 5}).first()
    assert r.gopher_pass


# ------------------------------------------------------------- r6:
# unigram-LM (SentencePiece-class) trainer — toy pins.


def _toy_corpus(spark):
    return spark.createDataFrame(
        [("the cat sat on the mat the cat ran",),
         ("a cat and a mat and a hat",),
         ("the hat sat on a cat",)],
        "text string",
    )


def test_unigram_lm_whole_words_emerge(spark):
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    out = {
        r.piece: r.n
        for r in ta.unigram_lm_train(
            _toy_corpus(spark), vocab_size=8, n_rounds=2, max_piece_len=3
        ).collect()
    }
    # frequent whole words become single pieces with exact corpus counts
    assert out["cat"] == 4 and out["the"] == 4 and out["a"] == 4
    assert out["and"] == 2 and out["mat"] == 2 and out["sat"] == 2
    # 'ran' (freq 1) segments as r + an: 'ran'/'ra' never reach the
    # min_count=2 seed, 'an' does (and, and, ran)
    assert out["r"] == 1 and out["an"] == 1


def test_unigram_lm_viterbi_prefers_fewest_pieces(spark):
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    # 'abcd' appears often enough to be a piece: whole-word wins over
    # any 2-piece split even though 'ab'/'cd' are also frequent
    rows = [("ab cd abcd",)] * 3
    out = {
        r.piece: r.n
        for r in ta.unigram_lm_train(
            spark.createDataFrame(rows, "text string"),
            vocab_size=8, n_rounds=2, max_piece_len=4, min_count=2,
        ).collect()
    }
    assert out["abcd"] == 3 and out["ab"] == 3 and out["cd"] == 3


def test_unigram_lm_counts_are_consistent(spark):
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta
    import pyspark.sql.functions as F

    df = _toy_corpus(spark)
    out = ta.unigram_lm_train(df, vocab_size=8, n_rounds=2, max_piece_len=3)
    rows = out.collect()
    # piece characters reassemble the full (length<=12) word stream:
    # sum over pieces of n * len(piece) == total characters of words
    got_chars = sum(r.n * r.piece_len for r in rows)
    want_chars = (
        df.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter((F.length("w") > 0) & (F.length("w") <= 12))
        .agg(F.sum(F.length("w")))
        .first()[0]
    )
    assert got_chars == want_chars
    # probabilities are a floor-quantized distribution
    assert abs(sum(r.p_q6 for r in rows) - 1.0) < len(rows) * 1e-6 + 1e-9


def test_unigram_lm_deterministic(spark):
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    a = sorted(
        map(tuple, ta.unigram_lm_train(_toy_corpus(spark)).collect())
    )
    b = sorted(
        map(tuple, ta.unigram_lm_train(_toy_corpus(spark)).collect())
    )
    assert a == b


def test_unigram_lm_empty_corpus(spark):
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    empty = spark.createDataFrame([], "text string")
    assert ta.unigram_lm_train(empty).count() == 0


def test_kneser_ney_hand_computed(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "a b"), (3, "c a b")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.kn_score, r.n_bigrams)
        for r in ta.kneser_ney_scores(df).collect()
    }
    # corpus: a->b x4, b->a x2, a->c x1, c->a x1; B=4 distinct pairs
    # P(b|a) = (4-.75)/5 + (.75*2/5)*(1/4) = 0.725
    assert rows[2] == (round(math.log(0.725), 4), 1)
    # KN reserves exactly d*N1+(w1.) mass per history: probs sum to 1
    pa = (4 - 0.75) / 5 + (0.75 * 2 / 5) * (1 / 4)   # P(b|a)
    pc = (1 - 0.75) / 5 + (0.75 * 2 / 5) * (1 / 4)   # P(c|a)
    pother = 2 * (0.75 * 2 / 5) * (2 / 4) / 2        # unseen w2 share
    # full sum over observed continuations 'b','c','a' given history a:
    p_a_a = (0 - 0) / 5 + (0.75 * 2 / 5) * (2 / 4)   # a->a unseen
    assert abs((pa + pc + p_a_a) - 1.0) < 1e-12


def test_kneser_ney_out_of_model_backoff(spark):
    train = spark.createDataFrame(
        [(1, "the cat sat on the mat")], "doc_id long, text string"
    )
    score = spark.createDataFrame(
        [(9, "the zebra"), (10, "qq zz")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r.kn_score
        for r in ta.kneser_ney_scores(score, train=train).collect()
    }
    # unseen continuation floors at 1e-9, unseen history backs off to
    # Pcont — both finite, no crash
    import math

    eps = 1e-3  # kn_score is round-4 of the mean, may dip below ln(floor)
    assert rows[9] >= math.log(1e-9) - eps
    assert rows[10] >= math.log(1e-9) - eps


def test_kneser_ney_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert ta.kneser_ney_scores(empty).count() == 0
