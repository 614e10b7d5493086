"""Text-analysis operators for corpus curation (beyond-reference).

Language ID, quality scoring, token counting, fingerprinting — the
filters a 100 TB training-data pipeline runs over every document. All
native Column expressions (regexp/split/aggregate): no Python in the
per-document path, so they ride whole-stage codegen and cost one narrow
projection per doc.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..placement import bounded_collect

# marker stopwords per language for the n-gram/stopword-hit heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "des", "est"),
    "pt": ("o", "que", "de", "em", "uma"),
}

#: driver fast-path cap on word-vocab rows for the merge-round loop
#: and the unigram trainer (placement: bounded_collect)
FAST_PATH_MAX_VOCAB = 200_000

STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it")


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def token_count(text: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def subword_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: word pieces + punctuation marks, counted
    with one regexp pass (``\\w+|[^\\w\\s]``)."""
    return F.size(F.regexp_extract_all(_c(text), F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def _marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(markers) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def detect_language(text: Column | str, default: str = "und") -> Column:
    """Heuristic language ID: argmax of marker-hit counts; equal-hit
    ties resolve deterministically to the lexicographically LARGEST
    language code (array_max's struct compare: hits first, then lang
    — matching the oracle's CASE chain, which tests pt→fr→es→en before
    defaulting de); ``und`` when nothing hits."""
    t = _c(text)
    scored = F.array(
        *[
            F.struct(
                _marker_hits(t, m).alias("hits"), F.lit(lang).alias("lang")
            )
            for lang, m in sorted(LANG_MARKERS.items(), reverse=True)
        ]
    )
    best = F.array_max(scored)  # struct compare: hits first, then lang desc
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit(default))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, tokens, mean token length,
    punctuation ratio, stopword ratio, uppercase ratio."""
    t = _c(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_punct = F.size(F.regexp_extract_all(t, F.lit(r"[^\w\s]"), 0))
    n_stop = _marker_hits(t, STOPWORDS_EN)
    n_upper = F.size(F.regexp_extract_all(t, F.lit(r"[A-Z]"), 0))
    safe = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    return df.withColumns(
        {
            "n_chars": n_chars.cast("long"),
            "n_tokens": n_tokens,
            "mean_token_len": safe(n_chars - (n_tokens - 1), n_tokens).cast("double"),
            "punct_ratio": safe(n_punct, n_chars).cast("double"),
            "stopword_ratio": safe(n_stop, n_tokens).cast("double"),
            "upper_ratio": safe(n_upper, n_chars).cast("double"),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scalar quality score in [0, 1]: rewards stopword presence and
    moderate token length, penalizes punctuation soup. Deterministic,
    monotone in its features — a filterable curation signal."""
    feats = quality_features(df, text_col)
    score = (
        F.least(F.col("stopword_ratio") * 4, F.lit(1.0)) * 0.4
        + F.when(F.col("mean_token_len").between(3, 10), 0.4).otherwise(0.0)
        + F.when(F.col("punct_ratio") < 0.2, 0.2).otherwise(0.0)
    )
    return feats.withColumn("quality_score", score.cast("double"))


# Gopher rule thresholds (Rae et al. 2021 §A1.1, public paper) — the
# standard pre-training document gate, also the core of RedPajama's
# quality filters. Exposed as a dict so pipelines can tighten/loosen.
GOPHER_THRESHOLDS: dict[str, float] = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.9,
    "max_ellipsis_line_frac": 0.3,
    "min_alpha_word_frac": 0.8,
    "min_stop_hits": 2,
}

#: Gopher's required-stopword list: a doc must contain >= 2 of these.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _q6(x: Column) -> Column:
    """6-dp floor quantization — both engines agree exactly (identical
    IEEE inputs -> identical floor; engine round() may split on .5
    boundaries, see CLAUDE.md)."""
    return (F.floor(x * 1e6) / 1e6).cast("double")


def gopher_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The full Gopher/RedPajama document-quality feature set, computed
    as ONE narrow projection of single-pass ``regexp_count`` counters —
    no UDFs, no array explodes, fully whole-stage-codegen'd, so the
    gate runs at scan throughput on a 100 TB corpus.

    Features (Rae et al. 2021 §A1.1): word count, mean word length,
    symbol-to-word ratio ('#' + ellipsis), hash-to-word ratio, fraction
    of lines starting with a bullet, fraction of lines ending with an
    ellipsis, fraction of words containing an alphabetic character, and
    how many of the 8 required stopwords appear. Ratios are 6-dp
    floor-quantized; all are 0.0 on empty docs (guarded divisions).
    NULL text counts as empty — regexp_count(NULL) would otherwise
    poison every feature to NULL while a SQL CASE chain yields 0s.

    Line endings are canonicalized to \\n first (\\r\\n and lone \\r):
    Java's (?m)$ matches before \\r\\n but RE2's only before \\n, so the
    line-anchored bullet/ellipsis counters would diverge cross-engine
    on CRLF text otherwise; canonicalizing is token-count-neutral (\\r
    and \\n are both whitespace) and makes lone-\\r line breaks count as
    lines in both engines."""
    t = F.coalesce(_c(text_col), F.lit(""))
    t = F.regexp_replace(t, "\r\n?", "\n")
    n_words = token_count(t)
    # total non-whitespace chars: mean word length without re-splitting
    n_word_chars = F.length(F.regexp_replace(t, r"\s", ""))
    n_hash = F.regexp_count(t, F.lit(r"#"))
    n_ellipsis = F.regexp_count(t, F.lit(r"\.\.\.|…"))
    # a \S+ token contains alpha => exactly one match inside that token
    # (matches cannot cross whitespace) in both Java regex and RE2
    n_alpha_words = F.regexp_count(t, F.lit(r"\S*[A-Za-z]\S*"))
    n_lines = F.regexp_count(t, F.lit(r"\n")) + 1
    # [ \t] not \s: \s matches \n, so ^\s* could swallow a following
    # bullet line (same leftmost-match semantics either engine — but
    # an undercount either way)
    n_bullet_lines = F.regexp_count(t, F.lit(r"(?m)^[ \t]*[-•*][ \t]"))
    n_ellipsis_lines = F.regexp_count(t, F.lit(r"(?m)(\.\.\.|…)[ \t]*$"))
    low = F.lower(t)
    stop_hits = None
    for wd in GOPHER_STOPWORDS:
        hit = (F.regexp_count(low, F.lit(rf"\b{wd}\b")) > 0).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    safe = lambda num, den: F.when(den > 0, num / den).otherwise(F.lit(0.0))  # noqa: E731
    return df.withColumns(
        {
            "n_words": n_words.cast("long"),
            "mean_word_len": _q6(safe(n_word_chars, n_words)),
            "symbol_word_ratio": _q6(safe(n_hash + n_ellipsis, n_words)),
            "hash_word_ratio": _q6(safe(n_hash, n_words)),
            "bullet_line_frac": _q6(safe(n_bullet_lines, n_lines)),
            "ellipsis_line_frac": _q6(safe(n_ellipsis_lines, n_lines)),
            "alpha_word_frac": _q6(safe(n_alpha_words, n_words)),
            "stop_hits": stop_hits.cast("int"),
        }
    )


def gopher_quality_gate(
    df: DataFrame,
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Per-document pass/fail under the Gopher rules plus a bitmask of
    which rules failed (bit i = rule i in the documented order — the
    audit column a real pipeline logs before dropping 30% of a crawl).
    Filter with ``.filter("gopher_pass")``."""
    th = {**GOPHER_THRESHOLDS, **(thresholds or {})}
    feats = gopher_quality_features(df, text_col)
    rules = [
        F.col("n_words") >= th["min_words"],
        F.col("n_words") <= th["max_words"],
        F.col("mean_word_len") >= th["min_mean_word_len"],
        F.col("mean_word_len") <= th["max_mean_word_len"],
        F.col("symbol_word_ratio") <= th["max_symbol_word_ratio"],
        F.col("bullet_line_frac") <= th["max_bullet_line_frac"],
        F.col("ellipsis_line_frac") <= th["max_ellipsis_line_frac"],
        F.col("alpha_word_frac") >= th["min_alpha_word_frac"],
        F.col("stop_hits") >= th["min_stop_hits"],
    ]
    fail_mask = None
    ok = None
    for i, r in enumerate(rules):
        bit = F.when(r, 0).otherwise(1 << i)
        fail_mask = bit if fail_mask is None else fail_mask + bit
        ok = r if ok is None else ok & r
    return feats.withColumns(
        {"gopher_fail_mask": fail_mask.cast("int"), "gopher_pass": ok}
    )


def fingerprint_md5(text: Column | str) -> Column:
    """Normalization-based document fingerprint: lowercase, strip
    non-word chars, collapse whitespace, md5. Robust to formatting
    noise; equal fingerprints => same content modulo punctuation."""
    t = F.lower(_c(text))
    t = F.regexp_replace(t, r"[^\w\s]", "")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return F.md5(t)


def rolling_hash(text: Column | str, prime: int = 31, mod: int = (1 << 31) - 1) -> Column:
    """Polynomial rolling hash over characters (Rabin-Karp style),
    computed with a native aggregate over the exploded char array —
    a content-defined fingerprint with algebraic structure (windowed
    variants can reuse prefix products)."""
    chars = F.split(_c(text), "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * prime + F.coalesce(F.ascii(ch), F.lit(0))) % mod,
    )


# ordered (pattern, replacement) pairs; applied left-to-right so the
# email rule wins before the phone rule can eat digits inside it
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\b(?:\d{1,3}[-. ])?\d{3}[-. ]\d{3,4}[-. ]\d{4}\b", "<PHONE>"),
)


def redact_pii(text: Column | str) -> Column:
    """Training-data hygiene: replace emails / IPv4s / phone-shaped
    numbers with typed placeholder tokens. Pure regexp_replace chain —
    JVM-side, whole-stage-codegen'd, no UDF — so it runs at scan
    throughput on a 100 TB corpus. Patterns are RE2-safe (no
    backreferences) and portable to the DuckDB oracle verbatim."""
    out = _c(text)
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_hit_count(text: Column | str) -> Column:
    """Number of PII matches redact_pii would replace (audit metric)."""
    t = _c(text)
    n = F.lit(0)
    for pat, _ in PII_PATTERNS:
        n = n + F.regexp_count(t, F.lit(pat))
    return n


def _bigram_stream(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, w1, w2) adjacent-token bigram stream — ONE array transform
    + explode, no per-doc window. Tokens are the nonempty lowercased
    whitespace splits in position order; the pair multiset is exactly
    what the old posexplode → lead() window produced, but the plan
    loses an Exchange + Sort per call (the window shuffled the full
    token stream by doc at any scale; r10). The token array is bound
    once via :func:`_bind_array` (the cdc_chunks CollapseProject
    lesson) and the n<2 guard dodges Spark's descending-sequence trap."""
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda x: x != F.lit(""),
    )
    pairs = _bind_array(
        arr,
        lambda a: F.when(
            F.size(a) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(a) - 1),
                lambda i: F.struct(
                    F.element_at(a, i).alias("w1"),
                    F.element_at(a, i + 1).alias("w2"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<w1:string,w2:string>>")
        ),
    )
    return df.select(F.col(id_col), F.explode(pairs).alias("_bg")).select(
        id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2")
    )


def bigram_logprob_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-trained bigram language-model score per document:
    mean ln P(w2|w1) over the doc's bigrams, with P estimated from the
    corpus itself (every observed bigram has count >= 1, so no
    smoothing is needed and the score is exact).

    Tokenize -> one array transform + explode for adjacency (no
    window; see :func:`_bigram_stream`) -> two hash aggs (bigram and
    unigram counts) -> broadcast the prob table back onto the bigram
    stream. The model table is vocab-sized (<< corpus), so the scoring
    join is shuffle-free on the data side; at 100 TB the same shape
    holds as long as the bigram vocabulary fits an executor (cap it
    with a min-count filter if not)."""
    big = _bigram_stream(df, text_col)
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uc = big.groupBy("w1").agg(F.count("*").alias("c1"))
    probs = bc.join(uc, "w1").select(
        "w1", "w2", F.log(F.col("c12") / F.col("c1")).alias("lp")
    )
    return (
        big.join(F.broadcast(probs), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            # round(avg(ln)) DELIBERATELY kept (r9 exact-int-port
            # allowlist): lp is a libm ln whose last ulp is not
            # cross-engine pinned, so per-element micro-quantization
            # would AMPLIFY 1-ulp ln differences into per-element
            # coin flips; ln values are not grid-aligned, so the
            # round-4 mean's boundary mass is ~1e-12/row — strictly
            # safer than any lattice alternative.
            F.round(F.avg("lp"), 4).alias("lm_score"),
            F.count("*").alias("n_bigrams"),
        )
    )


def kneser_ney_scores(
    df: DataFrame,
    text_col: str = "text",
    d: float = 0.75,
    train: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean KN log-probability — the fold of
    :func:`kneser_ney_bigram_probs` (see there for the model and the
    exactness story). Returns (doc_id, kn_score, n_bigrams); docs with
    no bigram carry no row."""
    probs = kneser_ney_bigram_probs(df, text_col, d, train)
    return probs.groupBy("doc_id").agg(
        # round(avg(ln)) deliberately kept — see ta_bigram_lm's r9
        # allowlist note (ln is libm, not grid-aligned; lattice
        # quantization would amplify 1-ulp ln divergence)
        F.round(F.avg(F.log("_p")), 4).alias("kn_score"),
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
    )


def min_k_prob(
    df: DataFrame,
    k_denom: int = 5,
    text_col: str = "text",
    d: float = 0.75,
    train: DataFrame | None = None,
) -> DataFrame:
    """Min-K% probability membership signal (Shi et al. 2023
    "Detecting Pretraining Data from Large Language Models", public):
    per document, the mean log-probability of its ceil(n/k_denom)
    LOWEST-probability tokens (here: KN bigrams) — memorized/seen text
    has anomalously FEW low-probability spans, so a high min-K% score
    flags likely training-set membership; the standard contamination
    audit when only model scores are available.

    Exact k cut: k = (n + k_denom - 1) div k_denom (integer ceil — no
    float fraction); the bottom-k selection orders by (p, w1, w2) —
    probabilities are bit-identical rationals in either engine, ties
    broken lexicographically, so the selected SET is deterministic.
    Per-doc row_number windows are key-partitioned (doc-bounded).
    Returns (doc_id, n_bigrams, k_used, min_k_score_q4) for every doc
    with at least one bigram."""
    from pyspark.sql import Window

    probs = kneser_ney_bigram_probs(df, text_col, d, train)
    w = Window.partitionBy("doc_id").orderBy("_p", "w1", "w2")
    ranked = probs.select(
        "doc_id",
        "_p",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n"),
    )
    kq = F.expr(f"(n + {int(k_denom) - 1}) div {int(k_denom)}")
    return (
        ranked.filter(F.col("rn") <= kq)
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_bigrams"),
            F.max(kq).cast("long").alias("k_used"),
            # round(avg(ln)) deliberately kept — see ta_bigram_lm's
            # r9 allowlist note (libm ln, not grid-aligned)
            F.round(F.avg(F.log("_p")), 4).alias("min_k_score_q4"),
        )
    )


def kneser_ney_bigram_probs(
    df: DataFrame,
    text_col: str = "text",
    d: float = 0.75,
    train: DataFrame | None = None,
) -> DataFrame:
    """Per-document score under an interpolated Kneser-Ney bigram LM
    (Kneser & Ney 1995; the smoothing family KenLM implements — the
    actual model class behind CCNet-style quality filtering, upgrading
    the add-k baseline in :func:`smoothed_perplexity_scores`):

        P(w2|w1) = max(c12 − d, 0)/c1 + λ(w1)·Pcont(w2)
        λ(w1)    = d · N1+(w1·)/c1          (mass reserved for backoff)
        Pcont(w2)= N1+(·w2)/N1+(··)         (continuation probability)

    Every model quantity is a ratio of exact integer counts plus one
    literal discount — the only libm call is the final ln, reported as
    the round-4 mean (the bigram_logprob_scores convention, stable
    across engines at that precision).

    Plan: explode once, lead() adjacency per doc, then THREE vocab-
    sized hash aggs all derived from the bigram-count table (c1 and
    N1+(w1·) fold into ONE groupBy); the model broadcasts onto the
    scoring stream. ``train`` defaults to ``df`` (self-scoring — every
    bigram is then in-model); for out-of-model scoring, unseen
    (w1, w2) pairs back off to λ(w1)·Pcont(w2), unseen histories to
    Pcont(w2), and everything floors at 1e-9 so ln stays finite.
    Returns the scored bigram stream (doc_id, w1, w2, _p).

    Lifecycle note: the bigram-count table is an eager localCheckpoint
    (4 consumers); sessions scoring many corpora in a loop should cut
    lineage on the consumed output or the per-call checkpoint files
    accumulate until the session exits."""

    def bigrams(frame: DataFrame) -> DataFrame:
        # adjacency via one array transform + explode — no per-doc
        # window shuffle (see _bigram_stream)
        return _bigram_stream(frame, text_col)

    big_train = bigrams(train if train is not None else df)
    # vocab-sized; checkpointed because FOUR consumers run actions /
    # broadcasts over it (n_big count + pair/hist/cont broadcasts) —
    # the blocklist_hits checkpoint-first lesson
    bc = (
        big_train.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .localCheckpoint(eager=True)
    )
    hist = bc.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1_fwd")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1_bwd"))
    n_big = bc.count()  # bounded driver scalar: |distinct bigrams|
    if n_big == 0:
        return df.sparkSession.createDataFrame(
            [], "doc_id long, w1 string, w2 string, _p double"
        )
    pair = bc.select("w1", "w2", "c12")
    score_stream = bigrams(df)
    lam = F.lit(d) * F.col("n1_fwd") / F.col("c1")
    pcont = F.coalesce(F.col("n1_bwd"), F.lit(0)) / F.lit(float(n_big))
    p = F.when(
        F.col("c1").isNotNull(),
        F.greatest(F.col("c12_f") - F.lit(d), F.lit(0.0)) / F.col("c1")
        + lam * pcont,
    ).otherwise(pcont)
    scored = (
        score_stream.join(F.broadcast(pair), ["w1", "w2"], "left")
        .join(F.broadcast(hist), "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .withColumn("c12_f", F.coalesce(F.col("c12"), F.lit(0)).cast("double"))
        .withColumn("_p", F.greatest(p, F.lit(1e-9)))
    )
    return scored.select("doc_id", "w1", "w2", "_p")


def smoothed_perplexity_scores(
    df: DataFrame, k: float = 0.5, text_col: str = "text"
) -> DataFrame:
    """Per-document perplexity under an add-k-smoothed corpus bigram LM
    (the CCNet / Wenzek et al. 2020 quality signal — they score against
    a KenLM model; here the model is trained on the corpus itself so the
    whole computation stays inside the engine):

        P(w2|w1) = (c12 + k) / (c1 + k*V),  V = unigram vocab size
        ppl      = exp(-mean ln P)

    Same plan as :func:`bigram_logprob_scores` — explode once, lead()
    adjacency, two vocab-sized hash aggs, broadcast model join — plus a
    1-row vocab-size aggregate cross-joined in (a broadcast, not a
    shuffle). Low ppl = text the corpus LM finds predictable."""
    from pyspark.sql import Window

    toks = df.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    # adjacency via one array transform + explode — no per-doc window
    # shuffle (see _bigram_stream); toks stays for the vocab size only
    big = _bigram_stream(df, text_col)
    vsize = toks.agg(F.countDistinct("tok").alias("v"))
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uc = big.groupBy("w1").agg(F.count("*").alias("c1"))
    probs = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "w1",
            "w2",
            F.log((F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v"))).alias(
                "lp"
            ),
        )
    )
    return (
        big.join(F.broadcast(probs), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.round(F.exp(-F.avg("lp")), 4).alias("ppl"),
            F.count("*").alias("n_bigrams"),
        )
    )


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 50
) -> DataFrame:
    """The counting step of BPE tokenizer training (Sennrich et al.,
    2016 — public algorithm): frequency of adjacent symbol (character)
    pairs across the corpus, weighted by word frequency.

    Scale shape: the corpus collapses to a word-frequency VOCAB table
    first (one explode + one hash agg — vocab is sublinear in corpus
    size), so the per-character pair expansion runs over vocab rows,
    never raw text. The final top-N is ``orderBy().limit()`` =
    TakeOrderedAndProject — per-partition partial top-N then a merge of
    N-row lists, NOT a global sort. One full merge iteration of real
    BPE = take the top pair, rewrite the vocab, re-count; this operator
    is that inner loop's dominant cost, run once."""
    words = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    vocab = words.groupBy("w").agg(F.count("*").alias("freq"))
    chars = F.split(F.col("w"), "")
    pairs = F.when(
        F.size(chars) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(chars) - 1),
            lambda i: F.concat(F.element_at(chars, i), F.element_at(chars, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        vocab.select("freq", F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )
    return counts.orderBy(F.desc("n"), F.col("pair")).limit(top_n)


def bpe_train_merges(
    df: DataFrame, n_merges: int = 8, text_col: str = "text"
) -> DataFrame:
    """FULL iterative BPE tokenizer training (Sennrich et al. 2016,
    public): ``n_merges`` rounds of (count adjacent symbol pairs over
    the word-frequency vocab) -> (argmax pair, count-desc then
    lexicographic — integer counts, so the argmax is bit-deterministic
    in any engine) -> (merge that pair left-to-right in every vocab
    word). Returns the learned merge table (step, l, r, n) — the
    artifact a tokenizer ships.

    Scale shape: the corpus collapses ONCE to the word-frequency vocab
    (explode + hash agg; vocab is sublinear in corpus size); every
    round then runs on vocab rows only — one pair-count agg, one
    driver-side argmax scalar (two short strings; the documented
    O(n_merges) action loop), one native string rewrite, lineage cut
    per round with localCheckpoint.

    Symbol encoding: each symbol is wrapped ``' sym '`` and the word is
    their concatenation, so a pair occurrence is the literal
    ``' a  b '`` and ``replace()`` merges EVERY occurrence
    left-to-right — adjacent occurrences share no characters (the
    single-space join would swallow the shared separator and skip
    every other occurrence). Words never contain spaces, so the
    encoding is unambiguous and replays byte-identically in any SQL
    engine with literal replace()."""
    import pandas as pd

    rows = [
        (step, a, b, n)
        for step, a, b, n, _ in _train_merges(df, n_merges, text_col,
                                              likelihood=False)
    ]
    # built from pandas (one Arrow batch), so reading the table needs no
    # Python worker; a plain row list would be unpickled on every read
    return df.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=["step", "l", "r", "n"]),
        "step INT, l STRING, r STRING, n BIGINT",
    )


def _train_merges(
    df: DataFrame, n_merges: int, text_col: str, likelihood: bool
) -> list[tuple]:
    """Shared greedy merge-training loop behind bpe_train_merges and
    wordpiece_train_merges — ONE copy of the ' sym ' double-space
    encoding, the length>0 filter, the per-round localCheckpoint and
    the literal-replace rewrite, with a pluggable argmax: raw pair
    count (BPE) or the integer-quantized likelihood score (WordPiece).
    Returns (step, l, r, n, score_q12_or_None) tuples."""
    words = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
    ).filter(F.length("w") > 0)
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            "freq",
            F.regexp_replace("w", "(.)", " $1 ").alias("s"),
        )
        .localCheckpoint(eager=True)
    )
    merges, _ = _merge_rounds(vocab, n_merges, likelihood, carry=("freq",))
    return merges


def _merge_rounds_driver(syms_rows, freqs, n_merges, likelihood):
    """Driver fast path for the greedy merge loop (the
    _nn_descent_driver bounded-artifact pattern): the whole
    pair-count → argmax → rewrite loop in plain Python over the
    collected vocab — BIT-IDENTICAL to the distributed loop. Pair and
    symbol counts are exact integer sums; the argmax order (n desc —
    or score_q12 desc — then l, r ascending) is the same binary string
    order (UTF-8 byte order equals code-point order, and Python
    compares code points); score_q12 is the same nonneg integer floor
    division; and the list-form merge rewrite equals the
    non-overlapping left-to-right literal replace because the
    double-space wrap makes occurrences share nothing. Counts are
    maintained incrementally: a merge re-scores only the rows that
    contain the merged pair (a row listed stale nets to zero), so each
    round costs O(changed rows), not O(vocab). Returns (merges,
    changed row indices) — unchanged rows keep their original ``s``
    string byte-for-byte."""
    from collections import defaultdict

    changed: set = set()

    pc: dict = defaultdict(int)
    occ: dict = defaultdict(set)
    symf: dict = defaultdict(int)
    for ri, (syms, f) in enumerate(zip(syms_rows, freqs)):
        if likelihood:
            for s in syms:
                symf[s] += f
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pc[p] += f
            occ[p].add(ri)
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        best = None
        for (l, r), n in pc.items():
            if n <= 0:
                continue
            if likelihood:
                sq = n * 10**12 // (symf[l] * symf[r])
                key = (-sq, l, r)
            else:
                sq = None
                key = (-n, l, r)
            if best is None or key < best[0]:
                best = (key, l, r, n, sq)
        if best is None:
            break
        _, a, b, n, sq = best
        merges.append((step, a, b, n, sq))
        ab = a + b
        for ri in list(occ.get((a, b), ())):
            syms = syms_rows[ri]
            f = freqs[ri]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] -= f
            new = []
            i, ln = 0, len(syms)
            while i < ln:
                if i + 1 < ln and syms[i] == a and syms[i + 1] == b:
                    new.append(ab)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            syms_rows[ri] = new
            hits = ln - len(new)
            if hits:
                changed.add(ri)
            if likelihood:
                symf[a] -= hits * f
                symf[b] -= hits * f
                symf[ab] += hits * f
            for i in range(len(new) - 1):
                p = (new[i], new[i + 1])
                pc[p] += f
                occ[p].add(ri)
    return merges, changed


def _merge_rounds(
    vocab: DataFrame,
    n_merges: int,
    likelihood: bool,
    carry: tuple[str, ...] = ("freq",),
) -> tuple[list[tuple], DataFrame]:
    """The greedy merge-round loop over a pre-built vocab table with a
    ``' sym '`` double-space-wrapped symbol string column ``s`` and a
    ``freq`` count — shared by the character-level trainers (via
    :func:`_train_merges`) and the byte-level trainer (hex-pair
    symbols). ``carry`` columns survive each rewrite so callers can
    keep the original word key through training. Returns (merges,
    final_vocab) where final_vocab's ``s`` is the fully-merged
    segmentation — i.e. the trained tokenizer applied to every vocab
    word, which is what an encode pass joins back to the corpus.

    Below ``FAST_PATH_MAX_VOCAB`` rows the loop runs on the driver over
    the collected vocab (:func:`_merge_rounds_driver` — bit-identical,
    property-pinned): the distributed loop pays one argmax job plus
    one checkpoint job of physical planning per round regardless of
    vocab size, which dominates wall time whenever the vocab is small
    enough to collect. Otherwise — or under a non-auto
    ``SPARK_GRAFT_PLACEMENT`` (:func:`bounded_collect`) — the
    distributed loop below runs."""
    head = bounded_collect(vocab, FAST_PATH_MAX_VOCAB)
    if head is not None:
        import pandas as pd
        from pyspark.sql.types import StructType

        syms_rows = [r["s"].strip(" ").split("  ") for r in head]
        freqs = [r["freq"] for r in head]
        merges, changed = _merge_rounds_driver(
            syms_rows, freqs, n_merges, likelihood
        )
        data = {c: [r[c] for r in head] for c in carry}
        data["s"] = [
            " " + "  ".join(syms) + " " if ri in changed else r["s"]
            for ri, (syms, r) in enumerate(zip(syms_rows, head))
        ]
        by_name = {f.name: f for f in vocab.schema.fields}
        schema = StructType([by_name[c] for c in carry] + [by_name["s"]])
        fv = vocab.sparkSession.createDataFrame(
            pd.DataFrame(data), schema=schema
        )
        return merges, fv
    ws = F.split(F.trim(F.col("s")), "  ")
    pairs = F.when(
        F.size(ws) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(
                F.element_at(ws, i).alias("l"),
                F.element_at(ws, i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    merges: list[tuple] = []
    for step in range(1, n_merges + 1):
        pc = (
            vocab.select("freq", F.explode(pairs).alias("p"))
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").cast("long").alias("n"))
        )
        if likelihood:
            syms = (
                vocab.select("freq", F.explode(ws).alias("sym"))
                .groupBy("sym")
                .agg(F.sum("freq").cast("long").alias("f"))
            )
            top = (
                pc.join(syms.selectExpr("sym AS l", "f AS fl"), "l")
                .join(syms.selectExpr("sym AS r", "f AS fr"), "r")
                .selectExpr(
                    "l",
                    "r",
                    "n",
                    "(CAST(n AS DECIMAL(38,0))"
                    " * CAST(1000000000000 AS DECIMAL(38,0)))"
                    " div (CAST(fl AS DECIMAL(38,0)) * fr) AS score_q12",
                )
                .orderBy(F.desc("score_q12"), "l", "r")
                .limit(1)
                .collect()
            )
        else:
            top = pc.orderBy(F.desc("n"), "l", "r").limit(1).collect()
        if not top:
            break
        a, b, n = top[0]["l"], top[0]["r"], top[0]["n"]
        sq = top[0]["score_q12"] if likelihood else None
        merges.append((step, a, b, n, sq))
        vocab = vocab.select(
            *carry,
            F.replace(
                F.col("s"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            ).alias("s"),
        ).localCheckpoint(eager=True)
    return merges, vocab


def _word_spans(words: DataFrame, max_piece_len: int) -> DataFrame:
    """(w, wlen, i, j, piece) span table: every substring of length
    1..max_piece_len per word — built with one flatten/explode, piece
    extracted AFTER the explode (the explode-once plan rule)."""
    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.col("wlen") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.least(i + max_piece_len, F.col("wlen"))),
                lambda j: F.struct(i.alias("i"), j.alias("j")),
            ),
        )
    )
    cols = list(words.columns)
    return words.select(*cols, F.explode(spans).alias("s")).select(
        *cols,
        F.col("s.i").alias("i"),
        F.col("s.j").alias("j"),
        F.substring(
            F.col("w"), F.col("s.i") + 1, F.col("s.j") - F.col("s.i")
        ).alias("piece"),
    )


def _word_vocab(df: DataFrame, text_col: str, max_word_len: int) -> DataFrame:
    """(w, freq, wlen) word-frequency vocab of the lower-cased,
    whitespace-split corpus, words longer than ``max_word_len``
    excluded — the one corpus collapse of the unigram and wordpiece
    trainers (vocab is sublinear in corpus size)."""
    return (
        df.select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter((F.length("w") > 0) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("wlen", F.length("w").cast("int"))
    )


def _seed_pieces(words, wf, max_piece_len, min_count, seed_cap):
    """The unigram seed vocabulary as a list of (piece, n): every
    substring of length <= ``max_piece_len`` summed by word frequency,
    then every single character plus the top ``seed_cap`` multi-char
    pieces with count >= ``min_count`` by (count desc, piece asc).
    Counted in Python over the collected (word, freq) list ``wf`` when
    there is one, else by the span explode + one aggregate over the
    ``words`` frame, whose <= seed_cap + |alphabet| selected rows are
    collected."""
    if wf is None:
        seed_counts = (
            _word_spans(words, max_piece_len)
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("n"))
        )
        multi = (
            seed_counts.filter(
                (F.length("piece") > 1) & (F.col("n") >= min_count)
            )
            .orderBy(F.desc("n"), "piece")
            .limit(seed_cap)
        )
        chars = seed_counts.filter(F.length("piece") == 1)
        return [tuple(r) for r in chars.unionByName(multi).collect()]
    seed: dict = {}
    for w, f in wf:
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(i + max_piece_len, L) + 1):
                p = w[i:j]
                seed[p] = seed.get(p, 0) + f
    chars = [(p, n) for p, n in seed.items() if len(p) == 1]
    multi = sorted(
        ((p, n) for p, n in seed.items() if len(p) > 1 and n >= min_count),
        key=lambda x: (-x[1], x[0]),
    )[:seed_cap]
    return chars + multi


def unigram_seed_pieces(
    df: DataFrame,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    min_count: int = 2,
    seed_cap_factor: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """The substring candidate vocabulary both the unigram trainer and
    the encode-with-seed path start from: every single character seen
    in the (length-capped) word vocab, plus the top
    ``seed_cap_factor * vocab_size`` multi-char substrings with corpus
    frequency >= ``min_count`` (count desc, piece asc — deterministic).
    Returns a (piece, n) table of <= seed_cap + |alphabet| local
    rows."""
    import pandas as pd

    words = _word_vocab(df, text_col, max_word_len)
    # bounded driver fast path (r10, same contract as the unigram
    # trainer): seed counts over the collected word vocab in Python
    # instead of the span explode + agg + TakeOrdered chain
    w_rows = bounded_collect(words, FAST_PATH_MAX_VOCAB)
    wf = None if w_rows is None else [(r["w"], int(r["freq"])) for r in w_rows]
    # built from pandas (one Arrow batch), so reading the table needs no
    # Python worker; a plain row list would be unpickled on every read
    return df.sparkSession.createDataFrame(
        pd.DataFrame(
            _seed_pieces(
                words, wf, max_piece_len, min_count, seed_cap_factor * vocab_size
            ),
            columns=["piece", "n"],
        ),
        "piece string, n long",
    )


def _viterbi_k_driver(w, piece_set, max_piece_len, inf):
    """Min-piece-count DP for one word over the in-vocab spans — the
    ``k`` field of :func:`_viterbi_full_driver`'s objective (the tie
    fields never change k). Returns k or ``inf`` when no full cover
    exists."""
    L = len(w)
    dp = [0] + [inf] * L
    for j in range(1, L + 1):
        best = inf
        for i in range(max(0, j - max_piece_len), j):
            if dp[i] < inf and w[i:j] in piece_set:
                c = dp[i] + 1
                if c < best:
                    best = c
        dp[j] = best
    return dp[L]


def _viterbi_full_driver(w, piece_n, max_piece_len):
    """Full (k, negs, ps) Viterbi for one word — the unigram
    objective: min piece count, then max summed frequency
    (negs = −Σn), then the lexicographically least piece sequence
    (Python tuple/list comparison is code-point order, which the
    DuckDB oracle's VARCHAR[] ordering matches). Returns the best
    tuple or None when no full cover exists."""
    L = len(w)
    dp = [None] * (L + 1)
    dp[0] = (0, 0, [])
    for j in range(1, L + 1):
        best = None
        for i in range(max(0, j - max_piece_len), j):
            prev = dp[i]
            if prev is None:
                continue
            piece = w[i:j]
            n = piece_n.get(piece)
            if n is None:
                continue
            cand = (prev[0] + 1, prev[1] - n, prev[2] + [piece])
            if best is None or cand < best:
                best = cand
        dp[j] = best
    return dp[L]


def _viterbi_recount(wf, piece_n, max_piece_len):
    """One hard-EM count step over (word, freq) pairs: every piece of
    a word's :func:`_viterbi_full_driver` segmentation gains the word's
    frequency; words without a full cover add nothing. Returns
    {piece: count}. The driver runs it over the whole collected vocab,
    the executors over their partitions of it."""
    recount: dict = {}
    for w, f in wf:
        best = _viterbi_full_driver(w, piece_n, max_piece_len)
        if best is None:
            continue
        for p in best[2]:
            recount[p] = recount.get(p, 0) + f
    return recount


def _viterbi_recount_executors(words, piece_n, max_piece_len):
    """:func:`_viterbi_recount` in ``mapInPandas`` over the (w, freq)
    word frame — the piece dict travels in the task closure — with the
    per-partition counts summed by one groupBy of <= |pieces| rows."""
    import pandas as pd

    def run(batches):
        wf = (p for b in batches for p in zip(b["w"], b["freq"].tolist()))
        counts = _viterbi_recount(wf, piece_n, max_piece_len)
        if counts:
            yield pd.DataFrame({"piece": list(counts), "n": list(counts.values())})

    rows = (
        words.select("w", "freq")
        .mapInPandas(run, "piece string, n long")
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("n"))
        .collect()
    )
    return {r["piece"]: r["n"] for r in rows}


def unigram_lm_train(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 64,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    min_count: int = 2,
    seed_cap_factor: int = 4,
) -> DataFrame:
    """Unigram-LM tokenizer training (SentencePiece-class, Kudo 2018,
    public) — the second of the two tokenizer families next to
    :func:`bpe_train_merges`: seed a substring candidate vocabulary,
    then run hard-EM rounds of (Viterbi-segment every vocab word under
    the current piece table) -> (recount pieces from the segmentations)
    -> (prune to the piece budget). Returns the trained piece table —
    the artifact a tokenizer ships: (piece, piece_len, n, p_q6).

    DETERMINISM DESIGN (the adaboost libm-free precedent): instead of
    float log-prob sums — whose ln() grids can split across engines —
    the Viterbi objective is integer-exact: minimize piece count, then
    maximize the summed piece frequency, then take the
    lexicographically least piece sequence. Every round is therefore
    bit-replayable in any engine (the oracle unrolls the same rounds
    as recursive-CTE DPs), and pruning is by Viterbi count — the
    hard-EM surrogate for SentencePiece's loss-delta (a piece's loss
    contribution under hard counts is monotone in its count).

    Scale shape: the corpus collapses ONCE to the word-frequency vocab
    (the bpe_train_merges contract; vocab is sublinear in corpus
    size); every round runs on vocab rows only — one per-word Python
    DP (≤ max_word_len·max_piece_len cells) against the ≤ seed_cap
    piece table, one hash recount. The piece table stays on the
    driver between rounds (it is bounded by construction). Words
    longer than ``max_word_len`` are excluded from training (the
    SentencePiece max-sentence-length analogue); single-char pieces
    are always retained so every word stays segmentable."""
    import math as _math

    import pandas as pd

    words = _word_vocab(df, text_col, max_word_len)
    # one kernel, two placements: below the word-vocab cap the seed
    # counts and every round's segmentation run in Python over the
    # collected vocab; above it (or under a non-auto
    # SPARK_GRAFT_PLACEMENT, see bounded_collect) the same recount runs
    # in mapInPandas over the persisted word frame. Seed selection,
    # the (n desc, piece) prune and the floor p_q6 are shared.
    w_rows = bounded_collect(words, FAST_PATH_MAX_VOCAB)
    if w_rows is not None:
        wf = [(r["w"], int(r["freq"])) for r in w_rows]
        recount = lambda pn: _viterbi_recount(wf, pn, max_piece_len)
    else:
        wf = None
        words = words.persist()  # read by the seed and by every round
        recount = lambda pn: _viterbi_recount_executors(words, pn, max_piece_len)
    try:
        piece_n = dict(
            _seed_pieces(
                words, wf, max_piece_len, min_count, seed_cap_factor * vocab_size
            )
        )
        for _ in range(n_rounds):
            counts = recount(piece_n)
            kept = {p: counts.get(p, 0) for p in piece_n if len(p) == 1}
            kept.update(
                sorted(
                    ((p, n) for p, n in counts.items() if len(p) > 1),
                    key=lambda x: (-x[1], x[0]),
                )[:vocab_size]
            )
            piece_n = kept
    finally:
        if wf is None:
            words.unpersist()
    total = sum(piece_n.values())
    return df.sparkSession.createDataFrame(
        pd.DataFrame(
            [
                (
                    p,
                    len(p),
                    int(n),
                    (
                        _math.floor((n * 1000000) / total) / 1e6
                        if total > 0
                        else 0.0
                    ),
                )
                for p, n in piece_n.items()
            ],
            columns=["piece", "piece_len", "n", "p_q6"],
        ),
        "piece string, piece_len int, n long, p_q6 double",
    )


def _encode_words(words, piece_set, max_piece_len, inf):
    """(w, k) for every word with a full piece cover, k its
    :func:`_viterbi_k_driver` token count — the encode kernel of both
    placements."""
    out = []
    for w in words:
        k = _viterbi_k_driver(w, piece_set, max_piece_len, inf)
        if k < inf:
            out.append((w, k))
    return out


def unigram_lm_encode(
    df: DataFrame,
    pieces: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
    max_word_len: int = 12,
) -> DataFrame:
    """Tokenize a corpus with a trained unigram-LM piece table — the
    apply step of the unigram family (next to BPE's apply): per
    document, the Viterbi token count and OOV word count under the
    same integer-exact objective as training.

    Vocab-collapse scale shape: DISTINCT words segment ONCE (the DP is
    vocab-sized, never corpus-sized) and the per-word token counts
    join back onto the (doc, word) stream — at 100 TB the heavy
    per-word DP touches only the sublinear vocabulary. Words longer
    than ``max_word_len`` or without a full piece cover count as OOV
    (0 tokens). Returns (id, n_words, n_oov_words, n_tokens) for
    every input document (0s for empty docs)."""
    import pandas as pd

    inf = 1 << 20
    # explode_outer keeps empty documents as a single null-word row, so
    # the per-doc aggregate covers them directly — no second corpus
    # join-back just to re-emit zero rows (one SMJ saved end to end)
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda wd: F.length(wd) > 0,
    )
    stream = df.select(
        F.col(id_col).alias("_id"), F.explode_outer(arr).alias("w")
    )
    vocab = (
        stream.select("w")
        .filter(F.col("w").isNotNull())
        .distinct()
        .withColumn("wlen", F.length("w").cast("int"))
    )
    enc = vocab.filter(F.col("wlen") <= max_word_len)
    # one kernel, two placements (tie fields never change k, so the
    # min-piece DP needs only the piece set, a tokenizer artifact read
    # with one collect): below the word cap the vocab-sized (w, toks)
    # map is built on the driver and joins back broadcast; above it
    # (placement: bounded_collect) the same kernel runs in mapInPandas
    # with the piece set in the task closure.
    piece_set = {r["piece"] for r in pieces.select("piece").collect()}
    w_rows = bounded_collect(enc.select("w"), 500_000)
    if w_rows is not None:
        per_word = F.broadcast(
            df.sparkSession.createDataFrame(
                pd.DataFrame(
                    _encode_words(
                        (r["w"] for r in w_rows), piece_set, max_piece_len, inf
                    ),
                    columns=["w", "toks"],
                ),
                "w string, toks int",
            )
        )
    else:

        def run(batches):
            for pdf in batches:
                mapped = _encode_words(pdf["w"], piece_set, max_piece_len, inf)
                if mapped:
                    yield pd.DataFrame(mapped, columns=["w", "toks"])

        per_word = enc.select("w").mapInPandas(run, "w string, toks int")
    real = F.col("w").isNotNull()
    return (
        stream.join(per_word, "w", "left")
        .groupBy("_id")
        .agg(
            F.sum(real.cast("int")).cast("long").alias("n_words"),
            F.sum((real & F.col("toks").isNull()).cast("int"))
            .cast("long")
            .alias("n_oov_words"),
            F.coalesce(F.sum(F.when(real, F.col("toks"))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_words",
            "n_oov_words",
            "n_tokens",
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_n: int = 40,
) -> DataFrame:
    """Collocation mining: adjacent word pairs ranked by pointwise
    mutual information, PMI = log2(p(w1,w2) / (p(w1)·p(w2))) — the
    classic signal for multi-word expressions a phrase-aware tokenizer
    or n-gram vocabulary wants to keep whole.

    Same no-window array adjacency as :func:`bigram_logprob_scores`
    (see :func:`_bigram_stream`); bigram and unigram counts are two
    partial-combinable hash aggs; the count tables joined for scoring
    are vocab-sized (<< corpus). ``min_count`` guards the PMI
    degeneracy where hapax pairs score highest; the final cut is
    TakeOrderedAndProject on (rounded pmi, w1, w2), deterministic
    across engines."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    big = _bigram_stream(df, text_col, id_col).select("w1", "w2")
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uc = toks.groupBy(F.col("tok").alias("w")).agg(F.count("*").alias("c"))
    tot = (
        toks.agg(F.count("*").alias("n"))
        .crossJoin(big.agg(F.count("*").alias("p")))
    )
    scored = (
        bc.filter(F.col("c12") >= min_count)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c12",
            F.round(
                F.log2(
                    (F.col("c12") * 1.0 * F.col("n") * F.col("n"))
                    / (F.col("p") * 1.0 * F.col("c1") * F.col("c2"))
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(top_n)


# fixed, public-recipe logistic quality model: hand-set weights over the
# quality_features signals (a stand-in for fastText/logreg quality
# classifiers trained offline — the SERVING side is what a Spark
# pipeline owns: a broadcast weight vector applied in one codegen
# projection, no Python per row)
QUALITY_LOGREG_WEIGHTS: dict[str, float] = {
    "stopword_ratio": 3.2,
    "punct_ratio": -6.0,
    "upper_ratio": -2.5,
    "mean_token_len": 0.15,
    "log1p_tokens": 0.35,
}
QUALITY_LOGREG_BIAS: float = -2.2


def quality_logreg(
    df: DataFrame, text_col: str = "text", threshold: float = 0.5
) -> DataFrame:
    """Linear-model quality scoring: engineered features → fixed-weight
    logistic regression → keep/drop at ``threshold``. The model applies
    as a single narrow projection (dot product + sigmoid in codegen);
    at 100 TB this is the shape any learned quality filter serves in —
    weights broadcast as literals, zero shuffles, zero Python."""
    feats = quality_features(df, text_col).withColumn(
        "log1p_tokens", F.log(F.lit(1.0) + F.col("n_tokens"))
    )
    # features round to 6 dp and the logit to 8 dp BEFORE the sigmoid so
    # both engines feed exp() the identical double — the keep boundary
    # then depends only on exp's own (sub-ulp) cross-engine agreement
    z = F.lit(QUALITY_LOGREG_BIAS)
    for name, w in QUALITY_LOGREG_WEIGHTS.items():
        z = z + F.lit(w) * F.round(F.col(name), 6)
    z = F.round(z, 8)
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.withColumn(
        "quality_prob", F.round(prob, 6).cast("double")
    ).withColumn("keep", F.round(prob, 6) >= threshold)


def ngram_novelty(
    df: DataFrame, n: int = 5, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    word ``n``-grams that appear in NO other document — the inverse
    signal of contamination/duplication, used to up-weight genuinely
    novel text in curation mixes.

    Inverted-index shape (the dedup-family join): explode distinct
    shingle hashes once, document frequency by one hash agg, novelty by
    one more — work is linear in corpus shingles, never doc-by-doc.
    Documents too short for any n-gram report 0 shingles / 0.0 novelty
    (kept via left join)."""
    from .dedup import _spread, word_shingles

    ex = _spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    sh = ex.select(
        "id", F.explode(word_shingles(F.col(text_col), n)).alias("_s")
    ).select("id", F.xxhash64("_s").alias("h"))
    df_h = sh.groupBy("h").agg(F.count("*").alias("gdf"))
    per_doc = (
        sh.join(df_h, "h")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("gdf") == 1, 1).otherwise(0)).alias("n_unique"),
        )
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_unique"), F.lit(0)).alias("n_unique"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.round(F.col("n_unique") / F.col("n_grams"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("novelty"),
        )
    )


def vocab_coverage(
    df: DataFrame,
    vocab_size: int = 2000,
    text_col: str = "text",
    id_col: str = "doc_id",
    by: str = "lang",
) -> DataFrame:
    """Tokenizer-vocabulary coverage: build the top-``vocab_size``
    token vocabulary by corpus frequency (count-desc, token-asc ties —
    deterministic cut) and report, per ``by`` group, the share of
    token OCCURRENCES that fall outside it (the OOV rate a fixed-vocab
    tokenizer would suffer).

    Plan: one explode of the token stream feeds both the vocabulary
    TakeOrderedAndProject (per-partition heap, vocab_size rows out)
    and the coverage join; the vocab side broadcasts. Two aggregates
    total; nothing wider than the token stream itself."""
    toks = df.select(
        F.col(by), F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")  # module convention: '' (leading-
    # whitespace artifact) never counts as a token or a vocab slot
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.col("tok"))
        .limit(vocab_size)
        .select("tok")
    )
    flagged = toks.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy(by)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .select(
            by,
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


#: a shipped tokenizer's merge rules (training happens offline via
#: bpe_pair_counts; serving applies a FIXED priority-ordered list)
BPE_DEFAULT_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("e", "r"), ("i", "n"), ("a", "n"), ("o", "n"), ("th", "e"),
)


def bpe_apply_report(
    df: DataFrame,
    merges: tuple[tuple[str, str], ...] = BPE_DEFAULT_MERGES,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE tokenizer SERVING: apply a fixed, priority-ordered merge
    list to every word and report per-document subword counts — the
    other half of the tokenizer loop whose training side is
    bpe_pair_counts.

    Each word becomes a '·'-separated symbol sequence; each merge rule
    is ONE boundary-guarded regexp_replace — a single left-to-right
    non-rescanning pass, which is deterministic and byte-identical
    across regex engines (documented semantics: adjacent occurrences
    sharing a separator merge only the first; exact-BPE iterates to
    fixpoint, serving pipelines ship the single-pass form for a
    bounded per-rule cost). Explode words once; the whole merge chain
    is codegen regexp work; one agg back to documents."""
    words = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    import re as _re

    sym = F.regexp_replace(F.col("w"), r"(.)", r"$1·")
    sym = F.regexp_replace(sym, r"·$", "")
    for a, b in merges:
        pat = f"(^|·){_re.escape(a)}·{_re.escape(b)}(·|$)"
        sym = F.regexp_replace(sym, pat, f"$1{a}{b}$2")
    out = words.select(
        id_col,
        F.size(F.split(sym, "·")).alias("n_sub"),
    )
    return (
        out.groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_subwords"),
            F.round(F.sum("n_sub") / F.count("*"), 6).alias("subwords_per_word"),
        )
    )


def zipf_fit(
    docs: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: regress
    ln(freq) on ln(rank) for the ``top_n`` most frequent tokens and
    report the slope (Zipfian text ≈ −1), intercept, and R².

    The corpus reduces to the vocabulary with one explode-once hash
    aggregate; ranking then runs over the vocabulary table (bounded by
    vocabulary size, not corpus size) with a (freq desc, token)
    tiebreak so the rank — and therefore the regression input — is
    fully deterministic.  The fit itself is the partial-combinable
    ``regr_*`` aggregate family over ≤ top_n points.

    Returns one row: ``slope, intercept, r2, n_fit, vocab_size``.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(
            F.split(
                F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")),
                " ",
            )
        ).alias("tok")
    ).filter(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    w = Window.orderBy(F.desc("freq"), F.col("tok"))
    top = (
        freq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(
            F.log(F.col("freq").cast("double")).alias("_lf"),
            F.log(F.col("rank").cast("double")).alias("_lr"),
        )
    )
    fit = top.agg(
        F.round(F.expr("regr_slope(_lf, _lr)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(_lf, _lr)"), 4).alias("intercept"),
        F.round(F.expr("regr_r2(_lf, _lr)"), 4).alias("r2"),
        F.count("*").cast("long").alias("n_fit"),
    )
    vocab = freq.agg(F.count("*").cast("long").alias("vocab_size"))
    return fit.crossJoin(F.broadcast(vocab))


def js_divergence_pairs(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_v: int = 200,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-group unigram
    distributions — the symmetric, bounded [0, ln 2] "how different are
    these two corpus slices" number behind mixture rebalancing and
    source-drift review (Lin 1991, public).

    Distributions are restricted to the global top-``top_v`` tokens so
    the comparison domain is fixed and tiny: the corpus-sized work is
    one explode + hash agg; the vocabulary cut is a TakeOrderedAndProject
    (deterministic ``(count desc, token)`` tie-break), and everything
    after — the dense group×vocab grid, the pair join, the ln terms —
    runs on ≤ groups·top_v rows.  Zero-probability terms contribute 0
    (the JSD convention); groups with no vocabulary mass are dropped.

    Returns ``g1, g2, jsd`` (nats) for each unordered group pair.
    """
    toks = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("_n"))
        .orderBy(F.desc("_n"), "tok")
        .limit(top_v)
        .select("tok")
    )
    gc = (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("g", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = gc.groupBy("g").agg(F.sum("c").alias("t")).filter(F.col("t") > 0)
    grid = (
        tot.crossJoin(vocab)
        .join(gc, ["g", "tok"], "left")
        .select(
            "g", "tok",
            (F.coalesce(F.col("c"), F.lit(0)).cast("double")
             / F.col("t").cast("double")).alias("p"),
        )
    )
    a = grid.select(
        F.col("g").alias("g1"), "tok", F.col("p").alias("pa")
    )
    b = grid.select(
        F.col("g").alias("g2"), F.col("tok").alias("tok2"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(
        b, (F.col("tok") == F.col("tok2")) & (F.col("g1") < F.col("g2"))
    )
    m = (F.col("pa") + F.col("pb")) / 2.0
    term = F.when(
        F.col("pa") > 0, F.col("pa") * F.log(F.col("pa") / m)
    ).otherwise(0.0) + F.when(
        F.col("pb") > 0, F.col("pb") * F.log(F.col("pb") / m)
    ).otherwise(0.0)
    # floor-quantize each term to 1e-12 and sum as exact integers:
    # a float sum over ~top_v terms is partition-order-dependent in
    # the last ulps, which rolls round(6) boundary dice across engines
    # (the CLAUDE.md quantization rule); the integer sum is exact and
    # order-free on both sides, bias ≤ top_v·1e-12 ≪ the 6dp grid
    tq = F.floor(term * F.lit(1e12)).cast("long")
    return (
        pairs.groupBy("g1", "g2")
        .agg(
            F.round(0.5 * F.sum(tq).cast("double") / F.lit(1e12), 6)
            .alias("jsd")
        )
        .orderBy("g1", "g2")
    )


def keyphrases_tfidf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_df: int = 2,
) -> DataFrame:
    """Top-``k`` TF-IDF keyphrases per document — the classic
    "what is this document about" extractor used for corpus browsing
    and weak topic labels.

    One explode feeds both the per-(doc, token) term frequencies and
    the document-frequency table; N comes from a 1-row aggregate
    crossJoined back (broadcast, no driver round-trip); idf =
    ln((N+1)/(df+1)) with add-one smoothing.  The per-doc top-k is a
    PARTITIONED row_number with a deterministic (score desc, token)
    tie-break — Spark compiles the rank≤k filter to WindowGroupLimit,
    so no doc ever materializes more than k+heap rows.  Tokens seen in
    fewer than ``min_df`` docs are dropped before the join (typo
    suppression), and every score is a ratio of exact integers —
    engine-identical.

    Returns ``doc_id, rank, token, score`` ordered by (doc_id, rank).
    """
    from pyspark.sql import Window

    toks = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
    )
    tf = toks.groupBy("id", "tok").agg(F.count("*").alias("tf"))
    df_t = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    n_docs = docs.agg(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.join(df_t, "tok")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * F.log(
                (F.col("n_docs") + 1).cast("double")
                / (F.col("df") + 1).cast("double")
            ),
        )
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias("doc_id"),
            "rank",
            F.col("tok").alias("token"),
            F.round("score", 6).alias("score"),
        )
        .orderBy("doc_id", "rank")
    )


def wordpiece_vocab(
    df: DataFrame,
    vocab_size: int = 64,
    max_piece_len: int = 4,
    max_word_len: int = 12,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Position-flavored WordPiece piece table (Schuster & Nakajima
    2012 / Devlin et al. 2018 BERT WordPiece, public): pieces are
    word-INITIAL or CONTINUATION (BERT's ``##`` prefix), derived
    deterministically from the corpus — every single character seen in
    each flavor plus the top ``vocab_size`` multi-char substrings per
    flavor with frequency >= ``min_count`` (count desc, piece asc — the
    unigram_seed_pieces convention, so an oracle rebuilds it without
    state). Returns (piece, is_cont, n), checkpointed.

    Scale: the corpus collapses ONCE to the word-frequency vocab; the
    span explosion runs over vocab rows only (sublinear in corpus)."""
    occ = _word_spans(_word_vocab(df, text_col, max_word_len), max_piece_len)
    fc = occ.groupBy("piece", (F.col("i") > 0).alias("is_cont")).agg(
        F.sum("freq").cast("long").alias("n")
    )
    chars = fc.filter(F.length("piece") == 1)
    multi = fc.filter((F.length("piece") > 1) & (F.col("n") >= min_count))
    top_init = (
        multi.filter(~F.col("is_cont"))
        .orderBy(F.desc("n"), "piece")
        .limit(vocab_size)
    )
    top_cont = (
        multi.filter(F.col("is_cont"))
        .orderBy(F.desc("n"), "piece")
        .limit(vocab_size)
    )
    return chars.unionByName(top_init).unionByName(top_cont).localCheckpoint(
        eager=True
    )


def wordpiece_encode(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
    max_word_len: int = 12,
) -> DataFrame:
    """WordPiece greedy longest-match-first tokenization (the BERT
    inference algorithm, public): per word, repeatedly take the
    longest vocab piece matching at the cursor (initial flavor at
    position 0, continuation after); a word with no match at any
    cursor is wholly OOV ([UNK] semantics). Integer-exact and
    tie-free by construction — the argmax is on span length alone.

    Vocab-collapse scale shape (the unigram_lm_encode design):
    DISTINCT words segment once; the greedy walk is a bounded
    ``aggregate`` over a per-word (position -> furthest-match) MAP
    (<= max_word_len entries, built with one span join + max agg) —
    the map is bound once per word, and each step is one
    map_contains_key-guarded lookup (ANSI element_at raises on
    missing keys). Returns (id, n_words, n_oov_words, n_tokens)
    for every input document (0s for empty docs)."""
    arr = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda wd: F.length(wd) > 0,
    )
    stream = df.select(
        F.col(id_col).alias("_id"), F.explode_outer(arr).alias("w")
    )
    vw = (
        stream.select("w")
        .filter(F.col("w").isNotNull())
        .distinct()
        .withColumn("wlen", F.length("w").cast("int"))
        .filter(F.col("wlen") <= max_word_len)
    )
    spans = _word_spans(vw, max_piece_len)
    matched = spans.join(
        vocab.select("piece", "is_cont"),
        (spans["piece"] == vocab["piece"])
        & (vocab["is_cont"] == (spans["i"] > 0)),
    )
    bestj = matched.groupBy(spans["w"].alias("w"), "i").agg(
        F.max("j").alias("bj"), F.max("wlen").alias("wlen")
    )
    perw = bestj.groupBy("w", "wlen").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("i"), F.col("bj")))
        ).alias("m")
    )
    # greedy walk: advance the cursor to m[pos] while a match exists;
    # every step advances >= 1, so max_word_len iterations always
    # reach wlen or a stuck cursor (-1)
    state0 = F.struct(
        F.lit(0).cast("int").alias("pos"), F.lit(0).cast("int").alias("cnt")
    )
    walked = perw.select(
        "w",
        "wlen",
        F.aggregate(
            F.sequence(F.lit(1), F.lit(int(max_word_len))),
            state0,
            lambda st, _: F.when(
                (st["pos"] < 0) | (st["pos"] >= F.col("wlen")), st
            )
            .when(
                F.map_contains_key(F.col("m"), st["pos"]),
                F.struct(
                    F.element_at(F.col("m"), st["pos"]).alias("pos"),
                    (st["cnt"] + 1).alias("cnt"),
                ),
            )
            .otherwise(
                F.struct(
                    F.lit(-1).cast("int").alias("pos"),
                    st["cnt"].alias("cnt"),
                )
            ),
        ).alias("st"),
    )
    per_word = walked.select(
        "w",
        F.when(F.col("st.pos") == F.col("wlen"), F.col("st.cnt")).alias(
            "toks"
        ),
    )
    real = F.col("w").isNotNull()
    return (
        stream.join(per_word, "w", "left")
        .groupBy("_id")
        .agg(
            F.sum(real.cast("int")).cast("long").alias("n_words"),
            F.sum((real & F.col("toks").isNull()).cast("int"))
            .cast("long")
            .alias("n_oov_words"),
            F.coalesce(F.sum(F.when(real, F.col("toks"))), F.lit(0))
            .cast("long")
            .alias("n_tokens"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_words",
            "n_oov_words",
            "n_tokens",
        )
    )


def wordpiece_train_merges(
    df: DataFrame, n_merges: int = 6, text_col: str = "text"
) -> DataFrame:
    """WordPiece tokenizer TRAINING (Schuster & Nakajima 2012; the
    likelihood-gain objective popularized by BERT, public):
    ``n_merges`` greedy rounds picking the adjacent symbol pair that
    maximizes score = freq(ab) / (freq(a) * freq(b)) — the merge that
    most increases corpus likelihood under a unigram symbol model —
    instead of BPE's raw-count argmax. Returns (step, l, r, n, score_q12).

    Exactness: the score argmax is on the INTEGER quantized
    score_q12 = (freq(ab) * 1e12) // (freq(a) * freq(b)) — exact
    DECIMAL(38,0) products + `div` (quotient <= 1e12 since
    freq(ab) <= min(freq(a), freq(b)); BIGINT-safe), ties broken
    (l, r) lexicographically — bit-deterministic in any engine.
    Same ``' sym '`` double-space symbol encoding, vocab-collapsed
    corpus, per-round localCheckpoint, and O(n_merges) 1-row driver
    argmax loop as bpe_train_merges (textanalysis.py:497)."""
    import pandas as pd

    return df.sparkSession.createDataFrame(
        pd.DataFrame(
            _train_merges(df, n_merges, text_col, likelihood=True),
            columns=["step", "l", "r", "n", "score_q12"],
        ),
        "step INT, l STRING, r STRING, n BIGINT, score_q12 BIGINT",
    )


GOPHER_RULE_NAMES = (
    "min_words",
    "max_words",
    "min_mean_word_len",
    "max_mean_word_len",
    "symbol_word_ratio",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "alpha_word_frac",
    "stopword_hits",
)


def gopher_rule_ablation(df: DataFrame, **gate_kwargs) -> DataFrame:
    """Leave-one-out ablation of the nine Gopher rules — which filter
    is actually doing the work before anyone tunes thresholds: per
    rule, how many docs fail it at all (n_fail), how many docs it
    UNIQUELY removes (n_sole_fail — the docs that come back if the
    rule is dropped), and how many docs pass the other eight
    (n_pass_without). All 27 statistics fold out of the single
    fail-bitmask projection :func:`gopher_quality_gate` already
    computes — ONE corpus aggregate with conditional sums, then a
    9-row stack; bit tests use (mask & (511 - bit)) == 0 so no
    engine-specific ~ semantics are involved.

    Returns 9 rows: (rule_idx, rule, n_fail, n_sole_fail,
    n_pass_without, n_docs, n_pass)."""
    return gopher_ablation_finale(
        gopher_mask_histogram(df, **gate_kwargs)
    )


def gopher_mask_histogram(df: DataFrame, **gate_kwargs) -> DataFrame:
    """The <= 512-row associative state relation behind
    :func:`gopher_rule_ablation` — (gopher_fail_mask, n) counts. A
    plain streaming complete-mode aggregate (T33's live rule-ablation
    monitor); every ablation statistic is a weighted fold over it."""
    return gopher_quality_gate(df, **gate_kwargs).groupBy(
        "gopher_fail_mask"
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


def gopher_ablation_finale(hist: DataFrame) -> DataFrame:
    """Ablation statistics from a (gopher_fail_mask, n) histogram —
    shared verbatim by the batch operator and the T33 streaming
    snapshot (the cells/finale recipe)."""
    m = F.col("gopher_fail_mask")
    n = F.col("n")
    aggs = [
        F.coalesce(F.sum(n), F.lit(0)).cast("long").alias("_n"),
        F.coalesce(F.sum(F.when(m == 0, n)), F.lit(0))
        .cast("long")
        .alias("_np"),
    ]
    for r in range(9):
        b = 1 << r
        aggs += [
            F.coalesce(F.sum(F.when(m.bitwiseAND(b) != 0, n)), F.lit(0))
            .cast("long")
            .alias(f"_f{r}"),
            F.coalesce(F.sum(F.when(m == b, n)), F.lit(0))
            .cast("long")
            .alias(f"_s{r}"),
            F.coalesce(
                F.sum(F.when(m.bitwiseAND(511 - b) == 0, n)), F.lit(0)
            )
            .cast("long")
            .alias(f"_w{r}"),
        ]
    one = hist.agg(*aggs)
    stack_args = ", ".join(
        f"{r}, '{GOPHER_RULE_NAMES[r]}', _f{r}, _s{r}, _w{r}"
        for r in range(9)
    )
    return one.selectExpr(
        f"stack(9, {stack_args})"
        " AS (rule_idx, rule, n_fail, n_sole_fail, n_pass_without)",
        "_n AS n_docs",
        "_np AS n_pass",
    ).select(
        F.col("rule_idx").cast("int").alias("rule_idx"),
        "rule",
        "n_fail",
        "n_sole_fail",
        "n_pass_without",
        "n_docs",
        "n_pass",
    )


def code_switch_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Code-switching / language-mix profile per document: sentence-
    level language votes (the :func:`detect_language` marker-hit
    argmax per sentence) folded into a per-doc language distribution —
    distinct-language count and Shannon entropy. Mixed-language docs
    (web boilerplate stitched across locales, mistranslated spans)
    score high entropy and are a standard pre-training removal class
    the DOC-level language ID cannot see (it just picks the majority).

    Sentences with no marker evidence ('und') vote nothing. Entropy is
    the round-4 -sum((c/n) ln(c/n)) over the <= |languages| per-doc
    cells — the ta_bigram_lm/KN round-4-ln convention (the only libm
    call; stable across engines at that precision).

    One sentence explode + two hash aggs; the language-cell table is
    (docs x <= 5 languages)-bounded. Returns one row per input doc:
    (id, n_sentences, n_classified, n_langs, lang_entropy_q4)."""
    from .chunking import split_sentences

    sents = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(
            split_sentences(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("sent"),
    )
    voted = sents.select(
        "_id", "sent", detect_language(F.coalesce("sent", F.lit(""))).alias("lang")
    )
    cells = (
        voted.filter(F.col("lang") != "und")
        .groupBy("_id", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = cells.groupBy("_id").agg(F.sum("c").cast("long").alias("n"))
    term = (F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))
    stats = (
        cells.join(tot, "_id")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.max("n").alias("n_classified"),
            F.round(F.lit(0.0) - F.sum(term), 4).alias("lang_entropy_q4"),
        )
    )
    counts = voted.groupBy("_id").agg(
        F.sum(F.col("sent").isNotNull().cast("int"))
        .cast("long")
        .alias("n_sentences")
    )
    return (
        counts.join(stats, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_sentences",
            F.coalesce("n_classified", F.lit(0)).cast("long").alias(
                "n_classified"
            ),
            F.coalesce("n_langs", F.lit(0)).cast("long").alias("n_langs"),
            "lang_entropy_q4",
        )
    )


def lang_mix_cells(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, lang, c) sentence-vote cells — the bounded associative
    state behind :func:`lang_mix_by_source` (and T34's live monitor):
    one sentence explode + the per-sentence langid vote + one hash agg
    to |sources| x <= 6 language rows ('und' kept — the no-evidence
    share is itself telemetry)."""
    from .chunking import split_sentences

    sents = df.select(
        "source",
        F.explode(
            split_sentences(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("sent"),
    )
    return sents.select(
        "source", detect_language(F.col("sent")).alias("lang")
    ).groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )


def lang_mix_finale(cells: DataFrame) -> DataFrame:
    """Per-source language-mix report from (source, lang, c) cells —
    shared verbatim by the batch operator and the T34 snapshot:
    classified-sentence counts, distinct languages, the majority
    language (max (c, lang) — deterministic), and round-4 entropy over
    the classified votes (the KN ln convention)."""
    cl = cells.filter(F.col("lang") != "und")
    tot = cl.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    und = (
        cells.filter(F.col("lang") == "und")
        .groupBy("source")
        .agg(F.sum("c").cast("long").alias("n_und"))
    )
    term = (F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))
    top = F.max(F.struct(F.col("c"), F.col("lang")))
    stats = (
        cl.join(tot, "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.max("n").alias("n_classified"),
            top.getField("lang").alias("majority_lang"),
            F.round(F.lit(0.0) - F.sum(term), 4).alias("lang_entropy_q4"),
        )
    )
    return stats.join(und, "source", "left").select(
        "source",
        "n_classified",
        F.coalesce("n_und", F.lit(0)).cast("long").alias("n_und"),
        "n_langs",
        "majority_lang",
        "lang_entropy_q4",
    )


def lang_mix_by_source(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source language composition report — the corpus-mixture
    telemetry CCNet-descended pipelines watch per ingest slice. See
    :func:`lang_mix_cells` / :func:`lang_mix_finale` (sources with no
    classified sentence carry no row — no evidence, no report)."""
    return lang_mix_finale(lang_mix_cells(df, text_col))


def lexical_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-group lexical-diversity profile: type-token ratio and hapax
    fraction (Herdan/TTR, public corpus-linguistics staples) — the
    cheap vocabulary-richness signals a curation pipeline uses to spot
    template farms (low TTR) and OCR noise (high hapax share) per
    source before spending near-dup compute on them.

    Whitespace tokens, lowercased (the house convention); NULL text
    reads as ''. One hash agg to (group, token) cells then one bounded
    reagg — both partial-combinable, no windows. Ratios are exact
    nonneg micro-grid floor-divisions (counts are ints; no float sums
    anywhere). Returns (group, n_docs, n_tokens, n_types, n_hapax,
    ttr_q6, hapax_frac_q6) with NULL ratios for token-free groups."""
    toks = df.select(
        F.col(group_col).alias("g"),
        F.explode(
            F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
        ).alias("tok"),
    ).filter(F.col("tok") != "")
    cells = toks.groupBy("g", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    docs = df.groupBy(F.col(group_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return lexical_diversity_from_cells(cells, docs, group_col)


def lexical_diversity_from_cells(
    cells: DataFrame,
    doc_counts: DataFrame,
    group_col: str = "source",
) -> DataFrame:
    """Finale of :func:`lexical_diversity` over pre-aggregated
    (g, tok, c) token cells and a (g, n_docs) doc-count table — both
    associative streaming states, so the T37 stream twin snapshots them
    (doc counts ride along as a sentinel token) and shares this exact
    code path (the cells/finale recipe)."""
    per_group = cells.groupBy("g").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
    )
    return (
        doc_counts.join(per_group, "g", "left")
        .selectExpr(
            "g AS " + group_col,
            "n_docs",
            "coalesce(n_tokens, 0) AS n_tokens",
            "coalesce(n_types, 0) AS n_types",
            "coalesce(n_hapax, 0) AS n_hapax",
            "CASE WHEN n_tokens > 0 THEN"
            " ((CAST(n_types AS DECIMAL(38,0)) * 1000000) div n_tokens)"
            " / 1e6 END AS ttr_q6",
            "CASE WHEN n_types > 0 THEN"
            " ((CAST(n_hapax AS DECIMAL(38,0)) * 1000000) div n_types)"
            " / 1e6 END AS hapax_frac_q6",
        )
    )


def vocab_growth_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_checkpoints: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary-growth curve (Heaps 1978, public): distinct
    vocabulary size and cumulative token mass at ``n_checkpoints``
    evenly-spaced prefixes of the corpus under ascending ``id_col``
    order — the diagnostic that tells a 100-TB ingest whether new data
    still contributes new vocabulary (curve still rising) or is
    template re-hash (curve flat).

    Distributed shape: token first-occurrence is ONE partial-
    combinable min-agg over the exploded token stream (vocab-sized
    result); checkpoint cutoffs come from the sanctioned
    global_row_number primitive over the distinct id table (range
    partition + offsets — never a single-partition window); the
    per-checkpoint rollup joins the VOCAB-sized table against the
    broadcast <=n_checkpoints cutoff list. Counts are exact integers.

    Returns (checkpoint, cutoff_id, n_docs_cum, n_tokens_cum,
    n_types_cum) ordered by checkpoint."""
    from pdf_to_vectordb_etl_spark.operators.suffixes import (
        global_row_number,
    )

    base = df.select(
        F.col(id_col).alias("id"),
        F.split(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
        ).alias("toks"),
    )
    toks = base.select(
        "id", F.explode("toks").alias("tok")
    ).filter(F.col("tok") != "")
    first_seen = toks.groupBy("tok").agg(F.min("id").alias("first_id"))
    per_doc = base.select(
        "id",
        F.size(F.filter(F.col("toks"), lambda t: t != "")).cast(
            "long"
        ).alias("n_tok"),
    )
    ids = per_doc.select("id").distinct()
    ranked = global_row_number(ids, ["id"], "rn")
    n_tot = ids.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cps = (
        n_tot.select(
            F.explode(
                F.sequence(F.lit(1), F.lit(n_checkpoints))
            ).alias("checkpoint"),
            "n",
        )
        .withColumn(
            "cut_rn", F.expr(f"(checkpoint * n) div {n_checkpoints}")
        )
        .filter(F.col("cut_rn") >= 1)
    )
    cuts = ranked.join(
        F.broadcast(cps), F.col("rn") == F.col("cut_rn")
    ).select("checkpoint", F.col("id").alias("cutoff_id"), "rn")
    vocab_cum = (
        first_seen.join(
            F.broadcast(cuts), F.col("first_id") <= F.col("cutoff_id")
        )
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).cast("long").alias("n_types_cum"))
    )
    tokens_cum = (
        per_doc.join(F.broadcast(cuts), F.col("id") <= F.col("cutoff_id"))
        .groupBy("checkpoint")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens_cum"))
    )
    return (
        cuts.join(vocab_cum, "checkpoint", "left")
        .join(tokens_cum, "checkpoint", "left")
        .select(
            "checkpoint",
            "cutoff_id",
            F.col("rn").cast("long").alias("n_docs_cum"),
            F.coalesce("n_tokens_cum", F.lit(0)).alias("n_tokens_cum"),
            F.coalesce("n_types_cum", F.lit(0)).alias("n_types_cum"),
        )
        .orderBy("checkpoint")
    )


def tokenizer_fertility_by_group(
    per_doc: DataFrame,
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenizer fertility audit per corpus slice (fertility = subword
    tokens per word, the standard tokenizer-quality metric from the
    mBERT/XLM-R literature, public): joins a per-doc encode report
    (``unigram_lm_encode``'s (doc_id, n_words, n_oov_words, n_tokens)
    schema) back to the document table's grouping column and rolls up
    exact integer counts — fertility over IN-VOCAB words only (OOV
    words produce no tokens; folding them in would understate cost),
    OOV rate over all words. A slice whose fertility runs hot is paying
    more context budget per word than the corpus average — the signal
    that decides per-source tokenizer retraining.

    All ratios are exact nonneg micro floor-divisions. Returns
    (group, n_docs, n_words, n_oov_words, n_tokens,
    tokens_per_word_q6, oov_rate_q6)."""
    j = per_doc.join(
        docs.select(F.col(id_col), F.col(group_col).alias("grp")), id_col
    )
    agg = j.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_words"),
        F.sum("n_oov_words").cast("long").alias("n_oov_words"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    return agg.selectExpr(
        f"grp AS {group_col}",
        "n_docs",
        "n_words",
        "n_oov_words",
        "n_tokens",
        "CASE WHEN n_words - n_oov_words > 0 THEN"
        " ((CAST(n_tokens AS DECIMAL(38,0)) * 1000000)"
        "  div (n_words - n_oov_words)) / 1e6 END AS tokens_per_word_q6",
        "CASE WHEN n_words > 0 THEN"
        " ((CAST(n_oov_words AS DECIMAL(38,0)) * 1000000) div n_words)"
        " / 1e6 END AS oov_rate_q6",
    )


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2 / tiktoken-class; Radford et al. 2019, Sennrich
# et al. 2016 — public algorithms). Beyond-reference: the reference has
# no tokenizer at all (it chunks on a literal string,
# qdrant_text_loader.py:66-76); these denominate the engine's token
# budgets in the tokens real training pipelines plan against.
# ---------------------------------------------------------------------------

GPT2_CONTRACTIONS = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")

# Pass-1 pre-token pattern: the GPT-2 alternation MINUS its one
# lookahead (`\s+(?!\S)` — RE2/DuckDB has no lookahead). Ordered
# alternation semantics are identical in Java regex and RE2
# (leftmost-first). Whitespace is the EXPLICIT ASCII class (Java's
# bare \s is ASCII-only while Python's is Unicode — pinning the class
# keeps every engine on the same charset).
GPT2_PRETOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"
    r"|[ \t\n\x0B\f\r]+"
)

_GPT2_WS_RE = r"^[ \t\n\x0B\f\r]+$"


def _bind_array(arr: Column, fn) -> Column:
    """Bind an array-building expression ONCE as a lambda variable —
    the single-element-transform trick (see streaming/pipeline.py:707
    and the repo-wide plan-shape rule): referencing ``arr`` N times in
    a projection would inline its construction N times under
    CollapseProject; through this binding it is built exactly once."""
    return F.element_at(F.transform(F.array(arr), fn), 1)


def gpt2_pretokens(text: Column | str) -> Column:
    """GPT-2 pre-tokenization (Radford et al. 2019's published regex,
    public) as a native Column expression: contractions, optionally
    space-prefixed letter/digit/punctuation runs, and whitespace runs
    that yield their last space to the following token.

    Because RE2 (the DuckDB oracle engine) has no lookahead, the
    pattern's one lookahead alternative ``\\s+(?!\\S)`` is replaced by
    a two-pass construction proven equivalent (and pinned by tests
    against a pure-Python reference): pass 1 extracts with the
    lookahead-free alternation (a k=1 space attaches to the following
    run exactly as in GPT-2; a k>=2 whitespace run is taken whole),
    pass 2 splits each INTERIOR whitespace token — first k-1 chars stay
    one token, the final char attaches to the next token when it is a
    literal space (re-splitting ``" '" + tail`` when the next token is
    a contraction, which the space-attached scan would have produced)
    and stands alone otherwise. Trailing whitespace stays whole. The
    result is a partition of the input: concat(tokens) == text, which
    is what makes byte-level round-trip conservation provable.

    NULL text reads as '' (the repo-wide convention). Plan shape: ONE
    regexp_extract_all per document bound once via the single-element-
    transform trick; the surgery is bounded list arithmetic per token.
    """
    raw = F.regexp_extract_all(
        F.coalesce(_c(text), F.lit("")), F.lit(GPT2_PRETOKEN_RE), F.lit(0)
    )

    def surgery(tk: Column) -> Column:
        n = F.size(tk)
        empty = F.array().cast("array<string>")

        def gives_space(j: Column) -> Column:
            # token j is an interior whitespace run ending in a literal
            # space, which GPT-2's lookahead yields to token j+1
            p = F.when(j >= 1, F.element_at(tk, j))
            return F.coalesce(
                p.rlike(_GPT2_WS_RE)
                & (F.substr(p, F.length(p), F.lit(1)) == " "),
                F.lit(False),
            )

        def emit(i: Column) -> Column:
            t = F.element_at(tk, i)
            k = F.length(t)
            is_ws = t.rlike(_GPT2_WS_RE)
            last = F.substr(t, k, F.lit(1))
            head = F.substr(t, F.lit(1), k - 1)
            nxt = F.when(i < n, F.element_at(tk, i + 1))
            prev = F.when(i > 1, F.element_at(tk, i - 1))
            attach = gives_space(i - 1)
            is_letters = t.rlike(r"^\p{L}+$")
            return (
                F.when(
                    is_ws & (i < n),
                    F.concat(
                        F.when(k >= 2, F.array(head)).otherwise(empty),
                        F.when(last != " ", F.array(last)).otherwise(empty),
                    ),
                )
                .when(
                    attach & t.isin(*GPT2_CONTRACTIONS),
                    # " '" + letter tail; the tail instead merges into
                    # a following BARE letter run (GPT-2's \p{L}+ keeps
                    # consuming past the contraction letters)
                    F.when(
                        F.coalesce(
                            nxt.rlike(r"^\p{L}+$"), F.lit(False)
                        ),
                        F.array(F.lit(" '")),
                    ).otherwise(
                        F.array(F.lit(" '"), F.substr(t, F.lit(2), k - 1))
                    ),
                )
                .when(attach, F.array(F.concat(F.lit(" "), t)))
                .when(
                    gives_space(i - 2)
                    & F.coalesce(
                        prev.isin(*GPT2_CONTRACTIONS), F.lit(False)
                    )
                    & is_letters,
                    F.array(
                        F.concat(
                            F.substr(prev, F.lit(2), F.length(prev) - 1), t
                        )
                    ),
                )
                .otherwise(F.array(t))
            )

        return F.flatten(
            F.when(n >= 1, F.transform(F.sequence(F.lit(1), n), emit))
            .otherwise(F.array().cast("array<array<string>>"))
        )

    return _bind_array(raw, surgery)


def _hex_symbol_string(w: Column | str) -> Column:
    """UTF-8 bytes of a pre-token as the ``' sym '`` double-space-
    wrapped symbol string over HEX-PAIR symbols (' 48  69 ') — the
    byte-level alphabet rendered so the shared literal-replace merge
    machinery (:func:`_merge_rounds`) and its DuckDB replay apply
    unchanged (hex() is uppercase in both engines; symbols never
    contain spaces)."""
    return F.regexp_replace(
        F.hex(F.encode(_c(w), "UTF-8")), "(..)", " $1 "
    )


def gpt2_byte_vocab(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pre-token frequency vocab for byte-level BPE training:
    (w, freq, s) where ``s`` is the hex-pair byte symbol string. The
    corpus collapses ONCE here (one pretokenize + explode + hash agg;
    vocab is sublinear in corpus size) and is localCheckpointed — the
    merge rounds never rescan raw text."""
    words = df.select(
        F.explode(gpt2_pretokens(F.col(text_col))).alias("w")
    )
    return (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .select("w", "freq", _hex_symbol_string("w").alias("s"))
        .localCheckpoint(eager=True)
    )


def bpe_bytelevel_train_merges(
    df: DataFrame, n_merges: int = 12, text_col: str = "text"
) -> DataFrame:
    """FULL byte-level BPE training (GPT-2-class): GPT-2 pre-tokenize,
    UTF-8 bytes as hex-pair symbols, then ``n_merges`` greedy rounds of
    (pair-count over the pre-token vocab) -> (argmax: count desc, then
    lexicographic on the hex symbols — integer counts, so the argmax is
    bit-deterministic in any engine) -> (literal-replace merge).
    Returns the learned merge table (step, l, r, n) with l/r as hex
    byte strings — the artifact a byte-level tokenizer ships. Unlike
    the character-level :func:`bpe_train_merges` there is no lowercase
    fold and no out-of-alphabet symbol: EVERY string is a byte
    sequence, so encode can never OOV (the GPT-2 byte-fallback
    property, here by construction).

    Scale shape: identical to bpe_train_merges — corpus collapses once
    to the checkpointed vocab, each round is one agg + one driver
    argmax scalar + one native rewrite."""
    import pandas as pd

    vocab = gpt2_byte_vocab(df, text_col).select("freq", "s")
    merges, _ = _merge_rounds(vocab, n_merges, likelihood=False)
    rows = [(step, a, b, n) for step, a, b, n, _ in merges]
    return df.sparkSession.createDataFrame(
        pd.DataFrame(rows, columns=["step", "l", "r", "n"]),
        "step INT, l STRING, r STRING, n BIGINT",
    )


def bpe_bytelevel_pieces(
    df: DataFrame, n_merges: int = 12, text_col: str = "text"
) -> DataFrame:
    """Trained byte-BPE vocab as a lookup artifact: one row per
    distinct GPT-2 pre-token with its piece count and per-token UTF-8
    round-trip bit — the static side every encode join-back (batch
    report, T41 stream monitor) consumes. Bounded (vocab-sized) and
    eagerly checkpointed: training scans the corpus once, consumers
    reuse the artifact."""
    vocab = gpt2_byte_vocab(df, text_col)
    _, final_vocab = _merge_rounds(
        vocab, n_merges, likelihood=False, carry=("w", "freq")
    )
    return final_vocab.select(
        F.concat(F.lit("t"), F.col("w")).alias("vkey"),
        F.size(F.split(F.trim("s"), "  ")).cast("long").alias("n_pieces"),
        (
            F.decode(F.unhex(F.replace(F.col("s"), F.lit(" "), F.lit(""))), "UTF-8")
            == F.col("w")
        ).alias("rt_piece"),
    ).localCheckpoint(eager=True)


def bpe_bytelevel_cell_stream(
    df: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """The per-doc token-cell stream behind the byte-BPE reports
    (the lexical_diversity sentinel trick): one 't'-prefixed cell per
    GPT-2 pre-token plus one 'd'-prefixed sentinel per doc carrying
    octet_length — collision-proof by prefix. Works unchanged on a
    streaming DataFrame (narrow projection + explode)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    return df.select(
        F.col(group_col).alias("grp"),
        F.explode(
            _bind_array(
                gpt2_pretokens(txt),
                lambda tk: F.concat(
                    F.transform(tk, lambda t: F.concat(F.lit("t"), t)),
                    F.array(
                        F.concat(
                            F.lit("d"), F.octet_length(txt).cast("string")
                        )
                    ),
                ),
            )
        ).alias("cell"),
    )


def bpe_bytelevel_fertility_cells(
    df: DataFrame,
    pieces: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Associative per-group state behind the T41 stream twin: ONE
    aggregation over the token-cell stream joined to the static
    trained-vocab artifact (stream-static join — Structured Streaming
    supports it before the single agg), producing (group, n_docs,
    n_pretokens, n_tokens, n_bytes, n_oov) — all plain sums, one state
    row per group at any corpus scale. ``n_oov`` counts token cells
    the trained vocab does NOT cover (n_pieces NULL after the left
    join): on a genuinely live stream, new words arriving after
    training would otherwise silently drop out of n_tokens while still
    counting in n_pretokens, biasing fertility low with no signal —
    n_oov surfaces that vocab drift instead of absorbing it. Always 0
    when the stream replays the training corpus (byte fallback makes
    real byte-BPE OOV impossible on seen pre-tokens)."""
    cells = bpe_bytelevel_cell_stream(df, group_col, text_col)
    # explicit broadcast: the static side is the TRAINED-VOCAB
    # artifact — bounded by contract (a tokenizer the monitor serves
    # is a shippable artifact) and already checkpointed; without the
    # hint every micro-batch shuffles the token-cell stream for a
    # sort-merge join (r10: the hint removes both per-batch exchanges)
    joined = cells.join(
        F.broadcast(pieces.select("vkey", "n_pieces")),
        cells["cell"] == pieces["vkey"],
        "left",
    )
    is_tok = F.col("cell").startswith("t")
    return joined.groupBy("grp").agg(
        F.coalesce(F.sum(F.when(~is_tok, 1)), F.lit(0))
        .cast("long")
        .alias("n_docs"),
        F.coalesce(F.sum(F.when(is_tok, 1)), F.lit(0))
        .cast("long")
        .alias("n_pretokens"),
        F.coalesce(F.sum(F.when(is_tok, F.col("n_pieces"))), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
        F.coalesce(
            F.sum(
                F.when(
                    ~is_tok, F.expr("CAST(substring(cell, 2) AS BIGINT)")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_bytes"),
        F.coalesce(
            F.sum(F.when(is_tok & F.col("n_pieces").isNull(), 1)),
            F.lit(0),
        )
        .cast("long")
        .alias("n_oov"),
    )


def bpe_bytelevel_fertility_finale(
    cells: DataFrame, group_col: str = "source"
) -> DataFrame:
    """Finale over the T41 cells — a PURE projection (no second
    aggregate, so the cells relation can come straight off a
    complete-mode memory sink): the exact div-based fertility and
    bytes-per-token economics of bpe_bytelevel_encode_report."""
    return cells.selectExpr(
        f"grp AS {group_col}",
        "n_docs",
        "n_pretokens",
        "n_tokens",
        "n_bytes",
        "n_oov",
        "CASE WHEN n_pretokens > 0 THEN"
        " (CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div n_pretokens)"
        " / 1e6 END AS fertility_q6",
        "CASE WHEN n_tokens > 0 THEN"
        " (CAST(n_bytes AS DECIMAL(38,0)) * 1000000 div n_tokens)"
        " / 1e6 END AS bytes_per_token_q6",
    )


def bpe_bytelevel_encode_report(
    df: DataFrame,
    group_col: str = "source",
    n_merges: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Train byte-level BPE on the corpus, ENCODE the corpus with it,
    and report per-group token economics plus the UTF-8 round-trip
    conservation audit — the number a 100-TB training budget is
    actually denominated in.

    Encode = join-back: training's final vocab segmentation IS the
    trained tokenizer applied to every distinct pre-token, so encoding
    is one equi-join from the exploded per-doc pre-token stream to the
    (bounded, checkpointed) vocab — no per-doc merge replay.

    Round-trip pin (every doc's bytes reconstruct), decomposed into
    engine-checkable invariants: (a) per-doc byte conservation —
    sum of token byte lengths == octet_length(text) (pre-tokenization
    is a partition of the text, and matches are contiguous in-order by
    construction); (b) per-token byte identity — the concatenated hex
    pieces decode back to the exact pre-token. ``roundtrip_ok`` is
    their conjunction; the full concat(tokens)==text equality is
    additionally pinned by tests.

    Doc-level stats ride the SAME exploded token stream as the vocab
    join (the lexical_diversity sentinel-row trick: token cells are
    prefixed 't', one 'd'-prefixed sentinel per doc carries
    octet_length — collision-proof by prefix), so the corpus scans
    once for the report and once for vocab training. Returns one row
    per group: (group, n_docs, n_pretokens, n_tokens, n_bytes,
    n_roundtrip_docs, fertility_q6 = tokens per pre-token,
    bytes_per_token_q6) — exact integer sums, floor-div finals."""
    pieces = bpe_bytelevel_pieces(df, n_merges, text_col)

    txt = F.coalesce(F.col(text_col), F.lit(""))
    cells = df.select(
        F.col(group_col).alias("grp"),
        F.col(id_col).alias("id"),
        F.explode(
            _bind_array(
                gpt2_pretokens(txt),
                lambda tk: F.concat(
                    F.transform(tk, lambda t: F.concat(F.lit("t"), t)),
                    F.array(
                        F.concat(F.lit("d"), F.octet_length(txt).cast("string"))
                    ),
                ),
            )
        ).alias("cell"),
    )
    # no forced broadcast: vocab is sublinear in corpus size but not
    # bounded — AQE picks broadcast when it fits, shuffle-hash when not
    joined = cells.join(pieces, cells["cell"] == pieces["vkey"], "left")
    is_tok = F.col("cell").startswith("t")
    per_doc = joined.groupBy("grp", "id").agg(
        F.coalesce(F.sum(F.when(is_tok, 1)), F.lit(0))
        .cast("long")
        .alias("n_pre"),
        F.coalesce(
            F.sum(F.when(is_tok, F.octet_length(F.expr("substring(cell, 2)")))),
            F.lit(0),
        )
        .cast("long")
        .alias("tok_bytes"),
        F.max(
            F.when(~is_tok, F.expr("CAST(substring(cell, 2) AS BIGINT)"))
        ).alias("n_bytes"),
        F.coalesce(F.sum(F.when(is_tok, F.col("n_pieces"))), F.lit(0))
        .cast("long")
        .alias("n_toks"),
        F.min(F.when(is_tok, F.col("rt_piece"))).alias("all_rt"),
    )
    rt_ok = (F.col("tok_bytes") == F.col("n_bytes")) & F.coalesce(
        F.col("all_rt"), F.lit(True)
    )
    return (
        per_doc.withColumn("rt_ok", rt_ok)
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_pre").cast("long").alias("n_pretokens"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("n_bytes").cast("long").alias("n_bytes"),
            F.sum(F.col("rt_ok").cast("int")).cast("long").alias(
                "n_roundtrip_docs"
            ),
        )
        .selectExpr(
            f"grp AS {group_col}",
            "n_docs",
            "n_pretokens",
            "n_tokens",
            "n_bytes",
            "n_roundtrip_docs",
            "CASE WHEN n_pretokens > 0 THEN"
            " (CAST(n_tokens AS DECIMAL(38,0)) * 1000000 div n_pretokens)"
            " / 1e6 END AS fertility_q6",
            "CASE WHEN n_tokens > 0 THEN"
            " (CAST(n_bytes AS DECIMAL(38,0)) * 1000000 div n_tokens)"
            " / 1e6 END AS bytes_per_token_q6",
        )
    )
