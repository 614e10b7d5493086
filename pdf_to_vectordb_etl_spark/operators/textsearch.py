"""BM25 keyword search over a document corpus — native expressions only.

Beyond-reference capability: the reference's only search is vector kNN
delegated to Qdrant (reference qdrant_text_loader.py:122-142); a corpus
engine also needs lexical relevance ranking (retrieval, quality
filtering, dedup triage). Everything here is Catalyst expressions — no
UDFs — so scoring stays in codegen.

Plan shape (and why it scales):
- doc length is computed as ``size(tokens)`` in a projection BELOW the
  explode and carried through as a scalar column — the token array is
  never referenced above its own Generate (see operators/dedup.py
  module docstring for the CollapseProject trap).
- the query-term filter is applied to the token ARRAY before explode,
  so the exploded row count is O(query-term occurrences), not O(corpus
  tokens).
- document frequencies / IDF form a per-term table of |query| rows —
  broadcast. The only wide shuffle is the per-(doc, term) tf group-by,
  keyed by doc id.
- corpus-level scalars (N, avgdl) join in via a broadcast cross join of
  a 1-row aggregate — no driver-side collect in the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_TOKEN_SPLIT = "[^a-z0-9]+"


def tokens(text: Column | str, *, pattern: str = _TOKEN_SPLIT) -> Column:
    """Lowercased alphanumeric tokens of a text column (empty strings
    from boundary splits removed)."""
    t = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(t), pattern), lambda x: F.length(x) > 0)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, score) BM25 relevance of every matching document for a bag
    of query terms. Standard Robertson/Okapi formulation with the +1
    idf smoothing (always positive)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    base = docs.select(F.col(id_col).alias("id"), tokens(text_col).alias("_toks"))
    # dl below the explode; only query-term occurrences survive into it
    narrowed = base.select(
        "id",
        F.size("_toks").alias("dl"),
        F.filter("_toks", lambda t: t.isin(*terms)).alias("_qt"),
    )
    corpus = narrowed.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        narrowed.select("id", "dl", F.explode("_qt").alias("term"))
        .groupBy("id", "term")
        .agg(F.first("dl").alias("dl"), F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1),
        )
        .withColumn(
            "_s",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
    )
    return scored.groupBy("id").agg(F.sum("_s").alias("score"))


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    **kwargs,
) -> DataFrame:
    """Top-k BM25 hits with a deterministic tiebreak: rank on the
    4-decimal-rounded score then id, so the boundary never depends on
    sub-ulp float noise (stable across engines and re-runs)."""
    s = bm25_scores(docs, query_terms, text_col, id_col, **kwargs)
    r = s.select("id", F.round("score", 4).alias("score"))
    return r.orderBy(F.desc("score"), F.asc("id")).limit(k)


def hybrid_rrf(
    lexical: DataFrame,
    semantic: DataFrame,
    k: int = 20,
    c: int = 60,
    id_col: str = "id",
) -> DataFrame:
    """Hybrid retrieval by RECIPROCAL RANK FUSION (Cormack et al. 2009,
    public technique): fuse a lexical (BM25) and a semantic (vector)
    ranking without score calibration — ``rrf = Σ 1/(c + rank)`` over
    the lists a document appears in.

    Inputs are shortlist frames carrying (id, rank) with rank starting
    at 1; the fusion is a full-outer join of two k-row frames (tiny at
    any corpus scale — the heavy lifting happened inside each
    retriever), one projection, one TakeOrdered. Rank-based fusion is
    what makes the combination engine-stable: float score scales never
    meet, only integer ranks do."""
    lex = lexical.select(F.col(id_col), F.col("rank").alias("_lr"))
    sem = semantic.select(F.col(id_col), F.col("rank").alias("_sr"))
    fused = lex.join(sem, id_col, "full_outer")
    rrf = (
        F.coalesce(1.0 / (F.lit(c) + F.col("_lr")), F.lit(0.0))
        + F.coalesce(1.0 / (F.lit(c) + F.col("_sr")), F.lit(0.0))
    )
    return (
        fused.select(
            id_col,
            F.round(rrf, 6).alias("rrf_score"),
            F.col("_lr").alias("lexical_rank"),
            F.col("_sr").alias("semantic_rank"),
        )
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(k)
    )


def expand_query(
    docs: DataFrame,
    query_terms: list[str],
    fb_k: int = 10,
    n_expansion: int = 5,
    min_len: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (the RM3 idea —
    Lavrenko & Croft 2001, public): take the BM25 top-``fb_k``
    feedback docs, weight their terms by feedback-tf × corpus-idf,
    and return the ``n_expansion`` best new terms to OR into the
    query. The standard second-pass recall lever when the corpus
    vocabulary drifts from the user's.

    Plan: feedback ids are a ≤ fb_k-row broadcast semi-join; corpus
    document frequencies come from one distinct+agg over the hashed
    token table (the only wide shuffle — shared shape with BM25's df
    pass); final selection is TakeOrdered on (rounded weight, term) —
    deterministic and engine-replayable, never a global sort. Returns
    (term, fb_tf, df, weight)."""
    fb = bm25_topk(docs, query_terms, k=fb_k, text_col=text_col, id_col=id_col)
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term")
    )
    n_docs = docs.count()
    df_t = (
        toks.distinct().groupBy("term").agg(F.count("*").alias("df"))
    )
    excluded = [t.lower() for t in query_terms]
    fb_tf = (
        toks.join(F.broadcast(fb.select("id")), "id", "left_semi")
        .filter(
            (F.length("term") >= min_len) & ~F.col("term").isin(*excluded)
        )
        .groupBy("term")
        .agg(F.count("*").alias("fb_tf"))
    )
    weighted = fb_tf.join(df_t, "term").select(
        "term",
        "fb_tf",
        "df",
        F.round(
            F.col("fb_tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("weight"),
    )
    return weighted.orderBy(F.desc("weight"), "term").limit(n_expansion)


def _pattern_prefix_table(
    patterns: DataFrame, pattern_col: str
) -> tuple[DataFrame, int] | None:
    """(broadcastable prefix table, l0) for the multi-pattern matcher:
    each pattern keyed by the xxhash64 of its first-l0-char prefix
    (l0 = shortest pattern length), full pattern + length riding along
    for the value verify. None when the pattern table is empty. The
    ``.first()`` action runs on the STATIC pattern side only, so the
    streaming screen can share this helper."""
    pats = patterns.select(
        F.col(pattern_col).alias("_pat"),
        F.length(pattern_col).alias("_plen"),
    )
    min_len_row = pats.agg(F.min("_plen").alias("m")).first()
    if min_len_row["m"] is None:
        return None
    l0 = int(min_len_row["m"])
    if l0 < 1:
        raise ValueError("patterns must be non-empty strings")
    pref = pats.select(
        "_pat",
        "_plen",
        F.xxhash64(F.substring("_pat", 1, l0)).alias("_h"),
    )
    return pref, l0


def _verified_pattern_hits(
    docs: DataFrame, pref: DataFrame, l0: int, id_col: str, text_col: str
) -> DataFrame:
    """(_id, _pat, i) — one row per VERIFIED pattern occurrence: one
    explode into l0-char window hashes, broadcast prefix-hash join,
    exact full-length value verify. Stateless per input row, so it
    runs identically on a batch DataFrame or a readStream."""
    t = F.col(text_col)
    starts = F.when(
        F.length(t) >= l0, F.sequence(F.lit(1), F.length(t) - (l0 - 1))
    ).otherwise(F.array().cast("array<int>"))
    wins = docs.select(
        F.col(id_col).alias("_id"),
        t.alias("_t"),
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("i"),
                    F.xxhash64(t.substr(i, F.lit(l0))).alias("_h"),
                ),
            )
        ).alias("e"),
    ).select("_id", "_t", "e.i", "e._h")
    return wins.join(F.broadcast(pref), "_h").filter(
        F.col("_t").substr(F.col("i"), F.col("_plen")) == F.col("_pat")
    )


def multi_pattern_hits(
    docs: DataFrame,
    patterns: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern_col: str = "pattern",
) -> DataFrame:
    """Exact per-offset occurrence counts of MANY fixed-string patterns
    against every document in one corpus pass — the blocklist /
    bad-phrase matcher every web-corpus pipeline runs (CCNet /
    RefinedWeb-style filtering), i.e. the Spark analog of an
    Aho-Corasick scan.

    Plan shape (one explode regardless of pattern count or length
    spread): let ℓ₀ = the SHORTEST pattern's length. Every pattern's
    match at position i implies its ℓ₀-char PREFIX matches at i, so
    the corpus is exploded ONCE into length-ℓ₀ window hashes
    (xxhash64 — 8-byte rows, never substrings; the window array is
    built and exploded in one Generate, per the CollapseProject rule)
    and equi-joined against the broadcast pattern-prefix hashes.
    Survivors — bounded by how often any pattern PREFIX occurs, not
    by corpus size — re-derive the full-length window by value
    (``substr(text, i, len(pattern)) = pattern``), so hash collisions
    cannot fake a hit and the result is exact. A blocklist whose
    shortest pattern is very short (1-2 chars) makes every position a
    candidate — keep patterns >= ~4 chars or pre-filter such entries.

    Patterns are assumed small enough to broadcast (blocklists are
    thousands of rows); matching is case-sensitive — normalize both
    sides upstream for case-insensitive semantics.

    Returns (id_col, pattern_col, n_hits) with n_hits >= 1 —
    overlapping occurrences each count (per-offset semantics: "aaa"
    hits "aaaa" twice)."""
    got = _pattern_prefix_table(patterns, pattern_col)
    if got is None:
        return docs.sparkSession.createDataFrame(
            [], f"{id_col} long, {pattern_col} string, n_hits long"
        )
    pref, l0 = got
    verified = _verified_pattern_hits(docs, pref, l0, id_col, text_col)
    verified = verified.groupBy("_id", "_pat").agg(
        F.count("*").alias("n_hits")
    )
    return verified.select(
        F.col("_id").alias(id_col),
        F.col("_pat").alias(pattern_col),
        F.col("n_hits").cast("long"),
    )


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase search via a POSITIONAL postings join — the
    inverted-index plan a search engine runs, not a regex rescan: the
    posting list is filtered to the phrase's terms FIRST (that filter
    is the index lookup; at scale it prunes the corpus to the terms'
    document frequency), then L-1 equi-joins stitch adjacent positions
    ((id, pos+k) keys — co-partitioned shuffles on bounded postings).

    Tokenization matches :func:`tokens` (lowercased alphanumeric runs);
    NULL text reads ''. Returns (id_col, n_matches, first_pos) for
    documents containing the exact adjacent-token phrase, first_pos
    0-based in token positions."""
    if not phrase:
        raise ValueError("phrase must contain at least one token")
    terms = [t.lower() for t in phrase]
    posted = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            tokens(F.coalesce(F.col(text_col), F.lit("")))
        ).alias("pos", "tok"),
    ).filter(F.col("tok").isin(terms))
    cur = posted.filter(F.col("tok") == terms[0]).select(
        "id", F.col("pos").alias("p0")
    )
    for k, term in enumerate(terms[1:], start=1):
        nxt = posted.filter(F.col("tok") == term).select(
            F.col("id").alias("id_r"), (F.col("pos") - k).alias("p_r")
        )
        cur = cur.join(
            nxt,
            (F.col("id") == F.col("id_r")) & (F.col("p0") == F.col("p_r")),
        ).select("id", "p0")
    return cur.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("p0").cast("long").alias("first_pos"),
    )
