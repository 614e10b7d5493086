"""Web-corpus text and URL hygiene (beyond-reference).

Web-crawl training data arrives as markup-laden text keyed by messy
URLs. These are the standard first-pass cleaners — all pure Column
regexp/string expressions (RE2-safe, whole-stage codegen, no UDFs), so
they run at scan speed and push no work to Python:

  strip_markup       — drop tags/comments, unescape common entities,
                       collapse whitespace
  canonicalize_url   — lowercase scheme+host, drop default ports,
                       fragments, tracking params, trailing slashes
  registrable_domain — host -> eTLD+1-ish grouping key for per-domain
                       caps and stats (curation.cap_per_group feeds on
                       this)

The canonical forms are deliberately expressible in ANSI-ish regexp SQL
so an external oracle (or a non-Spark consumer) derives byte-identical
keys — dedup/caps keyed on them stay portable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: entity -> replacement, applied in order (amp LAST so "&amp;lt;"
#: becomes "&lt;" not "<" — single-pass unescape, the corpus-safe rule)
_ENTITIES = (
    ("&nbsp;", " "),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&amp;", "&"),
)

#: query params that identify a click, not a resource
_TRACKING_PARAMS = "utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid"


def strip_markup(c: Column) -> Column:
    """HTML/XML tags and comments -> space; entities unescaped;
    whitespace collapsed. Regexp chain, no parser: the right tradeoff
    for bulk corpus cleaning (a real DOM parse is a mapInPandas away
    when fidelity matters more than throughput)."""
    out = F.regexp_replace(c, r"<!--.*?-->", " ")  # comments (non-greedy)
    out = F.regexp_replace(out, r"<[^>]*>", " ")  # tags
    for ent, rep in _ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, r"\s+", " ")
    return F.trim(out)


def canonicalize_url(c: Column) -> Column:
    """Normalize a URL to its canonical resource form:

    lowercase scheme+host, strip a leading ``www.``, drop default ports
    (:80/:443), drop the fragment, drop tracking query params (utm_*,
    fbclid, gclid, ...), drop an empty ``?`` and trailing slash. Dedup
    and per-domain caps keyed on this collapse click-id aliases of the
    same page."""
    # lowercase scheme://host[:port] only (path/query case is content);
    # split-lower-concat instead of a cased backref so the whole chain
    # stays expressible in RE2 SQL (no lookarounds, no replacement fns)
    head = F.lower(F.regexp_extract(c, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1))
    tail = F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    out = F.concat(head, tail)
    out = F.regexp_replace(out, r"^([a-z0-9+.-]+://)www\.", r"$1")
    out = F.regexp_replace(
        out, r"^([a-z0-9+.-]+://[^/?#:]+):(?:80|443)([/?#].*)?$", r"$1$2"
    )
    out = F.regexp_replace(out, r"#.*$", "")  # fragment
    # tracking params, wherever they sit in the query string
    out = F.regexp_replace(out, rf"([?&])(?:{_TRACKING_PARAMS})=[^&#]*", r"$1")
    out = F.regexp_replace(out, r"[?&]+$", "")  # left-over separators
    out = F.regexp_replace(out, r"\?&", "?")
    out = F.regexp_replace(out, r"&&+", "&")
    out = F.regexp_replace(out, r"/$", "")
    return out


def url_host(c: Column) -> Column:
    """Host part, lowercased, port and ``www.`` stripped."""
    host = F.lower(F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(host, r":\d+$", "")
    return F.regexp_replace(host, r"^www\.", "")


#: common two-level public suffixes (pragmatic subset; a full PSL lookup
#: is a broadcast-join against the published list when exactness matters)
_TWO_LEVEL_TLDS = (
    "co.uk|org.uk|ac.uk|gov.uk|com.au|net.au|org.au|com.br|com.mx|co.jp"
    "|co.kr|co.in|com.cn|com.tw|com.sg|co.nz|co.za|com.ar|com.tr"
)


def registrable_domain(c: Column) -> Column:
    """eTLD+1 grouping key: last two host labels, or three when the
    suffix is a known two-level TLD (co.uk class)."""
    host = url_host(c)
    three = F.regexp_extract(host, rf"([^.]+\.(?:{_TWO_LEVEL_TLDS}))$", 1)
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    return F.when(three != "", three).otherwise(two)


def remove_duplicated_spans(
    df: DataFrame,
    n: int = 5,
    min_docs: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level duplicated-span removal (the ExactSubstr idea of
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better", at word n-gram granularity; also the line-dedup step of
    CCNet, generalized to token spans): any ``n``-token span that occurs
    in >= ``min_docs`` distinct documents is boilerplate — every token
    it covers is cut from every document, and the survivors are
    reassembled in order.

    Approximation bound (exact, not heuristic): windows slide at every
    token offset, so ANY duplicated token run of length >= n shared by
    >= min_docs docs is removed IN FULL regardless of alignment —
    "straddling" duplicates cannot escape. What this variant cannot
    see, by construction: (a) duplicated runs SHORTER than n tokens,
    and (b) runs repeated only WITHIN one document (the counter is
    distinct docs). For character-granularity ExactSubstr semantics
    with within-doc counting — the Lee et al. formulation proper — use
    :func:`exact_substring_dedup`.

    Returns one row per input document: (id, clean_text, n_kept,
    n_removed).

    Scale shape: tokenize into a normalized word array (narrow, per
    doc), build the span hash at every start position INSIDE the array
    via transform-over-sequence, then explode ONCE into (id, pos, tok,
    span_h) rows — NO per-doc sort window anywhere (the r2 bigram-LM
    shape needs lead(); spans don't, because the whole doc is already
    in hand as an array). One hash agg on the 8-byte span hash counts
    distinct docs (span vocabulary is sublinear in corpus size); the
    flagged starts fan out to at most n covered positions each (bounded
    blowup on flagged spans only, not the corpus); one left-anti join
    drops covered tokens; ordered reassembly is the A2 sorted-struct
    collect. The token stream is re-derived (narrow re-scan, zero extra
    shuffles) on the hot-span and kept branches — at 100 TB persist it
    if scan bandwidth, not CPU, is the constraint."""
    words = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )
    entry = lambda i: F.struct(  # noqa: E731
        (i - 1).alias("pos"),
        F.element_at(words, i).alias("tok"),
        F.when(
            i + (n - 1) <= F.size(words),
            F.xxhash64(F.array_join(F.slice(words, i, n), " ")),
        ).alias("span_h"),
    )
    toks = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.transform(F.sequence(F.lit(1), F.size(words)), entry)
            ).alias("e"),
        )
        .select("id", "e.pos", "e.tok", "e.span_h")
        .filter(F.col("tok") != "")
    )
    hot = (
        toks.filter(F.col("span_h").isNotNull())
        .groupBy("span_h")
        .agg(F.countDistinct("id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("span_h")
    )
    covered = (
        toks.join(hot, "span_h")
        .select(
            "id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("pos"),
        )
        .distinct()
    )
    kept = toks.join(covered, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    totals = df.select(
        F.col(id_col).alias("id"),
        F.size(F.filter(words, lambda t: F.length(t) > 0)).alias("n_total"),
    )
    return (
        totals.join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (F.col("n_total") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    min_len: int = 50,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    cross_doc_only: bool = False,
) -> DataFrame:
    """True ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better") at CHARACTER granularity: every
    character covered by a substring of length >= ``min_len`` that
    occurs >= ``min_count`` times in the corpus (within- or cross-doc;
    ``cross_doc_only`` switches the counter to distinct docs) is cut
    from every occurrence, and each document is reassembled from its
    surviving character ranges.

    Where the paper builds a suffix array, the distributed
    formulation slides an ``min_len``-char window over every offset:
    a duplicated substring of ANY length L >= min_len contains a
    duplicated min_len-window at every one of its L - min_len + 1
    offsets, so flagging windows and unioning their spans covers
    exactly the characters a suffix-array scan at the same threshold
    would — same semantics, no global suffix sort (which would need
    O(log n) all-corpus rank rounds). Misaligned ("straddling")
    duplicates are caught by construction: windows are per-offset, not
    tiled, so alignment never matters — pinned by test.

    Scale shape: one transform-over-sequence builds the per-doc window
    array (hashes only, never the substrings), one explode →
    (id, offset, h1, h2) rows — corpus-linear with a 16-byte key
    payload; one hash agg on the PAIR of independent xxhash64 values
    (seeded differently — a 128-bit effective key); flagged offsets
    join back on the same pair. A single 64-bit hash would birthday-
    collide ~1e8 times over the ~1e14 windows of a 100 TB corpus and
    each collision deletes L chars from an un-duplicated doc; with
    the 128-bit pair a false cut needs two DIFFERENT substrings to
    agree on BOTH hashes — expected colliding pairs ≈ W²/2 · 2⁻¹²⁸ ≈
    3e-11 at W = 1e14, i.e. never. (An earlier two-phase substring-
    value verify was exact but re-derived and shuffled raw text for
    every hot window — 15× slower on a duplicate-heavy corpus where
    candidates ≈ corpus; the dual hash keeps the agg 100%
    fixed-width.) The DuckDB oracle groups by substring VALUE, which
    the pair key matches up to that 2⁻¹²⁸ bound. Per-doc interval
    merge and text reconstruction are array/aggregate HOFs over
    doc-bounded arrays — no char-level explode, no window function,
    no Python. At 100 TB the corpus-wide ops are the window-hash agg
    and the flagged-offset join, both on 16-byte keys.

    Returns (id, clean_text, n_kept, n_removed) in characters.
    """
    L = int(min_len)
    t = F.col(text_col)
    # bind the substring once per window via the single-element
    # transform trick so the two hashes don't each re-slice the text
    win = lambda i: F.element_at(  # noqa: E731
        F.transform(
            F.array(t.substr(i, F.lit(L))),
            lambda s: F.struct(
                i.alias("i"),
                F.xxhash64(s).alias("h"),
                F.xxhash64(s, F.lit(0x5EED)).alias("h2"),
            ),
        ),
        1,
    )
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — docs
    # shorter than L must yield an explicitly empty window array
    starts_seq = F.when(
        F.length(t) >= L, F.sequence(F.lit(1), F.length(t) - (L - 1))
    ).otherwise(F.array().cast("array<int>"))
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.transform(starts_seq, win)).alias("e"),
    ).select("id", "e.i", "e.h", "e.h2")
    counter = (
        F.countDistinct("id") if cross_doc_only else F.count("*")
    ).alias("c")
    hot = (
        toks.groupBy("h", "h2")
        .agg(counter)
        .filter(F.col("c") >= min_count)
        .select("h", "h2")
    )
    flagged = (
        toks.join(hot, ["h", "h2"])
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("i")).alias("starts"))
    )
    # sorted starts -> merged [lo, hi] char intervals; each start
    # covers [s, s+L-1] and starts ascend, so an overlapping/adjacent
    # start always extends the LAST interval's hi to s+L-1
    empty_iv = F.array().cast("array<struct<lo:int,hi:int>>")
    merged = F.aggregate(
        F.col("starts"),
        empty_iv,
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        (s + (L - 1)).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(s.alias("lo"), (s + (L - 1)).alias("hi"))
                ),
            )
        ),
    )
    joined = df.select(F.col(id_col).alias("id"), t.alias("_t")).join(
        flagged, "id", "left"
    )
    tt = F.col("_t")
    rebuilt = F.when(F.col("starts").isNull(), tt).otherwise(
        F.aggregate(
            merged,
            F.struct(F.lit(1).alias("pos"), F.lit("").alias("acc")),
            lambda st, iv: F.struct(
                (iv["hi"] + 1).alias("pos"),
                F.concat(
                    st["acc"], tt.substr(st["pos"], iv["lo"] - st["pos"])
                ).alias("acc"),
            ),
            lambda st: F.concat(
                st["acc"], tt.substr(st["pos"], F.length(tt))
            ),
        )
    )
    return joined.select(
        F.col("id").alias(id_col),
        rebuilt.alias("clean_text"),
        F.length(rebuilt).alias("n_kept"),
        (F.length(tt) - F.length(rebuilt)).alias("n_removed"),
    )


#: 1:1 accent-fold pairs (multi-char expansions like ß→ss are out of
#: scope for translate; they belong to a locale-aware pass). Kept as
#: pairs so the from/to strings can never drift out of alignment, and
#: exported so external oracles fold with byte-identical tables.
_ACCENT_PAIRS = (
    ("áàâãäåāăą", "a"), ("éèêëēĕėęě", "e"), ("íìîïĩīĭį", "i"),
    ("óòôõöōŏő", "o"), ("úùûüũūŭůű", "u"), ("çćĉċč", "c"),
    ("ñńņň", "n"), ("ýÿŷ", "y"),
    ("ÁÀÂÃÄÅ", "A"), ("ÉÈÊË", "E"), ("ÍÌÎÏ", "I"), ("ÓÒÔÕÖ", "O"),
    ("ÚÙÛÜ", "U"), ("Ç", "C"), ("Ñ", "N"), ("Ý", "Y"),
    # Cyrillic/Greek homoglyphs — the spoofing-canonicalization pass
    # an ingest pipeline applies BEFORE dedup keys are built (a doc
    # that swaps Latin 'a' for Cyrillic 'а' dodges the exact-hash
    # screen unless this normalization runs first — see
    # normalize_text's scope note)
    ("\u0430\u0435\u043e\u0440\u0441\u0443\u0445", "aeopcyx"),
    ("\u0410\u0412\u0415\u041a\u041c\u041d\u041e\u0420\u0421\u0422\u0425", "ABEKMHOPCTX"),
    ("\u03bf\u039f\u0391\u0392\u0395\u0396\u0397\u0399\u039a\u039c\u039d\u03a1\u03a4\u03a7", "oOABEZHIKMNPTX"),
)
ACCENT_FROM = "".join(src for src, _ in _ACCENT_PAIRS)
# a pair maps each source char to ONE replacement char (dst repeated),
# or carries a position-aligned replacement string of equal length
# (the homoglyph rows)
ACCENT_TO = "".join(
    dst * len(src) if len(dst) == 1 else dst for src, dst in _ACCENT_PAIRS
)
for _src, _dst in _ACCENT_PAIRS:
    assert len(_dst) in (1, len(_src)), (_src, _dst)


def fold_accents(c: Column) -> Column:
    """Diacritic folding via one codepoint-for-codepoint ``translate``
    — the portable subset of Unicode NFKD+strip-combining that both
    Spark and DuckDB compute byte-identically (neither engine ships a
    SQL-level NFKD, and a Python UDF would put a per-row interpreter
    hop in the scan path). Covers Latin-1 Supplement + the common
    Latin Extended-A letters; anything outside the table passes
    through unchanged."""
    return F.translate(c, ACCENT_FROM, ACCENT_TO)


def normalize_text(c: Column) -> Column:
    """Web-ingest canonicalization: fold accents + homoglyphs,
    lowercase, map NBSP to space, collapse whitespace runs, trim.
    Pure codegen string expressions — runs at scan speed.

    Scope note: this is the INGEST-side key form. ``dedup.
    normalize_text`` (the function the dedup/shingle operators key on
    directly) lowercases and collapses whitespace but does NOT fold —
    so homoglyph-spoofed duplicates are caught only when documents
    pass through this ingest normalization (or ``fold_accents``)
    BEFORE reaching the dedup keys, which is the web-corpus
    pipeline's ordering. Run it first, or fold explicitly, when
    spoofing is a threat model."""
    folded = F.lower(fold_accents(c))
    return F.trim(
        F.regexp_replace(F.translate(folded, "\u00a0", " "), r"\s+", " ")
    )
