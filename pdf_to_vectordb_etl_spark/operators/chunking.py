"""Chunk windowing (SURVEY §2.5 W4).

The reference lazily slices concatenated subject text into per-question
chunks on the literal split key ``(RESPOSTA CORRETA)`` with a +22-char
buffer so each chunk keeps its ``(RESPOSTA CORRETA): X`` tail
(reference qdrant_text_loader.py:66-76). Here the slice positions come
from ``posexplode(split(...))`` + a ``lead`` window — no generator
state, parallel per document.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window, functions as F

SPLIT_KEY = "(RESPOSTA CORRETA)"  # reference qdrant_text_loader.py:28
# F.split takes a REGEX: the parens must be escaped or they parse as a
# group and the split drops only the inner words (caught by the golden-
# TXT parity test against /root/reference/pdf_content_to_files)
SPLIT_KEY_RE = re.escape(SPLIT_KEY)


def split_chunks(
    df: DataFrame, text_col: str = "content", key_cols: tuple[str, ...] = ("year", "subject")
) -> DataFrame:
    """Re-split concatenated text into question chunks, one row each.

    A chunk = text from the previous split-key end to the next split key
    + its answer tail. Equivalent native form: split on the key keeps
    the body *before* each key occurrence; each chunk is body_i plus the
    key+tail that terminated it. The final empty remainder (text after
    the last answer tail) is dropped, as the reference's generator stops
    there (reference :74-76).
    """
    parts = F.split(F.col(text_col), SPLIT_KEY_RE, -1)
    n = F.size(parts)
    df = df.select(
        *key_cols,
        F.posexplode(parts).alias("chunk_index", "body"),
        n.alias("_n"),
    )
    # the post-final remainder (text after the last answer tail) is
    # dropped AFTER the lead window below — it still supplies the last
    # real chunk's "(RESPOSTA CORRETA): X" tail via lead()
    # body_{i+1} starts with ": X\n\n…" — the reference's fixed +22-char
    # buffer (reference :70) hands that head to chunk i's tail; simplest
    # faithful form: re-attach the key and the answer char from the
    # *next* body's head.
    w = Window.partitionBy(*key_cols).orderBy("chunk_index")
    nxt = F.lead("body").over(w)
    tail = F.concat(
        F.lit(SPLIT_KEY),
        F.coalesce(F.regexp_extract(nxt, r"^(:\s*\S+)", 1), F.lit("")),
    )
    chunk = F.when(
        F.col("chunk_index") == 0, F.concat(F.col("body"), tail)
    ).otherwise(
        # bodies after the first begin with the previous chunk's ": X"
        # remnant — strip it before prepending
        F.concat(F.regexp_replace(F.col("body"), r"^:\s*\S+\s*", ""), tail)
    )
    return (
        df.withColumn("chunk", chunk)
        .filter(F.col("chunk_index") < F.col("_n") - 1)
        .drop("body", "_n")
    )


def chunk_counts(chunks: DataFrame, key_cols: tuple[str, ...] = ("year", "subject")) -> DataFrame:
    """Chunks per group — must equal question counts (round-trip
    property ``chunk(concat(q)) == q``, SURVEY §7 guiding decision 1)."""
    return chunks.groupBy(*key_cols).agg(F.count("*").alias("n_chunks"))


# U+001F as the sentence separator: inserted AFTER enders, then split —
# the lookbehind-free formulation, so the oracle (RE2 SQL) can replay it
_SENT_SEP = "\x1f"


def split_sentences(c, keep_empty: bool = False):
    """Sentence array from a text Column: mark ``[.!?]`` + whitespace
    boundaries with a control char, split on it. No lookarounds, so the
    exact same regexp runs on any RE2 engine."""
    marked = F.regexp_replace(c, r"([.!?])\s+", r"$1" + _SENT_SEP)
    parts = F.split(marked, _SENT_SEP)
    if keep_empty:
        return parts
    return F.filter(parts, lambda s: F.trim(s) != "")


def sentence_chunks(
    df: DataFrame,
    sentences_per_chunk: int = 5,
    overlap: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-aligned sliding chunks (the RAG ingestion chunker):
    windows of ``sentences_per_chunk`` sentences advancing by
    ``sentences_per_chunk - overlap``, so consecutive chunks share
    ``overlap`` sentences and no sentence is ever split mid-chunk.

    Plan shape (the explode-once rule, see dedup.py docstring): the
    sentence array explodes ONCE to (doc, pos, sentence) rows; each
    sentence then computes the small set of chunk ids it belongs to
    (a <= 2-element sequence for overlap < K/2) and explodes that;
    one groupBy (doc, chunk) rebuilds ordered text. The heavy string
    column crosses exactly one shuffle, already cut into sentences —
    never recomputed per window, never referenced above its explode.
    Trailing starts whose sentences all sit inside the previous chunk
    are dropped (no fully-redundant tail chunks)."""
    if not 0 <= overlap < sentences_per_chunk:
        raise ValueError("need 0 <= overlap < sentences_per_chunk")
    k = sentences_per_chunk
    stride = k - overlap
    parts = split_sentences(F.col(text_col))
    # size() beside the posexplode: the array builds twice per DOC (not
    # per element/window) — cheaper than a count shuffle, and still
    # explode-once for the per-element path
    sents = df.select(
        F.col(id_col),
        F.posexplode(parts).alias("pos", "sent"),
        F.size(parts).alias("_n"),
    )
    c_lo = F.greatest(
        F.lit(0), F.ceil((F.col("pos") - F.lit(k - 1)) / F.lit(stride))
    )
    c_hi = F.floor(F.col("pos") / F.lit(stride))
    chunks = (
        sents.withColumn("_cids", F.sequence(c_lo.cast("int"), c_hi.cast("int")))
        .select(id_col, "pos", "sent", "_n", F.explode("_cids").alias("chunk_id"))
        # a start is real if it's chunk 0 or begins before n - overlap
        .filter(
            (F.col("chunk_id") == 0)
            | (F.col("chunk_id") * stride < F.col("_n") - overlap)
        )
        .groupBy(id_col, "chunk_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                    lambda s: s["sent"],
                ),
                " ",
            ).alias("chunk_text"),
            F.count("*").alias("n_sentences"),
        )
    )
    return chunks


def portable_embedding(text, dim: int = 16, salt: str = "se") -> "F.Column":
    """md5-derived pseudo-embedding with EXACT cross-engine replay:
    component i = int(md5(text‖':salt:'‖i)[:8 hex]) / 2³¹ − 1 — every
    step (hex parse, power-of-two divide, subtract) is exact in IEEE
    double, so an external engine reproduces the vector bit-for-bit
    (unlike deterministic_embedding's xxhash64, which is JVM-only).
    The hermetic stand-in where a value-exact oracle must replay the
    vectors; a real model plugs in via embedding.embed_with_client."""
    t = F.col(text) if isinstance(text, str) else text
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.conv(
            F.substring(F.md5(F.concat(t, F.lit(f":{salt}:"), i.cast("string"))), 1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(2147483648.0)
        - F.lit(1.0),
    )


def chunk_units(text, segment_tokens: int | None = None) -> "F.Column":
    """The ONE definition of a document's chunkable units: sentence
    array by default, fixed N-token segments when ``segment_tokens``
    is set. semantic_chunks builds its units from this expression;
    anything that joins back to its (doc, sent_idx) keys must reuse it,
    or chunk text silently corrupts when two copies of the segmentation
    drift apart."""
    t = F.col(text) if isinstance(text, str) else text
    if segment_tokens:
        toks = F.split(t, r"\s+")
        n_seg = F.ceil(F.size(toks) / F.lit(segment_tokens)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(
                F.slice(toks, i * segment_tokens + 1, segment_tokens), " "
            ),
        )
    return split_sentences(t)


def semantic_chunks(
    df: DataFrame,
    threshold: float = 0.2,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_tokens: int | None = None,
) -> DataFrame:
    """Embedding-drift semantic chunking (the RAG chunker that cuts
    where MEANING shifts rather than every K sentences): split to
    sentences, embed each, start a new chunk wherever the cosine to
    the previous sentence drops below ``threshold``.

    Plan shape: sentences explode ONCE; the embedding is built from
    the exploded sentence row (never referenced above its explode);
    one per-doc window provides lag + running boundary count — the
    sessionization "islands" shape, so one shuffle on doc_id total.
    With the portable md5 embedding every cosine is bit-identical
    across engines (6-dp rounded before the threshold compare).

    ``segment_tokens`` switches the unit from sentences to fixed
    N-token segments — the fallback for corpora without sentence
    punctuation (where everything would be one "sentence" and drift
    detection has nothing to compare)."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity

    parts = chunk_units(text_col, segment_tokens)
    ex = (
        df.select(F.col(id_col), parts.alias("_sents"))
        .filter(F.size("_sents") > 0)
        .select(
            id_col, F.posexplode("_sents").alias("sent_idx", "_sent")
        )
    )
    emb = portable_embedding(F.col("_sent"), dim=dim)
    w = Window.partitionBy(id_col).orderBy("sent_idx")
    scored = ex.withColumn("_e", emb).withColumn(
        "cos_prev",
        F.round(cosine_similarity(F.col("_e"), F.lag("_e").over(w)), 6),
    )
    flag = F.when(
        F.col("cos_prev").isNull() | (F.col("cos_prev") < threshold), 1
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return scored.select(
        id_col,
        "sent_idx",
        (F.sum(flag).over(run) - 1).alias("chunk_id"),
        "cos_prev",
    )


def content_defined_chunks(
    df: DataFrame,
    window: int = 16,
    avg_size: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS boundary trick, public
    since Muthitacharoen et al. SOSP 2001): cut a document AFTER
    position i whenever the rolling ``window``-char context ending at
    i hashes under a threshold chosen so chunks average ~``avg_size``
    chars. Because boundaries depend only on LOCAL content, inserting
    or deleting bytes early in a document re-syncs within one window —
    every later chunk keeps its identity — where fixed-offset chunking
    shifts every subsequent chunk (the property storage dedup and
    shift-robust corpus dedup need; pinned by test).

    Determinism contract: the boundary predicate is a string compare
    on the first 3 hex chars of md5(window) against a threshold
    (probability t/4096 per position, t = round(4096/avg_size)) — the
    repo's md5-bucket idiom, replayable verbatim in any SQL engine.

    Plan shape: boundaries, cut pairs and chunk coordinates are
    doc-bounded array HOFs in ONE projection; a single explode emits
    (lo, hi) pairs and the chunk text/digest derive per-row AFTER the
    explode (no array re-reference above its Generate). Corpus-linear;
    nothing global.

    Returns (id_col, chunk_idx, start, chunk_len, digest) — start is
    1-based, digest = md5 of the chunk text."""
    if window < 1 or avg_size < 2:
        raise ValueError("window >= 1 and avg_size >= 2 required")
    t = F.col(text_col)
    thr = format(max(1, round(4096 / avg_size)), "03x")
    n = F.length(t)
    # candidate boundary END positions: window .. len-1 (a cut at len
    # is implicit); sequence(a, b) with b < a is DESCENDING in Spark,
    # never empty — short docs must yield an explicitly empty array
    cand = F.when(
        n - 1 >= window, F.sequence(F.lit(window), n - 1)
    ).otherwise(F.array().cast("array<int>"))
    bounds = F.filter(
        cand,
        lambda i: F.substring(
            F.md5(t.substr(i - (window - 1), F.lit(window))), 1, 3
        )
        < F.lit(thr),
    )
    cuts = F.concat(F.array(F.lit(0)), bounds, F.array(n))
    # bind `cuts` ONCE as a lambda var (single-element transform trick,
    # see CLAUDE.md): the two slice() references would otherwise inline
    # the whole md5 boundary scan twice per row — HOFs run interpreted
    # (no codegen, no subexpression elimination), so the duplication is
    # a measured ~2x on the hot path
    pairs = F.element_at(
        F.transform(
            F.array(cuts),
            lambda c: F.zip_with(
                F.slice(c, 1, F.size(c) - 1),
                F.slice(c, 2, F.size(c) - 1),
                lambda lo, hi: F.struct(lo.alias("lo"), hi.alias("hi")),
            ),
        ),
        1,
    )
    rows = df.filter(n > 0).select(
        F.col(id_col).alias("_id"),
        t.alias("_t"),
        F.posexplode(pairs).alias("chunk_idx", "p"),
    )
    chunk = F.col("_t").substr(F.col("p.lo") + 1, F.col("p.hi") - F.col("p.lo"))
    return rows.select(
        F.col("_id").alias(id_col),
        F.col("chunk_idx").cast("int"),
        (F.col("p.lo") + 1).cast("int").alias("start"),
        (F.col("p.hi") - F.col("p.lo")).cast("int").alias("chunk_len"),
        F.md5(chunk).alias("digest"),
    )


def incremental_cdc_report(
    new: DataFrame,
    corpus_digests: DataFrame,
    window: int = 16,
    avg_size: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Daily-ingest chunk-level dedup accounting: chunk the NEW batch
    with :func:`content_defined_chunks` and report, per document, how
    much of it the single-instance store already holds — the
    shift-robust twin of ``dedup.incremental_exact_dedup`` (a document
    edited anywhere still re-syncs to mostly-known chunks, where a
    whole-doc digest would see 100% new).

    The corpus participates ONLY as its persisted chunk-digest table
    (the incremental_minhash/IVF artifact contract): one left join of
    the batch's chunks against the distinct 32-char digests; cost per
    ingest is O(|new chunks| + |corpus digests|), nothing re-reads or
    re-pairs the corpus. ``dup_fraction`` is 1e-6 floor-quantized from
    exact integer char counts (no float-sum dice).

    Returns (id_col, n_chunks, n_known, known_chars, total_chars,
    dup_fraction)."""
    chunks = content_defined_chunks(
        new, window=window, avg_size=avg_size,
        id_col=id_col, text_col=text_col,
    )
    known = (
        corpus_digests.select(F.col("digest"))
        .distinct()
        .withColumn("_known", F.lit(1))
    )
    j = chunks.join(known, "digest", "left")
    per_doc = j.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("_known").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_known"),
        F.sum(
            F.when(F.col("_known").isNotNull(), F.col("chunk_len")).otherwise(0)
        )
        .cast("long")
        .alias("known_chars"),
        F.sum("chunk_len").cast("long").alias("total_chars"),
    )
    frac = F.floor(
        F.col("known_chars") * 1000000 / F.col("total_chars")
    ) / 1e6
    return per_doc.withColumn(
        "dup_fraction",
        F.when(F.col("total_chars") > 0, frac).otherwise(F.lit(0.0)),
    )
