"""Corpus text-cleaning operators: PII detection/masking and
boilerplate line removal — the two scrub passes a crawl-derived
training corpus runs between dedup and tokenization (RefinedWeb /
C4-class pipelines, Penedo et al. 2023, Raffel et al. 2020 — public).

Engine-portability contract: every pattern is RE2-safe (no backrefs,
no lookaround) and anchors only at \\n (inputs with \\r\\n must be
canonicalized upstream — the CRLF convention), so each count and each
masked string is exactly replayable in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: PII detector patterns, applied in this order (masking is sequential,
#: so earlier masks can consume text later patterns would match — the
#: order is part of the contract). Deliberately high-precision shapes:
#: a curation scrub wants few false positives on code/math corpora.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("phone", r"\+\d{1,3}[ -]?\(?\d{1,4}\)?(?:[ -]?\d{2,4}){2,3}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b"),
)


def _canon(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.coalesce(c, F.lit("")), "\r\n?", "\n")


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask: str = "<PII:{kind}>",
) -> DataFrame:
    """Mask every PII match and count what was masked: returns the
    input columns with ``text_col`` REPLACED by the scrubbed text plus
    one ``n_<kind>`` counter per pattern and ``n_pii`` total.

    One narrow projection — a regexp_count per pattern on the raw text
    (counts reflect the ORIGINAL document) and a sequential
    regexp_replace chain for the masking; no UDFs, no explode, fully
    codegen'd, so the scrub runs at scan throughput. NULL text counts
    as empty (the engine-wide convention)."""
    t = _canon(F.col(text_col))
    counters = {
        f"n_{kind}": F.regexp_count(t, F.lit(pat)).cast("long")
        for kind, pat in PII_PATTERNS
    }
    scrubbed = t
    for kind, pat in PII_PATTERNS:
        scrubbed = F.regexp_replace(
            scrubbed, pat, mask.format(kind=kind)
        )
    total = None
    for c in counters.values():
        total = c if total is None else total + c
    keep = [c for c in df.columns if c != text_col]
    return df.select(
        *keep,
        scrubbed.alias(text_col),
        *[v.alias(k) for k, v in counters.items()],
        total.alias("n_pii"),
    )


def pii_report(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group PII telemetry — the audit table reviewed before a
    scrub ships: per ``by`` group, document count, documents containing
    any PII, and total matches per kind. One hash agg over the
    pii_scrub projection."""
    s = pii_scrub(df, text_col=text_col, id_col=id_col)
    aggs = [
        F.sum(f"n_{kind}").cast("long").alias(f"n_{kind}")
        for kind, _ in PII_PATTERNS
    ]
    return s.groupBy(by).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_pii") > 0).cast("int")).cast("long").alias(
            "n_docs_with_pii"
        ),
        *aggs,
    )


def frequent_lines(
    df: DataFrame,
    min_docs: int = 3,
    min_chars: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boilerplate line inventory: trimmed lines of at least
    ``min_chars`` chars that occur in at least ``min_docs`` DISTINCT
    documents — cookie banners, nav bars, license footers. Returns
    (line, n_docs), the persisted artifact
    :func:`strip_boilerplate_lines` consumes.

    Shape: explode to (doc, line), distinct within doc (a doc repeating
    its own footer counts once), one hash agg on the line value. At
    100 TB the hot shuffle carries (8-byte doc id, line) pairs only for
    lines that pass the length floor."""
    line = F.explode(F.split(_canon(F.col(text_col)), "\n")).alias("l")
    return (
        df.select(F.col(id_col).alias("id"), line)
        .select("id", F.trim("l").alias("line"))
        .filter(F.length("line") >= min_chars)
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate_lines(
    df: DataFrame,
    boilerplate: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove every line present in the ``boilerplate`` inventory
    (:func:`frequent_lines` output) and re-assemble each document in
    original line order. Returns the input columns with ``text_col``
    replaced (docs whose every line was boilerplate come back as '')
    plus ``n_lines_dropped``.

    Plan: posexplode lines → left-anti-style join against the
    inventory (matched on the TRIMMED line value; small inventories
    broadcast under AQE) → one groupBy per doc re-assembling with
    array_sort over (pos, line) structs — the chunking re-assembly
    pattern, one shuffle end to end. Comparison is on trimmed values
    but surviving lines keep their original bytes."""
    keep = [c for c in df.columns if c != text_col]
    ex = df.select(
        *keep,
        F.posexplode_outer(F.split(_canon(F.col(text_col)), "\n")).alias(
            "_pos", "_line"
        ),
    )
    marked = ex.join(
        boilerplate.select(
            F.trim("line").alias("_bp"), F.lit(True).alias("_drop")
        ),
        F.trim(ex["_line"]) == F.col("_bp"),
        "left",
    )
    surv = F.when(F.col("_drop").isNull(), F.struct("_pos", "_line"))
    return (
        marked.groupBy(*keep)
        .agg(
            F.array_sort(
                F.collect_list(surv)
            ).alias("_kept"),
            F.sum(F.coalesce(F.col("_drop").cast("int"), F.lit(0)))
            .cast("long")
            .alias("n_lines_dropped"),
        )
        .select(
            *keep,
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["_line"]), "\n"
            ).alias(text_col),
            "n_lines_dropped",
        )
    )
