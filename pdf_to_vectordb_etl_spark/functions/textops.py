"""Page/question text expressions (SURVEY §2.2 F3/F4, §2.8 X6-X17).

All native Column expressions — they stay inside whole-stage codegen, so
the per-page preprocessing the reference does in Python loops
(reference enem_pdf_extractor.py:231-266) runs JVM-side and vectorized.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

DELIM = "QUESTÃO"
# barcode/QR tokens scrubbed from page text (reference enem_pdf_extractor.py:44-45)
_BARCODE_9 = r"\*\w{9}\*"
_BARCODE_10 = r"\*\w{10}\*"


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


def canonical_delim(text: Column | str) -> Column:
    """X6 — canonicalize ``Questão`` -> ``QUESTÃO`` (reference :237,:278)."""
    return F.regexp_replace(_c(text), "Questão", DELIM)


def strip_header(text: Column | str) -> Column:
    """F3 — slice from the first delimiter onward (reference :243,:284).

    ``instr`` = 0 when absent -> substring('', ...) yields the full text;
    callers filter question-less pages (F1) first, as the reference does.
    """
    t = _c(text)
    return F.substring(t, F.instr(t, DELIM), F.length(t))


def scrub_barcodes(text: Column | str) -> Column:
    """F4 — remove ``*XXXXXXXXX*`` / ``*XXXXXXXXXX*`` tokens (reference :44-45,:245-246)."""
    return F.regexp_replace(F.regexp_replace(_c(text), _BARCODE_9, ""), _BARCODE_10, "")


def page_question_count(text: Column | str) -> Column:
    """A1 — number of questions on a page = delimiter occurrences
    (reference :250-252,:291-292). Expects canonicalized text."""
    t = _c(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, DELIM)) - 1
    )


def scrub_long_lines(text: Column | str) -> Column:
    """X17/F7 — blank out answer-key lines of >=4 chars, keeping only the
    short number/letter lines (reference :963-964, ``^.{4,}$`` MULTILINE)."""
    return F.regexp_replace(_c(text), r"(?m)^.{4,}$", "")


def txt_record(year: Column, question_text: Column, answer: Column) -> Column:
    """X13 — the round-trippable TXT serialization (reference :47).

    ``(Enem/{year})  {text}\\n(RESPOSTA CORRETA): {answer}\\n\\n`` — the
    loader later re-splits on the literal ``(RESPOSTA CORRETA)`` key
    (reference qdrant_text_loader.py:28,:66-76).
    """
    return F.format_string(
        "(Enem/%s)  %s\n(RESPOSTA CORRETA): %s\n\n", year, question_text, answer
    )


def make_question_id(year: Column, day: Column, question_num: Column) -> Column:
    """X14 — ``{year}_{day}_N{num}`` (reference :354)."""
    return F.format_string("%s_%s_N%s", year, day, question_num)
