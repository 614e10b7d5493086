"""End-to-end extract pipeline: page corpus -> question records -> stats.

Composes the operator layer into the reference's flagship lifecycle
(SURVEY §3.1 ``process_file`` / §3.2 ``process_folder``): preprocess
pages, number questions, segment, parse alternatives, join the answer
key, bucket subjects. Unlike the reference — which collapses questions
into per-subject strings and re-splits them later (reference
enem_pdf_extractor.py:479-501 -> qdrant_text_loader.py:66-76) — the
question-grain DataFrame flows end-to-end; the TXT concat is a *view*
of it (SURVEY §7 guiding decision 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.textops import make_question_id, txt_record
from ..operators import aggregates, joins, parse


def extract_questions(
    pages: DataFrame,
    with_images: bool = False,
    keep_malformed: bool = False,
    compat_sentinel: bool = False,
) -> DataFrame:
    """Page-grain corpus (PV + GB docs) -> question-grain DataFrame
    (one row per question: ``ID``, year, day, subject, number, text,
    alternatives and the answer-key ``correct_answer``).

    Mirrors the reference's 4 handler variants (reference
    enem_pdf_extractor.py:396-938) as flags instead of code branches
    (SURVEY §2.9 N2): ``with_images`` keeps image pages' questions;
    ``keep_malformed`` keeps F5's sentinel questions; ``compat_sentinel``
    reproduces the literal miss-sentinel string instead of NULL.
    """
    pv = pages.filter(F.col("kind") == "PV")
    answer_key = joins.parse_answer_key(pages)

    numbered = parse.number_pages(parse.preprocess_pages(pv))
    if not with_images:
        numbered = parse.drop_image_pages(numbered)  # F2: after W1, never before

    questions = parse.parse_alternatives(parse.segment_questions(numbered))
    if not keep_malformed:
        questions = questions.filter(F.col("parse_ok"))  # F5

    day, internal = F.col("day"), F.col("internal_num")
    questions = (
        questions.withColumn("question_num", parse.printed_number(day, internal))
        .withColumn("subject", parse.subject_case_expr(day, internal))
        .withColumn(
            "ID", make_question_id(F.col("year"), day, F.col("question_num"))
        )
    )
    return joins.lookup_answers(questions, answer_key, compat_sentinel=compat_sentinel)


def questions_with_txt(questions: DataFrame, compat_sentinel: bool = True) -> DataFrame:
    """Attach the X13 TXT serialization column (reference :47,:463)."""
    ans = F.col("correct_answer")
    if compat_sentinel:
        ans = F.coalesce(ans, F.lit(joins.ANSWER_MISS_SENTINEL))
    return questions.withColumn(
        "txt", txt_record(F.col("year"), F.col("question_text"), ans)
    )


def extraction_report(questions: DataFrame) -> DataFrame:
    """Per-(year, subject) counts — the pipeline's stats surface
    (reference qdrant_text_loader.py:301-319)."""
    return aggregates.question_counts(questions).orderBy("year", "subject")
