"""Join operators (SURVEY §2.3 J1-J4).

The reference does nested-loop pairing and per-question regex lookups
(reference pdf_to_qdrant_etl.py:44-73; enem_pdf_extractor.py:190-227);
here both become declarative joins — the answer key parses ONCE into a
tiny DataFrame that Spark broadcast-hash-joins against the billion-row
question side, which is the shape that scales to 100 TB (the key side is
O(exams), always broadcastable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.textops import scrub_long_lines
from ..schemas import SUBJECT_RANGES
from .skew import with_salt

ANSWER_MISS_SENTINEL = "não achou a questão"  # reference enem_pdf_extractor.py:210,:227


def pair_tests_with_keys(files: DataFrame) -> tuple[DataFrame, DataFrame]:
    """J1 — pair each test (PV) doc with its answer-key (GB) doc by
    (year, day, color) (reference pdf_to_qdrant_etl.py:44-73).

    ``files`` is doc-grain with kind/day/color columns. Returns
    (pairs, orphans): ``pairs`` has test_doc_id + key_doc_id; ``orphans``
    is the left-anti remainder — non-empty orphans means the reference's
    all-or-nothing contract fails (reference :70-71).
    """
    tests = files.filter(F.col("kind") == "PV").select(
        F.col("doc_id").alias("test_doc_id"), "year", "day", "color"
    )
    keys = files.filter(F.col("kind") == "GB").select(
        F.col("doc_id").alias("key_doc_id"), "year", "day", "color"
    )
    pairs = tests.join(F.broadcast(keys), ["year", "day", "color"], "inner")
    orphans = tests.join(F.broadcast(keys), ["year", "day", "color"], "left_anti")
    return pairs, orphans


def parse_answer_key(gb_pages: DataFrame, text_col: str = "page_text") -> DataFrame:
    """J2 broadcast side — GB page-0 text -> (year, day, color,
    question_num, answer) rows.

    Reproduces the reference's scrub-then-positional-lookup as
    parse-once: X17 blanks lines of >=4 chars (reference :963-964),
    leaving alternating number / letter lines; each ``num\\n…letter``
    adjacency becomes one row. The reference instead re-scans this text
    with ``\\b{num}\\b`` + char-offset per question (reference
    :196-226) — same (num, letter) relation.
    """
    scrubbed = scrub_long_lines(F.col(text_col))
    pairs = F.regexp_extract_all(scrubbed, F.lit(r"(?m)^(\d{1,3})\s*\n+\s*([A-E])$"), 0)
    return (
        gb_pages.filter(F.col("kind") == "GB")
        .filter(F.col("page_index") == 0)  # reference reads key page 0 only (:960)
        .select(
            "year",
            "day",
            "color",
            F.explode(pairs).alias("pair"),
        )
        .withColumn(
            "question_num", F.regexp_extract("pair", r"(\d{1,3})", 1).cast("int")
        )
        .withColumn("answer", F.regexp_extract("pair", r"([A-E])\s*$", 1))
        .drop("pair")
    )


def lookup_answers(
    questions: DataFrame, answer_key: DataFrame, compat_sentinel: bool = False
) -> DataFrame:
    """J2 + J4 — attach ``correct_answer`` by broadcast left join on the
    *printed* question number (J4's shared-slot remap is already folded
    into printed numbering: D1 internal>5 minus 5, D2 plus 90; reference
    :192-193,:213).

    Missing key slot -> NULL, or the reference's literal sentinel string
    when ``compat_sentinel`` (reference :210,:227 — SURVEY §7 models it
    as NULL + compat coalesce).
    """
    key = answer_key.select(
        "year", "day", "color", "question_num", F.col("answer").alias("correct_answer")
    )
    out = questions.join(
        F.broadcast(key), ["year", "day", "color", "question_num"], "left"
    )
    if compat_sentinel:
        out = out.withColumn(
            "correct_answer", F.coalesce("correct_answer", F.lit(ANSWER_MISS_SENTINEL))
        )
    return out


def subject_dim(spark) -> DataFrame:
    """J3 dim table — 6 closed internal-number ranges (reference :408,:559)."""
    return spark.createDataFrame(
        SUBJECT_RANGES, "day string, subject string, lo int, hi int"
    )


def bucket_subjects_range_join(questions: DataFrame, dim: DataFrame) -> DataFrame:
    """J3 (range-join form) — broadcast inner range join against the
    6-row subject dim; equivalent to the CASE form in
    ``parse.subject_case_expr`` (tests pin the equivalence)."""
    q = questions
    d = F.broadcast(dim.withColumnRenamed("day", "d_day"))
    return q.join(
        d,
        (q["day"] == d["d_day"])
        & (q["internal_num"] >= d["lo"])
        & (q["internal_num"] <= d["hi"]),
        "inner",
    ).drop("d_day", "lo", "hi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    direction: str = "backward",
    tolerance=None,
    right_prefix: str = "r_",
) -> DataFrame:
    """As-of join: attach to each left row the nearest right row at or
    before (``backward``) / at or after (``forward``) its ``on`` time,
    per ``by`` key — left-outer semantics (no match => nulls).

    Beyond-reference capability (time-series enrichment; the reference
    has no temporal joins). Spark lacks a native as-of join, so this is
    the merge-based composition: union both sides with a probe marker,
    one window sorted by (time, marker) per key carries the last
    non-null right payload forward, then keep probe rows. Exactly ONE
    shuffle (the window partitioning) and no candidate-pair blowup —
    unlike the naive range-join + groupBy-min formulation, whose
    intermediate is O(|L| * avg matches) and collapses at scale. Ties
    (right.ts == left.ts) match, as in pandas.merge_asof and DuckDB
    ASOF JOIN.

    Scale notes: a hot ``by`` key serializes its partition's sort —
    acceptable for typical key cardinality; an empty ``by`` makes the
    window global (single task) and is only for small inputs.
    ``tolerance`` bounds the match age and requires a numeric time
    column (e.g. epoch nanos), as subtraction must yield a comparable.
    """
    from pyspark.sql import Window

    by = list(by or [])
    payload_cols = [c for c in right.columns if c not in by]
    r_struct = F.struct(*[F.col(c).alias(c) for c in payload_cols])
    r_type = right.select(r_struct.alias("_r")).schema["_r"].dataType
    r = right.select(
        *by,
        F.col(on).alias("_t"),
        F.lit(0).alias("_probe"),
        r_struct.alias("_r"),
    )
    l = left.select(
        *left.columns,
        F.col(on).alias("_t"),
        F.lit(1).alias("_probe"),
        F.lit(None).cast(r_type).alias("_r"),
    )
    u = l.unionByName(r, allowMissingColumns=True)

    if direction == "backward":
        order = [F.col("_t").asc(), F.col("_probe").asc()]
    elif direction == "forward":
        order = [F.col("_t").desc(), F.col("_probe").asc()]
    else:
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = u.withColumn("_m", F.last("_r", ignorenulls=True).over(w)).filter(
        F.col("_probe") == 1
    )
    if tolerance is not None:
        gap = (
            F.col("_t") - F.col("_m")[on]
            if direction == "backward"
            else F.col("_m")[on] - F.col("_t")
        )
        out = out.withColumn("_m", F.when(gap <= F.lit(tolerance), F.col("_m")))
    for c in payload_cols:
        out = out.withColumn(right_prefix + c, F.col("_m")[c])
    return out.drop("_t", "_probe", "_r", "_m")


def record_linkage(
    left: DataFrame,
    right: DataFrame,
    blocking_cols: list[str],
    fields: list[tuple],
    id_col: str = "id",
    threshold: float = 0.0,
) -> DataFrame:
    """Probabilistic record linkage, Fellegi–Sunter style (Fellegi &
    Sunter 1969, public): candidate pairs come from an equi-join on
    ``blocking_cols`` (the fan-out bound — never all-pairs), each
    field comparator contributes log(m/u) on agreement and
    log((1−m)/(1−u)) on disagreement (m = P(agree | match),
    u = P(agree | non-match)), and pairs scoring ≥ ``threshold`` link.

    ``fields`` entries are (label, agree_fn, m, u) where ``agree_fn``
    maps (left_col_name -> right_col_name) suffixed columns to a
    BOOLEAN Column — e.g. a levenshtein band, an absolute-difference
    tolerance, or plain equality. Log-weights are computed driver-side
    in Python and enter the plan as double literals, so an external
    oracle replays the exact same numbers (no libm drift inside the
    engines). One blocked equi-join + a codegen projection; weights
    are literals, the only shuffle is the block join. Returns
    (id_l, id_r, score, per-field agreement booleans)."""
    import math

    l = left.select(
        *[F.col(c).alias(f"{c}_l") for c in left.columns]
    )
    r = right.select(
        *[F.col(c).alias(f"{c}_r") for c in right.columns]
    )
    cond = None
    for c in blocking_cols:
        e = F.col(f"{c}_l") == F.col(f"{c}_r")
        cond = e if cond is None else (cond & e)
    j = l.join(r, cond)
    score = F.lit(0.0)
    agree_cols = []
    for label, agree_fn, m, u in fields:
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"field {label}: need 0 < u < m < 1, got m={m} u={u}"
            )
        a = agree_fn(j)
        w_agree = round(math.log(m / u), 6)
        w_dis = round(math.log((1.0 - m) / (1.0 - u)), 6)
        score = score + F.when(a, F.lit(w_agree)).otherwise(F.lit(w_dis))
        agree_cols.append(a.alias(f"agree_{label}"))
    return (
        j.select(
            F.col(f"{id_col}_l").alias("id_l"),
            F.col(f"{id_col}_r").alias("id_r"),
            F.round(score, 4).alias("score"),
            *agree_cols,
        )
        .filter(F.col("score") >= threshold)
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-defeating equi-join: when a handful of hot keys would pile
    one shuffle partition to death (the skew_key_report signal), salt
    the BIG side with a deterministic content-derived value in
    [0, n_salts) and replicate the SMALL side once per salt, so every
    hot key's rows spread across ``n_salts`` reducers. Result set is
    IDENTICAL to the plain join — only the physical distribution
    changes — so any SQL engine replays it as the unsalted join.

    The salt is ``xxhash64(all big columns) % n_salts``
    (:func:`skew.with_salt`) — no RNG, so
    task retries and re-runs salt identically (the repo's md5/xxhash
    determinism contract). Rows that are full duplicates share a
    salt; if your skew IS duplicate rows, aggregate first.

    Spark's AQE skew-join handles sort-merge skew at runtime; this
    operator covers what AQE cannot — broadcast-ineligible dimension
    joins feeding stateful/streaming stages, or co-grouped work after
    the join that inherits the partitioning.

    Only ``inner`` and ``left`` are supported: a right/full join
    against the replicated small side would duplicate unmatched
    small-side rows n_salts times."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    b = with_salt(big, on[0], n_salts)
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return b.join(s, on + ["_salt"], how).drop("_salt")
