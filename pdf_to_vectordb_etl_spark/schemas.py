"""Fixed StructTypes replacing the reference's ad-hoc dict shapes.

The reference builds row dicts whose schema varies by code branch
(reference enem_pdf_extractor.py:347-388). Here the two shapes that
cross a storage boundary are declared StructTypes with nullable fields
(SURVEY.md §1): the page-grain intermediate a page-file stream reads
and the vector point the collection stores. The other record shapes
(questions, answer keys, stats) are fixed by the plans that build them.
"""

from __future__ import annotations

from pyspark.sql import types as T

# §1.3 — page-grain intermediate (reference enem_pdf_extractor.py:232,:271).
PAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("path", T.StringType(), True),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("kind", T.StringType(), True),  # PV (test) | GB (answer key)
        T.StructField("day", T.StringType(), True),  # D1 | D2
        T.StructField("color", T.StringType(), True),  # CD1..CD9
        T.StructField("page_index", T.IntegerType(), False),
        T.StructField("page_text", T.StringType(), True),
        T.StructField("n_images", T.IntegerType(), True),
        T.StructField("image_names", T.ArrayType(T.StringType()), True),
    ]
)

# §1.5 — vector point, the shape ``embedding.vector_points`` writes and
# the pinned read schema of the collection (reference
# qdrant_text_loader.py:205-211).
EMBEDDING_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), True),
        T.StructField("vector", T.ArrayType(T.FloatType()), True),
        T.StructField(
            "payload",
            T.StructType(
                [
                    T.StructField("page_content", T.StringType(), True),
                    T.StructField(
                        "metadata",
                        T.StructType(
                            [
                                T.StructField("materia", T.StringType(), True),
                                T.StructField("ano", T.IntegerType(), True),
                            ]
                        ),
                        True,
                    ),
                ]
            ),
            True,
        ),
    ]
)

# Closed subject domain (reference qdrant_text_loader.py:30, validated :255-257).
SUBJECTS = ("eng", "lang", "spani", "natu", "math", "huma")

# §2.3 J3 — subject bucketing ranges over *internal* question numbers
# (reference enem_pdf_extractor.py:408 for D1, :559 for D2).
SUBJECT_RANGES = [
    # (day, subject, lo, hi) inclusive internal-number ranges
    ("D1", "eng", 1, 5),
    ("D1", "spani", 6, 10),
    ("D1", "lang", 11, 50),
    ("D1", "huma", 51, 95),
    ("D2", "natu", 1, 45),
    ("D2", "math", 46, 91),
]

EMBEDDING_DIM = 1536  # reference qdrant_text_loader.py:25


def normalize_event_times(df, col: str = "ts"):
    """Canonicalize an event-time column to BIGINT nanoseconds since the
    epoch, whatever the physical parquet type.

    The synthetic ``events`` table has shipped as TIMESTAMP(NANOS)
    (which Spark reads as long under ``parquet.nanosAsLong``) and as
    TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ); every
    operator downstream does integer time math, so both are folded to
    the same long-nanos form here. The NTZ branch uses ``timestampdiff``
    against a literal NTZ epoch — pure wall-clock arithmetic, no session
    timezone involved — so the values match DuckDB's ``epoch_ns(ts)``
    exactly. A narrow projection: safe on batch and streaming frames.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype is None or dtype == "bigint":
        return df
    if dtype == "timestamp_ntz":
        nanos = F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`)"
        ) * F.lit(1000)
    elif dtype == "timestamp":
        # already an instant: micros since epoch, timezone-free
        nanos = F.unix_micros(F.col(col)) * F.lit(1000)
    else:
        raise TypeError(f"cannot normalize event-time column {col!r} of type {dtype}")
    return df.withColumn(col, nanos.cast("long"))
