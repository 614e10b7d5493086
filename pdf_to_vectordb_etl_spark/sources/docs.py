"""Unified multi-format document ingestion (beyond-reference).

A corpus at 100 TB arrives as a mix of parquet drops, JSONL crawl
exports, and CSV manifests — plus malformed lines. One reader contract:

  read_documents — parquet / orc / json(l) / csv / text into the documents
                   schema; JSON and CSV parse PERMISSIVE with a
                   quarantine column instead of failing the job on one
                   bad record (fail-fast is per-batch poison at scale)
  split_quarantine — (clean, quarantined) pair so bad records are
                   retained for inspection, never silently dropped
  align_to_schema — pad/prune any frame to the documents schema
                   (schema evolution: new files may add columns,
                   old files may miss them)

All reads stay file-source scans (splittable, pushdown-capable); no
collect, no Python row handling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

CORRUPT_COL = "_corrupt_record"

#: the engine's document contract (matches the synthetic corpus tables)
DOCUMENT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

_EXT_FORMAT = {
    ".parquet": "parquet",
    ".orc": "orc",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".csv": "csv",
    ".txt": "text",
}


def _infer_format(path: str) -> str:
    ext = os.path.splitext(path.rstrip("/"))[1].lower()
    fmt = _EXT_FORMAT.get(ext)
    if fmt is None:
        raise ValueError(
            f"cannot infer format from {path!r}; pass fmt= explicitly"
        )
    return fmt


def align_to_schema(df: DataFrame, schema: T.StructType = DOCUMENT_SCHEMA) -> DataFrame:
    """Evolve any frame onto the contract schema: missing columns become
    typed NULLs, extra columns are dropped, present columns are cast.
    Keeps the quarantine column if the frame carries one."""
    cols = []
    have = {f.name for f in df.schema.fields}
    for f in schema.fields:
        if f.name in have:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    if CORRUPT_COL in have:
        cols.append(F.col(CORRUPT_COL))
    return df.select(*cols)


def read_documents(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: T.StructType = DOCUMENT_SCHEMA,
) -> DataFrame:
    """Read one drop (file or directory) into the documents contract.

    json/csv: explicit schema + PERMISSIVE + quarantine column — a
    malformed record yields one quarantined row, not a dead job, and
    the explicit schema kills the double-read of schema inference.
    parquet: mergeSchema so evolved drops union cleanly. text: one doc
    per line, synthetic ids from the content hash."""
    fmt = fmt or _infer_format(path)
    if fmt == "parquet":
        df = spark.read.option("mergeSchema", "true").parquet(path)
    elif fmt == "orc":
        df = spark.read.option("mergeSchema", "true").orc(path)
    elif fmt in ("json", "csv"):
        with_corrupt = T.StructType(
            schema.fields + [T.StructField(CORRUPT_COL, T.StringType(), True)]
        )
        reader = (
            spark.read.schema(with_corrupt)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", CORRUPT_COL)
        )
        if fmt == "csv":
            df = reader.option("header", "true").csv(path)
        else:
            df = reader.json(path)
    elif fmt == "text":
        raw = spark.read.text(path)
        df = raw.select(
            F.xxhash64("value").alias("doc_id"),
            F.col("value").alias("text"),
            F.lit(None).cast("string").alias("lang"),
            F.lit(f"text:{os.path.basename(path)}").alias("source"),
            F.length("value").cast("long").alias("n_chars"),
        )
    else:
        raise ValueError(f"unsupported format {fmt!r}")
    return align_to_schema(df, schema)


def split_quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantined): quarantined rows keep the whole row —
    partially-parsed fields plus the raw bad record — for inspection;
    clean rows drop the quarantine column. (The bad side must reference
    more than the corrupt column: Spark disallows scans whose only
    referenced column is the internal corrupt record.)"""
    if CORRUPT_COL not in df.columns:
        return df, df.limit(0)
    # the always-true length term references a DATA column in a way the
    # optimizer can't fold away, so even `bad.count()` (which prunes
    # every projected column) still scans more than the corrupt column
    # — without it Spark rejects the plan outright, and the documented
    # cache() workaround is a non-starter on a 100 TB scan
    data_col = next(c for c in df.columns if c != CORRUPT_COL)
    anchored = F.length(F.coalesce(F.col(data_col).cast("string"), F.lit(""))) >= -1
    bad = df.filter(F.col(CORRUPT_COL).isNotNull() & anchored)
    good = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    return good, bad
