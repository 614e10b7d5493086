"""Sinks (SURVEY §2.10 O1-O8).

The reference writes per-(year,subject) TXT/JSON files, upserts vectors
into Qdrant one batched call per subject, and read-modify-writes single
cells of a pivoted stats CSV. Spark-first equivalents:

- O1/O2: ``partitionBy("year","subject")`` text/json writers — one job,
  all groups in parallel, partition pruning for free on re-read.
- O5/O6: an *engine-native* vector store = a parquet ``embeddings``
  table (append/overwrite, idempotent via deterministic IDs) plus a
  ``foreachPartition`` hook for external vector DBs — one client and
  one batched upsert per partition, never per row (the reference's
  granularity: qdrant_text_loader.py:202-214).
- O7: recompute the full pivot and overwrite — Spark has no in-place
  CSV cell update, and full-overwrite of a tiny stats table is the
  correct semantics at any scale.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, Row, functions as F

from .operators.aggregates import stats_pivot
from .schemas import EMBEDDING_SCHEMA


def write_subject_txt(questions_txt: DataFrame, path: str, text_col: str = "txt") -> None:
    """O1 — per-(year,subject) TXT trees. Input must already carry the
    templated ``txt`` column (functions.textops.txt_record); rows land
    under ``year=YYYY/subject=S/`` in document order per file."""
    (
        questions_txt.select("year", "subject", F.col(text_col).alias("value"))
        .repartition("year", "subject")
        .sortWithinPartitions("year", "subject")
        .write.partitionBy("year", "subject")
        .mode("overwrite")
        .text(path)
    )


def write_subject_json(questions: DataFrame, path: str, pretty: bool = False) -> None:
    """O2 — per-(year,subject) JSON trees of full question records.
    Absent-vs-null branch variants (SURVEY §2.9 N2) collapse to one
    schema with ``ignoreNullFields`` so a missing ``page_images`` and a
    null one serialize identically.

    ``pretty=True`` reproduces the reference's byte form instead
    (enem_pdf_extractor.py:533-547): one ``{year}_{day}_/{year}_
    {subject}_questions.json`` file per group holding a single JSON
    array with ``indent=4, ensure_ascii=False`` and the reference's key
    order, records in question order — diffable byte-for-byte against
    the committed goldens. Files are written executor-side per group
    (same pattern as the O4 image sink); at cluster scale ``path`` must
    be shared storage."""
    if not pretty:
        (
            questions.repartition("year", "subject")
            .write.partitionBy("year", "subject")
            .mode("overwrite")
            .option("ignoreNullFields", "true")
            .json(path)
        )
        return

    sel = questions.select(
        "question_text", "correct_answer", "alternatives",
        "ID", "year", "day", "question_num", "subject",
    )

    def write_group(pdf):
        import json
        import os

        import pandas as pd

        pdf = pdf.sort_values("question_num")
        year = int(pdf["year"].iloc[0])
        day, subj = str(pdf["day"].iloc[0]), str(pdf["subject"].iloc[0])
        recs = [
            {
                "question_text": str(r.question_text),
                "correct_answer": None
                if r.correct_answer is None
                else str(r.correct_answer),
                "alternatives": [str(a) for a in r.alternatives],
                "ID": str(r.ID),
                "year": int(r.year),
                "day": str(r.day),
                "question_num": int(r.question_num),
            }
            for r in pdf.itertuples()
        ]
        out_dir = os.path.join(path, f"{year}_{day}_")
        os.makedirs(out_dir, exist_ok=True)
        with open(
            os.path.join(out_dir, f"{year}_{subj}_questions.json"),
            "w",
            encoding="utf-8",
        ) as f:
            json.dump(recs, f, indent=4, ensure_ascii=False)
        return pd.DataFrame(
            {"year": [year], "subject": [subj], "n_written": [len(recs)]}
        )

    (
        sel.groupBy("year", "subject")
        .applyInPandas(write_group, "year int, subject string, n_written long")
        .collect()  # tiny (one row per group) — triggers the writes
    )


def write_stats_csv(stats_long: DataFrame, path: str) -> None:
    """O7 — pivoted stats CSV (one file: the table is ~2 rows/year)."""
    (
        stats_pivot(stats_long)
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )


def write_embeddings_table(
    points: DataFrame, path: str, mode: str = "append"
) -> None:
    """O5/O6 engine-native — the vector collection as a parquet table.

    Deterministic IDs make append idempotent-ish (re-runs rewrite the
    same IDs; readers dedup on id) — compare the reference's count-
    continuation IDs which silently collide under concurrent writers
    (SURVEY §7 guiding decision 2).

    ``points`` must have the ``EMBEDDING_SCHEMA`` shape that
    ``embedding.vector_points`` builds (nullability aside), else
    ValueError: the reader pins that schema, so a point written without
    one of its fields would read back as NULL instead of failing.
    """
    # simpleString leaves nullability out
    if points.schema.simpleString() != EMBEDDING_SCHEMA.simpleString():
        raise ValueError(
            f"vector points must be {EMBEDDING_SCHEMA.simpleString()}, "
            f"got {points.schema.simpleString()}"
        )
    points.write.mode(mode).parquet(path)


def read_embeddings_table(spark, path: str) -> DataFrame:
    """Collection read path; dedup on id keeps re-appended points single.

    Reads with the pinned ``EMBEDDING_SCHEMA``, so building the frame
    runs no schema-inference job; the id window is its one exchange. A
    missing ``path`` raises; a directory without data files reads as an
    empty collection."""
    from pyspark.sql import Window

    df = spark.read.schema(EMBEDDING_SCHEMA).parquet(path)
    w = Window.partitionBy("id").orderBy(F.lit(1))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def upsert_foreach_partition(
    points: DataFrame,
    make_client: Callable[[], object],
    upsert: Callable[[object, list[Row]], None],
    batch_size: int = 512,
) -> None:
    """O5 external form — ship partitions to any vector DB.

    One client per partition (connection reuse), one ``upsert`` call per
    ``batch_size`` rows (the reference batches per subject:
    qdrant_text_loader.py:202-212; per-partition batching is the
    executor-parallel generalization). The client factory runs on the
    executor — pass a picklable closure, not a live connection.
    """

    def _write(rows: Iterator[Row]) -> None:
        client = make_client()
        batch: list[Row] = []
        for r in rows:
            batch.append(r)
            if len(batch) >= batch_size:
                upsert(client, batch)
                batch = []
        if batch:
            upsert(client, batch)

    points.foreachPartition(_write)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: tuple[str, ...],
    n_buckets: int = 32,
    sort: bool = True,
) -> None:
    """Bucketed managed table: rows hash-clustered (and optionally
    sorted) by ``keys`` at write time, so later equi-joins and group-bys
    on those keys read co-located data and skip the shuffle entirely
    (verified by the no-Exchange plan test). The 100 TB pattern: bucket
    the embeddings/documents tables on their join ids once, reuse the
    clustering across every downstream query."""
    w = df.write.bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.mode("overwrite").format("parquet").saveAsTable(table)


def console_progress(stats_long: DataFrame) -> str:
    """O8 — the reference's per-subject tried/inserted console report
    (qdrant_text_loader.py:187,:220-224), as a deterministic string the
    golden tests can pin."""
    rows = stats_long.orderBy("year", "kind", "subject").collect()
    lines = [f"{r['year']} {r['subject']} {r['kind']}: {r['n']}" for r in rows]
    return "\n".join(lines)


def write_sharded_with_manifest(
    df,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "epoch0",
    n_tokens_col: str | None = None,
):
    """Training-export sink: write the corpus as hive-partitioned shards
    (``shard=K/``) in the deterministic md5 order, plus a single-file
    ``_manifest`` the training job consumes — one row per shard with
    row count, token count, and an order-INSENSITIVE content checksum
    (xor of row hashes — layout changes don't change it, any row change
    does).

    The manifest is the contract between curation and training: a
    loader schedules shards by token count and verifies checksums
    before touching the data. Everything is one job over the curated
    frame + one tiny aggregate; the manifest is coalesced to one file
    because it is KB-sized metadata, not data.

    ``n_tokens_col`` names a precomputed per-doc token-count column
    (tokenizer tokens — what a training loader schedules on); default
    counts whitespace tokens from ``text_col``.
    """
    from pyspark.sql import functions as F

    from .operators.curation import shard_shuffle

    sharded = shard_shuffle(df, n_shards=n_shards, id_col=id_col, salt=salt)
    (
        sharded.repartition("shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    tok = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col
        else F.size(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda t: F.length(t) > 0,
            )
        )
    )
    manifest = (
        sharded.groupBy("shard")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(tok).alias("n_tokens"),
            # bit_xor aggregate: order-insensitive, partial-combinable
            # (never materializes per-shard hash lists), any changed
            # row flips it
            F.expr(f"bit_xor(xxhash64({id_col}, {text_col}))").alias("checksum"),
        )
        .orderBy("shard")
    )
    manifest.coalesce(1).write.mode("overwrite").json(f"{path}/_manifest")
    return manifest
