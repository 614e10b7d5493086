"""Reference-shaped entry points — the switch-over surface.

A user of the reference drives it through four calls:

- ``EnemPDFextractor.extract_pdf(test_pdf, answers_pdf, output_type)``
  (reference enem_pdf_extractor.py:942-996)
- ``PdfToQdrantETL.process_file`` / ``process_folder``
  (reference pdf_to_qdrant_etl.py:75-159)
- ``QdrantTextLoader.file_to_vectorDB(txt_path, collection)``
  (reference qdrant_text_loader.py:144-240)
- ``QdrantTextLoader.QDvector_search(query_vector, collection, k)``
  (reference qdrant_text_loader.py:122-142)

This module exposes each as a function over the Spark engine with the
same inputs (paths, folder, query vector) and the same observable
outputs (TXT/JSON trees, a vector collection, top-k hits, stats).
Differences by design: results hand off as DataFrames instead of
concatenated strings (SURVEY §7 guiding decision 1 — the reference's
dict mode is kept as a compat helper), failure signalling raises
instead of returning ``False``, and every step is a distributed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import sinks
from .functions import filename as fn
from .operators import aggregates, chunking, embedding, joins
from .plans import etl, load
from .sources import pdf as pdfsource


def extract_pdf(
    spark: SparkSession,
    test_pdf_path: str,
    answers_pdf_path: str,
    output_type: str = "df",
    extracted_data_path: str | None = None,
    process_images: bool = False,
    decoder=None,
) -> DataFrame | dict | None:
    """One exam + its answer key -> question records (reference
    ``extract_pdf``, enem_pdf_extractor.py:942-996).

    ``output_type``: ``"df"`` returns the question-grain DataFrame (the
    native handoff); ``"txt"``/``"json"`` write the reference's
    per-(year, subject) file trees under ``extracted_data_path`` and
    return None; ``"dict"`` returns the reference's subject->text dict
    (driver-side collect — reference-scale compat only).
    """
    files = (
        spark.read.format("binaryFile")
        .load([test_pdf_path, answers_pdf_path])
        .select("path", "length", "content")
    )
    pages = pdfsource.pages_from_pdfs(
        files, decoder=decoder or pdfsource.real_pdf_decoder
    )
    questions = etl.extract_questions(pages, with_images=process_images)
    if output_type == "df":
        return questions
    if output_type == "txt":
        if extracted_data_path is None:
            raise ValueError("txt output needs extracted_data_path")
        sinks.write_subject_txt(etl.questions_with_txt(questions), extracted_data_path)
        return None
    if output_type == "json":
        if extracted_data_path is None:
            raise ValueError("json output needs extracted_data_path")
        sinks.write_subject_json(questions, extracted_data_path)
        return None
    if output_type == "dict":
        return subject_dict(questions)
    raise ValueError(f"unknown output_type {output_type!r}")


def subject_dict(questions: DataFrame) -> dict:
    """O3 compat — the reference's ``{subject: concatenated_txt,
    "test_year": str}`` handoff (enem_pdf_extractor.py:523-531).
    Collects per-subject strings to the driver; fine at exam scale,
    use the DataFrame handoff at corpus scale."""
    rows = (
        etl.questions_with_txt(questions)
        .groupBy("year", "subject")
        .agg(
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(F.struct("question_num", "txt"))
                ).getField("txt"),
            ).alias("content")
        )
        .collect()
    )
    out: dict = {r["subject"]: r["content"] for r in rows}
    if rows:
        out["test_year"] = str(rows[0]["year"])
    return out


def process_folder(
    spark: SparkSession,
    folder: str,
    collection_path: str,
    dim: int = 64,
    embed_fn=None,
    decoder=None,
) -> DataFrame:
    """Whole-corpus ETL (reference ``process_folder``,
    pdf_to_qdrant_etl.py:107-159): scan ``folder`` for ``*.pdf``, pair
    tests with answer keys (all-or-nothing), extract every exam's
    questions in one distributed plan, load them into the vector
    collection, and return the per-(year, subject) stats frame.

    Raises on the reference's error paths instead of returning False:
    odd/too-few PDF counts (A5) and unpaired tests (J1)."""
    files = pdfsource.with_filename_tokens(pdfsource.scan_pdf_folder(spark, folder))
    # both checks in one action: the parity row joined to the first orphan
    _, orphans = joins.pair_tests_with_keys(files)
    check = aggregates.folder_parity_check(files).crossJoin(
        orphans.agg(F.min("test_doc_id").alias("orphan"))
    ).first()
    if not (check["enough"] and check["even"]):
        raise ValueError(
            f"folder must hold an even count >= 2 of PDFs, got {check['n_pdfs']}"
        )
    if check["orphan"] is not None:
        raise ValueError(f"test without answer key: {check['orphan']}")

    pages = pdfsource.pages_from_pdfs(
        files, decoder=decoder or pdfsource.real_pdf_decoder
    )
    questions = etl.extract_questions(pages)
    load.load_questions(questions, collection_path, dim=dim, embed_fn=embed_fn)
    return etl.extraction_report(questions)


def file_to_vector_table(
    spark: SparkSession,
    txt_path: str,
    collection_path: str,
    dim: int = 64,
    embed_fn=None,
) -> DataFrame:
    """TXT file -> chunks -> embeddings -> collection (reference
    ``file_to_vectorDB``, qdrant_text_loader.py:144-240). Year/subject
    parse from the filename (X1/X2/X16); chunks re-split on the
    ``(RESPOSTA CORRETA)`` key (W4). Returns per-(year, subject) chunk
    counts (the reference's tried-counts surface)."""
    raw = spark.read.text(txt_path, wholetext=True)
    tail = fn.file_tail(F.input_file_name())
    content = raw.select(
        fn.year_of(tail).alias("year"),
        fn.subject_of(tail).alias("subject"),
        F.col("value").alias("content"),
    ).filter(F.length("content") > 0)
    chunks = chunking.split_chunks(content)
    txt = chunks.withColumn("txt", F.col("chunk"))
    if embed_fn is None:
        embedded = txt.withColumn(
            "vector", embedding.deterministic_embedding(F.col("txt"), dim=dim)
        )
    else:
        embedded = embedding.embed_with_client(
            txt, embed_fn, text_col="txt", out_col="vector", dim=dim
        )
    with_ids = embedding.assign_ids(
        embedded, natural_key=("year", "subject", "chunk_index"), mode="hash"
    )
    points = embedding.vector_points(
        with_ids, text_col="txt", subject_col="subject", year_col="year"
    )
    sinks.write_embeddings_table(points, collection_path)
    return chunking.chunk_counts(chunks)


def vector_search(
    spark: SparkSession,
    collection_path: str,
    query_vector: list[float],
    k: int = 1,
    dim: int = 64,
) -> DataFrame:
    """kNN read path on a raw query vector (reference
    ``QDvector_search``, qdrant_text_loader.py:122-142): K2 dimension
    guard then brute-force cosine top-k over the collection.

    Like the reference's search hits (qdrant_text_loader.py:137-142),
    each row carries the stored payload — ``page_content`` and the
    ``materia``/``ano`` metadata — not just (id, score). The payload
    rides through the top-k heap (``load.search_vector``): one scan,
    one dedup exchange, no join back onto the collection."""
    if len(query_vector) != dim:
        raise ValueError(f"query vector must have {dim} dims, got {len(query_vector)}")
    return load.search_vector(spark, collection_path, query_vector, k=k, dim=dim)
