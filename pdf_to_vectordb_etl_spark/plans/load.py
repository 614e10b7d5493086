"""Load lifecycle: questions -> vector table -> search (SURVEY §3.1
steps 3-4, reference ``QdrantTextLoader.dict_to_vectorDB``
qdrant_text_loader.py:242-324 and ``QDvector_search`` :122-142).

The reference collapses questions into per-subject strings, re-splits
them into chunks, embeds one chunk per HTTPS call, and upserts with
count-continuation IDs. Here the question-grain DataFrame flows
straight through: template -> embed (native deterministic or batched
client UDF) -> deterministic IDs -> payload shaping -> idempotent
parquet vector table -> brute-force cosine search over it. The chunk
re-split exists only as the golden-parity *view* (operators/
chunking.py), not as a lossy intermediate.

A search is one pass: a scan under the pinned point schema, the id
dedup exchange, and one TakeOrderedAndProject whose heap carries the
payload — two Spark jobs, none of them before the action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import sinks
from ..functions.textops import txt_record
from ..operators import embedding, topk


def questions_to_points(
    questions: DataFrame,
    dim: int = 64,
    embed_fn=None,
    id_mode: str = "hash",
) -> DataFrame:
    """Question records -> vector points (id, vector, payload).

    ``embed_fn=None`` uses the hermetic native embedder; pass a
    ``callable(list[str]) -> list[list[float]]`` (e.g. an OpenAI
    client) for real embeddings via the batched pandas UDF."""
    txt = questions.withColumn(
        "txt",
        txt_record(
            F.col("year").cast("string"),
            F.col("question_text"),
            F.coalesce(F.col("correct_answer"), F.lit("não achou a questão")),
        ),
    )
    if embed_fn is None:
        vec = embedding.deterministic_embedding(F.col("txt"), dim=dim)
        embedded = txt.withColumn("vector", vec)
    else:
        embedded = embedding.embed_with_client(
            txt, embed_fn, text_col="txt", out_col="vector", dim=dim
        )
    with_ids = embedding.assign_ids(embedded, natural_key=("ID", "subject"), mode=id_mode)
    return embedding.vector_points(
        with_ids, text_col="txt", subject_col="subject", year_col="year"
    )


def load_questions(
    questions: DataFrame, table_path: str, dim: int = 64, embed_fn=None
) -> None:
    """O5/O6 — materialize the vector collection (idempotent: hash IDs +
    dedup-on-read; a retried load rewrites identical rows)."""
    points = questions_to_points(questions, dim=dim, embed_fn=embed_fn)
    sinks.write_embeddings_table(points, table_path)


#: hit fields (the reference's search hits, qdrant_text_loader.py:
#: 137-142) -> their path in the stored point
HIT_PAYLOAD = {
    "page_content": "payload.page_content",
    "materia": "payload.metadata.materia",
    "ano": "payload.metadata.ano",
}


def search_vector(
    spark: SparkSession,
    table_path: str,
    query_vector: list[float],
    k: int = 1,
    dim: int = 64,
    subject: str | None = None,
) -> DataFrame:
    """kNN read path (K1/K2) on a query vector: scan the collection,
    drop vectors of the wrong dimensionality, return the top-k points
    by cosine as (id, cosine_sim, page_content, materia, ano) in
    (cosine desc, id) order. ``subject`` keeps only that ``materia``.
    The payload rides through the top-k heap, so no second scan or
    join fetches it."""
    corpus = sinks.read_embeddings_table(spark, table_path)
    if subject is not None:
        corpus = corpus.filter(F.col("payload.metadata.materia") == subject)
    corpus = topk.dim_guard(corpus, "vector", dim)  # K2
    payload = [F.col(path).alias(name) for name, path in HIT_PAYLOAD.items()]
    return topk.topk_cosine(corpus, query_vector, k=k, payload=payload)


def search_text(
    spark: SparkSession,
    table_path: str,
    query_text: str,
    k: int = 1,
    dim: int = 64,
    subject: str | None = None,
) -> DataFrame:
    """kNN read path on query text: embed it with the collection's
    embedder, then ``search_vector``. The query is embedded on a
    one-row pandas-built frame, a LocalRelation whose projection the
    optimizer folds to a constant, so it runs no Spark job."""
    import pandas as pd

    query = spark.createDataFrame(pd.DataFrame({"t": [query_text]}))
    qvec = query.select(
        embedding.deterministic_embedding(F.col("t"), dim=dim).alias("v")
    ).first()["v"]
    return search_vector(spark, table_path, list(qvec), k=k, dim=dim, subject=subject)
