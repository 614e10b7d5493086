"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference document-ETL pipeline
(caue-paiva/PDF_to_vectorDB_ETL).

The reference is a single-threaded imperative Python pipeline:
PDF exam files -> page text -> question records -> subject buckets ->
TXT/JSON sinks -> embeddings -> vector store + kNN search + stats CSV.

This engine re-expresses every operator in that pipeline (SURVEY.md §2)
as declarative Spark DataFrame / SQL plans so Catalyst + Tungsten pick
the physical strategy, plus the large-scale training-data operators
(dedup, similarity search, text analysis, multimodal plumbing) the
reference's domain implies at 100 TB scale.

Layout:
    session       - tuned SparkSession builder
    placement     - bounded_collect: the one driver-fast-path decision
                    (SPARK_GRAFT_PLACEMENT = auto | distributed | cascade)
    schemas       - fixed StructTypes replacing the reference's ad-hoc dicts
    functions/    - scalar expression layer (SURVEY §2.8/2.9: X1-X18, N1-N4)
    operators/    - parse pipeline, joins, aggregates, top-k, dedup, text analysis
    sources/      - binaryFile PDF source, synthetic deterministic corpus
    sinks/        - partitioned TXT/JSON, stats CSV pivot, vector collection
    plans/        - end-to-end composed pipelines (the flagship ETL)
    streaming/    - file-arrival incremental ETL (Structured Streaming)
"""

__version__ = "0.1.0"
