"""Full reference lifecycle e2e: corpus -> extract -> vector table ->
search (the Spark form of process_folder + dict_to_vectorDB +
QDvector_search, reference pdf_to_qdrant_etl.py:107-159)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark import sinks
from pdf_to_vectordb_etl_spark.operators import aggregates
from pdf_to_vectordb_etl_spark.plans import etl, load
from pdf_to_vectordb_etl_spark.sources import synthetic


def test_extract_load_search_roundtrip(spark, tmp_path):
    corpus = synthetic.corpus_df(spark, years=(2022,), days=("D1", "D2"))
    questions = etl.extract_questions(corpus)
    table = str(tmp_path / "collection")

    load.load_questions(questions, table, dim=32)
    load.load_questions(questions, table, dim=32)  # retry: must be idempotent

    stored = sinks.read_embeddings_table(spark, table)
    assert stored.count() == questions.count()

    # searching with a stored question's own text must return itself
    probe = questions.orderBy("ID").first()
    probe_txt_row = (
        load.questions_to_points(
            questions.filter(
                (F.col("ID") == probe["ID"]) & (F.col("subject") == probe["subject"])
            ),
            dim=32,
        )
        .select("id", "payload.page_content")
        .first()
    )
    hit = load.search_text(
        spark, table, probe_txt_row["page_content"], k=1, dim=32
    ).first()
    assert hit["id"] == probe_txt_row["id"]
    assert abs(hit["cosine_sim"] - 1.0) < 1e-6
    assert hit["materia"] == probe["subject"]

    # subject-scoped search only returns that subject (K2 + payload filter)
    hits = load.search_text(
        spark, table, "qualquer coisa", k=5, dim=32, subject="math"
    ).collect()
    assert len(hits) == 5 and all(h["materia"] == "math" for h in hits)


def test_tried_equals_inserted_accounting(spark, tmp_path):
    """A3 golden property: tried == inserted per (year, subject) when
    nothing fails (reference etl_test_result.md:5-23)."""
    corpus = synthetic.corpus_df(spark, years=(2022,), days=("D1",))
    questions = etl.extract_questions(corpus)
    table = str(tmp_path / "coll2")
    load.load_questions(questions, table, dim=16)

    tried = aggregates.question_counts(questions)
    inserted = (
        sinks.read_embeddings_table(spark, table)
        .groupBy(
            F.col("payload.metadata.ano").alias("year"),
            F.col("payload.metadata.materia").alias("subject"),
        )
        .agg(F.count("*").alias("n"))
    )
    stats = aggregates.extraction_stats(tried, inserted)
    pivot = aggregates.stats_pivot(stats).collect()
    by_kind = {r["kind"]: r for r in pivot}
    for s in ("eng", "lang", "spani", "huma"):
        assert by_kind["todas_questoes"][s] == by_kind["questoes_add"][s]


def test_registry_integrity():
    """Every queries() entry must have a DuckDB oracle twin or be one of
    the explicitly-known rows-only entries; every oracle key must name a
    query. Guards against silently shipping unoracled operators."""
    import __spark_entry__ as entry

    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert o <= q, f"orphan oracles: {o - q}"
    rows_only = q - o
    assert rows_only == set(), f"unexpected rows-only queries: {rows_only}"
    # pin the total so README/COVERAGE counts can't drift silently —
    # update BOTH the docs and this number when adding queries
    assert len(q) == 404, f"registry has {len(q)} queries; docs say 404"


def test_registry_rejects_bad_registrations(monkeypatch):
    """``@query`` raises on a duplicate key, on a name without the
    ``q_`` prefix and unless exactly one of ``oracle``/``oracle_of`` is
    given, and inserts nothing when it does; an ``oracle_of`` naming no
    oracled key makes ``oracle_sql()`` raise."""
    import __spark_entry__ as entry

    n = len(entry.queries())

    def q_s1_scan_pruned_projection(spark, sf):
        raise AssertionError("never registered")

    def scan_pruned_projection(spark, sf):
        raise AssertionError("never registered")

    with pytest.raises(ValueError, match="twice"):
        entry.query(oracle="SELECT 1")(q_s1_scan_pruned_projection)
    assert len(entry.queries()) == n
    with pytest.raises(ValueError, match="q_"):
        entry.query(oracle="SELECT 1")(scan_pruned_projection)
    assert len(entry.queries()) == n
    with pytest.raises(TypeError):
        entry.query()
    with pytest.raises(TypeError):
        entry.query(oracle="x", oracle_of="y")
    assert len(entry.queries()) == len(entry.oracle_sql()) == n

    # on copies of the registry, so the module's own stays at n keys
    for name in ("_QUERIES", "_ORACLES", "_ORACLE_OF"):
        monkeypatch.setattr(entry, name, dict(getattr(entry, name)))

    def q_registry_probe_alias(spark, sf):
        raise AssertionError("never run")

    entry.query(oracle_of="t7_stream_sessionize")(q_registry_probe_alias)
    with pytest.raises(KeyError, match="t7_stream_sessionize"):
        entry.oracle_sql()


@pytest.mark.parametrize(
    "key",
    [
        "o7_stats_csv_roundtrip",
        "t10_stream_cdc",
        "t13_stream_cusum",
        "t30_stream_bloom_dedup",
    ],
)
def test_query_removes_its_data_dir(spark, sf_dir, tmp_path, monkeypatch, key):
    """Queries that write a data dir materialise their result and
    remove the dir before they return; the rows outlive it."""
    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = entry.queries()[key](spark, sf_dir).collect()
    assert rows
    assert os.listdir(tmp_path) == []
