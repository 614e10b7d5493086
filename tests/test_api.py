"""Reference-shaped API facade tests: the switch-over surface
(extract_pdf / process_folder / file_to_vector_table / vector_search /
search_text) driven through real file scans with the synthetic decoder."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark import api, sinks
from pdf_to_vectordb_etl_spark.operators import aggregates, embedding
from pdf_to_vectordb_etl_spark.plans import etl, load
from pdf_to_vectordb_etl_spark.sources import synthetic


def _touch_corpus(tmp_path, names):
    d = tmp_path / "corpus"
    d.mkdir(parents=True, exist_ok=True)
    for n in names:
        (d / n).write_bytes(b"placeholder pdf bytes for " + n.encode())
    return str(d)


PAIR_2022_D1 = ["2022_PV_impresso_D1_CD1.pdf", "2022_GB_impresso_D1_CD1.pdf"]
PAIR_2022_D2 = ["2022_PV_impresso_D2_CD1.pdf", "2022_GB_impresso_D2_CD1.pdf"]


def test_extract_pdf_matches_synthetic_pipeline(spark, tmp_path):
    folder = _touch_corpus(tmp_path, PAIR_2022_D1)
    got = api.extract_pdf(
        spark,
        os.path.join(folder, PAIR_2022_D1[0]),
        os.path.join(folder, PAIR_2022_D1[1]),
        decoder=synthetic.synthetic_pdf_decoder,
    )
    want = etl.extract_questions(
        synthetic.corpus_df(spark, years=(2022,), days=("D1",))
    )
    g = {(r["ID"], r["subject"], r["correct_answer"]) for r in got.collect()}
    w = {(r["ID"], r["subject"], r["correct_answer"]) for r in want.collect()}
    assert g == w and len(g) > 50


def test_extract_pdf_txt_and_dict_modes(spark, tmp_path):
    folder = _touch_corpus(tmp_path, PAIR_2022_D1)
    test_p = os.path.join(folder, PAIR_2022_D1[0])
    key_p = os.path.join(folder, PAIR_2022_D1[1])

    out = str(tmp_path / "txt_out")
    assert (
        api.extract_pdf(
            spark, test_p, key_p, output_type="txt", extracted_data_path=out,
            decoder=synthetic.synthetic_pdf_decoder,
        )
        is None
    )
    trees = glob.glob(os.path.join(out, "year=2022", "subject=*"))
    assert len(trees) >= 3

    d = api.extract_pdf(
        spark, test_p, key_p, output_type="dict",
        decoder=synthetic.synthetic_pdf_decoder,
    )
    assert d["test_year"] == "2022"
    assert {"eng", "lang", "spani", "huma"} <= set(d)
    assert "(RESPOSTA CORRETA)" in d["lang"]

    with pytest.raises(ValueError):
        api.extract_pdf(spark, test_p, key_p, output_type="nope")


def test_process_folder_end_to_end_and_error_paths(spark, tmp_path):
    folder = _touch_corpus(tmp_path, PAIR_2022_D1 + PAIR_2022_D2)
    table = str(tmp_path / "collection")
    report = api.process_folder(
        spark, folder, table, dim=16, decoder=synthetic.synthetic_pdf_decoder
    )
    want = aggregates.question_counts(
        etl.extract_questions(
            synthetic.corpus_df(spark, years=(2022,), days=("D1", "D2"))
        )
    )
    got = {(r["year"], r["subject"]): r["n"] for r in report.collect()}
    exp = {(r["year"], r["subject"]): r["n"] for r in want.collect()}
    assert got == exp
    stored = sinks.read_embeddings_table(spark, table)
    assert stored.count() == sum(exp.values())

    # orphan test (PV without GB) -> all-or-nothing raises
    orphan_dir = _touch_corpus(
        tmp_path / "o", PAIR_2022_D1 + ["2022_PV_impresso_D2_CD1.pdf",
                                        "2023_GB_impresso_D2_CD2.pdf"]
    )
    with pytest.raises(ValueError, match="answer key"):
        api.process_folder(
            spark, orphan_dir, str(tmp_path / "c2"), dim=16,
            decoder=synthetic.synthetic_pdf_decoder,
        )

    # odd file count -> parity raises
    odd_dir = _touch_corpus(tmp_path / "p", PAIR_2022_D1 + ["2022_PV_impresso_D2_CD1.pdf"])
    with pytest.raises(ValueError, match="even count"):
        api.process_folder(
            spark, odd_dir, str(tmp_path / "c3"), dim=16,
            decoder=synthetic.synthetic_pdf_decoder,
        )


def test_file_to_vector_table_and_search(spark, tmp_path):
    # build a reference-named TXT from the synthetic pipeline's concat
    qs = etl.extract_questions(synthetic.corpus_df(spark, years=(2022,), days=("D1",)))
    content = aggregates.subject_concat(etl.questions_with_txt(qs))
    lang_txt = content.filter(F.col("subject") == "lang").first()["content"]
    txt_dir = tmp_path / "txts"
    txt_dir.mkdir()
    txt_path = str(txt_dir / "2022_lang_questions.txt")
    with open(txt_path, "w") as f:
        f.write(lang_txt)

    table = str(tmp_path / "coll")
    counts = api.file_to_vector_table(spark, txt_path, table, dim=16)
    n_lang = qs.filter(F.col("subject") == "lang").count()
    row = counts.first()
    assert (row["year"], row["subject"], row["n_chunks"]) == (2022, "lang", n_lang)

    stored = sinks.read_embeddings_table(spark, table)
    assert stored.count() == n_lang

    # searching with a stored vector returns that point at sim ~1,
    # carrying the stored payload like the reference's search hits
    probe = stored.orderBy("id").first()
    hit = api.vector_search(spark, table, list(probe["vector"]), k=1, dim=16).first()
    assert hit["id"] == probe["id"] and abs(hit["cosine_sim"] - 1.0) < 1e-6
    assert hit["page_content"] == probe["payload"]["page_content"]
    assert hit["materia"] == "lang" and hit["ano"] == 2022

    with pytest.raises(ValueError, match="dims"):
        api.vector_search(spark, table, [0.0] * 7, k=1, dim=16)


def _run_counting_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran), read from the status store."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_search_is_one_pass_and_matches_brute_force(spark, tmp_path):
    """Both search calls equal a numpy brute-force top-k over the stored
    points, on a collection holding appended duplicates, and each runs
    no Spark job to build and at most two to collect (one scan + the id
    dedup exchange, then the top-k)."""
    import numpy as np

    qs = etl.extract_questions(synthetic.corpus_df(spark, years=(2022,), days=("D1",)))
    table = str(tmp_path / "coll")
    load.load_questions(qs, table, dim=16)
    load.load_questions(qs, table, dim=16)  # a retried load appends duplicates

    stored = spark.read.parquet(table).select(
        "id", "vector", *[F.col(p).alias(n) for n, p in load.HIT_PAYLOAD.items()]
    ).collect()
    points = {r["id"]: r for r in stored}
    assert len(stored) == 2 * len(points)
    ids = np.array(list(points), np.int64)
    mat = np.array([points[i]["vector"] for i in ids.tolist()], np.float64)

    def reference(qv, k, subject=None):
        q = np.asarray(qv, np.float64)
        sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
        keep = np.array([subject in (None, points[i]["materia"]) for i in ids.tolist()])
        order = np.lexsort((ids[keep], -sims[keep]))[:k]
        return ids[keep][order].tolist(), sims[keep][order].tolist()

    qv = [float(x) for x in np.random.default_rng(7).standard_normal(16)]
    for k in (5, len(points) + 10):  # k past the collection: every id once
        df, built = _run_counting_jobs(
            spark, lambda: api.vector_search(spark, table, qv, k=k, dim=16)
        )
        rows, ran = _run_counting_jobs(spark, df.collect)
        assert built == 0 and ran <= 2, (built, ran)
        want_ids, want_sims = reference(qv, k)
        assert [r["id"] for r in rows] == want_ids
        assert max(abs(r["cosine_sim"] - s) for r, s in zip(rows, want_sims)) < 1e-9
        for r in rows:
            assert r.asDict() == {
                "id": r["id"], "cosine_sim": r["cosine_sim"],
                **{n: points[r["id"]][n] for n in load.HIT_PAYLOAD},
            }

    text = "funcao energia grafico"
    tv = spark.range(1).select(
        embedding.deterministic_embedding(F.lit(text), dim=16)
    ).first()[0]
    for subject in (None, "lang"):
        df, built = _run_counting_jobs(
            spark, lambda: load.search_text(spark, table, text, k=5, dim=16, subject=subject)
        )
        rows, ran = _run_counting_jobs(spark, df.collect)
        assert built == 0 and ran <= 2, (built, ran)
        got = [r["id"] for r in rows]
        assert len(got) == len(set(got)) == 5
        assert set(got) == set(reference(tv, 5, subject)[0])
        assert subject is None or {r["materia"] for r in rows} == {subject}


def test_collection_edge_cases(spark, tmp_path):
    from functools import partial

    from pyspark.errors import AnalysisException

    # a missing collection raises; a directory without data files is empty
    missing = str(tmp_path / "missing")
    with pytest.raises(AnalysisException):
        api.vector_search(spark, missing, [1.0] * 4, k=3, dim=4)
    with pytest.raises(AnalysisException):
        load.search_text(spark, missing, "x", k=3, dim=4)
    empty = tmp_path / "empty"
    empty.mkdir()
    assert api.vector_search(spark, str(empty), [1.0] * 4, k=3, dim=4).collect() == []
    assert load.search_text(spark, str(empty), "x", k=3, dim=4).collect() == []

    # the writer takes only the vector-point shape the reader pins
    flat = spark.createDataFrame(
        [(1, [0.5, 0.5], "text", "lang", 2022)],
        "id long, vector array<float>, page_content string, materia string, ano int",
    )
    with pytest.raises(ValueError, match="vector points must be"):
        sinks.write_embeddings_table(flat, str(tmp_path / "flat"))
    assert not (tmp_path / "flat").exists()

    # a collection embedded through a client UDF reads back whole
    qs = etl.extract_questions(synthetic.corpus_df(spark, years=(2022,), days=("D1",)))
    table = str(tmp_path / "client")
    load.load_questions(qs, table, dim=8, embed_fn=partial(embedding.fake_client_embed, dim=8))
    back = sinks.read_embeddings_table(spark, table)
    assert back.count() == qs.count()
    assert back.filter(F.size("vector") == 8).count() == qs.count()
