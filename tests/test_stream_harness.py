"""The stream-twin harness: drain_to_memory returns the batch result and
cleans up its checkpoint; await_stream fails loudly on a hung query."""

from __future__ import annotations

import os
import tempfile

import pytest

from pdf_to_vectordb_etl_spark.streaming import pipeline


def test_drain_to_memory_equals_batch_and_removes_checkpoint(
    spark, tmp_path, monkeypatch
):
    df = spark.range(30).selectExpr("id % 3 AS k", "id")
    src = str(tmp_path / "src")
    df.repartition(2).write.parquet(src)  # 2 files -> 2 micro-batches
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    made = []

    class Recording(tempfile.TemporaryDirectory):
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            made.append(self.name)

    monkeypatch.setattr(tempfile, "TemporaryDirectory", Recording)

    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = pipeline.drain_to_memory(stream.groupBy("k").count(), "drain_test")
    want = sorted(tuple(r) for r in df.groupBy("k").count().collect())
    assert sorted(tuple(r) for r in got.collect()) == want
    # the checkpoint lived under the temp dir and is gone afterwards
    assert len(made) == 1 and made[0].startswith(str(scratch))
    assert os.listdir(scratch) == []
    # a repeat run under the same name replaces the table
    again = pipeline.drain_to_memory(stream, "drain_test", mode="append")
    assert again.count() == 30 and os.listdir(scratch) == []


def test_await_stream_stops_and_raises_on_timeout(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(pipeline, "STREAM_TIMEOUT_S", 1)
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("memory")
        .queryName("rate_timeout_test")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError, match="rate_timeout_test"):
            pipeline.await_stream(q)
        assert not q.isActive
    finally:
        q.stop()
