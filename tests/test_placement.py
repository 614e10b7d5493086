"""The one placement policy every driver fast path goes through
(``pdf_to_vectordb_etl_spark.placement.bounded_collect``)."""

from __future__ import annotations

import pytest

from pdf_to_vectordb_etl_spark.placement import bounded_collect, placement


def test_bounded_collect_caps_and_levels(spark, monkeypatch):
    df = spark.range(5)
    monkeypatch.delenv("SPARK_GRAFT_PLACEMENT", raising=False)
    assert placement() == "auto"
    assert [r["id"] for r in bounded_collect(df, 5)] == [0, 1, 2, 3, 4]
    assert bounded_collect(df, 4) is None
    pdf = bounded_collect(df, 5, "broadcast", as_pandas=True)
    assert list(pdf["id"]) == [0, 1, 2, 3, 4]

    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
    assert bounded_collect(df, 5) is None
    assert len(bounded_collect(df, 5, "broadcast")) == 5

    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", "cascade")
    assert bounded_collect(df, 5) is None
    assert bounded_collect(df, 5, "broadcast") is None


@pytest.mark.parametrize("bad", ["0", "false", "AUTO", ""])
def test_unknown_placement_raises(spark, monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_PLACEMENT", bad)
    with pytest.raises(ValueError, match="auto, distributed, cascade"):
        placement()
    with pytest.raises(ValueError, match="SPARK_GRAFT_PLACEMENT"):
        bounded_collect(spark.range(1), 10)
