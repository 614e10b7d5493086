from __future__ import annotations

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_to_vectordb_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    # fresh warehouse per session: the in-memory catalog forgets tables
    # across sessions but their files would persist and collide
    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-tests-")
    spark = get_spark(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()
    shutil.rmtree(warehouse)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, name):
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        from pdf_to_vectordb_etl_spark.schemas import normalize_event_times

        df = normalize_event_times(df, "ts")
    return df
