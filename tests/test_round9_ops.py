"""Round-9 pins — ADVICE fixes and the exact-int aggregate ports.

The r8 ADVICE items all concern inputs the current fixtures never
roll (NULL source keys, zero-pretoken docs below the word floor,
merge-exhausted BPE corpora, >2^53 revenue sums); these tests
construct those inputs directly so the fixes stay pinned.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import load


def test_token_budget_null_source_coalesces_to_empty(spark):
    """A NULL group key coalesces to '' BEFORE grouping and ordering
    (ADVICE r8): the greedy prefix window tie-breaks on the key, and
    NULL sorts NULLS FIRST in Spark but NULLS LAST in DuckDB — so a
    NULL key that ties on quality would shift every downstream
    allocation cross-engine."""
    from pdf_to_vectordb_etl_spark.operators.curation import (
        token_budget_cells,
        token_budget_from_cells,
    )

    rows = [
        (None, 100, 1), (None, 100, 1),   # quality 1.0 — ties 'a'
        ("a", 100, 1), ("a", 100, 1),     # quality 1.0
        ("b", 100, 0), ("b", 100, 0),     # quality 0.0
    ]
    df = spark.createDataFrame(rows, "source string, n int, good int")
    out = {
        r["source"]: r
        for r in token_budget_from_cells(
            token_budget_cells(
                df, pass_cond=F.col("good") == 1, tokens=F.col("n")
            ),
            budget=300,
        ).collect()
    }
    assert None not in out and "" in out
    # '' < 'a' in the tie-break: the NULL-born group fills first
    assert out[""]["alloc_tokens"] == 200
    assert out["a"]["alloc_tokens"] == 100
    assert out["b"]["alloc_tokens"] == 0


def test_bytebpe_export_min_words0_keeps_zero_pretoken_docs(spark):
    """min_words=0 is a public parameter: a doc whose text yields ZERO
    GPT-2 pre-tokens must stay on the accounting spine with n_tokens 0
    in the bytebpe branch too (ADVICE r8 — the unigram branch already
    kept it via explode_outer, the r6 lesson)."""
    from pdf_to_vectordb_etl_spark.plans.export import export_training_data

    rows = [(1, ""), (2, "alpha beta gamma"), (3, "delta epsilon"),
            (4, "zeta eta theta iota"), (5, "kappa one two")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    report, packed, _ = export_training_data(
        docs, tokenizer="bytebpe", n_merges=2, min_words=0, budget=16
    )
    rep = {(r.stage, r.split): r for r in report.collect()}
    splits = [s for (st, s) in rep if st == "split"]
    n_split = sum(rep[("split", s)].n_docs for s in splits)
    n_enc = sum(rep[("encoded", s)].n_docs for s in splits)
    assert n_split == n_enc == 5  # the empty doc is NOT dropped
    for s in splits:
        assert rep[("encoded", s)].n_tokens == rep[("packed", s)].n_tokens


def test_e4_to_2dp_exact_past_53_bits(spark):
    """The half-up now runs entirely in integer arithmetic (ADVICE
    r8): at sums past 2^53 the old add-50-in-decimal-divide-in-double
    form no longer commutes with the oracle's cast-then-add. Pin the
    exact quotient on a sum that doubles cannot represent."""
    import duckdb

    import __spark_entry__ as se

    # 2^53 + 49: half-up floor-div must yield (2^53 + 49 + 50) // 100
    big = 2**53 + 49
    want = (big + 50) // 100 / 100.0
    row = (
        spark.range(1)
        .select(F.lit(big).cast("decimal(38,0)").alias("s"))
        .select(se._e4_to_2dp(F.col("s")).alias("v"))
        .first()
    )
    assert row["v"] == want
    ora = duckdb.sql(
        "SELECT "
        + se._e4_to_2dp_sql(f"CAST({big} AS HUGEINT)")
        + " AS v"
    ).fetchone()[0]
    assert ora == want


def test_nn_descent_incremental_assign_planted_twin(spark):
    """Ingest maintenance (r9): a NEW vector that is an exact copy of
    a corpus vector must adopt that twin as its nearest neighbor at
    distance 0 via the beam probe over the EXISTING graph — and the
    assignment must be partitioning-independent (the property that
    makes the DuckDB replay meaningful)."""
    from pdf_to_vectordb_etl_spark.operators.topk import (
        nn_descent_graph,
        nn_descent_incremental_assign,
    )

    rows = [(i, [i * 0.1] * 4) for i in range(30)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [(100, [0.7] * 4), (101, [2.95] * 4)],
        "vec_id long, embedding array<double>",
    )
    g = nn_descent_graph(corpus, k=4, rounds=4)
    out = nn_descent_incremental_assign(g, corpus, new, k=3, hops=4, beam=4)
    edges = {(r["src"], r["dst"]): r["dist"] for r in out.collect()}
    # the planted twin of vec 7 is found at exact distance 0
    assert edges[(100, 7)] == 0
    assert min(d for (s, _), d in edges.items() if s == 100) == 0
    # per-new-vector adjacency is exactly k edges
    assert sum(1 for (s, _) in edges if s == 100) == 3
    assert sum(1 for (s, _) in edges if s == 101) == 3

    out2 = nn_descent_incremental_assign(
        g, corpus.repartition(7), new.repartition(3), k=3, hops=4, beam=4
    )
    assert sorted(map(tuple, out2.collect())) == sorted(
        (s, d, v) for (s, d), v in edges.items()
    )


def test_nn_descent_driver_fast_path_equals_distributed(spark, sf_dir, monkeypatch):
    """The bounded driver fast path (collected matrix + exact-int
    numpy/GEMM build) must produce the IDENTICAL edge set as the
    distributed join loop — same arithmetic, same (dist, dst) tie
    order (the cluster_pairs fast-path contract)."""
    from pdf_to_vectordb_etl_spark.operators.topk import nn_descent_graph

    emb = load(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 240)
    )
    fast = sorted(
        tuple(r) for r in nn_descent_graph(emb, k=5, rounds=3).collect()
    )
    with monkeypatch.context() as mp:
        mp.setenv("SPARK_GRAFT_PLACEMENT", "distributed")
        dist = sorted(
            tuple(r)
            for r in nn_descent_graph(emb, k=5, rounds=3).collect()
        )
    assert fast == dist and len(fast) > 0


def test_sq8_recall_bounds_and_exact_self(spark, sf_dir):
    """SQ8 recall is high (int8 reconstruction is near-lossless for
    cosine/L2 ranking) and the error metric is nonnegative; a corpus
    quantized with all-zero vectors degenerates cleanly."""
    from pdf_to_vectordb_etl_spark.operators.quantization import (
        sq8_recall_report,
    )

    emb = load(spark, sf_dir, "embeddings")
    row = sq8_recall_report(
        emb.filter(F.col("vec_id") >= 20),
        emb.filter(F.col("vec_id") < 20),
        k=10,
    ).first()
    assert row["n_queries"] == 20
    assert 0.5 <= row["recall_at_10_q6"] <= 1.0
    assert row["mean_abs_err_q6"] >= 0.0

    zeros = spark.createDataFrame(
        [(100 + i, [0.0] * 8) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    z = sq8_recall_report(zeros, zeros.limit(1), k=2).first()
    assert z["mean_abs_err_q6"] == 0.0
