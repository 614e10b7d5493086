"""Dedup / similarity / embedding operator tests (sf0.001 fixtures)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark.operators import dedup, embedding, topk
from tests.conftest import load


def test_exact_dedup_counts(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    groups = dedup.exact_duplicates(docs)
    total = groups.agg(F.sum("n_copies")).first()[0]
    assert total == docs.count()
    # injected duplicate: same text twice must share a digest group
    dup = docs.limit(1).union(docs.limit(1)).withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    g = dedup.exact_duplicates(dup)
    assert g.count() == 1 and g.first()["n_copies"] == 2


def test_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()
    }
    # verify step guarantees precision 1.0 relative to exact Jaccard
    assert approx <= exact
    # LSH with 8 bands x 4 rows at j>=0.5 collides w.p. >=0.93/pair;
    # the fixture's near-dups are j>=0.8 where collision is ~certain
    if exact:
        assert len(approx) / len(exact) >= 0.9


def test_incremental_exact_dedup_screens_corpus_and_batch(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "  Alpha   beta GAMMA "),  # normalizes to a corpus dup
            (11, "eta theta iota"),          # fresh
            (12, "eta  THETA iota"),         # intra-batch dup of 11
            (13, "kappa lambda mu"),         # fresh
        ],
        "doc_id int, text string",
    )
    kept = dedup.incremental_exact_dedup(new, dedup.content_digests(corpus))
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 13]


def test_incremental_minhash_pairs_cross_side_only(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(1, base), (2, "unrelated corpus text about spark shuffles and plans here")],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [
            (10, base + " tonight"),  # near-dup of corpus doc 1
            (11, base + " forever"),  # near-dup of corpus 1 AND new 10
            (12, "totally fresh content nothing shared with anything else at all"),
        ],
        "doc_id int, text string",
    )
    pairs = dedup.incremental_minhash_pairs(new, corpus, threshold=0.5)
    got = {(r["new_id"], r["corpus_id"]) for r in pairs.collect()}
    # cross-side near-dups surface; the new×new pair (10, 11) must NOT
    assert got == {(10, 1), (11, 1)}
    assert pairs.filter(F.col("jaccard") > 1.0).count() == 0


def test_simhash_identical_texts_collide(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different content about spark plans and shuffles")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = dedup.simhash_signatures(df).collect()
    by_id = {r["id"]: r["simhash"] for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]


def test_cluster_pairs_connected_components(spark):
    # chain 1-2-3, pair 10-11, singleton edge-less 99 (absent from pairs)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_id"] for r in dedup.cluster_pairs(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_drop_near_duplicates_keeps_canonical(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    kept = dedup.drop_near_duplicates(docs, pairs)
    n_pairs = pairs.count()
    assert n_pairs > 0
    # every cluster loses size-1 rows; survivors contain all cluster minima
    clusters = dedup.cluster_pairs(pairs)
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).count()
    assert kept.count() == docs.count() - losers
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    for r in clusters.collect():
        assert (r["id"] in kept_ids) == (r["id"] == r["cluster_id"])


def test_blas_embedding_pairs_match_hof(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    hof = {
        (r["id_a"], r["id_b"]): round(r["cosine_sim"], 6)
        for r in dedup.embedding_near_duplicates(emb, threshold=0.45).collect()
    }
    blas = {
        (r["id_a"], r["id_b"]): round(r["cosine_sim"], 6)
        for r in dedup.embedding_near_duplicates_blas(emb, threshold=0.45).collect()
    }
    assert hof == blas and len(blas) > 0


def test_blocked_embedding_pairs_match_blas(spark, sf_dir):
    """The executor-side block-matmul path must reproduce the blas
    (driver-broadcast) answer exactly — it is the same kernel sharded."""
    emb = load(spark, sf_dir, "embeddings")
    blas = {
        (r["id_a"], r["id_b"]): round(r["cosine_sim"], 6)
        for r in dedup.embedding_near_duplicates_blas(emb, threshold=0.45).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): round(r["cosine_sim"], 6)
        for r in dedup.embedding_near_duplicates_blocked(
            emb, threshold=0.45, n_blocks=5
        ).collect()
    }
    assert blas == blocked and len(blocked) > 0


def test_blas_guard_trips_before_driver_materialization(spark, sf_dir):
    """The row-count guard must raise BEFORE toPandas() pulls the
    corpus onto the driver."""
    import pytest

    emb = load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        dedup.embedding_near_duplicates_blas(emb, max_broadcast_rows=3)


def test_ivf_and_lsh_topk_recall(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    exact = topk.topk_cosine_join(
        corpus, queries, k=5, corpus_vec="embedding", corpus_id="vec_id"
    )
    exact_pairs = {(r["qid"], r["vec_id"]) for r in exact.collect()}
    ivf = topk.topk_cosine_ivf(
        corpus,
        queries,
        k=5,
        n_lists=8,
        n_probe=4,
        corpus_vec="embedding",
        corpus_id="vec_id",
    )
    ivf_pairs = {(r["qid"], r["vec_id"]) for r in ivf.collect()}
    # approximate: each query still returns k rows; recall need not be 1
    assert len(ivf_pairs) == len(exact_pairs)
    assert len(ivf_pairs & exact_pairs) / len(exact_pairs) >= 0.3


def test_topk_single_query_matches_join_form(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    corpus = emb.filter(F.col("vec_id") > 0)
    single = topk.topk_cosine(corpus, list(qvec), k=5, vec_col="embedding", id_col="vec_id")
    got = [r["vec_id"] for r in single.collect()]
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("vector")
    )
    joined = topk.topk_cosine_join(corpus, q, k=5, corpus_vec="embedding", corpus_id="vec_id")
    want = [r["vec_id"] for r in joined.orderBy("rank").collect()]
    assert got == want


def test_deterministic_embedding_properties(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(50)
    e = docs.select(
        "doc_id", embedding.deterministic_embedding(F.col("text"), dim=16).alias("v")
    )
    rows = e.collect()
    assert all(len(r["v"]) == 16 for r in rows)
    norms = [sum(x * x for x in r["v"]) for r in rows]
    assert all(abs(n - 1.0) < 1e-3 for n in norms)
    again = {r["doc_id"]: r["v"] for r in e.collect()}
    assert all(again[r["doc_id"]] == r["v"] for r in rows)  # deterministic


def test_pandas_udf_embedder_batches(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").limit(40).withColumnRenamed("text", "chunk")
    out = embedding.embed_with_client(
        docs, lambda ts: embedding.fake_client_embed(ts, dim=8), dim=8, batch_size=16
    )
    rows = out.select("doc_id", "vector").collect()
    assert all(len(r["vector"]) == 8 for r in rows)
    # same text -> same vector (client determinism through the UDF)
    one = embedding.fake_client_embed([rows[0]["vector"] and docs.first()["chunk"]], dim=8)[0]
    assert [round(x, 5) for x in rows[0]["vector"]] == [round(x, 5) for x in one]


def test_openai_embed_fn_wraps_client_and_gates_sdk(monkeypatch):
    """U3: the factory drives an OpenAI-style client (model and key
    passed through, one vector per text in order) and raises a clear
    error when the SDK is absent. No Spark, no network."""
    import sys
    import types

    import pytest

    calls = []

    class FakeOpenAI:
        def __init__(self, api_key=None):
            self.embeddings = self
            self.api_key = api_key

        def create(self, model, input):
            calls.append((self.api_key, model, list(input)))
            vecs = embedding.fake_client_embed(input, dim=4)
            return types.SimpleNamespace(
                data=[types.SimpleNamespace(embedding=v) for v in vecs]
            )

    monkeypatch.setitem(sys.modules, "openai", types.SimpleNamespace(OpenAI=FakeOpenAI))
    embed = embedding.openai_embed_fn(model="m-1", api_key="k")
    assert embed(["a", "b"]) == embedding.fake_client_embed(["a", "b"], dim=4)
    assert calls == [("k", "m-1", ["a", "b"])]

    monkeypatch.setitem(sys.modules, "openai", None)  # import raises
    with pytest.raises(NotImplementedError, match="fake_client_embed"):
        embedding.openai_embed_fn()


def test_assign_ids_modes(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("ID"), F.lit("math").alias("materia"),
        F.lit(1).alias("chunk_index"),
    ).limit(20)
    hashed = embedding.assign_ids(docs, natural_key="ID", mode="hash")
    assert hashed.select("id").distinct().count() == 20
    seq = embedding.assign_ids(docs, mode="sequential", offset=167,
                               order_cols=("ID",))
    ids = sorted(r["id"] for r in seq.collect())
    assert ids == list(range(167, 187))  # reference count-continuation (W3)


def test_forward_fill_carries_last_non_null(spark):
    from pdf_to_vectordb_etl_spark.operators import aggregates

    rows = [
        # key a: null before first obs stays null; gaps carry forward
        ("a", 1, None), ("a", 2, 10.0), ("a", 3, None), ("a", 4, None),
        ("a", 5, 20.0), ("a", 6, None),
        # key b: independent state
        ("b", 1, 5.0), ("b", 2, None),
    ]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = aggregates.forward_fill(df, "v", by="k", order_cols=["t"], out_col="vf")
    got = {(r["k"], r["t"]): r["vf"] for r in out.collect()}
    assert got == {
        ("a", 1): None, ("a", 2): 10.0, ("a", 3): 10.0, ("a", 4): 10.0,
        ("a", 5): 20.0, ("a", 6): 20.0, ("b", 1): 5.0, ("b", 2): 5.0,
    }


def test_latest_per_key_matches_window_form(spark, sf_dir):
    from pyspark.sql import Window

    from pdf_to_vectordb_etl_spark.operators import aggregates

    ev = load(spark, sf_dir, "events").withColumn("tus", F.expr("ts div 1000"))
    compact = aggregates.latest_per_key(
        ev, key="user_id", order_col="tus", payload_cols=["event_type", "value"]
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("tus"))
    windowed = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "value", "tus")
    )
    assert sorted(compact.collect()) == sorted(windowed.collect())
    # compaction is one aggregation (no Window), partially combined
    # map-side so the shuffle carries one row per (partition, key)
    plan = compact._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert plan.count("Aggregate") >= 2  # partial + final phases


def test_snapshot_diff_classifies_and_handles_nulls(spark):
    from pdf_to_vectordb_etl_spark.operators import cdc

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0), (3, "c", None), (4, "d", 4.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, None, 2.0), (3, "c", 3.0), (4, "d2", 4.0), (5, "e", 5.0)],
        "k int, s string, v double",
    )
    got = {r["k"]: r["change_type"] for r in cdc.snapshot_diff(old, new, ["k"]).collect()}
    # 2 is unchanged (NULL field compares equal null-safely) -> dropped
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}
    kept = cdc.snapshot_diff(old, new, ["k"], keep_unchanged=True)
    assert {r["k"]: r["change_type"] for r in kept.collect()}[2] == "unchanged"


def test_tfidf_cosine_identical_and_disjoint(spark):
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha  beta gamma delta"),  # same after whitespace collapse
        (3, "epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in dedup.tfidf_cosine_pairs(df, threshold=0.5, max_df_ratio=1.0).collect()
    }
    assert got == {(1, 2): 1.0}  # identical pair only; disjoint never meets


def test_kmeans_recovers_separated_clusters(spark):
    """Three well-separated point clouds: 2 Lloyd rounds must land one
    centroid per cloud."""
    import random

    from pdf_to_vectordb_etl_spark.operators import clustering

    rng = random.Random(7)
    rows = []
    anchors = {0: [10.0, 0.0, 0.0], 1: [0.0, 10.0, 0.0], 2: [0.0, 0.0, 10.0]}
    for i in range(90):
        a = anchors[i % 3]
        rows.append((i, [x + rng.uniform(-0.5, 0.5) for x in a]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    model = clustering.kmeans_fit(df, k=3, n_iters=2)
    got = model.collect()
    assert len(got) == 3
    assert sum(r["n_members"] for r in got) == 90
    # each centroid is dominated by exactly one anchor axis
    dominant = sorted(max(range(3), key=lambda d: r["centroid"][d]) for r in got)
    assert dominant == [0, 1, 2]


def test_kmeans_fewer_points_than_k(spark):
    from pdf_to_vectordb_etl_spark.operators import clustering

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    model = clustering.kmeans_fit(df, k=5, n_iters=1)
    assert model.count() <= 2  # degenerate k: clusters drop, no crash


def test_zorder_bit_interleave_exact(spark):
    """spread/interleave must match the hand-computed Morton pattern."""
    from pdf_to_vectordb_etl_spark.operators.zorder import spread_bits16

    df = spark.createDataFrame([(5, 3)], "x long, y long")
    r = df.select(
        spread_bits16(F.col("x")).alias("sx"),
        spread_bits16(F.col("y")).alias("sy"),
    ).first()
    assert r["sx"] == 0b10001  # 0b101 spread to even bits
    assert r["sy"] == 0b101  # 0b11 spread to even bits
    # z(5,3) = sx | (sy << 1) = 0b10001 | 0b1010 = 0b11011 = 27


def test_cdc_apply_changes_merge_semantics(spark):
    from pdf_to_vectordb_etl_spark.operators import cdc

    snapshot = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)],
        "k long, name string, v double",
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 1.5, "upsert", 10),   # update key 1
            (2, None, 0.0, "delete", 11),   # delete key 2
            (4, "d", 4.0, "upsert", 12),    # insert key 4
            (5, "e", 5.0, "upsert", 13),    # insert then...
            (5, None, 0.0, "delete", 14),   # ...delete key 5 (later op wins)
            (3, None, 0.0, "delete", 15),   # delete then...
            (3, "c2", 3.5, "upsert", 16),   # ...re-insert key 3
        ],
        "k long, name string, v double, op string, ord long",
    )
    got = {
        r["k"]: (r["name"], r["v"])
        for r in cdc.apply_changes(snapshot, changes, ["k"], "ord").collect()
    }
    assert got == {1: ("a2", 1.5), 3: ("c2", 3.5), 4: ("d", 4.0)}


def test_cdc_apply_changes_empty_batch_is_identity(spark):
    from pdf_to_vectordb_etl_spark.operators import cdc

    snapshot = spark.createDataFrame([(1, "a", 1.0)], "k long, name string, v double")
    empty = spark.createDataFrame([], "k long, name string, v double, op string, ord long")
    got = cdc.apply_changes(snapshot, empty, ["k"], "ord").collect()
    assert [(r["k"], r["name"], r["v"]) for r in got] == [(1, "a", 1.0)]


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    from pdf_to_vectordb_etl_spark.operators import quantization as pq

    emb = load(spark, sf_dir, "embeddings")
    books = pq.pq_train(emb, m=4, k=8, n_iters=1, dim=64)
    assert books.count() <= 4 * 8
    codes = pq.pq_encode(emb, books)
    rows = codes.collect()
    assert len(rows) == emb.count()
    assert all(len(r["codes"]) == 4 for r in rows)
    # deterministic: re-encoding yields identical codes
    again = {r["vec_id"]: r["codes"] for r in pq.pq_encode(emb, books).collect()}
    assert all(again[r["vec_id"]] == r["codes"] for r in rows)


def test_pq_error_shrinks_with_k(spark, sf_dir):
    from pdf_to_vectordb_etl_spark.operators import quantization as pq

    emb = load(spark, sf_dir, "embeddings").limit(200)
    def total_err(k):
        books = pq.pq_train(emb, m=4, k=k, n_iters=1, dim=64)
        rep = pq.pq_reconstruction_report(emb, books)
        return sum(r["avg_sq_err"] for r in rep.collect())

    assert total_err(16) < total_err(2)  # richer codebook -> lower error


def test_pq_adc_topk_recall_vs_brute_force(spark, sf_dir):
    """ADC over 4x16 codes must place most of the true cosine top-10 in
    its top-20 — the compressed shortlist is a valid pre-ranker."""
    from pdf_to_vectordb_etl_spark.operators import quantization as pq
    from pdf_to_vectordb_etl_spark.operators import topk

    emb = load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    books = pq.pq_train(emb, m=8, k=16, n_iters=1, dim=64)
    codes = pq.pq_encode(emb, books)
    # the production contract: ADC builds a SHORTLIST (here 20% of the
    # corpus), exact reranking of the shortlist recovers the true top-k
    approx = {r["vec_id"] for r in pq.pq_topk(codes, books, list(query), k=100).collect()}

    exact = {
        r["id"]
        for r in topk.topk_cosine(
            emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vector")),
            list(query), k=10,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"shortlist recall@10-in-100 too low: {recall}"


def test_ivfpq_scores_equal_explicit_reconstruction(spark, sf_dir):
    """The ADC score must equal cos(q, c_list + decoded residual)
    computed explicitly in NumPy — the lookup-table algebra is exact,
    not an approximation of the reconstruction. (End-to-end recall on
    the SYNTHETIC corpus is data-limited: the coarse quantizer absorbs
    the label-cluster structure, leaving near-random residuals that no
    code budget compresses — real embedding corpora keep more residual
    structure. The pinned contract is therefore exactness of the
    algebra + a sanity recall floor.)"""
    import numpy as np

    from pdf_to_vectordb_etl_spark.operators import quantization as pq
    from pdf_to_vectordb_etl_spark.operators import topk

    emb = load(spark, sf_dir, "embeddings")
    query = np.array(
        emb.filter(F.col("vec_id") == 0).select("embedding").first()[0], dtype=float
    )
    cents, books, coded = pq.ivfpq_build(emb, n_lists=8, m=8, k=16, dim=64)
    assert coded.count() == emb.count()  # every vector coded exactly once

    got = {
        r["vec_id"]: r["approx_cos"]
        for r in pq.ivfpq_topk(
            cents, books, coded, list(query), k=emb.count(), n_probe=8
        ).collect()
    }
    cmap = {r["list_id"]: np.array(r["centroid"]) for r in cents.collect()}
    bmap = {
        (r["subspace"], r["cluster_id"]): np.array(r["centroid"])
        for r in books.collect()
    }
    sample = coded.filter(F.col("vec_id") < 16).collect()
    for r in sample:
        xhat = cmap[r["list_id"]] + np.concatenate(
            [bmap[(j, c)] for j, c in enumerate(r["codes"])]
        )
        want = float(xhat @ query / (np.linalg.norm(xhat) * np.linalg.norm(query)))
        assert abs(got[r["vec_id"]] - want) < 1e-4, r["vec_id"]

    # sanity floor on end-to-end shortlist recall at full probe
    short = {
        r["vec_id"]
        for r in pq.ivfpq_topk(cents, books, coded, list(query), k=100, n_probe=8).collect()
    }
    exact = {
        r["id"]
        for r in topk.topk_cosine(
            emb.filter(F.col("vec_id") > 0).select(
                F.col("vec_id").alias("id"), F.col("embedding").alias("vector")
            ),
            list(query), k=10,
        ).collect()
    }
    assert len(exact & short) / len(exact) >= 0.4


def test_scd2_intervals_tile_and_collapse(spark):
    from pdf_to_vectordb_etl_spark.operators import cdc

    changes = spark.createDataFrame(
        [
            (1, 10, "a"), (1, 20, "a"),  # no-op update: collapses
            (1, 30, "b"), (1, 40, "a"),  # back to a: NEW interval
            (2, 15, "x"),
        ],
        "k long, v long, s string",
    )
    out = cdc.scd2_intervals(changes, ["k"], "v", ["s"])
    rows = sorted(
        (r["k"], r["valid_from"], r["valid_to"], r["s"], r["is_current"])
        for r in out.collect()
    )
    assert rows == [
        (1, 10, 30, "a", False),   # 10-20 collapsed into one interval
        (1, 30, 40, "b", False),
        (1, 40, None, "a", True),  # reappearing value is a new version
        (2, 15, None, "x", True),
    ]
    # intervals tile: each valid_to equals the next valid_from per key
