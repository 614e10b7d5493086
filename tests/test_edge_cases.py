"""Degenerate-input hardening: empty, single-row, null, and tiny inputs
must flow through every operator without crashing and with sane output."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark.operators import dedup, embedding, topk


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_ops_on_empty_input(spark):
    empty = _docs(spark, [])
    assert dedup.exact_duplicates(empty).count() == 0
    assert dedup.ngram_jaccard_pairs(empty, threshold=0.1).count() == 0
    assert dedup.minhash_dedup_pairs(empty, threshold=0.1).count() == 0
    assert dedup.simhash_signatures(empty).count() == 0


def test_dedup_ops_on_single_row(spark):
    one = _docs(spark, [(1, "only one document here")])
    assert dedup.exact_duplicates(one).count() == 1
    assert dedup.ngram_jaccard_pairs(one, threshold=0.1).count() == 0  # no pairs
    assert dedup.minhash_dedup_pairs(one, threshold=0.1).count() == 0


def test_dedup_null_and_empty_text(spark):
    df = _docs(spark, [(1, None), (2, ""), (3, "   "), (4, "real text here")])
    # nulls/empties never pair, never crash
    assert dedup.ngram_jaccard_pairs(df, threshold=0.1).count() == 0
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash_signatures(df).collect()}
    # empty/whitespace docs share the zero signature; null text keeps a row
    assert sigs[2] == sigs[3] == 0
    assert set(sigs) == {1, 2, 3, 4}


def test_identical_texts_jaccard_one(spark):
    df = _docs(spark, [(1, "a b c d e f g"), (2, "a b c d e f g")])
    rows = dedup.ngram_jaccard_pairs(df, threshold=0.99, n=3).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 1.0
    mh = dedup.minhash_dedup_pairs(df, threshold=0.99, shingle_n=3).collect()
    assert len(mh) == 1 and mh[0]["jaccard"] == 1.0


def test_topk_k_larger_than_corpus(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)], "id long, vector array<float>"
    )
    q = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, vector array<float>")
    out = topk.topk_cosine_join(emb, q, k=10)
    assert out.count() == 3  # all rows, no crash, no padding


def test_topk_zero_norm_vector_scores_sentinel(spark):
    # zero-norm vectors score the -1.0 sentinel (DuckDB's
    # list_cosine_similarity convention) — maximally dissimilar,
    # deterministically LAST in a DESC ranking instead of NULL-ordered
    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "id long, vector array<float>"
    )
    out = topk.topk_cosine(emb, [1.0, 0.0], k=5)
    rows = out.collect()
    sims = {r["id"]: r["cosine_sim"] for r in rows}
    assert sims[1] == -1.0 and abs(sims[2] - 1.0) < 1e-6
    assert [r["id"] for r in rows] == [2, 1]  # sentinel sinks to bottom


def test_embedder_on_null_and_empty(spark):
    df = _docs(spark, [(1, None), (2, "")])
    out = df.select(
        "doc_id", embedding.deterministic_embedding(F.col("text"), dim=8).alias("v")
    ).collect()
    vals = {r["doc_id"]: r["v"] for r in out}
    assert vals[1] is None  # null text -> null embedding
    assert len(vals[2]) == 8  # empty text embeds deterministically


def test_snapshot_diff_identity_empty_and_directions(spark, sf_dir):
    from pdf_to_vectordb_etl_spark.operators import cdc
    from tests.conftest import load

    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value").limit(200)
    # diff(x, x) is empty
    assert cdc.snapshot_diff(ev, ev, ["event_id"]).count() == 0
    empty = ev.filter("1 = 0")
    added = cdc.snapshot_diff(empty, ev, ["event_id"]).collect()
    assert len(added) == 200 and {r["change_type"] for r in added} == {"added"}
    removed = cdc.snapshot_diff(ev, empty, ["event_id"]).collect()
    assert len(removed) == 200 and {r["change_type"] for r in removed} == {"removed"}


def test_forward_fill_idempotent(spark):
    from pyspark.sql import functions as F

    from pdf_to_vectordb_etl_spark.operators import aggregates

    rows = [("a", 1, None), ("a", 2, 1.5), ("a", 3, None), ("b", 1, None)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    once = aggregates.forward_fill(df, "v", by="k", order_cols=["t"], out_col="vf")
    twice = aggregates.forward_fill(once, "vf", by="k", order_cols=["t"], out_col="vf2")
    assert twice.filter(~F.col("vf").eqNullSafe(F.col("vf2"))).count() == 0


def test_zorder_constant_column_degenerates_cleanly(spark):
    """A zero-span column maps to bucket 0 everywhere — the key becomes
    a 1-D sort, no divide-by-zero, no nulls."""
    from pdf_to_vectordb_etl_spark.operators.zorder import zorder_key

    df = spark.createDataFrame([(i, 7.0) for i in range(10)], "x long, y double")
    out = zorder_key(df, "x", "y", "z").collect()
    assert len(out) == 10
    assert all(r["z"] is not None for r in out)
    # constant y contributes nothing: z strictly increases with x rank
    zs = [r["z"] for r in sorted(out, key=lambda r: r["x"])]
    assert zs == sorted(zs)


def test_kmeans_empty_input_returns_empty_model(spark):
    from pdf_to_vectordb_etl_spark.operators import clustering

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    model = clustering.kmeans_fit(empty, k=3, n_iters=1)
    assert model.count() == 0


def test_resample_locf_empty_and_single_point(spark):
    from pdf_to_vectordb_etl_spark.operators import aggregates

    empty = spark.createDataFrame([], "user_id long, tus long, value double")
    assert aggregates.resample_locf(empty, "tus", "user_id", "value", 100).count() == 0

    one = spark.createDataFrame([(1, 50, 2.0)], "user_id long, tus long, value double")
    got = aggregates.resample_locf(one, "tus", "user_id", "value", 100).collect()
    assert len(got) == 1 and got[0]["value_filled"] == 2.0


def test_quality_checks_empty_frame_no_breach(spark):
    from pdf_to_vectordb_etl_spark.operators.quality_checks import (
        Expectation,
        check_report,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    exps = [Expectation("id_not_null", F.col("doc_id").isNotNull())]
    rep = check_report(empty, exps).collect()
    assert rep[0]["n_rows"] == 0 and not rep[0]["breached"]


def test_pq_train_rejects_indivisible_dim(spark):
    import pytest

    from pdf_to_vectordb_etl_spark.operators import quantization as pq

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="not divisible"):
        pq.pq_train(df, m=2, k=2, dim=3)


def test_sentence_chunks_empty_text_yields_no_rows(spark):
    from pdf_to_vectordb_etl_spark.operators import chunking

    df = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
    assert chunking.sentence_chunks(df, 5, 1).count() == 0


def test_winsorize_clips_only_tails(spark):
    from pdf_to_vectordb_etl_spark.operators import aggregates

    vals = list(range(1, 101))  # 1..100
    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    w = aggregates.winsorize(df, "value", lower_q=0.05, upper_q=0.95)
    got = sorted(r["value_w"] for r in w.collect())
    assert got[0] > 1.0 and got[-1] < 100.0  # tails clipped
    mid = [r["value_w"] for r in w.filter(F.col("value").between(20, 80)).collect()]
    assert all(
        abs(a - b) < 1e-9
        for a, b in zip(sorted(mid), [float(v) for v in range(20, 81)])
    )  # interior untouched


def test_sequence_pattern_semantics(spark):
    """v[^p]*p counts non-overlapping view→purchase conversions in the
    time-ordered path — pin the regex semantics on a crafted history."""
    rows = [
        (1, t, i, et)
        for i, (t, et) in enumerate(
            [(10, "view"), (20, "view"), (30, "purchase"),
             (40, "view"), (50, "purchase"), (60, "error")]
        )
    ]
    df = spark.createDataFrame(rows, "user_id long, tus long, event_id long, event_type string")
    seq = df.groupBy("user_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tus", "event_id",
                    F.substring("event_type", 1, 1).alias("c")))),
                lambda s: s["c"],
            ),
        ).alias("path")
    )
    r = seq.select(
        "path",
        F.regexp_count(F.col("path"), F.lit("v[^p]*p")).alias("n_conv"),
    ).first()
    assert r["path"] == "vvpvpe"
    assert r["n_conv"] == 2  # "vvp" then "vp" — non-overlapping


def test_from_json_quarantines_malformed(spark):
    df = spark.createDataFrame(
        [(1, '{"k": 5}'), (2, "not json"), (3, None)], "id long, props string"
    )
    parsed = df.select(
        "id", F.from_json("props", "k INT").alias("p")
    ).select("id", F.col("p.k").alias("k"), F.col("p").isNull().alias("failed"))
    got = {r["id"]: (r["k"], r["failed"]) for r in parsed.collect()}
    assert got[1] == (5, False)
    # PERMISSIVE semantics: malformed input -> struct of NULL fields
    # (struct itself non-null); only NULL input -> NULL struct
    assert got[2] == (None, False)
    assert got[3] == (None, True)


def test_round3_ops_on_degenerate_inputs(spark):
    """Degenerate-input sweep for the round-3 operators: empty frames
    and constant/singleton groups must produce empty/neutral results,
    never crash."""
    from pdf_to_vectordb_etl_spark.operators import aggregates, profiling, sketch

    empty_ev = spark.createDataFrame(
        [], "user_id long, event_id long, tus long, value double"
    )
    assert aggregates.ewma(empty_ev).count() == 0
    assert aggregates.time_decay_sum(empty_ev).count() == 0

    # funnel with zero step-1 users: rows exist, no division crash
    no_views = spark.createDataFrame(
        [(1, "click", 0)], ["user_id", "event_type", "tus"]
    )
    rows = {r["step"]: r for r in aggregates.timed_funnel(no_views).collect()}
    assert rows["view"]["n_keys"] == 0

    # constant values: PSI's zero-span guard puts all mass in bin 0,
    # both halves identical -> psi ~ 0
    const = spark.createDataFrame(
        [("a", t * 1000, 7.0) for t in range(100)],
        ["event_type", "tus", "value"],
    )
    psi = profiling.psi_drift(const).first()["psi"]
    assert abs(psi) < 1e-9

    # singleton group: IQR = 0 -> fences collapse to the value -> no flags
    one = spark.createDataFrame([("a", 5.0)], ["event_type", "value"])
    assert aggregates.iqr_outlier_flags(one).count() == 0

    # HLL over an empty frame: no registers, no estimate rows
    empty_docs = spark.createDataFrame([], "source string, tok string")
    assert sketch.hll_estimate(empty_docs, "tok", by="source").count() == 0


def test_quota_allocate_budget_exceeds_availability(spark):
    """When the budget exceeds total availability, every group caps at
    its availability (the exact-sum property is unattainable and must
    degrade to the cap, not crash)."""
    from pdf_to_vectordb_etl_spark.operators import curation

    df = spark.createDataFrame(
        [(i, "a" if i < 3 else "b") for i in range(10)],
        ["doc_id", "source"],
    )
    out = curation.quota_allocate(
        df, total=1000, weight=F.col("n_avail") * 1.0, by="source"
    ).collect()
    assert all(r["n_alloc"] == r["n_avail"] for r in out)


# ------------- round-3 review-fix regression pins -------------------


def test_cc_star_raises_on_exhaustion(spark):
    import pytest as _pytest

    from pdf_to_vectordb_etl_spark.operators.graph import (
        connected_components_star,
    )

    # a 64-node path cannot finish in 1 alternation: must raise, never
    # return split/non-minimum labels (the cluster_pairs contract)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(edges, max_rounds=1)


def test_merkle_hash_distinguishes_null_shift(spark):
    from pdf_to_vectordb_etl_spark.operators.cdc import merkle_summary

    a = spark.createDataFrame([(1, "b", None)], "k long, p1 string, p2 string")
    b = spark.createDataFrame([(1, None, "b")], "k long, p1 string, p2 string")
    sa = merkle_summary(a, ["k"], ["p1", "p2"], n_buckets=4)
    sb = merkle_summary(b, ["k"], ["p1", "p2"], n_buckets=4)
    ha = {(r.bucket, r.checksum) for r in sa.collect()}
    hb = {(r.bucket, r.checksum) for r in sb.collect()}
    # shifting a value across a NULL column must change the checksum
    assert ha != hb


def test_mixture_plan_null_weight_excluded(spark):
    from pdf_to_vectordb_etl_spark.operators.curation import mixture_plan

    import pyspark.sql.functions as SF

    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("mystery", i) for i in range(10)],
        "source string, doc_id long",
    )
    w = SF.create_map(SF.lit("a"), SF.lit(1.0))[SF.col("source")]
    plan = {r.source: r for r in mixture_plan(df, w).collect()}
    # unmapped source -> weight 0, keep 0 — never kept wholesale
    assert plan["mystery"].n_keep == 0
    assert plan["a"].n_keep == 10
    # all weights unmapped -> everything excluded, not everything kept
    w_none = SF.create_map(SF.lit("zzz"), SF.lit(1.0))[SF.col("source")]
    plan = {r.source: r.n_keep for r in mixture_plan(df, w_none).collect()}
    assert set(plan.values()) == {0}


def test_psi_drift_keeps_one_sided_group(spark):
    from pdf_to_vectordb_etl_spark.operators.profiling import psi_drift

    # 'new' appears only in the late half: maximal drift must be
    # REPORTED, not silently dropped by a one-sided join
    rows = [("old", float(i), float(i % 50)) for i in range(100)] + [
        ("new", 90.0 + i / 10.0, float(i % 50)) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "event_type string, tus double, value double")
    out = {r.event_type: r.psi for r in
           psi_drift(df, "value", "event_type", "tus").collect()}
    assert "new" in out and "old" in out
    assert out["new"] > out["old"]


def test_conformal_group_without_test_rows_survives(spark):
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    # hand-picked ids whose md5 first hex char is < '8' -> all calib
    import hashlib

    calib_ids = [i for i in range(200) if hashlib.md5(str(i).encode())
                 .hexdigest()[0] < "8"][:10]
    rows = [(i, "solo", 1.0) for i in calib_ids] + [
        (1000 + i, "big", float(i % 10)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    out = {r.g: r for r in
           ev.conformal_interval(df, "g", "v", "id").collect()}
    assert "solo" in out  # group reported even with n_test == 0
    assert out["solo"].n_test == 0 and out["solo"].coverage is None


def test_latest_per_key_negative_order_values(spark):
    from pdf_to_vectordb_etl_spark.operators.aggregates import latest_per_key

    # negative order domain (pre-1970 epoch): -5 is NEWER than -10;
    # the old '%020d' string key ordered '-…10' after '-…05' and kept
    # the stale record
    df = spark.createDataFrame(
        [(1, -10, 7, "old"), (1, -5, 3, "new")],
        "k long, ord long, tb long, payload string",
    )
    r = latest_per_key(df, "k", "ord", ["payload"], tiebreak_col="tb").collect()[0]
    assert r.payload == "new" and r.ord == -5
