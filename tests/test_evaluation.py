"""Property pins for the evaluation-statistics suite.

Each estimator gets a constructed input with a hand-computable truth:
a perfectly-separating score for AUC, a planted mean shift for Welch,
well-separated clusters for silhouette, an exact-Zipf frequency table
for the fit, a path graph for Adamic-Adar.  The cross-engine value
parity is the DuckDB oracle's job (tools/check_oracle.py); these tests
pin the MATH.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pdf_to_vectordb_etl_spark.operators import evaluation as ev
from pdf_to_vectordb_etl_spark.operators.association import association_rules
from pdf_to_vectordb_etl_spark.operators.graph import adamic_adar
from pdf_to_vectordb_etl_spark.operators.textanalysis import zipf_fit


def test_auc_separating_and_random(spark):
    # positives all score above negatives -> AUC == 1.0
    rows = [(float(i), 0) for i in range(50)] + [
        (float(100 + i), 1) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "score double, y int")
    r = ev.binned_auc(df, "score", F.col("y") == 1, n_bins=100, lo=0.0, hi=200.0)
    row = r.collect()[0]
    assert row.auc == 1.0 and row.n_pos == 50 and row.n_neg == 50
    # identical score distribution -> every pair ties at its bin -> 0.5
    rows = [(float(i % 10), (i // 10) % 2) for i in range(100)]
    df = spark.createDataFrame(rows, "score double, y int")
    row = ev.binned_auc(
        df, "score", F.col("y") == 1, n_bins=10, lo=0.0, hi=10.0
    ).collect()[0]
    assert abs(row.auc - 0.5) < 1e-9


def test_kaplan_meier_textbook_curve(spark):
    # classic toy: events at t=1 (1 of 4 at risk) and t=3 (1 of 2),
    # censored at t=2 -> S = 0.75, then 0.75, then 0.75*0.5
    rows = [(1, True), (2, False), (3, True), (3, False)]
    df = spark.createDataFrame(rows, "duration long, observed boolean")
    out = ev.kaplan_meier(df).collect()
    assert [r.duration for r in out] == [1, 2, 3]
    assert [r.n_at_risk for r in out] == [4, 3, 2]
    assert [r.survival for r in out] == [0.75, 0.75, 0.375]
    # survival is monotone non-increasing and at-risk starts at N
    assert all(a.survival >= b.survival for a, b in zip(out, out[1:]))


def test_welch_detects_planted_shift(spark):
    rows = [("a", 10.0 + (i % 5) * 0.1) for i in range(40)] + [
        ("b", 12.0 + (i % 5) * 0.1) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = ev.welch_ttest(df, "g", "v", "a", "b").collect()[0]
    assert r.n_a == 40 and r.n_b == 40
    assert r.mean_a < r.mean_b and r.t_stat < -10
    assert r.df > 0


def test_calibration_perfectly_calibrated_bins(spark):
    # p=0.25 with 1/4 positives, p=0.75 with 3/4 positives
    rows = [(0.25, i % 4 == 0) for i in range(40)] + [
        (0.75, i % 4 != 0) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "p double, y boolean")
    out = {r.bin: r for r in ev.calibration_bins(df, "p", F.col("y")).collect()}
    assert set(out) == {2, 7}
    assert out[2].mean_prob == 0.25 and out[2].pos_rate == 0.25
    assert out[7].mean_prob == 0.75 and out[7].pos_rate == 0.75
    # brier for a calibrated p: p(1-p)^2 + (1-p)p^2 = p(1-p)
    assert abs(out[2].brier - 0.25 * 0.75) < 1e-6


def test_silhouette_separated_vs_merged(spark):
    # two tight, far-apart clusters -> silhouette near 1
    rows = [(i, 0, [0.0 + i * 0.01, 0.0]) for i in range(10)] + [
        (100 + i, 1, [100.0 + i * 0.01, 0.0]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = ev.silhouette_by_cluster(df).collect()
    assert len(out) == 2
    assert all(r.mean_silhouette > 0.99 for r in out)


def test_gini_uniform_and_concentrated(spark):
    uni = [("s", i, 10) for i in range(10)]
    conc = [("c", i, 0) for i in range(9)] + [("c", 9, 1000)]
    df = spark.createDataFrame(uni + conc, "g string, id long, x long")
    out = {r.g: r for r in ev.gini_by_group(df, "g", "x", "id").collect()}
    assert out["s"].gini == 0.0
    # all mass on one member of 10 -> G = 1 - 1/n = 0.9
    assert abs(out["c"].gini - 0.9) < 1e-9


def test_association_rules_identity_and_bounds(spark):
    # x and y always co-occur; z co-occurs with x half the time
    rows = []
    for b in range(20):
        rows += [(b, "x"), (b, "y")]
        if b % 2 == 0:
            rows.append((b, "z"))
    df = spark.createDataFrame(rows, "bid long, item string")
    out = {(r.ant, r.cons): r for r in
           association_rules(df, "bid", "item", min_support=0.05).collect()}
    assert out[("x", "y")].confidence == 1.0 and out[("y", "x")].confidence == 1.0
    assert out[("x", "y")].lift == 1.0  # supp(x)=supp(y)=N
    assert out[("z", "x")].confidence == 1.0  # z implies x
    assert out[("x", "z")].confidence == 0.5
    assert out[("z", "x")].lift == 1.0
    assert all(0.0 < r.confidence <= 1.0 for r in out.values())


def test_adamic_adar_path_graph(spark):
    # path 1-2-3 plus 2-4: middle node 2 (deg 3) predicts the three
    # non-edges among {1,3,4}, each scoring 1/ln(3); degree-1 middles
    # contribute nothing
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4)], "a long, b long"
    )
    out = {(r.a, r.b): r.score for r in adamic_adar(edges).collect()}
    w = round(1.0 / math.log(3.0), 6)
    assert out == {(1, 3): w, (1, 4): w, (3, 4): w}


def test_zipf_fit_recovers_minus_one_slope(spark):
    # build text whose token counts are exactly floor(1000/rank):
    # ln f = ln 1000 - ln rank -> slope ~= -1, r2 ~= 1
    words = []
    for rank in range(1, 51):
        words += [f"w{rank:03d}"] * (1000 // rank)
    docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    r = zipf_fit(docs, top_n=50).collect()[0]
    assert r.n_fit == 50 and r.vocab_size == 50
    assert -1.05 < r.slope < -0.95
    assert r.r2 > 0.99


def test_pr_auc_perfect_separation(spark):
    rows = [(float(i), 0) for i in range(50)] + [
        (float(100 + i), 1) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "score double, y int")
    r = ev.binned_average_precision(
        df, "score", F.col("y") == 1, n_bins=100, lo=0.0, hi=200.0
    ).collect()[0]
    assert r.ap == 1.0 and r.n_pos == 50 and r.n_neg == 50


def test_cohens_kappa_perfect_and_chance(spark):
    perfect = spark.createDataFrame(
        [("a", "a")] * 30 + [("b", "b")] * 20, "p string, t string"
    )
    r = ev.cohens_kappa(perfect, "p", "t").collect()[0]
    assert r.kappa == 1.0 and r.po == 1.0
    # prediction independent of truth -> kappa ~= 0
    chance = spark.createDataFrame(
        [("a" if i % 2 == 0 else "b", "a" if (i // 2) % 2 == 0 else "b")
         for i in range(100)],
        "p string, t string",
    )
    r = ev.cohens_kappa(chance, "p", "t").collect()[0]
    assert abs(r.kappa) < 1e-9


def test_confusion_stats_hand_counts(spark):
    # truth: 3a 2b; pred: a->a, one b misread as c
    rows = [("a", "a"), ("a", "a"), ("a", "a"), ("b", "b"), ("c", "b")]
    df = spark.createDataFrame(rows, "p string, t string")
    out = {r["class"]: r for r in ev.confusion_stats(df, "p", "t").collect()}
    assert set(out) == {"a", "b", "c"}
    assert (out["a"].tp, out["a"].fp, out["a"].fn) == (3, 0, 0)
    assert out["a"].f1 == 1.0
    assert (out["b"].tp, out["b"].fp, out["b"].fn) == (1, 0, 1)
    assert abs(out["b"].f1 - 2 / 3) < 1e-6
    # class c never true: recall undefined -> 0, precision 0
    assert (out["c"].tp, out["c"].fp, out["c"].fn) == (0, 1, 0)
    assert out["c"].precision == 0.0 and out["c"].recall == 0.0


def test_contingency_independence_extremes(spark):
    # perfectly dependent: b determined by a -> V = 1, MI = ln 2
    dep = spark.createDataFrame(
        [("x", "u")] * 25 + [("y", "v")] * 25, "a string, b string"
    )
    r = ev.contingency_independence(dep, "a", "b").collect()[0]
    assert r.cramers_v == 1.0
    assert abs(r.mi_nats - math.log(2)) < 1e-6
    # independent uniform -> chi2 = 0, MI = 0
    ind = spark.createDataFrame(
        [("x" if i % 2 == 0 else "y", "u" if (i // 2) % 2 == 0 else "v")
         for i in range(100)],
        "a string, b string",
    )
    r = ev.contingency_independence(ind, "a", "b").collect()[0]
    assert r.chi2 == 0.0 and r.mi_nats == 0.0 and r.dof == 1


def test_hll_and_kmv_set_reports_extremes(spark):
    from pdf_to_vectordb_etl_spark.operators import sketch

    # identical sets -> jaccard 1; disjoint -> intersection ~ 0
    same = spark.createDataFrame(
        [("a", str(i)) for i in range(200)]
        + [("b", str(i)) for i in range(200)],
        "g string, e string",
    )
    r = sketch.hll_set_report(same, "e", "g", "a", "b").collect()[0]
    assert r.jaccard == 1.0 and r.est_a == r.est_b == r.est_union
    r = sketch.kmv_set_report(same, "e", "g", "a", "b", k=64).collect()[0]
    assert r.jaccard == 1.0 and r.est_union == r.est_a

    disj = spark.createDataFrame(
        [("a", f"x{i}") for i in range(200)]
        + [("b", f"y{i}") for i in range(200)],
        "g string, e string",
    )
    r = sketch.kmv_set_report(disj, "e", "g", "a", "b", k=64).collect()[0]
    assert r.jaccard == 0.0 and r.est_intersection == 0.0
    r = sketch.hll_set_report(disj, "e", "g", "a", "b").collect()[0]
    # estimator noise can make a+b-union slightly nonzero; it must be tiny
    assert r.jaccard < 0.05


def test_poisson_bootstrap_constant_and_coverage(spark):
    const = spark.createDataFrame(
        [(i, 7.5) for i in range(500)], "id long, v double"
    )
    r = ev.poisson_bootstrap_mean_ci(const, "v", "id", n_boot=50).collect()[0]
    assert r.mean == 7.5 and r.ci_lo == 7.5 and r.ci_hi == 7.5
    spread = spark.createDataFrame(
        [(i, float(i % 100)) for i in range(2000)], "id long, v double"
    )
    r = ev.poisson_bootstrap_mean_ci(spread, "v", "id", n_boot=50).collect()[0]
    assert r.ci_lo < r.mean < r.ci_hi
    assert r.ci_hi - r.ci_lo < 10.0  # sane width for sd~29, n=2000


def test_stream_score_bins_snapshot_equals_batch(spark, tmp_path):
    import pyspark.sql.functions as SF

    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_score_bins,
    )

    rows = [(float(i % 50), "purchase" if i % 3 == 0 else "view")
            for i in range(300)]
    df = spark.createDataFrame(rows, "value double, event_type string")
    src = str(tmp_path / "evsrc")
    df.repartition(3).write.mode("overwrite").parquet(src)
    raw = spark.read.parquet(src)
    batch = ev.score_bin_histogram(
        raw, "value", SF.col("event_type") == "purchase", 100, 0.0, 50.0
    )
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    bins = stream_score_bins(
        stream, "value", SF.col("event_type") == "purchase", 100, 0.0, 50.0
    )
    snap_df = drain_to_memory(bins, "t14_test_bins")
    snap = {r.bin: (r.pos, r.neg) for r in snap_df.collect()}
    exact = {r.bin: (r.pos, r.neg) for r in batch.collect()}
    assert snap == exact
    # and the derived AUC matches the batch AUC
    a1 = ev.auc_from_bins(snap_df).collect()[0].auc
    a2 = ev.binned_auc(
        raw, "value", SF.col("event_type") == "purchase", 100, 0.0, 50.0
    ).collect()[0].auc
    assert a1 == a2


def test_evaluate_corpus_composed_report(spark, sf_dir):
    from pdf_to_vectordb_etl_spark.plans.evaluate import evaluate_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rep = {r.metric: r.value for r in
           evaluate_corpus(spark, docs, emb).collect()}
    expected = {
        "quality_auc", "quality_ap", "quality_brier", "langid_kappa",
        "langid_macro_f1", "lang_source_cramers_v", "token_gini_max",
        "zipf_slope", "ann_mrr", "ann_recall_at_10",
    }
    assert set(rep) == expected
    assert 0.0 <= rep["quality_auc"] <= 1.0
    assert 0.0 <= rep["quality_ap"] <= 1.0
    assert 0.0 <= rep["quality_brier"] <= 1.0
    assert -1.0 <= rep["langid_kappa"] <= 1.0
    assert 0.0 <= rep["langid_macro_f1"] <= 1.0
    assert 0.0 <= rep["lang_source_cramers_v"] <= 1.0
    assert 0.0 <= rep["token_gini_max"] < 1.0
    assert rep["zipf_slope"] < 0.0  # natural-ish text is Zipf-decreasing
    assert 0.0 <= rep["ann_mrr"] <= 1.0
    assert 0.0 <= rep["ann_recall_at_10"] <= 1.0


def test_theilsen_ignores_outlier(spark):
    from pdf_to_vectordb_etl_spark.operators.aggregates import theilsen_trend

    # y = 2x exactly, except one wild outlier at x=10 -> TS slope
    # stays 2.0 (the median pairwise slope); OLS would be pulled hard
    rows = [(1, i, float(i), 2.0 * i) for i in range(10)] + [
        (1, 10, 10.0, 1000.0)
    ]
    df = spark.createDataFrame(rows, "k int, eid long, x double, y double")
    r = theilsen_trend(df, "k", "x", "y", "eid", min_points=5).collect()[0]
    assert r.ts_slope == 2.0 and r.n_points == 11


def test_forecast_backtest_perfect_season_and_constant(spark):
    from pdf_to_vectordb_etl_spark.operators.aggregates import (
        forecast_backtest,
    )

    # weekly-periodic series: seasonal-naive is exact on the holdout
    per = [(("s"), d, float(10 + (d % 7))) for d in range(28)]
    # constant series: naive is exact
    const = [(("c"), d, 5.0) for d in range(28)]
    df = spark.createDataFrame(per + const, "k string, day long, v double")
    out = {r.k: r for r in
           forecast_backtest(df, "k", "day", "v", 7, 7).collect()}
    assert out["s"].smape_seasonal == 0.0 and out["s"].n_test == 7
    assert out["s"].mase_seasonal == 0.0
    assert out["c"].smape_naive == 0.0 and out["c"].smape_seasonal == 0.0


def test_ivf_recall_curve_monotone(spark, sf_dir):
    import __spark_entry__ as entry

    rows = {r.n_probe: r.recall_at_10 for r in
            entry.queries()["ivf_recall_curve"](spark, sf_dir).collect()}
    assert sorted(rows) == [1, 2, 4]
    # more probes can never lose candidates -> recall non-decreasing
    assert rows[1] <= rows[2] <= rows[4]
    assert all(0.0 <= v <= 1.0 for v in rows.values())


def test_conformal_coverage_near_level(spark):
    # unimodal residuals, big groups -> empirical coverage near 1-alpha
    rows = [(i, "g", float((i * 37) % 100)) for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    r = ev.conformal_interval(df, "g", "v", "id", alpha=0.1).collect()[0]
    assert r.n_calib + r.n_test == 4000
    assert 0.85 <= r.coverage <= 0.95
    assert r.qhat > 0


def test_permutation_test_shift_vs_null(spark):
    # strong planted shift -> p at the resolution floor 1/(R+1)
    rows = [(i, "a", 10.0 + (i % 7) * 0.1) for i in range(300)] + [
        (1000 + i, "b", 20.0 + (i % 7) * 0.1) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    r = ev.permutation_test(df, "g", "v", "id", "a", "b", n_perm=99).collect()[0]
    assert r.p_value == 0.01  # 1/(99+1)
    # identical distributions -> p should NOT be extreme
    rows = [(i, "a" if i % 2 == 0 else "b", float((i * 13) % 50))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    r = ev.permutation_test(df, "g", "v", "id", "a", "b", n_perm=99).collect()[0]
    assert r.p_value > 0.05


def test_mm_extract_features_counts_and_gate(spark):
    from pdf_to_vectordb_etl_spark.operators import multimodal as mm

    df = spark.createDataFrame([(1, "abab"), (2, "")], "doc_id long, t string")
    media = mm.as_media(
        df.withColumn("payload", F.encode("t", "UTF-8")), "payload", "doc_id"
    )
    out = {r.media_id: r for r in mm.extract_features(media).collect()}
    # 'a'=97, 'b'=98 -> both bucket 6; empty payload -> all-zero counts
    assert out[1].n_units == 4 and out[1].counts[6] == 4
    assert sum(out[1].counts) == 4
    assert out[2].n_units == 0 and sum(out[2].counts) == 0


def test_runs_test_alternating_vs_blocked(spark, sf_dir, tmp_path):
    """Hand-built extremes through the full query: a perfectly
    alternating sequence maximizes runs (z >> 0), a fully blocked one
    collapses to two runs (z << 0); plus a sanity pass on real data."""
    import datetime as dt

    import __spark_entry__ as entry

    base = dt.datetime(2020, 1, 1)
    rows = []
    for i in range(60):  # alternating high/low around the median
        rows.append((i, base + dt.timedelta(hours=i), 1,
                     "alt", 10.0 if i % 2 == 0 else 1.0, "{}"))
    for i in range(60):  # 30 highs then 30 lows: exactly two runs
        rows.append((100 + i, base + dt.timedelta(hours=i), 1,
                     "blk", 10.0 if i < 30 else 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.event_type: r for r in
           entry.queries()["runs_test"](spark, str(tmp_path)).collect()}
    assert out["alt"].n_runs == 60 and out["alt"].z_runs > 5
    assert out["blk"].n_runs == 2 and out["blk"].z_runs < -5

    real = {r.event_type: r for r in
            entry.queries()["runs_test"](spark, sf_dir).collect()}
    assert all(r.n_runs >= 1 for r in real.values())
