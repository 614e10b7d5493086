"""Round-5 pins: the r4 ADVICE.md findings stay fixed.

Each test pins one of the five advisor findings — DSIR integer-grid
weights, ExactSubstr value-verify, negative-sample window cap,
NULL-score binning, and the OLS decimal(38) overflow guard.
"""

import pyspark.sql.functions as F
import pytest


def test_ols_overflow_guard_nulls_not_error(spark):
    """A group whose sufficient statistics exceed the 1e12 bound must
    yield NULL betas (Spark decimal(38,0) would overflow where
    DuckDB's HUGEINT keeps computing) — and must NOT raise under ANSI
    because the guard short-circuits before the determinants."""
    from pdf_to_vectordb_etl_spark.operators import supervised

    big = 10**7  # x1*x1 sums past 1e12 within a handful of rows
    rows = [("huge", big + i, big - i, 3 * big + i) for i in range(12)]
    rows += [
        ("ok", i % 7, (i * 3) % 5, 10 + 2 * (i % 7) + (i * 3) % 5)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["k", "x1", "x2", "y"])
    out = {
        r["group"]: r
        for r in supervised.ols_closed_form(
            df, "k", F.col("x1"), F.col("x2"), F.col("y")
        ).collect()
    }
    h = out["huge"]
    assert h["b0"] is None and h["b1"] is None and h["b2"] is None
    assert h["n"] == 12
    # the well-conditioned group still solves
    assert out["ok"]["b1"] is not None


def test_score_bin_histogram_drops_null_scores(spark):
    """NULL scores must not land in bin 0 (Spark greatest/least skip
    NULLs); they are filtered so every engine's histogram agrees."""
    from pdf_to_vectordb_etl_spark.operators import evaluation as ev

    rows = [(0.1, 1), (0.2, 0), (None, 1), (None, 0), (499.0, 1)]
    df = spark.createDataFrame(rows, "value double, y int")
    binned = ev.score_bin_histogram(
        df, "value", F.col("y") == 1, n_bins=1000, lo=0.0, hi=500.0
    )
    total = binned.agg(
        F.sum(F.col("pos") + F.col("neg")).alias("t")
    ).first()["t"]
    assert total == 3  # the two NULL-score rows are gone
    b0 = {r["bin"]: (r["pos"], r["neg"]) for r in binned.collect()}
    assert b0[0] == (1, 1)  # only the two real low scores


def test_negative_sample_window_wrap_no_duplicates(spark):
    """n_windows >= n_buckets must not re-propose earlier windows'
    pairs: the offset cap keeps every (src, dst) candidate unique so
    duplicates can never double-fill k_per_src slots."""
    from pdf_to_vectordb_etl_spark.operators import graph

    # 40 nodes, pool=8 -> B=5 buckets; ask for far more windows than B
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 40}") for i in range(40)], ["src", "dst"]
    )
    neg = graph.negative_edge_sample(
        edges, k_per_src=4, candidates_per_src=8, n_windows=50
    )
    rows = neg.collect()
    pairs = [(r["src"], r["dst"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    # negatives never collide with real edges or self-pairs
    real = {(f"n{i}", f"n{(i + 1) % 40}") for i in range(40)}
    for s, d in pairs:
        assert s != d and (s, d) not in real


def test_exact_substr_dual_hash_collision_guard(spark):
    """The 128-bit dual-hash window key must not change results on a
    planted duplicate (collision probability 2^-128), and the plan
    must group on BOTH independent hashes — the guard against a
    single-64-bit birthday collision deleting unique text."""
    from pdf_to_vectordb_etl_spark.operators.webcorpus import (
        exact_substring_dedup,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again!"
    assert len(dup) == 60
    rows = [
        (1, f"alpha {dup} omega"),
        (2, f"start-{dup}-finish"),
        (3, "completely unique text that repeats nothing of interest"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, min_len=50, min_count=2).collect()
    }
    assert dup not in out[1]["clean_text"]
    assert dup not in out[2]["clean_text"]
    assert out[3]["n_removed"] == 0
    # both independent hash columns are grouping keys in the hot agg
    plan = exact_substring_dedup(
        df, min_len=50, min_count=2
    )._jdf.queryExecution().analyzed().toString()
    assert "h2" in plan and plan.count("xxhash64") >= 2


def test_dsir_logw_on_6dp_floor_grid(spark):
    """dsir_weights' logw is floor-quantized onto the 6dp grid from an
    exact integer sum — partition-order-free, so a repartitioned input
    yields bit-identical weights AND an identical selected set."""
    from pdf_to_vectordb_etl_spark.operators.curation import dsir_weights

    rows = [
        (i, ("english common words " * 4) + f"tail{i}") for i in range(40)
    ] + [(100 + i, f"otra lengua distinta {i} palabras") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    tgt = df.filter(F.col("doc_id") < 40)
    a = dsir_weights(df, tgt, n_buckets=256, k=20).collect()
    b = dsir_weights(df.repartition(13), tgt, n_buckets=256, k=20).collect()
    assert [(r["doc_id"], r["logw"]) for r in a] == [
        (r["doc_id"], r["logw"]) for r in b
    ]
    for r in a:
        # 6dp grid representative: scaling by 1e6 lands on an integer
        assert abs(r["logw"] * 1e6 - round(r["logw"] * 1e6)) < 1e-3


# ---------------------------------------------------------- embed failures


def _mk_chunks(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "chunk"]
    ).repartition(1)


def test_embed_retry_then_success(spark, tmp_path):
    """A client that flakes twice then succeeds must be retried inside
    the task: correct vectors out, exactly initial+2 attempts made."""
    from pdf_to_vectordb_etl_spark.operators import embedding

    marker = str(tmp_path / "attempts.log")

    def flaky(texts):
        with open(marker, "a") as f:
            f.write("x\n")
        with open(marker) as f:
            n = sum(1 for _ in f)
        if n <= 2:
            raise RuntimeError("simulated 429")
        return embedding.fake_client_embed(texts, dim=8)

    out = embedding.embed_with_client(
        _mk_chunks(spark, ["a", "b", "c"]), flaky, dim=8,
        batch_size=16, max_retries=2,
    ).collect()
    assert all(r["vector"] is not None and len(r["vector"]) == 8 for r in out)
    with open(marker) as f:
        assert sum(1 for _ in f) == 3  # 1 failure-free call after 2 retries


def test_embed_retries_exhausted_raises(spark):
    """on_error='raise' (default): a persistently failing client fails
    the job after max_retries+1 attempts."""
    from pyspark.errors import PythonException

    from pdf_to_vectordb_etl_spark.operators import embedding

    def dead(texts):
        raise RuntimeError("simulated outage")

    with pytest.raises(PythonException):
        embedding.embed_with_client(
            _mk_chunks(spark, ["a", "b"]), dead, batch_size=4, max_retries=1
        ).collect()


def test_embed_on_error_null_isolates_failing_subbatch(spark):
    """on_error='null': only the poisoned sub-batch's rows go NULL;
    every other sub-batch embeds, and rows stay aligned to texts."""
    from pdf_to_vectordb_etl_spark.operators import embedding

    def picky(texts):
        if any("BOOM" in t for t in texts):
            raise RuntimeError("poison")
        return embedding.fake_client_embed(texts, dim=8)

    texts = ["t0", "t1", "BOOM", "t3", "t4", "t5"]
    rows = embedding.embed_with_client(
        _mk_chunks(spark, texts), picky, dim=8,
        batch_size=2, max_retries=0, on_error="null",
    ).collect()
    got = {r["i"]: r["vector"] for r in rows}
    assert got[2] is None and got[3] is None  # the (BOOM, t3) sub-batch
    for i in (0, 1, 4, 5):
        expected = embedding.fake_client_embed([texts[i]], dim=8)[0]
        assert got[i] == pytest.approx(expected, abs=1e-6)


def test_embed_misaligned_client_is_refused(spark):
    """A client returning the wrong vector count must raise, never
    silently shift later rows onto earlier texts."""
    from pyspark.errors import PythonException

    from pdf_to_vectordb_etl_spark.operators import embedding

    def short(texts):
        return embedding.fake_client_embed(texts[:-1], dim=8)

    with pytest.raises(PythonException):
        embedding.embed_with_client(
            _mk_chunks(spark, ["a", "b", "c"]), short,
            batch_size=8, max_retries=0,
        ).collect()


def test_embed_empty_input(spark):
    """Zero rows in, zero rows out — no client call, no crash."""
    from pdf_to_vectordb_etl_spark.operators import embedding

    def never(texts):  # pragma: no cover - must not be called
        raise AssertionError("client called on empty input")

    df = _mk_chunks(spark, ["x"]).filter("i < 0")
    assert embedding.embed_with_client(df, never).collect() == []


# ------------------------------------------------- LRS two-phase probe


def test_lrs_probe_shuffles_hashes_not_text(spark):
    """The corpus-sized relation of every LRS probe carries only
    8-byte xxhash64 window keys — no string column — so the midpoint
    probe (~max_len/2 chars per window) never shuffles raw text; only
    hot candidates re-derive values in the bounded phase-2 agg."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = spark.createDataFrame(
        [(1, "abcabcabc"), (2, "xyzxyz")], ["doc_id", "text"]
    )
    src = docs.select(F.col("doc_id").alias("id"), F.col("text").alias("_t"))
    wh = suffixes._window_hashes(src, 4)
    assert [f.dataType.simpleString() for f in wh.schema.fields] == [
        "bigint", "int", "bigint"
    ]
    # the phase-1 corpus agg's grouping key is the hash (a bigint) —
    # the only string anywhere in its plan is under xxhash64()
    plan = (
        wh.groupBy("h")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "xxhash64" in plan
    assert "substr" not in plan.split("xxhash64")[0]


def test_lrs_two_phase_still_exact(spark):
    """Planted LRS recovered exactly through the hash-group +
    value-verify probes (same answers the r4 value-grouping gave)."""
    from pdf_to_vectordb_etl_spark.operators import suffixes

    long_dup = "the rain in spain stays mainly on the plain"
    docs = spark.createDataFrame(
        [
            (1, f"AA {long_dup} BB"),
            (2, f"CC {long_dup} DD"),
            (3, "nothing shared here at all beyond tiny bits"),
        ],
        ["doc_id", "text"],
    )
    row = suffixes.longest_repeated_substring(docs).first()
    assert row["lrs_len"] == len(f" {long_dup} ")
    assert row["lrs"] == f" {long_dup} "
    assert row["n_occurrences"] == 2 and row["n_docs"] == 2

    # nothing repeats -> the zero row
    uniq = spark.createDataFrame(
        [(1, "abcdefg"), (2, "hijklmn")], ["doc_id", "text"]
    )
    z = suffixes.longest_repeated_substring(uniq).first()
    assert z["lrs_len"] == 0 and z["lrs"] is None


# ------------------------------------- suffix array <-> ExactSubstr bridge


def test_suffix_array_reconciles_exact_substr_dedup(spark):
    """Two independent algorithms, one answer (Lee et al. 2022 build
    ExactSubstr FROM the suffix array; this repo has both halves):
    repeated spans of length >= L derived from suffix_ranks + adjacent
    LCP must cover EXACTLY the characters webcorpus.exact_substring_
    dedup cuts on the same corpus slice.

    A length-L window at (doc, s) is duplicated iff the suffix at
    (doc, s) shares an LCP >= L with a rank-adjacent suffix (suffixes
    with a common L-prefix are contiguous in rank order), so the
    suffix route's covered set is the union of [s, s+L-1] over those
    starts — character-for-character what ExactSubstr removes."""
    from pdf_to_vectordb_etl_spark.operators import suffixes, webcorpus

    L = 20
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.regexp_replace(
                F.substring("text", 1, 100), r"[^\x20-\x7e]", ""
            ).alias("text"),
        )
        .filter(F.length("text") > 0)
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}

    # route 1: distributed suffix array -> adjacent-LCP repeated spans
    ranks = suffixes.suffix_ranks(docs).collect()
    order = sorted(
        ranks, key=lambda r: (r["srank"], r["doc_id"], r["pos"])
    )
    sufs = [
        (r["doc_id"], r["pos"], texts[r["doc_id"]][r["pos"]:])
        for r in order
    ]

    def lcp(a, b):
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    neigh = [0] * len(sufs)
    for i in range(len(sufs) - 1):
        c = lcp(sufs[i][2], sufs[i + 1][2])
        neigh[i] = max(neigh[i], c)
        neigh[i + 1] = max(neigh[i + 1], c)
    covered: dict[int, set[int]] = {d: set() for d in texts}
    for (d, pos, suf), m in zip(sufs, neigh):
        if m >= L and len(suf) >= L:
            covered[d].update(range(pos, pos + L))

    # route 2: the shipped ExactSubstr operator
    out = {
        r["doc_id"]: r
        for r in webcorpus.exact_substring_dedup(
            docs, min_len=L, min_count=2
        ).collect()
    }
    assert set(out) == set(texts)
    for d, text in texts.items():
        cut = covered[d]
        expect_clean = "".join(
            ch for i, ch in enumerate(text) if i not in cut
        )
        assert out[d]["clean_text"] == expect_clean, f"doc {d}"
        assert out[d]["n_removed"] == len(cut), f"doc {d}"


# --------------------------------------------- incremental IVF maintenance


def test_ivf_incremental_assign_detects_planted_shift(spark):
    """A distribution shift in the ingest batch shows up as positive
    occupancy drift on the over-filling list and negative on the
    starved one — the retrain trigger the report exists for."""
    from pdf_to_vectordb_etl_spark.operators import topk

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["list_id", "centroid"]
    )
    # balanced baseline: 50 vectors per list
    base = spark.createDataFrame([(0, 50), (1, 50)], ["list_id", "n"])
    # shifted batch: 9 of 10 vectors live near centroid 1
    batch = spark.createDataFrame(
        [(i, [0.1, 0.99]) for i in range(9)] + [(9, [0.99, 0.1])],
        ["id", "vector"],
    )
    rep = {
        r["list_id"]: r
        for r in topk.ivf_incremental_assign(batch, cents, base).collect()
    }
    assert rep[0]["n_base"] == 50 and rep[0]["n_new"] == 1
    assert rep[1]["n_new"] == 9
    assert rep[1]["drift"] == pytest.approx(0.9 - 0.5, abs=1e-5)
    assert rep[0]["drift"] == pytest.approx(0.1 - 0.5, abs=1e-5)
    assert rep[0]["share_base"] == pytest.approx(0.5, abs=1e-5)
    assert 0.0 < rep[1]["mean_home_sim"] <= 1.0


def test_ivf_incremental_untouched_and_newborn_lists(spark):
    """Full-outer semantics: a list the batch never touches reports
    n_new=0 with NULL mean sim; a list absent from the baseline
    artifact (e.g. added by a partial retrain) reports n_base=0."""
    from pdf_to_vectordb_etl_spark.operators import topk

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["list_id", "centroid"]
    )
    base = spark.createDataFrame([(0, 10), (7, 5)], ["list_id", "n"])
    batch = spark.createDataFrame([(1, [0.0, 1.0])], ["id", "vector"])
    rep = {
        r["list_id"]: r
        for r in topk.ivf_incremental_assign(batch, cents, base).collect()
    }
    assert set(rep) == {0, 1, 7}
    assert rep[0]["n_new"] == 0 and rep[0]["mean_home_sim"] is None
    assert rep[7]["n_new"] == 0
    assert rep[1]["n_base"] == 0 and rep[1]["n_new"] == 1
    # a perfectly-homed vector: cosine 1 -> mean_home_sim 1.0
    assert rep[1]["mean_home_sim"] == pytest.approx(1.0, abs=1e-6)


# --------------------------------------------- T19 streaming near-dup gate


def test_stream_minhash_screen_equals_batch_incremental(spark, tmp_path):
    """T19 snapshot == dedup.incremental_minhash_pairs on identical
    rows: the per-row stateless banding must reproduce the batch
    groupBy signatures bit-for-bit (same xxhash64 seeds and types)."""
    import json

    from pdf_to_vectordb_etl_spark.operators import dedup
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        minhash_band_table,
        stream_minhash_screen,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards brew strong potions at midnight near the old tower "
    )
    corpus_rows = [
        (1, base + "alpha ending one"),
        (2, "completely different corpus text with no overlap at all "
            "whatsoever in any shingle of three words honest"),
    ]
    new_rows = [
        (101, base + "alpha ending one extra"),   # near-dup of 1
        (102, "novel unseen content that matches nothing in the corpus "
              "not even a little bit of it three words running"),
    ]
    corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
    new = spark.createDataFrame(new_rows, ["doc_id", "text"])

    batch = {
        (r["new_id"], r["corpus_id"]): round(r["jaccard"], 4)
        for r in dedup.incremental_minhash_pairs(
            new, corpus, threshold=0.5
        ).collect()
    }
    assert (101, 1) in batch  # the planted near-dup is found by batch

    # stream the new docs as JSON files, one per micro-batch
    drop = tmp_path / "drop"
    drop.mkdir()
    for i, (d, t) in enumerate(new_rows):
        (drop / f"doc{i}.json").write_text(
            json.dumps({"doc_id": d, "text": t}) + "\n"
        )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(drop))
    )
    live = stream_minhash_screen(
        stream, minhash_band_table(corpus), threshold=0.5
    )
    got = {
        (r["new_id"], r["corpus_id"]): r["jaccard"]
        for r in drain_to_memory(live, "t19_test").collect()
    }
    assert got == batch


# ------------------------------------------------------------- DDSketch


def test_ddsketch_relative_error_and_mergeability(spark):
    """DDSketch guarantees: every quantile estimate is within relative
    error alpha of the true value (positive data), and the sketch is
    fully mergeable — bucket tables of two disjoint halves sum to the
    whole-corpus bucket table (the property the T21 streaming twin
    rides on)."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    vals = [float(1 + (i * 37) % 1000) + 0.25 for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], ["value"])
    alpha = 0.01
    b = sketch.ddsketch_buckets(df, "value", alpha=alpha)
    out = {
        r["q"]: r["est"]
        for r in sketch.ddsketch_quantiles(
            b, qs=(0.5, 0.9, 0.99), alpha=alpha
        ).collect()
    }
    s = sorted(vals)
    import math

    for q, est in out.items():
        true = s[math.ceil(q * (len(s) - 1))]
        assert abs(est - true) <= alpha * true + 1e-9, (q, est, true)

    # mergeability: half-sketches sum to the full sketch
    h1 = sketch.ddsketch_buckets(
        df.filter(F.col("value") < 500), "value", alpha=alpha
    )
    h2 = sketch.ddsketch_buckets(
        df.filter(F.col("value") >= 500), "value", alpha=alpha
    )
    merged = {
        r["idx"]: r["cnt"]
        for r in h1.unionByName(h2)
        .groupBy("idx")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    whole = {r["idx"]: r["cnt"] for r in b.collect()}
    assert merged == whole


def test_ddsketch_zero_and_negative_stores(spark):
    """Zero bucket and mirrored negative store: sign-correct
    estimates, zeros land at exactly 0.0."""
    from pdf_to_vectordb_etl_spark.operators import sketch

    rows = [(-100.0,), (-10.0,), (0.0,), (10.0,), (100.0,)]
    df = spark.createDataFrame(rows, ["value"])
    out = {
        r["q"]: r["est"]
        for r in sketch.ddsketch_quantiles(
            sketch.ddsketch_buckets(df, "value"), qs=(0.0, 0.5, 1.0)
        ).collect()
    }
    assert out[0.0] < -99  # most-negative bucket
    assert out[0.5] == 0.0  # the zero bucket
    assert out[1.0] > 99


# ------------------------------------------------------------ salted join


def test_salted_join_identical_to_plain_join(spark):
    """salted_join must return exactly the plain join's rows (only the
    physical distribution differs), spread hot keys across salts, and
    replicate the small side once per salt."""
    from pdf_to_vectordb_etl_spark.operators import joins

    big = spark.createDataFrame(
        [(i, "hot" if i % 10 < 9 else "cold", float(i)) for i in range(500)],
        ["id", "k", "v"],
    )
    small = spark.createDataFrame(
        [("hot", 1), ("cold", 2), ("absent", 3)], ["k", "w"]
    )
    plain = {(r["id"], r["w"]) for r in big.join(small, ["k"]).collect()}
    salted = joins.salted_join(big, small, ["k"], n_salts=8)
    got = {(r["id"], r["w"]) for r in salted.collect()}
    assert got == plain and len(got) == 500

    # hot key really spreads: its big-side rows carry >1 distinct salt
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8))
    n_salts_hot = (
        big.filter(F.col("k") == "hot")
        .select(salt.alias("s"))
        .distinct()
        .count()
    )
    assert n_salts_hot > 1

    # left join keeps unmatched big rows exactly once
    bigx = big.unionByName(
        spark.createDataFrame([(999, "nokey", 0.0)], ["id", "k", "v"])
    )
    left = joins.salted_join(bigx, small, ["k"], n_salts=4, how="left")
    assert left.count() == 501
    assert left.filter(F.col("k") == "nokey").first()["w"] is None

    with pytest.raises(ValueError):
        joins.salted_join(big, small, ["k"], how="full")


# --------------------------------------- suffix-array ⟷ ExactSubstr

def test_repeated_window_starts_matches_brute_force(spark):
    """The prefix-doubling derivation (width-w ranks at offsets 0 and
    L−w) must produce EXACTLY the value-grouped repeated-window set,
    across window lengths that exercise L == 2^k, L == 2^k + 1 and
    the offset-overlap case, plus cross_doc_only counting."""
    from collections import Counter, defaultdict

    from pdf_to_vectordb_etl_spark.operators import suffixes

    docs = [(1, "abcabcxabc"), (2, "zzabcabczz"), (3, "qqqq"), (4, "ab")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    for L in (2, 3, 4, 5):
        got = {
            (r["doc_id"], r["start"], r["n_occurrences"])
            for r in suffixes.repeated_window_starts(df, L).collect()
        }
        cnt = Counter(
            t[s : s + L] for _, t in docs for s in range(len(t) - L + 1)
        )
        exp = {
            (d, s + 1, cnt[t[s : s + L]])
            for d, t in docs
            for s in range(len(t) - L + 1)
            if cnt[t[s : s + L]] >= 2
        }
        assert got == exp, f"L={L}"
    by_doc = defaultdict(set)
    for d, t in docs:
        for s in range(len(t) - 2):
            by_doc[t[s : s + 3]].add(d)
    got = {
        (r["doc_id"], r["start"])
        for r in suffixes.repeated_window_starts(
            df, 3, cross_doc_only=True
        ).collect()
    }
    exp = {
        (d, s + 1)
        for d, t in docs
        for s in range(len(t) - 2)
        if len(by_doc[t[s : s + 3]]) >= 2
    }
    assert got == exp


def test_suffix_route_reconciles_exact_substring_dedup(spark):
    """VERDICT r4 #3: the suffix-array route (repeated_window_starts)
    and the window-hash route (exact_substring_dedup) are independent
    algorithms for the same ExactSubstr semantics — the set of removed
    characters must be IDENTICAL, including straddling duplicates the
    alignment-free windows were built for."""
    from collections import defaultdict

    from pdf_to_vectordb_etl_spark.operators import suffixes, webcorpus

    L = 6
    shared = "DUPLICATEBLOCK"  # 14 chars, repeats across docs offset
    docs = [
        (1, "aaa" + shared + "bbb"),
        (2, "zq" + shared + "ppp"),          # straddling alignment
        (3, "within" + "XYXYXYXYXY" + "within"),  # within-doc repeat
        (4, "short"),
        (5, ""),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    starts = suffixes.repeated_window_starts(df, L, min_count=2)
    covered = defaultdict(set)
    for r in starts.collect():
        covered[r["doc_id"]].update(
            range(r["start"], r["start"] + L)
        )  # 1-based char positions

    ded = {
        r["doc_id"]: r
        for r in webcorpus.exact_substring_dedup(
            df, min_len=L, min_count=2
        ).collect()
    }
    for d, t in docs:
        keep = "".join(
            ch for i, ch in enumerate(t, 1) if i not in covered[d]
        )
        assert ded[d]["clean_text"] == keep, f"doc {d}"
        assert ded[d]["n_removed"] == len(covered[d]), f"doc {d}"
    # sanity: the shared block was actually flagged somewhere
    assert covered[1] and covered[3]


# ------------------------------------------------- blocklist matcher

def test_multi_pattern_hits_exact_per_offset(spark):
    """Prefix-hash + value-verify must equal brute-force per-offset
    counting — overlapping self-matches, patterns longer than the
    shortest (prefix-length) pattern, absent patterns, empty docs."""
    from pdf_to_vectordb_etl_spark.operators import textsearch

    docs = [(1, "the cat sat on the mat, the catcat"), (2, "aaaa bb catx"), (3, "")]
    pats = ["cat", "aaa", "the cat", "zzz"]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    pdf = spark.createDataFrame([(p,) for p in pats], ["pattern"])
    got = {
        (r["doc_id"], r["pattern"], r["n_hits"])
        for r in textsearch.multi_pattern_hits(ddf, pdf).collect()
    }
    exp = set()
    for d, t in docs:
        for p in pats:
            c = sum(
                1
                for i in range(len(t) - len(p) + 1)
                if t[i : i + len(p)] == p
            )
            if c:
                exp.add((d, p, c))
    assert got == exp
    assert (1, "aaa", 2) not in got  # "aaaa" is doc 2, overlap counted there
    assert (2, "aaa", 2) in got  # overlapping occurrences both count

    # empty pattern table -> empty result, not an error
    empty = spark.createDataFrame([], "pattern string")
    assert textsearch.multi_pattern_hits(ddf, empty).count() == 0


# --------------------------------------- content-defined chunking

def test_content_defined_chunks_brute_force_and_shift_robust(spark):
    """CDC boundaries/digests must match a byte-for-byte Python replay,
    and prepending chars to a document must preserve almost every
    chunk identity (the re-sync property that motivates CDC over
    fixed-offset chunking)."""
    import hashlib
    import random

    from pdf_to_vectordb_etl_spark.operators import chunking

    rnd = random.Random(7)
    base = "".join(rnd.choice("abcdefg ") for _ in range(400))
    docs = [(1, base), (2, "XX" + base), (3, "tiny"), (4, "")]
    ddf = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        tuple(r)
        for r in chunking.content_defined_chunks(
            ddf, window=8, avg_size=32
        ).collect()
    }

    thr = format(max(1, round(4096 / 32)), "03x")
    exp = set()
    for d, t in docs:
        if not t:
            continue
        bounds = [
            i
            for i in range(8, len(t))
            if hashlib.md5(t[i - 8 : i].encode()).hexdigest()[:3] < thr
        ]
        cuts = [0] + bounds + [len(t)]
        for j, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
            exp.add(
                (d, j, lo + 1, hi - lo,
                 hashlib.md5(t[lo:hi].encode()).hexdigest())
            )
    assert got == exp

    d1 = {r[4] for r in got if r[0] == 1}
    d2 = {r[4] for r in got if r[0] == 2}
    assert len(d1 & d2) >= len(d1) - 2  # re-synced after the 2-char shift


# ------------------------------------------ global row number / ntile

def test_global_ntile_matches_duckdb_semantics(spark):
    """global_ntile must equal ntile()/row_number() OVER a true global
    ORDER BY — across n < N, n = N, n > N, and n = 1 — while never
    running a single-partition Window (the machinery is range
    partition + per-partition offsets)."""
    import random

    import duckdb

    from pdf_to_vectordb_etl_spark.operators import suffixes

    rnd = random.Random(42)
    rows = [(i, rnd.uniform(-5, 5)) for i in range(197)]
    df = spark.createDataFrame(rows, ["id", "v"]).repartition(7)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES %s) AS t(id, v)"
        % ",".join(f"({i},{v!r})" for i, v in rows)
    )
    for n in (1, 5, 197, 500):
        got = {
            (r["id"], r["rn"], r["bucket"])
            for r in suffixes.global_ntile(
                df, ["v", "id"], n, rn_col="rn"
            ).collect()
        }
        exp = set(
            con.execute(
                "SELECT id, row_number() OVER (ORDER BY v, id),"
                " ntile(?) OVER (ORDER BY v, id) FROM t",
                [n],
            ).fetchall()
        )
        assert got == exp, f"n={n}"
    # empty input: no rows, no error
    e = spark.createDataFrame([], "id long, v double")
    assert suffixes.global_ntile(e, ["v", "id"], 4).count() == 0


# ------------------------------------------------- T22 stream blocklist

def test_stream_blocklist_totals_equal_batch(spark, sf_dir):
    """T22: the streaming per-pattern totals snapshot equals the batch
    matcher aggregated per pattern — same helper, same rows, so exact
    set equality (the stream state is one associative sum per
    pattern, bounded by the blocklist, not the stream)."""
    from pdf_to_vectordb_etl_spark.operators import textsearch
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_blocklist_totals,
        table_stream,
    )
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(
            F.regexp_replace("text", r"[^\x20-\x7e]", "")
        ).alias("text"),
    )
    toks = docs.select(
        F.explode(textsearch.tokens(F.col("text"))).alias("w")
    ).filter(F.length("w") >= 6)
    pats = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(5)
        .select(F.col("w").alias("pattern"))
    )
    batch = {
        (r["pattern"], r["n"])
        for r in textsearch.multi_pattern_hits(docs, pats)
        .groupBy("pattern")
        .agg(F.sum("n_hits").alias("n"))
        .collect()
    }

    stream = table_stream(spark, sf_dir, "documents").select(
        "doc_id",
        F.lower(
            F.regexp_replace("text", r"[^\x20-\x7e]", "")
        ).alias("text"),
    )
    got = {
        (r["pattern"], r["n_hits"])
        for r in drain_to_memory(
            stream_blocklist_totals(stream, pats), "t22_test"
        ).collect()
    }
    assert got == batch and len(got) >= 1


# ----------------------------------------------------- AdaBoost stumps

def test_adaboost_perfect_stump_and_noisy_boost(spark):
    """A perfectly separable grid yields eps_q = 0 and r_q = NULL on
    round 1 (and identical picks thereafter — weights frozen); a 10%
    label-noise version finds the planted threshold with eps ~ 0.1 and
    keeps boosting with r > 1."""
    from pdf_to_vectordb_etl_spark.operators import supervised

    # scores on a [0, 100) grid, planted split at 50
    clean = [(float(i % 100) + 0.5, (i % 100) >= 50) for i in range(2000)]
    df = spark.createDataFrame(clean, "score double, y boolean")
    out = supervised.adaboost_stumps(
        df, "score", F.col("y"), n_rounds=3, n_bins=100, lo=0.0, hi=100.0
    ).collect()
    assert out[0]["eps_q"] == 0.0 and out[0]["r_q"] is None
    assert out[0]["split_bin"] == 49 and out[0]["polarity"] == 1
    # frozen weights -> every later round repeats the perfect stump
    assert all(
        (r["split_bin"], r["polarity"], r["eps_q"]) == (49, 1, 0.0)
        for r in out[1:]
    )

    noisy = [
        (s, (not y) if i % 10 == 0 else y)
        for i, (s, y) in enumerate(clean)
    ]
    dfn = spark.createDataFrame(noisy, "score double, y boolean")
    outn = supervised.adaboost_stumps(
        dfn, "score", F.col("y"), n_rounds=4, n_bins=100, lo=0.0, hi=100.0
    ).collect()
    assert outn[0]["split_bin"] in (49, 50)  # the noise pattern can
    # legitimately shift the optimum one bin past the planted split
    assert 0.05 < outn[0]["eps_q"] < 0.15
    assert outn[0]["r_q"] > 1.0
    # round 2 reweights: it must not re-pick the identical stump
    assert (outn[1]["split_bin"], outn[1]["polarity"]) != (
        outn[0]["split_bin"],
        outn[0]["polarity"],
    )
    # NULL scores never bin (score_bin_histogram contract)
    withnull = dfn.union(
        spark.createDataFrame([(None, True)], "score double, y boolean")
    )
    outw = supervised.adaboost_stumps(
        withnull, "score", F.col("y"), n_rounds=1, n_bins=100,
        lo=0.0, hi=100.0,
    ).collect()
    assert outw[0]["eps_q"] == outn[0]["eps_q"]


def test_incremental_cdc_report_shift_robust(spark):
    """An edited re-ingest (chars prepended to a stored doc) must show
    a high dup_fraction — the chunk store re-syncs past the edit —
    while a genuinely new doc shows ~0; whole-doc digests would call
    both 100% new."""
    import random

    from pdf_to_vectordb_etl_spark.operators import chunking

    rnd = random.Random(11)
    stored = "".join(rnd.choice("abcdefgh ") for _ in range(600))
    fresh = "".join(rnd.choice("qrstuvwx ") for _ in range(600))
    corpus = spark.createDataFrame([(1, stored)], ["doc_id", "text"])
    cd = chunking.content_defined_chunks(
        corpus, window=8, avg_size=32
    ).select("digest")
    newb = spark.createDataFrame(
        [(10, "EDITED! " + stored), (11, fresh)], ["doc_id", "text"]
    )
    rep = {
        r["doc_id"]: r
        for r in chunking.incremental_cdc_report(
            newb, cd, window=8, avg_size=32
        ).collect()
    }
    assert rep[10]["dup_fraction"] > 0.8
    assert rep[11]["dup_fraction"] < 0.1
    assert rep[10]["known_chars"] + rep[11]["total_chars"] > 0
    # accounting invariants
    for r in rep.values():
        assert r["n_known"] <= r["n_chunks"]
        assert r["known_chars"] <= r["total_chars"]


# ------------------------------------------------------- HyperBall

def test_hyperball_tracks_exact_neighborhood_function(spark):
    """On a path graph + disconnected pair, every round's N(t) estimate
    must sit within HLL linear-counting error (<2%) of the exact
    neighborhood function, and the register iteration must saturate
    (N stops growing once balls cover components)."""
    from pdf_to_vectordb_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)] + [(10, 11)], ["a", "b"]
    )
    out = {r["t"]: r for r in graph.hyperball_neighborhood(edges, rounds=5).collect()}
    nodes = list(range(6)) + [10, 11]
    adj = {n: set() for n in nodes}
    for a in range(5):
        adj[a].add(a + 1)
        adj[a + 1].add(a)
    adj[10].add(11)
    adj[11].add(10)

    def ball(v, t):
        cur = {v}
        for _ in range(t):
            cur = cur | {u for x in cur for u in adj[x]}
        return len(cur)

    for t in range(6):
        exact = sum(ball(v, t) for v in nodes)
        est = out[t]["nf_q6"] / 1e6
        assert abs(est - exact) / exact < 0.02, (t, est, exact)
        assert out[t]["n_nodes"] == 8
    # monotone growth until coverage: the path's diameter is 5, so the
    # t=5 ball is strictly larger than t=4's
    assert out[5]["nf_q6"] > out[4]["nf_q6"]
