"""Round-5 third batch: BLEU/ROUGE corpus scoring and the 2-D skyline.

Both are pinned against independent brute-force references computed in
plain Python on the same rows (the longest_repeated_substring
two-algorithms-agree pattern), plus the edge cases their docstrings
promise (clipping, brevity penalty, empty candidates; dominance ties,
duplicates, maximize-via-negation).
"""

import math
import random
from collections import Counter

import pyspark.sql.functions as F


def _brute_skyline(pts, better_y=min):
    """O(n^2) dominance filter; pts = [(id, x, y)], minimize x, and
    minimize y when better_y is min else maximize."""

    def dominated(p, q):
        yq, yp = q[2], p[2]
        y_ok = yq <= yp if better_y is min else yq >= yp
        y_strict = yq < yp if better_y is min else yq > yp
        return q[1] <= p[1] and y_ok and (q[1] < p[1] or y_strict)

    return sorted(
        (p[1], p[2], p[0])
        for p in pts
        if not any(dominated(p, q) for q in pts)
    )


def test_skyline_matches_bruteforce(spark):
    random.seed(7)
    pts = [(i, random.randint(0, 30), random.randint(0, 30)) for i in range(300)]
    # exact duplicates and x-ties must survive together; x=-1 sits
    # left of every random point so the pair is provably frontier
    pts += [(1000, -1, 5), (1001, -1, 5), (1002, -1, 9)]
    from pdf_to_vectordb_etl_spark.operators.spatial import skyline_2d

    df = spark.createDataFrame(pts, "id INT, px INT, py INT")
    got = sorted(
        (r.px, r.py, r.id) for r in skyline_2d(df, "px", "py").collect()
    )
    assert got == _brute_skyline(pts)
    # the duplicate pair at (-1, 5) is on the frontier, both copies
    # kept; the x-tied (-1, 9) is dominated by them
    assert (-1, 5, 1000) in got and (-1, 5, 1001) in got
    assert (-1, 9, 1002) not in got


def test_skyline_maximize_via_negation(spark):
    random.seed(11)
    pts = [(i, random.randint(0, 20), random.randint(0, 20)) for i in range(200)]
    from pdf_to_vectordb_etl_spark.operators.spatial import skyline_2d

    df = spark.createDataFrame(pts, "id INT, px INT, py INT")
    got = sorted(
        (r.px, r.py, r.id)
        for r in skyline_2d(df, F.col("px"), -F.col("py")).collect()
    )
    assert got == _brute_skyline(pts, better_y=max)


def test_skyline_empty_and_single(spark):
    from pdf_to_vectordb_etl_spark.operators.spatial import skyline_2d

    df = spark.createDataFrame([(1, 3, 4)], "id INT, px INT, py INT")
    assert skyline_2d(df.filter("px < 0"), "px", "py").count() == 0
    assert [
        (r.px, r.py) for r in skyline_2d(df, "px", "py").collect()
    ] == [(3, 4)]


def _brute_bleu(pairs, max_n=4):
    def grams(ws, n):
        return Counter(tuple(ws[i : i + n]) for i in range(len(ws) - n + 1))

    clip = {n: 0 for n in range(1, max_n + 1)}
    tot = dict(clip)
    rtot = dict(clip)
    for _, c, r in pairs:
        cw = c.lower().split()
        rw = r.lower().split()
        for n in range(1, max_n + 1):
            gc, gr = grams(cw, n), grams(rw, n)
            tot[n] += sum(gc.values())
            rtot[n] += sum(gr.values())
            clip[n] += sum(min(v, gr[g]) for g, v in gc.items())
    return clip, tot, rtot


def test_bleu_rouge_matches_bruteforce(spark):
    pairs = [
        (1, "the cat sat on the mat", "the cat sat on the mat"),
        (2, "the the the the", "the cat"),  # clipping caps p1 at 1/4
        (3, "a b c", "a b c d e f"),  # short candidate -> BP < 1
        (4, "", "x y z"),  # empty candidate contributes nothing
    ]
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        bleu_rouge_corpus,
    )

    df = spark.createDataFrame(pairs, "id INT, cand STRING, ref STRING")
    row = bleu_rouge_corpus(df, "cand", "ref", "id").collect()[0]
    clip, tot, rtot = _brute_bleu(pairs)
    assert row.n_pairs == 4
    assert row.c_len == tot[1] and row.r_len == rtot[1]
    for n in range(1, 5):
        assert row[f"clip{n}"] == clip[n] and row[f"tot{n}"] == tot[n]
        assert row[f"p{n}_q6"] == math.floor(clip[n] * 1e6 / tot[n]) / 1e6
    assert row.rouge1_q6 == math.floor(clip[1] * 1e6 / rtot[1]) / 1e6
    assert row.rouge2_q6 == math.floor(clip[2] * 1e6 / rtot[2]) / 1e6
    bp = 1.0 if tot[1] >= rtot[1] else math.exp(1 - rtot[1] / tot[1])
    assert row.bp_q6 == math.floor(bp * 1e6) / 1e6
    want = (
        math.floor(
            bp
            * math.exp(
                sum(math.log(clip[n] / tot[n]) for n in range(1, 5)) / 4
            )
            * 1e6
        )
        / 1e6
        if all(clip[n] > 0 for n in range(1, 5))
        else 0.0
    )
    assert row.bleu_q6 == want


def test_bleu_identical_corpus_is_one(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        bleu_rouge_corpus,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e", "a b c d e")], "id INT, cand STRING, ref STRING"
    )
    r = bleu_rouge_corpus(df, "cand", "ref", "id").collect()[0]
    assert r.bleu_q6 == 1.0 and r.bp_q6 == 1.0 and r.rouge1_q6 == 1.0


def test_bleu_zero_ngram_overlap_is_zero_and_empty_cand_null(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import (
        bleu_rouge_corpus,
    )

    df = spark.createDataFrame(
        [(1, "p q r s t", "a b c d e")], "id INT, cand STRING, ref STRING"
    )
    r = bleu_rouge_corpus(df, "cand", "ref", "id").collect()[0]
    assert r.bleu_q6 == 0.0 and r.clip1 == 0
    e = spark.createDataFrame(
        [(1, "", "x y"), (2, "  ", "z")], "id INT, cand STRING, ref STRING"
    )
    re_ = bleu_rouge_corpus(e, "cand", "ref", "id").collect()[0]
    assert re_.bleu_q6 is None and re_.bp_q6 is None and re_.c_len == 0


def test_global_prefix_sum_exact(spark):
    df = spark.createDataFrame(
        [(i, i % 3 + 1) for i in range(57)], "k INT, m INT"
    )
    from pdf_to_vectordb_etl_spark.operators import suffixes

    got = {
        r["k"]: r["before"]
        for r in suffixes.global_prefix_sum(df, ["k"], "m").collect()
    }
    acc = 0
    for i in range(57):
        assert got[i] == acc
        acc += i % 3 + 1
    # empty input survives (no partitions → constant-0 column)
    assert suffixes.global_prefix_sum(df.limit(0), ["k"], "m").count() == 0


def test_mann_whitney_matches_bruteforce(spark):
    from collections import Counter

    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(11)
    rows = [("a", float(random.randint(0, 20))) for _ in range(80)] + [
        ("b", float(random.randint(3, 25))) for _ in range(60)
    ]
    d = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = evaluation.mann_whitney_u(d, "v", "g", "a", "b").collect()[0]
    cnt = Counter(v for _, v in rows)
    rank, pos = {}, 1
    for v in sorted(cnt):
        rank[v] = pos + (cnt[v] - 1) / 2
        pos += cnt[v]
    r1 = sum(rank[v] for g, v in rows if g == "a")
    n1 = sum(1 for g, _ in rows if g == "a")
    n2 = len(rows) - n1
    u1 = r1 - n1 * (n1 + 1) / 2
    big = n1 + n2
    tie = sum(t**3 - t for t in cnt.values())
    var = n1 * n2 / 12 * ((big + 1) - tie / (big * (big - 1)))
    z = (u1 - n1 * n2 / 2) / math.sqrt(var)
    assert got["two_r1"] == int(2 * r1)
    assert got["two_u1"] == int(2 * u1)
    assert got["tie_sum"] == tie
    assert abs(got["z_q6"] - z) < 2e-6
    # degenerate guards: one-sided and all-tied inputs are NULL z
    one = spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g STRING, v DOUBLE")
    assert evaluation.mann_whitney_u(one, "v", "g", "a", "b").collect()[0][
        "z_q6"
    ] is None
    tied = spark.createDataFrame(
        [("a", 5.0), ("b", 5.0), ("b", 5.0)], "g STRING, v DOUBLE"
    )
    assert evaluation.mann_whitney_u(tied, "v", "g", "a", "b").collect()[0][
        "z_q6"
    ] is None


def test_mutual_information_matches_bruteforce(spark):
    from collections import Counter

    from pdf_to_vectordb_etl_spark.operators import evaluation

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 9.0),
        ("b", 8.0), ("b", 9.5), ("b", 1.5),
    ] * 5
    d = spark.createDataFrame(rows, "x STRING, v DOUBLE")
    got = evaluation.mutual_information(d, "x", "v", 0.0, 10.0, 5).collect()[0]
    cells = Counter((x, min(4, max(0, int(v / 2)))) for x, v in rows)
    n = sum(cells.values())
    nx, nb = Counter(), Counter()
    for (x, b), c in cells.items():
        nx[x] += c
        nb[b] += c
    mi = sum(
        c / n * math.log(n * c / (nx[x] * nb[b]))
        for (x, b), c in cells.items()
    )
    hx = -sum(c / n * math.log(c / n) for c in nx.values())
    hy = -sum(c / n * math.log(c / n) for c in nb.values())
    assert got["n"] == n and got["n_cells"] == len(cells)
    assert abs(got["mi_q"] - mi) < 1e-5
    assert abs(got["h_x_q"] - hx) < 1e-5
    assert abs(got["nmi_q"] - mi / math.sqrt(hx * hy)) < 1e-5
    # independent columns → MI 0; constant x → Hx 0 → NULL nmi
    ind = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0), ("b", 1.0), ("b", 9.0)] * 3,
        "x STRING, v DOUBLE",
    )
    r = evaluation.mutual_information(ind, "x", "v", 0.0, 10.0, 2).collect()[0]
    assert r["mi_q"] == 0.0 and r["nmi_q"] == 0.0
    const = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0)], "x STRING, v DOUBLE"
    )
    r = evaluation.mutual_information(const, "x", "v", 0.0, 10.0, 2).collect()[0]
    assert r["nmi_q"] is None and r["h_x_q"] == 0.0


def test_target_encode_loo(spark):
    import pyspark.sql.functions as SF

    from pdf_to_vectordb_etl_spark.operators import supervised

    rows = [(1, "a", 1), (2, "a", 0), (3, "a", 1), (4, "b", 1), (5, "c", 0)]
    d = spark.createDataFrame(rows, "id INT, c STRING, y INT")
    got = {
        r["id"]: r["enc_q6"]
        for r in supervised.target_encode_loo(
            d, "c", SF.col("y"), ["id"]
        ).collect()
    }
    # own row excluded: id=1 sees mean(0,1)=0.5; id=2 sees mean(1,1)=1
    assert got[1] == 0.5 and got[2] == 1.0 and got[3] == 0.5
    # unsmoothed singletons are NULL (no leakage-free estimate)
    assert got[4] is None and got[5] is None
    sm = {
        r["id"]: r["enc_q6"]
        for r in supervised.target_encode_loo(
            d, "c", SF.col("y"), ["id"], smoothing=2
        ).collect()
    }
    # ((s−y)·N + m·S) / ((n−1+m)·N): id=4 → (0·5 + 2·3)/(2·5) = 0.6
    assert sm[4] == 0.6 and sm[5] == 0.6
    # id=1 → ((2−1)·5 + 2·3)/((3−1+2)·5) = 11/20
    assert sm[1] == 0.55


def test_autocorr_lags_period_and_bruteforce(spark):
    from pdf_to_vectordb_etl_spark.operators import aggregates

    n = 200
    xs = [(t, 100 + (t % 7) * 10) for t in range(n)]
    d = spark.createDataFrame(xs, "t INT, x INT")
    got = {
        r["lag"]: r["r_q6"]
        for r in aggregates.autocorr_lags(d, "t", "x", 8).collect()
    }
    assert abs(got[7] - 1.0) < 1e-5  # the planted period
    pairs = [(xs[t][1], xs[t + 2][1]) for t in range(n - 2)]
    mx = sum(p[0] for p in pairs) / len(pairs)
    my = sum(p[1] for p in pairs) / len(pairs)
    num = sum((a - mx) * (b - my) for a, b in pairs)
    den = math.sqrt(sum((a - mx) ** 2 for a, _ in pairs)) * math.sqrt(
        sum((b - my) ** 2 for _, b in pairs)
    )
    assert abs(got[2] - num / den) < 1e-5
    # gaps in the index simply shrink n_pairs; constant series → NULL
    const = spark.createDataFrame([(t, 5) for t in range(20)], "t INT, x INT")
    r = {
        x["lag"]: x["r_q6"]
        for x in aggregates.autocorr_lags(const, "t", "x", 2).collect()
    }
    assert r[1] is None and r[2] is None


def test_spearman_matches_bruteforce(spark):
    from collections import Counter

    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(3)
    rows = [
        (float(random.randint(0, 30)), float(random.randint(0, 30)) + 0.3 * i)
        for i in range(120)
    ]
    d = spark.createDataFrame(rows, "x DOUBLE, y DOUBLE")
    got = evaluation.spearman_rho(d, "x", "y").collect()[0]

    def avgranks(vals):
        c = Counter(vals)
        r, p = {}, 1
        for v in sorted(c):
            r[v] = p + (c[v] - 1) / 2
            p += c[v]
        return r

    rx = avgranks([a for a, _ in rows])
    ry = avgranks([b for _, b in rows])
    n = len(rows)
    aa = [2 * rx[a] - (n + 1) for a, _ in rows]
    bb = [2 * ry[b] - (n + 1) for _, b in rows]
    rho = sum(x * y for x, y in zip(aa, bb)) / math.sqrt(
        sum(x * x for x in aa) * sum(y * y for y in bb)
    )
    assert abs(got["rho_q6"] - rho) < 2e-6
    # doubled-centered ranks make Σa exactly 0 ⇒ integer sums exact
    assert got["sab"] == int(round(sum(x * y for x, y in zip(aa, bb))))
    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(50)], "x DOUBLE, y DOUBLE"
    )
    assert evaluation.spearman_rho(mono, "x", "y").collect()[0]["rho_q6"] == 1.0
    const = spark.createDataFrame(
        [(1.0, float(i)) for i in range(5)], "x DOUBLE, y DOUBLE"
    )
    assert (
        evaluation.spearman_rho(const, "x", "y").collect()[0]["rho_q6"] is None
    )


def test_anova_matches_bruteforce(spark):
    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(9)
    rows = (
        [("a", random.gauss(10, 2)) for _ in range(60)]
        + [("b", random.gauss(12, 2)) for _ in range(50)]
        + [("c", random.gauss(9, 2)) for _ in range(40)]
    )
    d = spark.createDataFrame(rows, "g STRING, v DOUBLE")
    got = evaluation.anova_oneway(d, "v", "g", scale=100).collect()[0]
    xs = {
        g: [math.floor(v * 100) for gg, v in rows if gg == g] for g in "abc"
    }
    allx = [x for v in xs.values() for x in v]
    n, s, k = len(allx), sum(allx), 3
    ssb = sum(sum(v) ** 2 / len(v) for v in xs.values()) - s * s / n
    sst = sum(x * x for x in allx) - s * s / n
    fstat = (ssb / (k - 1)) / ((sst - ssb) / (n - k))
    assert abs(got["f_q6"] - fstat) / fstat < 1e-4
    assert abs(got["eta2_q6"] - ssb / sst) < 1e-4
    one = spark.createDataFrame([("a", float(i)) for i in range(5)], "g STRING, v DOUBLE")
    assert evaluation.anova_oneway(one, "v", "g").collect()[0]["f_q6"] is None


def test_cramers_v_matches_bruteforce(spark):
    from collections import Counter

    from pdf_to_vectordb_etl_spark.operators import evaluation

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 9.0),
        ("b", 8.0), ("b", 9.5), ("b", 1.5), ("c", 3.3),
    ] * 6
    d = spark.createDataFrame(rows, "x STRING, v DOUBLE")
    got = evaluation.chi_square_cramers_v(d, "x", "v", 0.0, 10.0, 5).collect()[0]
    cells = Counter((x, min(4, max(0, int(v / 2)))) for x, v in rows)
    nx, nb = Counter(), Counter()
    for (x, b), c in cells.items():
        nx[x] += c
        nb[b] += c
    n = sum(cells.values())
    chi2 = sum(
        (cells.get((x, b), 0) - nx[x] * nb[b] / n) ** 2 / (nx[x] * nb[b] / n)
        for x in nx
        for b in nb
    )
    v = math.sqrt(chi2 / (n * min(len(nx) - 1, len(nb) - 1)))
    assert abs(got["chi2_q"] - chi2) < 2e-3
    assert abs(got["v_q6"] - v) < 1e-5
    # perfectly independent table → chi2 0 (absent-cell fold exact)
    ind = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0), ("b", 1.0), ("b", 9.0)] * 3,
        "x STRING, v DOUBLE",
    )
    r = evaluation.chi_square_cramers_v(ind, "x", "v", 0.0, 10.0, 2).collect()[0]
    assert r["chi2_q"] == 0.0 and r["v_q6"] == 0.0


def _brute_lcs(a, b):
    m, n = len(a), len(b)
    dp = [[0] * (n + 1) for _ in range(m + 1)]
    for i in range(1, m + 1):
        for j in range(1, n + 1):
            dp[i][j] = (
                dp[i - 1][j - 1] + 1
                if a[i - 1] == b[j - 1]
                else max(dp[i - 1][j], dp[i][j - 1])
            )
    return dp[m][n]


def test_rouge_l_matches_bruteforce(spark):
    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(5)
    vocab = ["w%d" % i for i in range(12)]
    rows = []
    for i in range(40):
        c = [random.choice(vocab) for _ in range(random.randint(0, 30))]
        r = [random.choice(vocab) for _ in range(random.randint(0, 30))]
        rows.append((i, " ".join(c), " ".join(r)))
    d = spark.createDataFrame(rows, "id INT, cand STRING, ref STRING")
    got = evaluation.rouge_l_corpus(d, max_words=48).collect()[0]
    tot_l = sum(
        _brute_lcs(c.split() if c else [], r.split() if r else [])
        for _, c, r in rows
    )
    tot_m = sum(len(c.split()) for _, c, _ in rows)
    tot_n = sum(len(r.split()) for _, _, r in rows)
    assert got["lcs_sum"] == tot_l
    assert got["c_words"] == tot_m and got["r_words"] == tot_n
    p, r = tot_l / tot_m, tot_l / tot_n
    assert abs(got["rl_f_q6"] - 2 * p * r / (p + r)) < 2e-6
    # identical → full credit; empty candidate and disjoint pair
    # neither crash nor contribute LCS; truncation cap honored
    e = spark.createDataFrame(
        [(1, "a b c", "a b c"), (2, "", "x y"), (3, "q", "z")],
        "id INT, cand STRING, ref STRING",
    )
    row = evaluation.rouge_l_corpus(e).collect()[0]
    assert row["lcs_sum"] == 3 and row["rl_r_q6"] == 0.5
    long_pair = spark.createDataFrame(
        [(1, " ".join(["t"] * 100), " ".join(["t"] * 100))],
        "id INT, cand STRING, ref STRING",
    )
    row = evaluation.rouge_l_corpus(long_pair, max_words=48).collect()[0]
    assert row["lcs_sum"] == 48 and row["c_words"] == 48


def test_autocorr_big_magnitudes_use_exact_decimal(spark):
    # n·Σx² > 2^63 for this series: the cross products must run in
    # DECIMAL(38,0) (the ×10-replica overflow regression)
    from pdf_to_vectordb_etl_spark.operators import aggregates

    n = 2500
    xs = [(t, 1_500_000 + (t % 9) * 137) for t in range(n)]
    d = spark.createDataFrame(xs, "t INT, x LONG")
    got = {
        r["lag"]: r["r_q6"]
        for r in aggregates.autocorr_lags(d, "t", "x", 9).collect()
    }
    assert abs(got[9] - 1.0) < 1e-5  # planted period still exact
    assert all(v is not None for v in got.values())


def test_benford_matches_bruteforce(spark):
    from collections import Counter

    from pdf_to_vectordb_etl_spark.operators import profiling

    random.seed(13)
    vals = [random.lognormvariate(5, 2) for _ in range(3000)] + [
        -1.0, 0.0, 0.001,
    ]
    d = spark.createDataFrame([(v,) for v in vals], "v DOUBLE")
    got = profiling.benford_first_digit(d, "v", scale=100).collect()[0]
    ints = [math.floor(v * 100) for v in vals]
    pos = [i for i in ints if i >= 1]
    digs = Counter(int(str(i)[0]) for i in pos)
    n = len(pos)
    probs = {dd: math.log10(1 + 1 / dd) for dd in range(1, 10)}
    chi2 = sum(
        (digs.get(dd, 0) - n * probs[dd]) ** 2 / (n * probs[dd])
        for dd in range(1, 10)
    )
    mad = sum(
        abs(digs.get(dd, 0) / n - probs[dd]) for dd in range(1, 10)
    ) / 9
    assert got["n"] == n and got["n_skipped"] == len(ints) - n
    assert abs(got["chi2_q"] - chi2) < 5e-3
    assert abs(got["mad_q6"] - mad) < 2e-6
    assert got["d1_q6"] == math.floor(digs[1] * 1e6 / n) / 1e6
    # absent digits fold in closed form: only digit 1 present
    one = spark.createDataFrame([(1.0,)] * 50, "v DOUBLE")
    g2 = profiling.benford_first_digit(one, "v", scale=100).collect()[0]
    chi2b = sum(
        ((50 if dd == 1 else 0) - 50 * probs[dd]) ** 2 / (50 * probs[dd])
        for dd in range(1, 10)
    )
    assert abs(g2["chi2_q"] - chi2b) < 5e-3


def test_touch_attribution_matches_bruteforce(spark):
    from pdf_to_vectordb_etl_spark.operators import aggregates

    random.seed(17)
    rows, eid = [], 0
    for u in range(8):
        t = 0
        for _ in range(60):
            t += random.randint(1, 10)
            typ = random.choice(["view", "click", "purchase", "error"])
            rows.append((eid, u, t, typ))
            eid += 1
    # tie hazards: two touches at one ts, a purchase sharing a touch ts
    rows += [
        (9000, 1, 500, "view"), (9001, 1, 500, "click"),
        (9002, 1, 500, "purchase"), (9003, 1, 501, "purchase"),
    ]
    d = spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, ts LONG, event_type STRING"
    )
    w = 25
    got = {
        r["conversion_id"]: r
        for r in aggregates.touch_attribution(d, lookback=w).collect()
    }
    by_user = {}
    for e in rows:
        by_user.setdefault(e[1], []).append(e)
    n_conv = 0
    for u, es in by_user.items():
        touches = [e for e in es if e[3] in ("view", "click")]
        for e in es:
            if e[3] != "purchase":
                continue
            n_conv += 1
            cand = [t for t in touches if e[2] - w <= t[2] <= e[2] - 1]
            g = got[e[0]]
            if not cand:
                assert g["first_touch_id"] is None
                assert g["last_touch_id"] is None
                continue
            tmin = min(t[2] for t in cand)
            tmax = max(t[2] for t in cand)
            fexp = min(
                (t for t in cand if t[2] == tmin),
                key=lambda t: (t[0], t[3]),
            )
            lexp = max(
                (t for t in cand if t[2] == tmax),
                key=lambda t: (t[0], t[3]),
            )
            assert g["first_touch_id"] == fexp[0]
            assert g["last_touch_id"] == lexp[0]
            assert g["first_gap"] == e[2] - tmin
            assert g["last_gap"] == e[2] - tmax
    assert len(got) == n_conv


def test_cuped_matches_bruteforce(spark):
    from collections import Counter

    import pyspark.sql.functions as SF

    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(21)
    rows = []
    for u in range(60):
        base = random.uniform(50, 150)
        for t in range(20):
            rows.append((u, t * 10, base + random.uniform(-10, 10)))
    d = spark.createDataFrame(rows, "user_id LONG, ts LONG, value DOUBLE")
    arm = SF.when(SF.col("user_id") % 2 == 0, "A").otherwise("B")
    got = {
        r["arm"]: r
        for r in evaluation.cuped_adjusted(
            d, "user_id", "ts", "value", split_ts=100, arm_expr=arm
        ).collect()
    }
    ux, uy = Counter(), Counter()
    for u, ts, v in rows:
        (ux if ts < 100 else uy)[u] += math.floor(v)
    users = sorted({u for u, _, _ in rows})
    xs = [ux.get(u, 0) for u in users]
    ys = [uy.get(u, 0) for u in users]
    n = len(users)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    vx = sum((x - mx) ** 2 for x in xs)
    vy = sum((y - my) ** 2 for y in ys)
    theta = cov / vx
    for a, sel in [("A", 0), ("B", 1)]:
        us = [u for u in users if u % 2 == sel]
        ym = sum(uy.get(u, 0) for u in us) / len(us)
        xm = sum(ux.get(u, 0) for u in us) / len(us)
        g = got[a]
        assert abs(g["y_adj_q6"] - (ym - theta * (xm - mx))) < 1e-4
        assert abs(g["theta_q6"] - theta) < 1e-4
        assert abs(g["rho2_q6"] - cov * cov / (vx * vy)) < 1e-4
    # CUPED must shrink the gap toward the true zero effect when the
    # covariate carries the user baseline: adj means differ less than
    # raw means across arms
    raw_gap = abs(got["A"]["y_mean_q6"] - got["B"]["y_mean_q6"])
    adj_gap = abs(got["A"]["y_adj_q6"] - got["B"]["y_adj_q6"])
    assert adj_gap <= raw_gap


def test_jackknife_ratio_matches_bruteforce(spark):
    from collections import Counter

    import pyspark.sql.functions as SF

    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(23)
    rows = []
    for u in range(200):
        for _ in range(random.randint(1, 5)):
            rows.append(
                (u, random.choice(["view", "purchase"]),
                 random.uniform(1, 100))
            )
    d = spark.createDataFrame(
        rows, "user_id LONG, event_type STRING, value DOUBLE"
    )
    got = evaluation.jackknife_ratio_se(
        d,
        SF.col("user_id"),
        SF.when(
            SF.col("event_type") == "purchase", SF.floor("value")
        ).otherwise(0),
        SF.when(
            SF.col("event_type") == "view", SF.floor("value")
        ).otherwise(0),
        n_buckets=32,
    ).collect()[0]
    bn, bd = Counter(), Counter()
    for u, t, v in rows:
        (bn if t == "purchase" else bd)[u % 32] += math.floor(v)
    bks = sorted(set(bn) | set(bd))
    tn, td = sum(bn.values()), sum(bd.values())
    loos = [(tn - bn.get(b, 0)) / (td - bd.get(b, 0)) for b in bks]
    bb = len(bks)
    m = sum(loos) / bb
    se = math.sqrt((bb - 1) / bb * sum((x - m) ** 2 for x in loos))
    assert got["b"] == bb and got["num"] == tn and got["den"] == td
    assert abs(got["r_q6"] - tn / td) < 1e-5
    assert abs(got["se_q6"] - se) < 1e-4
    # a zero leave-one-out denominator makes the replicate set
    # undefined -> NULL se (and no ANSI /0 crash)
    z = spark.createDataFrame(
        [(0, "purchase", 5.0), (1, "view", 3.0)],
        "user_id LONG, event_type STRING, value DOUBLE",
    )
    g2 = evaluation.jackknife_ratio_se(
        z,
        SF.col("user_id"),
        SF.when(
            SF.col("event_type") == "purchase", SF.floor("value")
        ).otherwise(0),
        SF.when(
            SF.col("event_type") == "view", SF.floor("value")
        ).otherwise(0),
        n_buckets=32,
    ).collect()[0]
    assert g2["se_q6"] is None and g2["r_q6"] is not None


def test_t25_stream_cuped_equals_batch(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_t25", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    sf = "/root/testdata/sf0.001"
    q = entry.queries()
    live = {tuple(r) for r in q["t25_stream_cuped"](spark, sf).collect()}
    batch = {tuple(r) for r in q["cuped_readout"](spark, sf).collect()}
    assert live == batch and len(live) >= 1


def test_max_cover_greedy_matches_bruteforce(spark):
    from pdf_to_vectordb_etl_spark.operators import curation

    docs = [
        (1, "a b c d e f"),
        (2, "a b c x y z w"),
        (3, "q r s t u"),
        (4, "a b c d e f g"),
        (5, ""),
        (6, "t u"),
    ]
    d = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    got = [tuple(r) for r in curation.max_cover_select(d, 4).collect()]

    def sh(t, n=3):
        w = t.lower().split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    univ = {i: sh(t) for i, t in docs}
    cov, picked, tot = set(), [], 0
    for rnd in range(1, 5):
        gains = {i: len(s - cov) for i, s in univ.items() if s - cov}
        if not gains:
            break  # exhaustion stops the greedy before k
        best = max(sorted(gains), key=lambda i: (gains[i], -i))
        tot += gains[best]
        picked.append((rnd, best, gains[best], tot))
        cov |= univ[best]
    assert got == picked


def test_eval_map_exact_integer_ap(spark):
    # hand-checkable panel: qid 0's neighbors by construction
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_map", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    row = entry.queries()["eval_map_ann"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["n_queries"] >= 1
    assert row["map10_q6"] is None or 0.0 <= row["map10_q6"] <= 1.0


def test_kendall_tau_b_matches_bruteforce(spark):
    from collections import Counter
    from itertools import combinations

    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(29)
    rows = [(random.randint(0, 5), random.randint(0, 7)) for _ in range(300)]
    d = spark.createDataFrame(rows, "x INT, y INT")
    got = evaluation.kendall_tau_b(d, "x", "y").collect()[0]
    conc = disc = 0
    for (x1, y1), (x2, y2) in combinations(rows, 2):
        s = (x1 - x2) * (y1 - y2)
        if s > 0:
            conc += 1
        elif s < 0:
            disc += 1
    n = len(rows)
    tx = Counter(x for x, _ in rows)
    ty = Counter(y for _, y in rows)
    n0 = n * (n - 1) / 2
    n1 = sum(t * (t - 1) / 2 for t in tx.values())
    n2 = sum(t * (t - 1) / 2 for t in ty.values())
    tau = (conc - disc) / math.sqrt((n0 - n1) * (n0 - n2))
    assert got["conc"] == conc and got["disc"] == disc
    assert abs(got["tau_b_q6"] - tau) < 2e-6
    mono = spark.createDataFrame([(i, 2 * i) for i in range(20)], "x INT, y INT")
    assert evaluation.kendall_tau_b(mono, "x", "y").collect()[0][
        "tau_b_q6"
    ] == 1.0
    const = spark.createDataFrame([(1, i) for i in range(5)], "x INT, y INT")
    assert evaluation.kendall_tau_b(const, "x", "y").collect()[0][
        "tau_b_q6"
    ] is None


def test_t27_stream_kendall_equals_batch(spark):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry_t27", "/root/repo/__spark_entry__.py"
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    sf = "/root/testdata/sf0.001"
    q = entry.queries()
    live = [tuple(r) for r in q["t27_stream_kendall"](spark, sf).collect()]
    batch = [tuple(r) for r in q["kendall_tau"](spark, sf).collect()]
    assert live == batch and len(live) == 1


def test_rouge_l_large_tier_matches_bruteforce(spark):
    # r6: pairs past the old 48-word cap route through the numpy
    # wavefront tier; exact LCS must survive the tier seam
    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(11)
    vocab = ["tok%d" % i for i in range(25)]
    rows = []
    for i in range(12):
        c = [random.choice(vocab) for _ in range(random.randint(60, 250))]
        r = [random.choice(vocab) for _ in range(random.randint(60, 250))]
        rows.append((i, " ".join(c), " ".join(r)))
    # plus small pairs so BOTH tiers are live in one run
    rows += [(100, "a b c d", "a x c d"), (101, "", "x")]
    d = spark.createDataFrame(rows, "id INT, cand STRING, ref STRING")
    got = evaluation.rouge_l_corpus(d, max_words=256).collect()[0]
    tot_l = sum(
        _brute_lcs(c.split() if c else [], r.split() if r else [])
        for _, c, r in rows
    )
    assert got["lcs_sum"] == tot_l
    assert got["truncated_pairs"] == 0


def test_rouge_l_tiers_agree(spark):
    # same pairs forced down each tier -> identical summary row
    from pdf_to_vectordb_etl_spark.operators import evaluation

    random.seed(13)
    rows = [
        (i, " ".join(random.choice("abcde") for _ in range(40)),
         " ".join(random.choice("abcde") for _ in range(40)))
        for i in range(10)
    ]
    d = spark.createDataFrame(rows, "id INT, cand STRING, ref STRING")
    hof = evaluation.rouge_l_corpus(d, hof_max_cells=10**9).collect()[0]
    npv = evaluation.rouge_l_corpus(d, hof_max_cells=0).collect()[0]
    assert hof == npv


def test_rouge_l_truncation_reported(spark):
    from pdf_to_vectordb_etl_spark.operators import evaluation

    d = spark.createDataFrame(
        [(1, " ".join(["t"] * 300), " ".join(["t"] * 300)),
         (2, "a b", "a b")],
        "id INT, cand STRING, ref STRING",
    )
    row = evaluation.rouge_l_corpus(d, max_words=256).collect()[0]
    assert row["truncated_pairs"] == 1
    assert row["lcs_sum"] == 256 + 2 and row["c_words"] == 256 + 2


def test_stream_contamination_totals_equal_batch(spark, sf_dir):
    """T28: the streaming per-benchmark-item contamination snapshot
    equals the batch telemetry — same shingle join, bounded state
    (one associative count per benchmark doc)."""
    import pyspark.sql.functions as F

    from pdf_to_vectordb_etl_spark.operators import curation
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_contamination_totals,
        table_stream,
    )
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents")
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "14"
    batch = {
        (r["bench_id"], r["n_hits"])
        for r in curation.contamination_bench_telemetry(
            docs.filter(~is_bench), docs.filter(is_bench), n=8
        ).collect()
    }
    bench_sh = curation.benchmark_shingle_table(
        docs.filter(is_bench), n=8
    ).localCheckpoint(eager=True)
    stream = (
        table_stream(spark, sf_dir, "documents")
        .filter(~is_bench)
        .select("doc_id", "text")
    )
    got = {
        (r["bench_id"], r["n_hits"])
        for r in drain_to_memory(
            stream_contamination_totals(stream, bench_sh, n=8), "t28_test"
        ).collect()
    }
    assert got == batch and len(got) >= 1


def test_pass_at_k_matches_combinatorics(spark):
    from math import comb, floor

    from pdf_to_vectordb_etl_spark.operators.evaluation import pass_at_k

    random.seed(3)
    probs = {}
    rows = []
    for g in range(25):
        n = random.randint(1, 40)
        c = random.randint(0, n)
        probs[g] = (n, c)
        rows += [(g, 1)] * c + [(g, 0)] * (n - c)
    df = spark.createDataFrame(rows, "g int, ok int")
    got = {
        r.k: (r.n_problems, r.pass_rate_q6)
        for r in pass_at_k(df, "g", "ok", ks=(1, 3, 5)).collect()
    }
    for k in (1, 3, 5):
        vals = [
            floor((1 - comb(n - c, k) / comb(n, k) if n - c >= k else 1.0) * 1e6)
            for n, c in probs.values()
            if n >= k
        ]
        assert got[k] == (len(vals), floor(sum(vals) / len(vals)) / 1e6)


def test_pass_at_k_edge_cases(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import pass_at_k

    # all-success and all-failure problems; n < k problems excluded
    rows = [(0, 1)] * 5 + [(1, 0)] * 5 + [(2, 1)]
    df = spark.createDataFrame(rows, "g int, ok int")
    got = {r.k: r for r in pass_at_k(df, "g", "ok", ks=(1, 3)).collect()}
    assert got[3].n_problems == 2  # problem 2 has n=1 < 3
    assert got[3].pass_rate_q6 == 0.5  # one sure pass, one sure fail
    assert got[1].n_problems == 3


def test_unigram_encode_counts(spark):
    from pdf_to_vectordb_etl_spark.operators import textanalysis as ta

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat ran"),
         (2, "a cat and a mat and a hat"),
         (3, ""), (4, "supercalifragilistic zz")],
        "doc_id long, text string",
    )
    vocab = ta.unigram_lm_train(df, vocab_size=8, n_rounds=2, max_piece_len=3)
    got = {
        r.doc_id: (r.n_words, r.n_oov_words, r.n_tokens)
        for r in ta.unigram_lm_encode(
            df, vocab.select("piece", "n"), max_piece_len=3
        ).collect()
    }
    # doc1: cat/the/mat/sat/on whole pieces; ran -> r+an (9 words, 12 toks)
    assert got[1] == (9, 0, 12)
    assert got[3] == (0, 0, 0)  # empty doc still reported
    # 20-char word exceeds max_word_len -> OOV; 'zz' -> z+z
    assert got[4] == (2, 1, 2)


def test_stream_gopher_gate_equals_batch(spark, sf_dir):
    """T29: streaming per-source gate snapshot == batch gate + groupBy."""
    import pyspark.sql.functions as F

    from pdf_to_vectordb_etl_spark.operators.textanalysis import (
        gopher_quality_gate,
    )
    from pdf_to_vectordb_etl_spark.streaming.pipeline import (
        drain_to_memory,
        stream_quality_gate_totals,
        table_stream,
    )
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents")
    batch = {
        (r.source, r.n_docs, r.n_pass, r.fail_bits_seen)
        for r in gopher_quality_gate(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("gopher_pass").cast("int")).cast("long").alias("n_pass"),
            F.bit_or("gopher_fail_mask").cast("int").alias("fail_bits_seen"),
        )
        .collect()
    }
    stream = table_stream(spark, sf_dir, "documents")
    got = {
        (r.source, r.n_docs, r.n_pass, r.fail_bits_seen)
        for r in drain_to_memory(
            stream_quality_gate_totals(stream, "source"), "t29_test"
        ).collect()
    }
    assert got == batch and len(got) >= 1


def test_ks_two_sample_matches_bruteforce(spark):
    import bisect

    from pdf_to_vectordb_etl_spark.operators.evaluation import ks_two_sample

    random.seed(5)
    rows = [(random.gauss(0, 1), True) for _ in range(400)] + [
        (random.gauss(0.5, 1), False) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "x double, arm boolean")
    got = ks_two_sample(df, "x", "arm").first()
    xs1 = sorted(x for x, a in rows if a)
    xs2 = sorted(x for x, a in rows if not a)
    dm = max(
        abs(
            bisect.bisect_right(xs1, v) * len(xs2)
            - bisect.bisect_right(xs2, v) * len(xs1)
        )
        for v in set(xs1 + xs2)
    )
    assert (got.n1, got.n2, got.d_num) == (400, 300, dm)
    assert abs(got.d_q6 - dm / (400 * 300)) < 2e-6


def test_ks_two_sample_edges(spark):
    from pdf_to_vectordb_etl_spark.operators.evaluation import ks_two_sample

    # identical samples -> D = 0; empty arm -> NULLs
    same = spark.createDataFrame(
        [(float(i % 5), i % 2 == 0) for i in range(100)], "x double, arm boolean"
    )
    r = ks_two_sample(same, "x", "arm").first()
    assert r.d_num == 0 and r.d_q6 == 0.0
    one = ks_two_sample(same.filter("arm"), "x", "arm").first()
    assert one.d_num is None and one.n2 == 0


def test_curation_pipeline_funnel_is_monotone(spark, sf_dir):
    import __spark_entry__ as entry

    r = entry.queries()["curation_pipeline_report"](spark, sf_dir).first()
    assert (
        r.n_total
        >= r.n_gopher_pass
        >= r.n_after_exact
        >= r.n_after_neardup
        >= r.n_after_decontam
        > 0
    )
    assert r.kn_min <= r.kn_max
