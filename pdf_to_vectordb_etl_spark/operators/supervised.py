"""Distributed supervised-learning primitives: closed-form fits only.

A 100 TB curation pipeline trains small models *on* corpus metadata —
"which threshold on this quality score best separates labels" (a
decision stump), "how do these two features jointly predict the
target" (ordinary least squares) — and it wants them without an
iterative solver: every estimator here folds the corpus to a bounded
sufficient-statistics relation in ONE map-side-combined aggregate and
finishes with closed-form arithmetic on that tiny table.  The OLS
normal equations are solved in EXACT integer arithmetic (decimal
Cramer determinants over integer-quantized sums), so the fitted
coefficients are bit-identical on any engine and any partitioning.

(Beyond-reference capability; no counterpart in the reference
pipeline.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from pdf_to_vectordb_etl_spark.operators.evaluation import score_bin_histogram
from pdf_to_vectordb_etl_spark.placement import bounded_collect

#: driver fast-path cap on pair rows for the Bradley–Terry MM rounds
#: (placement: bounded_collect)
FAST_PATH_MAX_PAIRS = 200_000


def stump_split(
    df: DataFrame,
    score_col: str,
    label_col: Column,
    n_bins: int = 1000,
    lo: float = 0.0,
    hi: float = 500.0,
) -> DataFrame:
    """Best single threshold on ``score_col`` for separating a binary
    label — a depth-1 decision tree (CART stump) by weighted Gini
    impurity, fit on the same fixed ``n_bins`` score grid as the AUC
    family (one map-side histogram; the cumulative window runs over the
    ≤ ``n_bins``-row bin table, bounded by construction).

    Every candidate split "x ≤ right-edge-of-bin-b" is scored as
    (nL/n)·gini(L) + (nR/n)·gini(R) from exact integer cumulative
    counts; the argmin tie-breaks on the smallest bin, so the result is
    deterministic.  Splits with an empty side are excluded; a
    single-bin (or empty) input yields no rows rather than a 0/0.

    Returns one row: ``split_bin, threshold, gini, n_left, n_right``.
    """
    binned = score_bin_histogram(df, score_col, label_col, n_bins, lo, hi)
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = binned.select(
        "bin",
        F.sum("pos").over(w_cum).cast("long").alias("pl"),
        F.sum("neg").over(w_cum).cast("long").alias("ql"),
    )
    tot = binned.agg(
        F.sum("pos").cast("long").alias("tp"),
        F.sum("neg").cast("long").alias("tq"),
    )
    nl = (F.col("pl") + F.col("ql")).cast("double")
    nr = (F.col("tp") - F.col("pl") + F.col("tq") - F.col("ql")).cast("double")
    n = nl + nr
    gini_l = 1.0 - (
        (F.col("pl") / nl) * (F.col("pl") / nl)
        + (F.col("ql") / nl) * (F.col("ql") / nl)
    )
    pr = (F.col("tp") - F.col("pl")) / nr
    qr = (F.col("tq") - F.col("ql")) / nr
    gini_r = 1.0 - (pr * pr + qr * qr)
    width = (hi - lo) / n_bins
    scored = (
        cum.join(F.broadcast(tot))
        .filter((nl > 0) & (nr > 0))
        .select(
            F.col("bin").alias("split_bin"),
            F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 6)
            .alias("threshold"),
            F.round((nl / n) * gini_l + (nr / n) * gini_r, 6).alias("gini"),
            (F.col("pl") + F.col("ql")).alias("n_left"),
            (F.col("tp") - F.col("pl") + F.col("tq") - F.col("ql"))
            .alias("n_right"),
        )
    )
    return scored.orderBy("gini", "split_bin").limit(1)


def ols_closed_form(
    df: DataFrame,
    group_col: str,
    x1: Column,
    x2: Column,
    y_cents: Column,
) -> DataFrame:
    """Per-group two-feature ordinary least squares fit, solved in
    closed form from the normal equations — no gradient steps, no
    iterations: ONE map-side-combined aggregate collects the nine
    sufficient statistics (n, Σx1, Σx2, Σx1², Σx1x2, Σx2², Σy, Σx1y,
    Σx2y) per group, then Cramer's rule inverts the 3×3 system.

    All inputs must be INTEGERS (quantize the target to cents/millis
    first): the sums are then exact longs and the determinants exact
    decimal(38,0) products, so the coefficients are bit-identical
    across engines and partitionings — the only float op is the final
    numerator/determinant division.  A singular system (collinear or
    constant features, degenerate groups) yields NULL coefficients via
    the det≠0 guard, never a division error.

    Magnitude bound: Spark caps decimals at 38 digits while a 128-bit
    engine (DuckDB HUGEINT) keeps computing, so unguarded determinants
    would diverge exactly at scale — every Cramer term is a product of
    three sufficient statistics with ≤ 2 two-term sums
    (|det| ≤ 6·M³, intermediate products ≤ 2·M²), so the computation
    is overflow-free whenever every statistic (n and the nine sums)
    stays ≤ 1e12 (6·(1e12)³ = 6e36 < 1e38).  Groups that exceed the
    bound get NULL coefficients via the SAME guard (checked BEFORE the
    determinants are evaluated — Spark's CaseWhen short-circuits, so
    ANSI mode never sees the overflow); with cents-scale inputs
    |x| ≤ 1e4 that admits n ≈ 1e8 rows per group, and shrinking the
    feature scale (or pre-centering) buys the rest of the way to any
    corpus size.

    Returns ``group, n, b0, b1, b2`` (b in cents per unit) ordered by
    group.
    """
    d = df.select(
        F.col(group_col).alias("g"),
        x1.cast("long").alias("x1"),
        x2.cast("long").alias("x2"),
        y_cents.cast("long").alias("y"),
    )
    s = d.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    dec = "decimal(38,0)"
    n_, s1, s2 = (F.col(c).cast(dec) for c in ("n", "s1", "s2"))
    s11, s12, s22 = (F.col(c).cast(dec) for c in ("s11", "s12", "s22"))
    sy, s1y, s2y = (F.col(c).cast(dec) for c in ("sy", "s1y", "s2y"))

    def det3(a, b, c, d2, e, f, g2, h, i):
        return a * (e * i - f * h) - b * (d2 * i - f * g2) + c * (d2 * h - e * g2)

    det = det3(n_, s1, s2, s1, s11, s12, s2, s12, s22)
    d0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    d1 = det3(n_, sy, s2, s1, s1y, s12, s2, s2y, s22)
    d2_ = det3(n_, s1, sy, s1, s11, s1y, s2, s12, s2y)
    # overflow guard (see docstring): every statistic ≤ 1e12 keeps all
    # decimal(38,0) intermediates under 1e38.  Must be checked OUTSIDE
    # the det expressions — CaseWhen short-circuits, so ANSI mode never
    # evaluates a determinant for an out-of-bound group.
    fits = F.greatest(
        F.col("n").cast("double"),
        *[
            F.abs(F.col(c)).cast("double")
            for c in ("s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
        ],
    ) <= F.lit(1e12)

    def coeff(num):
        return F.when(
            fits,
            F.round(
                F.when(
                    det != F.lit(0).cast(dec),
                    num.cast("double") / det.cast("double"),
                ),
                6,
            ),
        )

    return s.select(
        F.col("g").alias("group"),
        F.col("n").cast("long").alias("n"),
        coeff(d0).alias("b0"),
        coeff(d1).alias("b1"),
        coeff(d2_).alias("b2"),
    ).orderBy("group")
def adaboost_stumps(
    df: DataFrame,
    score_col: str,
    label_col: Column,
    n_rounds: int = 6,
    n_bins: int = 250,
    lo: float = 0.0,
    hi: float = 500.0,
) -> DataFrame:
    """Discrete AdaBoost (Freund & Schapire 1997) over binned decision
    stumps — ensemble training as ONE distributed pass plus a bounded
    finale.

    Corpus work is exactly one map-side-combined aggregate: the
    (bin, pos, neg) histogram from
    :func:`evaluation.score_bin_histogram` (NULL-filtered, clamped
    fixed grid — the mergeable artifact the AUC/DeLong/stump family
    shares). Boosting never touches rows again: because every stump
    thresholds the SAME binned feature, a row's reweighting history is
    a function of its (bin, label) cell alone, so the M rounds run on
    the collected <= n_bins-row histogram (the DSIR 4096-bucket /
    kmeans k x dim bounded-driver-artifact contract — the driver holds
    cells, never data).

    Determinism contract (cross-engine bit-exactness): the libm-free
    formulation — reweight misclassified cells by r = (1 - eps)/eps
    instead of exp(+-alpha), alpha = ln r never materialized — keeps
    every operation IEEE +,*,/,floor on identical operands in
    identical (bin-ascending) order, so the DuckDB unrolled-CTE replay
    matches bit-for-bit with NO rounding-boundary dice: candidate
    errors and eps are 1e-9 FLOOR-quantized before the
    (err, bin, polarity) argmin tie-break and the ratio.

    Degenerate rounds: eps_q = 0 (a perfect stump) emits r_q = NULL
    and leaves weights unchanged thereafter — rounds stay at the
    fixed count so the fixed-depth oracle replays; eps ~ 0.5 yields
    r ~ 1 and boosting plateaus, which is the correct no-signal
    behavior, not an error.

    Returns (round, split_bin, polarity, eps_q, r_q): stump m predicts
    label 1 when polarity=+1 and bin > split_bin (mirrored for -1);
    its standard vote weight is alpha_m = ln r_m, left to the caller
    so the model table itself stays libm-free."""
    import math

    if n_rounds < 1 or n_bins < 2:
        raise ValueError("n_rounds >= 1 and n_bins >= 2 required")
    hist = {
        r["bin"]: (int(r["pos"]), int(r["neg"]))
        for r in score_bin_histogram(
            df, score_col, label_col, n_bins=n_bins, lo=lo, hi=hi
        ).collect()
    }
    vp = [1.0] * n_bins
    vn = [1.0] * n_bins
    out = []
    for m in range(1, n_rounds + 1):
        P = N = 0.0
        cp = [0.0] * n_bins
        cn = [0.0] * n_bins
        for b in range(n_bins):
            p, n = hist.get(b, (0, 0))
            P += p * vp[b]
            N += n * vn[b]
            cp[b] = P
            cn[b] = N
        T = P + N
        best = None
        for t in range(n_bins):
            e1 = cp[t] + (N - cn[t])  # polarity +1: predict 1 iff bin > t
            for pol, e in ((1, e1), (-1, T - e1)):
                key = (math.floor(e * 1e9) / 1e9, t, pol)
                if best is None or key < best:
                    best = key
        eq, t, pol = best
        eps_q = math.floor(eq / T * 1e9) / 1e9 if T > 0 else None
        r_q = (1.0 - eps_q) / eps_q if eps_q else None
        out.append((m, t, pol, eps_q, r_q))
        if r_q is not None:
            for b in range(n_bins):
                pred1 = (b > t) if pol == 1 else (b <= t)
                if pred1:
                    vn[b] *= r_q  # y=0 predicted 1: wrong
                else:
                    vp[b] *= r_q  # y=1 predicted 0: wrong
    return df.sparkSession.createDataFrame(
        out,
        "round INT, split_bin INT, polarity INT, eps_q DOUBLE, r_q DOUBLE",
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    label_col: Column,
    id_cols: list[str],
    smoothing: int = 0,
) -> DataFrame:
    """Leave-one-out target encoding (Micci-Barreca 2001, the KDD-cup
    categorical-encoding standard): replace a categorical feature with
    the mean label of its category computed EXCLUDING the row itself —
    the leakage-free form — optionally smoothed toward the global
    prior with pseudo-count ``smoothing``.

    Distributed shape: one hash agg per category (sum, count), one
    1-row global agg, one broadcast join back — no window, no
    per-row state.  The encoding is computed as ONE exact-integer
    ratio: enc = ((s_c − y_i)·N + m·S) / ((n_c − 1 + m)·N), numerator
    and denominator both int64 (bound: category-sum × corpus-count
    must fit 2^63 — beyond that promote the two products to
    DECIMAL(38,0)), floor-quantized at 1e-6 — bit-identical on any
    engine with zero float dice.  Unsmoothed singleton categories
    (n_c = 1, m = 0) are NULL.

    Returns ``id_cols`` + cat_col + y (the 0/1 label) + enc_q6."""
    if smoothing < 0:
        raise ValueError("smoothing must be >= 0")
    base = df.select(
        *id_cols,
        F.col(cat_col).alias("_cat"),
        label_col.cast("long").alias("y"),
    ).filter(F.col("_cat").isNotNull() & F.col("y").isNotNull())
    per_cat = base.groupBy("_cat").agg(
        F.sum("y").cast("long").alias("_s"),
        F.count("*").cast("long").alias("_n"),
    )
    glob = base.agg(
        F.coalesce(F.sum("y"), F.lit(0)).cast("long").alias("_gs"),
        F.count("*").cast("long").alias("_gn"),
    )
    m = F.lit(smoothing).cast("long")
    num = (F.col("_s") - F.col("y")) * F.col("_gn") + m * F.col("_gs")
    den = (F.col("_n") - 1 + m) * F.col("_gn")
    return (
        base.join(F.broadcast(per_cat), "_cat")
        .crossJoin(F.broadcast(glob))
        .select(
            *id_cols,
            F.col("_cat").alias(cat_col),
            "y",
            F.when(
                den > 0, F.floor(num * 1000000 / den) / 1e6
            ).alias("enc_q6"),
        )
    )


def _bt_rounds_driver(plist, items, a0, n_rounds, grid, min_a):
    """Driver fast path for the Hunter-MM rounds: the identical
    integer trajectory in Python ints — every distributed op is a
    nonneg exact DECIMAL floor-division (== Python ``//``) or an exact
    integer sum, so the per-round strengths match bit for bit (the
    _nn_descent_driver bounded-artifact contract; property-pinned).
    ``plist`` is the (i, j, n_ij) pair table, ``items`` maps
    i -> wins. Returns the final i -> a_grid dict."""
    a = {i: a0 for i in items}
    for _ in range(int(n_rounds)):
        denom: dict = {}
        for i, j, n_ij in plist:
            t = (n_ij * 10**18) // (a[i] + a[j])
            denom[i] = denom.get(i, 0) + t
        raw = {}
        for i, wins in items.items():
            d = denom.get(i, 0)
            raw[i] = (wins * 10**24) // d if d > 0 else 0
        tot = sum(raw.values())
        a = {
            i: max(
                int(min_a),
                (raw[i] * int(grid)) // tot if tot > 0 else 0,
            )
            for i in items
        }
    return a


def bradley_terry_strengths(
    cells: DataFrame,
    n_rounds: int = 6,
    grid: int = 10**9,
    min_a: int = 10**3,
) -> DataFrame:
    """Bradley–Terry preference strengths via Hunter's MM algorithm
    (Bradley & Terry 1952; Hunter 2004 "MM algorithms for generalized
    Bradley-Terry models" — both public): fit item strengths p_i from
    a directed pairwise win table — the standard aggregator for
    preference/comparison data (LLM-judge A/B verdicts, human ranking
    labels) before it becomes a reward or curation signal.

    ``cells`` is (i, j, w): w = number of times i beat j (directed;
    missing pairs are zero). The MM update
    p_i' = W_i / sum_j n_ij/(p_i+p_j), renormalized each round.

    Exactness: strengths live on an INTEGER grid (sum ~= ``grid``),
    and every round is integer arithmetic only — each division is the
    subtract-modulo exact DECIMAL(38,0) floor-division (decimal `/`
    rounds half-up and `div`'s BIGINT would overflow on the big
    intermediates), every per-item sum is an exact integer sum — so
    the trajectory is bit-identical in any engine and any partitioning
    (no float accumulation order anywhere). Magnitude audit (DECIMAL
    (38,0) ceiling 1e38, quotient ceiling DECIMAL(38,6) ~1e32):
    t_ij = (n_ij*1e18)//(a_i+a_j) <= n_ij*5e14; denom_i >= n_i*5e8;
    raw_i = (W_i*1e24)//denom_i <= 2e15; a_i' = (raw_i*grid)//tot
    <= grid. Valid to n_ij ~ 1e12 comparisons per pair.

    The zero-win degeneracy (p_i -> 0 for never-winning items) is
    clamped at ``min_a`` (strength 1e-6 of the mass) — also what keeps
    every a_i + a_j >= 2*min_a so the t_ij quotient is bounded.

    Distributed shape: one symmetrization agg, then per round ONE
    cells-with-strengths join + one per-item integer agg + one scalar
    cross-join renormalization; lineage cut per round with
    localCheckpoint (the iterative-convergence rule — k^rounds plan
    blowup otherwise). State is item-cardinality, corpus touched never
    (cells are pre-aggregated). Returns (item, wins, n_comparisons,
    a_grid, strength_q9)."""
    S = "CAST(1000000000000000000 AS DECIMAL(38,0))"  # 1e18
    sym = (
        cells.selectExpr("i", "j", "CAST(w AS BIGINT) AS w")
        .unionByName(
            cells.selectExpr("j AS i", "i AS j", "CAST(0 AS BIGINT) AS w")
        )
        .groupBy("i", "j")
        .agg(F.sum("w").cast("long").alias("w"))
    )
    pairs = (
        sym.alias("a")
        .join(
            sym.selectExpr("j AS i", "i AS j", "w AS w_rev").alias("b"),
            ["i", "j"],
            "left",
        )
        .selectExpr("i", "j", "w", "w + coalesce(w_rev, 0) AS n_ij")
        .filter(F.col("n_ij") > 0)
        .localCheckpoint(eager=True)
    )
    items = (
        pairs.groupBy("i")
        .agg(
            F.sum("w").cast("long").alias("wins"),
            F.sum("n_ij").cast("long").alias("n_comp"),
        )
        .localCheckpoint(eager=True)
    )
    k = items.count()
    if k == 0:
        return items.selectExpr(
            "i AS item",
            "wins",
            "n_comp AS n_comparisons",
            "CAST(NULL AS BIGINT) AS a_grid",
            "CAST(NULL AS DOUBLE) AS strength_q9",
        )
    a0 = max(int(min_a), int(grid) // k)
    # bounded driver fast path (placement: bounded_collect): below the
    # pair cap the MM rounds run in Python ints over the collected
    # (already-checkpointed) pair/item tables — each distributed round
    # otherwise costs two joins, an agg, a scalar cross-join and an
    # eager checkpoint of pure planning at item cardinality.
    # Bit-identical trajectory (_bt_rounds_driver); distributed loop
    # below as the fallback.
    p_rows = bounded_collect(pairs, FAST_PATH_MAX_PAIRS)
    if p_rows is not None:
        import pandas as pd
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        i_rows = items.collect()
        a_fin = _bt_rounds_driver(
            [(r["i"], r["j"], r["n_ij"]) for r in p_rows],
            {r["i"]: r["wins"] for r in i_rows},
            a0,
            n_rounds,
            grid,
            min_a,
        )
        out_schema = StructType(
            [
                StructField("item", items.schema["i"].dataType),
                StructField("wins", LongType()),
                StructField("n_comparisons", LongType()),
                StructField("a_grid", LongType()),
                StructField("strength_q9", DoubleType()),
            ]
        )
        return cells.sparkSession.createDataFrame(
            pd.DataFrame(
                [
                    (
                        r["i"],
                        r["wins"],
                        r["n_comp"],
                        a_fin[r["i"]],
                        float(a_fin[r["i"]] / int(grid)),
                    )
                    for r in i_rows
                ],
                columns=out_schema.fieldNames(),
            ),
            out_schema,
        )
    cur = items.select("i", F.lit(a0).cast("long").alias("a"))
    for _ in range(int(n_rounds)):
        with_a = (
            pairs.join(cur.withColumnRenamed("a", "ai"), "i")
            .join(
                cur.selectExpr("i AS j", "a AS aj"),
                "j",
            )
        )
        denom = with_a.selectExpr(
            "i",
            f"(CAST(n_ij AS DECIMAL(38,0)) * {S}) AS num",
            "CAST(ai + aj AS DECIMAL(38,0)) AS den",
        ).selectExpr(
            "i", "(num - num % den) / den AS t"
        ).groupBy("i").agg(
            F.sum(F.col("t").cast("decimal(38,0)")).alias("denom")
        )
        raw = (
            items.join(denom, "i")
            .selectExpr(
                "i",
                f"(CAST(wins AS DECIMAL(38,0)) * {S}"
                " * CAST(1000000 AS DECIMAL(38,0))) AS num",
                "denom AS den",
            )
            .selectExpr(
                "i",
                "CASE WHEN den > 0"
                " THEN CAST((num - num % den) / den AS DECIMAL(38,0))"
                " ELSE CAST(0 AS DECIMAL(38,0)) END AS raw",
            )
        )
        tot = raw.agg(
            F.sum("raw").cast("decimal(38,0)").alias("tot")
        )
        cur = (
            raw.crossJoin(tot)
            .selectExpr(
                "i",
                f"greatest(CAST({int(min_a)} AS BIGINT), CASE WHEN tot > 0"
                f" THEN CAST((raw * {int(grid)} - (raw * {int(grid)}) % tot)"
                " / tot AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS a",
            )
            .localCheckpoint(eager=True)
        )
    return (
        items.join(cur, "i")
        .selectExpr(
            "i AS item",
            "wins",
            "n_comp AS n_comparisons",
            "a AS a_grid",
            f"CAST(a AS DOUBLE) / {int(grid)} AS strength_q9",
        )
    )
