"""Iterative clustering over embedding columns (beyond-reference).

The reference stops at one-shot per-label centroids (the IVF training
step, qdrant_text_loader.py has no clustering at all); a curation
pipeline also wants unsupervised k-means for semantic sharding, topic
balancing, and SemDeDup-style near-dup pruning. Lloyd's algorithm maps
cleanly onto DataFrame ops:

  assign  — broadcast the k centroids, argmax of rounded cosine per row
            (one narrow projection + one window on the row key; no
            shuffle of the corpus itself)
  update  — posexplode vectors ONCE -> groupBy (cluster, dim) avg
            (map-side partial aggregation; k*dim result rows)

Between iterations the k*dim centroid table is collected to the driver
and re-created as a fresh DataFrame: that is deliberate lineage
truncation — without it the plan doubles per iteration and analysis
time explodes; with it each iteration is a constant-size plan and the
driver only ever holds k*dim floats (kilobytes at any corpus scale).

Determinism contract (so an external oracle can replay the exact run):
init centroids are the k corpus vectors ranked first by md5(id) (same
seedless sample as topk.ivf_centroids); assignment similarity is
rounded to 6 dp with ties broken on cluster_id; per-dim means are
rounded to 6 dp before the next iteration. Identical across retries,
partitionings, and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .topk import cosine_similarity


def kmeans_init(
    df: DataFrame, k: int, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Deterministic init: the k corpus vectors ranked first by
    ``md5(id)`` become centroids 1..k (numbered in id order)."""
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("cluster_id"),
            F.col(vec_col).cast("array<double>").alias("centroid"),
        )
    )


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Nearest-centroid assignment: (id, vector, cluster_id).

    Broadcast crossJoin against the k-row centroid table, then one
    row_number window keyed on the row id — the corpus never shuffles
    on content, only the tiny centroid table moves. ``metric``:
    "cosine" (direction; the corpus-sharding default) or "l2" (squared
    euclidean — REQUIRED for residual/PQ coding, where near-zero-norm
    vectors make cosine assignment meaningless)."""
    if metric == "cosine":
        score = F.round(cosine_similarity(F.col(vec_col), F.col("centroid")), 6)
    elif metric == "l2":
        sq = F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"), F.col("centroid"),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        score = -F.round(sq, 6)  # argmin distance == argmax of negated
    else:
        raise ValueError(f"unknown metric {metric!r}")
    scored = (
        df.select(F.col(id_col), F.col(vec_col))
        .crossJoin(F.broadcast(centroids))
        .withColumn("_sim", score)
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_sim"), F.col("cluster_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, vec_col, "cluster_id")
    )


def _centroid_means(assigned: DataFrame, vec_col: str) -> DataFrame:
    """update step: per-(cluster, dim) mean, folded back to arrays.
    Explode once; the aggregate is map-side combined; result is k rows.

    Exactness (the centroids_ivf_train template, r8): elements
    micro-quantize BEFORE the sum — round(avg(x), 6) is
    summation-order-dependent across engines and emits IEEE -0.0 for
    means in (-5e-7, 0) — so the mean is ONE division of exact
    integers, floor-quantized at 6 dp with a +0.0 negative-zero kill.
    Every oracle that replays a centroid update (kmeans_centroids,
    _PQ_ORACLE/_PQ_ADC_ORACLE d{t} CTEs, _ivfpq_oracle_sql) mirrors
    this round for round."""
    ex = assigned.select(
        "cluster_id", F.posexplode(F.col(vec_col)).alias("dim", "x")
    )
    q = F.floor(F.col("x").cast("double") * 1000000).cast("long")
    per_dim = (
        ex.groupBy("cluster_id", "dim")
        .agg(F.sum(q).alias("_sm"), F.count("*").alias("n"))
        .select(
            "cluster_id",
            "dim",
            (
                F.floor(F.col("_sm").cast("double") / F.col("n")) / 1e6
                + 0.0
            ).alias("c"),
            "n",
        )
    )
    return per_dim.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("centroid"),
        F.first("n").alias("n_members"),
    )


def kmeans_assign_literal(
    df: DataFrame,
    centroid_rows,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Nearest-centroid assignment as a PURE PROJECTION over a
    collected k-row centroid table (r10): the centroids enter the plan
    as an array-of-structs literal and the argmax is one array_min
    fold — no crossJoin row expansion, no per-row-key window, and so
    NO shuffle of the corpus at all (kmeans_assign's window
    repartitioned the k-times-expanded corpus by row id at any scale).

    Bit-identical winner: the window ranked by (desc _sim, cluster_id);
    array_min over struct(-_sim, cluster_id) picks the same centroid —
    double negation is exact, and min(-x) under Double.compare agrees
    with the sort's desc(x) ordering including the -0.0 < 0.0 edge
    (both sides use the same comparator; pinned by test)."""
    import math

    from ..functions.vector import l2_norm

    def _fold_norm(vals):
        # the EXACT l2_norm fold (left-to-right IEEE adds of
        # double-cast squares + correctly-rounded sqrt) in Python
        acc = 0.0
        for x in vals:
            xd = float(x)
            acc += xd * xd
        return math.sqrt(acc)

    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r}")

    # ONE parsed SQL expression instead of ~k*dim F.lit() py4j round
    # trips (the ivf_assign lesson: 1024 lits cost seconds of pure
    # driver-side Column construction); CAST('repr' AS DOUBLE)
    # round-trips every double exactly.
    def _d(x):
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    carr = F.expr(
        "array("
        + ",".join(
            "named_struct('cid',{cid},'cent',array({cent}),"
            "'nb',{nb})".format(
                cid=int(r["cluster_id"]),
                cent=",".join(_d(x) for x in r["centroid"]),
                nb=_d(_fold_norm(r["centroid"])),
            )
            for r in centroid_rows
        )
        + ")"
    )

    def fold(na):
        if metric == "cosine":
            def score(c):
                # row norm bound once as a lambda var, centroid norms
                # driver-precomputed — one dot fold per candidate
                # instead of three array folds, identical IEEE values
                return F.round(
                    cosine_similarity(
                        F.col(vec_col), c["cent"], norm_a=na, norm_b=c["nb"]
                    ),
                    6,
                )
        else:
            def score(c):
                sq = F.aggregate(
                    F.zip_with(
                        F.col(vec_col).cast("array<double>"), c["cent"],
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0), lambda acc, x: acc + x,
                )
                return -F.round(sq, 6)
        return F.array_min(
            F.transform(
                carr,
                lambda c: F.struct(
                    (-score(c)).alias("ns"), c["cid"].alias("cid")
                ),
            )
        )

    best = F.element_at(
        F.transform(F.array(l2_norm(F.col(vec_col))), fold), 1
    )
    return df.select(
        F.col(id_col), F.col(vec_col), best["cid"].alias("cluster_id")
    )


def kmeans_fit(
    df: DataFrame,
    k: int,
    n_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Lloyd's k-means: ``n_iters`` assign/update rounds; returns the
    final (cluster_id, centroid, n_members) table.

    Empty clusters drop out (the means of non-empty clusters are the
    next round's centroids) — the standard Lloyd degeneracy, acceptable
    for corpus sharding where k is a budget, not a contract. Cost per
    iteration: one k*dim centroid literal + one (cluster, dim)-keyed
    aggregation over the exploded corpus — linear in corpus size, no
    quadratic term anywhere, so 100 TB is n_iters linear passes. The
    centroids were ALWAYS collected per round (lineage truncation), so
    the assign step consumes them as literals
    (:func:`kmeans_assign_literal`) — the r10 rewrite that removes the
    per-iteration corpus shuffle the old crossJoin+window assign paid."""
    spark: SparkSession = df.sparkSession
    src = df.select(F.col(id_col), F.col(vec_col))
    cur_rows = kmeans_init(src, k, vec_col, id_col).collect()
    centroids = spark.createDataFrame(
        [(r["cluster_id"], r["centroid"], 0) for r in cur_rows],
        "cluster_id int, centroid array<double>, n_members bigint",
    )
    for _ in range(n_iters):
        if not cur_rows:
            break
        assigned = kmeans_assign_literal(
            src, cur_rows, vec_col, id_col, metric
        )
        result = _centroid_means(assigned, vec_col)
        # lineage truncation: k*dim floats to the driver and back, so the
        # next iteration's plan doesn't embed this one's
        rows = result.collect()
        centroids = spark.createDataFrame(
            rows, "cluster_id int, centroid array<double>, n_members bigint"
        )
        cur_rows = rows
    return centroids


def kcenter_select(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    start_id: int = 0,
) -> DataFrame:
    """Greedy k-center (farthest-point) coreset selection (Gonzalez
    1985): start from ``start_id``, then repeatedly add the point whose
    cosine distance to the CLOSEST already-selected center is largest —
    the classic 2-approximation for coverage-maximizing data selection
    (coreset sampling for labeling / distillation budgets).

    Scale shape: each of the k−1 rounds is ONE corpus pass — the ≤k
    selected vectors enter the plan as broadcast literals, the per-row
    kernel is k rounded cosines + a least(), and the argmax compiles to
    TakeOrderedAndProject (per-partition top-1 + driver merge, nothing
    shuffles). Exactly one (id, dist) row is collected per round — the
    same lineage-truncation contract as kmeans_fit. Determinism: 6-dp
    rounded distances, id-ascending tiebreak.

    Returns (sel_rank, id, min_dist) for the k selected points;
    min_dist is the selection-time farthest-point distance (0.0 for the
    seed)."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    ).persist()
    seed = base.filter(F.col("id") == start_id).first()
    if seed is None:
        raise ValueError(f"start_id {start_id!r} not present in {id_col}")
    selected: list[tuple[int, list[float], float]] = [(seed["id"], seed["v"], 0.0)]
    for _ in range(1, k):
        dists = [
            F.round(
                F.lit(1.0)
                - F.round(
                    cosine_similarity(
                        F.col("v"), F.array(*[F.lit(float(x)) for x in vec])
                    ),
                    6,
                ),
                6,
            )
            for _sid, vec, _d in selected
        ]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        pick = (
            base.filter(~F.col("id").isin([s[0] for s in selected]))
            .select("id", "v", mind.alias("d"))
            .orderBy(F.desc("d"), F.col("id"))
            .first()
        )
        if pick is None:
            break
        selected.append((pick["id"], pick["v"], pick["d"]))
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(i + 1, sid, float(d)) for i, (sid, _v, d) in enumerate(selected)],
        ["sel_rank", "id", "min_dist"],
    )
    base.unpersist()
    return out


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_rounds: int = 6,
) -> DataFrame:
    """Top principal component of an embedding column by power
    iteration on an EXACT integer covariance matrix (von Mises 1929 /
    standard PCA, public) — the whitening/denoising direction a
    SemDeDup-style embedding pipeline wants before cosine thresholds.

    Exactness: vectors quantize to the micro grid once; the d x d
    covariance (scaled by N^2: C = N*G - S S^T, G/S exact integer
    sums) is collected as a BOUNDED artifact (d(d+1)/2 cells — the
    adaboost contract) and the iteration runs in driver Python over
    arbitrary-precision ints, so there is NO float anywhere: C is
    pre-scaled by trunc-division (both engines truncate toward zero:
    DuckDB ``//`` on signed, Python via abs) so each matvec fits
    HUGEINT for the oracle replay; after each matvec the vector is
    renormalized to the pico grid by max-|component| trunc-division.
    Deterministic start: unit vector at the max-diagonal index (lowest
    index ties); sign canonicalized so the first nonzero loading is
    positive.

    Distributed shape: ONE posexplode of the quantized vector + a
    self-join on the row key co-grouped to (i <= j) upper-triangle
    cells with partial aggregation — O(N d^2) work, the inherent Gram
    cost, shuffled once by row key; everything after is O(d^2) driver
    arithmetic. Returns d rows: (dim, loading_q12, evr_q6) — evr is
    the Rayleigh share of total variance trace, floor-quantized."""
    from pdf_to_vectordb_etl_spark.operators.valuation import (
        _quantize_micro,
    )

    spark = df.sparkSession
    xs = df.select(
        F.col(id_col).alias("r"),
        F.posexplode(_quantize_micro(vec_col)).alias("i", "xi"),
    )
    # xs feeds three scans (both sides of the cell self-join + the
    # per-dim sums) — materialize it once
    xs = xs.persist()
    right = xs.select(
        F.col("r").alias("r2"),
        F.col("i").alias("j"),
        F.col("xi").alias("xj"),
    )
    cells = (
        xs.join(right, (F.col("r") == F.col("r2")) & (F.col("i") <= F.col("j")))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.col("xi").cast("decimal(38,0)") * F.col("xj")
            ).alias("g"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    sums = xs.groupBy("i").agg(
        F.sum(F.col("xi").cast("decimal(38,0)")).alias("s")
    )
    cell_rows = cells.collect()  # bounded: d(d+1)/2 cells
    sum_rows = {int(r["i"]): int(r["s"]) for r in sums.collect()}
    xs.unpersist()
    if not cell_rows:
        return spark.createDataFrame(
            [], "dim int, loading_q12 double, evr_q6 double"
        )
    d = max(int(r["j"]) for r in cell_rows) + 1
    # the n*G - s_i*s_j covariance identity requires every row to
    # contribute to every cell — i.e. uniform vector length, no NULL
    # elements. Ragged input would silently mis-scale the statistic,
    # so fail loudly instead.
    n_min = min(int(r["n"]) for r in cell_rows)
    n = max(int(r["n"]) for r in cell_rows)
    if n_min != n:
        raise ValueError(
            "pca_top_component requires uniform-dimension embeddings "
            f"with no NULL elements: per-cell counts range {n_min}..{n}"
        )
    C = [[0] * d for _ in range(d)]
    for row in cell_rows:
        i, j, g = int(row["i"]), int(row["j"]), int(row["g"])
        c = n * g - sum_rows[i] * sum_rows[j]
        C[i][j] = c
        C[j][i] = c

    def tdiv(a: int, b: int) -> int:
        # truncate toward zero — DuckDB // semantics on signed ints
        return (abs(a) // b) * (1 if a >= 0 else -1)

    max_abs = max((abs(C[i][j]) for i in range(d) for j in range(d)))
    cscale = max(1, abs(max_abs) // 10**6)
    Cs = [[tdiv(C[i][j], cscale) for j in range(d)] for i in range(d)]

    start = max(range(d), key=lambda i: (Cs[i][i], -i))
    v = [10**12 if i == start else 0 for i in range(d)]
    for _ in range(n_rounds):
        u = [sum(Cs[i][j] * v[j] for j in range(d)) for i in range(d)]
        m = max(abs(x) for x in u)
        if m == 0:
            break
        v = [tdiv(x * 10**12, m) for x in u]
    # canonical sign: first nonzero loading positive
    for x in v:
        if x != 0:
            if x < 0:
                v = [-y for y in v]
            break
    num = sum(v[i] * Cs[i][j] * v[j] for i in range(d) for j in range(d))
    vtv = sum(x * x for x in v)
    trace = sum(Cs[i][i] for i in range(d))
    # pre-scale num and vtv by PICO so the oracle's HUGEINT replay of
    # (num * 1e6) // (vtv * trace) cannot overflow 2^127; the identical
    # trunc-div runs on both sides (relative error ~1e-16, and vtv >=
    # PICO^2 by the max-|component| renorm so the scaled vtv stays > 0)
    den = (vtv // 10**12) * trace
    evr = ((max(num, 0) // 10**12) * 10**6) // den / 1e6 if den > 0 else None
    out = [(i, v[i] / 1e12, evr) for i in range(d)]
    return spark.createDataFrame(
        out, "dim int, loading_q12 double, evr_q6 double"
    )
