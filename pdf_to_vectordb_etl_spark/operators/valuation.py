"""Data and policy valuation, distributed-first.

A curation pipeline that can dedup and filter still has to answer two
harder questions before it spends a training run: *which examples are
worth keeping* (data valuation) and *what would a different selection
policy have yielded* (off-policy evaluation on logged decisions).

``knn_shapley`` implements the closed-form exact Shapley value of every
training point under a K-NN surrogate utility (Jia et al., PVLDB 2019,
"Efficient Task-Specific Data Valuation for Nearest Neighbor
Algorithms", public): for a test point, sort train points by distance;
then s_N = 1[y_N = y]/N and walking from far to near

    s_i = s_{i+1} + (1[y_i = y] - 1[y_{i+1} = y]) * min(K, i) / (K i)

— a SUFFIX SUM of per-rank increments, which is exactly the shape the
engine's sanctioned global-order primitives distribute (the published
algorithm is O(N log N) per test point; the sort is the cost).

``offpolicy_ips_snips`` is inverse-propensity off-policy evaluation
(Horvitz-Thompson 1952 / SNIPS per Swaminathan-Joachims 2015, public)
of a uniform target policy over logged (action, reward) decisions with
empirical behavior propensities.

Exactness conventions (house rules): embeddings quantize to the micro
integer grid ONCE at the boundary (float32→double is exact and one
IEEE multiply + floor is engine-identical), every distance and suffix
sum is then exact int64 arithmetic; Shapley increments are pico-grid
integers via nonneg DECIMAL floor-divisions with the SIGN carried
separately (DuckDB's ``//`` truncates toward zero on negatives — never
divide a negative); each output is a single exact division at the end.
(Beyond-reference capability; no counterpart in the reference
pipeline.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..placement import bounded_collect

PICO = 10**12


def _quantize_micro(vec_col: str) -> "F.Column":
    """array<float> -> array<long> on the micro grid. float32→double is
    exact; one IEEE multiply + floor is bit-identical in any engine."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(1000000.0)).cast("long"),
    )


def _knn_shapley_driver(spark, q_rows, t_rows, k, top_n, qid_t, tid_t):
    """Driver twin of the distributed K-NN Shapley plan — identical
    integer arithmetic: exact int64 micro distances, per-query ranks
    by (dist, tid), delta_pico = sign · nonneg-floor-div magnitude,
    s_pico as the suffix sum anchored at ind_N·(PICO // N), and the
    (−s_pico, tid) top-n cut. Property-pinned against the distributed
    output."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("qid", qid_t),
            StructField("vec_id", tid_t),
            StructField("knn_rank", LongType()),
        ]
        + (
            [StructField("value_rank", LongType())]
            if top_n is not None
            else []
        )
        + [
            StructField("shapley_q12", DoubleType()),
            StructField("label_match", BooleanType()),
        ]
    )
    if not q_rows or not t_rows:
        return spark.createDataFrame(
            pd.DataFrame([], columns=schema.fieldNames()), schema
        )
    tid = np.array([r["tid"] for r in t_rows], dtype=np.int64)
    tmat = np.array([r["tv"] for r in t_rows], dtype=np.int64)
    ty = [r["ty"] for r in t_rows]
    n = len(t_rows)
    out = []
    for qr in q_rows:
        qv = np.array(qr["qv"], dtype=np.int64)
        qy = qr["qy"]
        d = tmat - qv
        dist = np.einsum("ij,ij->i", d, d)
        order = np.lexsort((tid, dist))
        ind = np.array(
            [
                1 if (qy is not None and t is not None and t == qy) else 0
                for t in ty
            ],
            dtype=np.int64,
        )[order]
        # delta at rank i (1-based, i < N): (ind_i − ind_{i+1}) ·
        # (PICO·min(K,i)) // (K·i); suffix sums from far to near
        i_arr = np.arange(1, n, dtype=np.int64)
        mag = (PICO * np.minimum(k, i_arr)) // (k * i_arr)
        delta = (ind[:-1] - ind[1:]) * mag
        s_last = int(ind[-1]) * (PICO // n)
        s = np.empty(n, dtype=np.int64)
        s[-1] = 0
        if n > 1:
            s[:-1] = delta[::-1].cumsum()[::-1]  # suffix of deltas
        s = s + s_last
        keep = np.arange(n)
        if top_n is not None:
            vorder = np.lexsort((tid[order], -s))
            keep = vorder[: int(top_n)]
            vranks = {int(j): r + 1 for r, j in enumerate(keep)}
        for j in keep:
            row = [
                int(qr["qid"]),
                int(tid[order][j]),
                int(j) + 1,
            ]
            if top_n is not None:
                row.append(vranks[int(j)])
            row += [float(int(s[j]) / 1e12), bool(ind[j] == 1)]
            out.append(tuple(row))
    # built from pandas (one Arrow batch), so reading the result needs no
    # Python worker; a plain row list would be unpickled on every read
    return spark.createDataFrame(
        pd.DataFrame(out, columns=schema.fieldNames()), schema
    )


def knn_shapley(
    train: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    top_n: int | None = 20,
) -> DataFrame:
    """Exact per-train-point Shapley values under the K-NN utility for
    each query point (Jia et al. 2019 Theorem 1), summed nothing,
    approximated nothing — the closed form IS the Shapley value.

    Distributed shape: distances are exact int64 sums over
    micro-quantized vectors (one broadcast of the bounded query panel,
    no float accumulation order anywhere); per-query ranks come from
    ONE global_row_number over (qid, dist, tid) with per-query offsets
    folded in via an agg join — the ccnet_ppl_buckets recipe, NO
    per-query window over corpus-sized partitions; the far-to-near
    recursion is a per-query suffix sum = per-query total minus an
    exclusive global_prefix_sum, again rank-primitive-shaped. Shapley
    increments are pico-grid integers: magnitude via nonneg floor-div
    ``(PICO * min(K, i)) div (K * i)``, sign ∈ {-1, 0, 1} applied
    after (never divide a negative).

    ``top_n`` keeps the ``top_n`` most valuable train points per query
    ((value DESC, tid ASC) ties); pass None for the full valuation
    table. Returns (qid, vec_id, knn_rank, value_rank, shapley_q12,
    label_match).

    Scale note: per-query cost is the corpus sort the published
    algorithm requires; queries fan out in parallel and the panel is
    bounded by construction (a valuation run scores a fixed probe
    set). int64 distance bound: dims * (2 * max|x| * 1e6)^2 < 2^63 —
    comfortable for unit-norm embeddings up to ~100k dims."""
    from pdf_to_vectordb_etl_spark.operators.suffixes import (
        global_prefix_sum,
        global_row_number,
    )

    # NULL-embedding rows are dropped on BOTH engines (a NULL distance
    # would rank NULLS FIRST in Spark but LAST in DuckDB); a NULL label
    # counts as a non-match (ind = 0) on both.
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(label_col).alias("qy"),
        _quantize_micro(vec_col).alias("qv"),
    ).filter(F.col("qv").isNotNull())
    tr = train.select(
        F.col(id_col).alias("tid"),
        F.col(label_col).alias("ty"),
        _quantize_micro(vec_col).alias("tv"),
    ).filter(F.col("tv").isNotNull())
    # bounded driver fast path (r10, the _nn_descent_driver contract):
    # the whole valuation — exact int64 distances, per-query ranks,
    # the pico-grid suffix recursion and the top-n cut — is integer
    # arithmetic over a (train × panel) table the relational plan
    # already materializes via crossJoin; below the caps it runs in
    # numpy/Python ints, bit-identical (Python // == the nonneg
    # DECIMAL subtract-modulo floor-div; sign carried separately
    # exactly as the expressions do). Distributed path below as the
    # fallback (placement: bounded_collect).
    from pyspark.sql.types import IntegralType

    if isinstance(q.schema["qid"].dataType, IntegralType) and isinstance(
        tr.schema["tid"].dataType, IntegralType
    ):
        q_rows = bounded_collect(q, 4_096)
        t_rows = bounded_collect(tr, 200_000) if q_rows is not None else None
        if t_rows is not None:
            return _knn_shapley_driver(
                train.sparkSession, q_rows, t_rows, k, top_n,
                q.schema["qid"].dataType, tr.schema["tid"].dataType,
            )
    scored = tr.crossJoin(F.broadcast(q)).select(
        "qid",
        "tid",
        F.aggregate(
            F.zip_with(
                F.col("qv"), F.col("tv"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
        F.coalesce(
            (F.col("ty") == F.col("qy")).cast("long"), F.lit(0)
        ).alias("ind"),
    )
    ranked = global_row_number(scored, ["qid", "dist", "tid"], "rn")
    per_q = ranked.groupBy("qid").agg(
        F.min("rn").alias("rn0"),
        F.count(F.lit(1)).cast("long").alias("n_train"),
    )
    r = ranked.join(F.broadcast(per_q), "qid").withColumn(
        "knn_rank", (F.col("rn") - F.col("rn0") + 1).cast("long")
    )
    # neighbor one step FARTHER (rank + 1); NULL ind_next at rank N
    # folds delta_N to 0
    nxt = r.select(
        F.col("qid").alias("qid2"),
        (F.col("knn_rank") - 1).alias("rank_prev"),
        F.col("ind").alias("ind_next"),
    )
    d = r.join(
        nxt,
        (F.col("qid") == F.col("qid2"))
        & (F.col("knn_rank") == F.col("rank_prev")),
        "left",
    ).select(
        "qid",
        "tid",
        "ind",
        "knn_rank",
        "n_train",
        "rn",
        F.when(
            F.col("ind_next").isNotNull(),
            (F.col("ind") - F.col("ind_next"))
            * F.expr(
                f"(CAST({PICO} AS DECIMAL(38,0))"
                f" * least(CAST({k} AS BIGINT), knn_rank))"
                f" div (CAST({k} AS BIGINT) * knn_rank)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("delta_pico"),
    )
    # exclusive prefix of delta under the SAME global (qid, rank) order,
    # re-anchored per query via the rank-1 row's prefix value
    pref = global_prefix_sum(d, ["rn"], "delta_pico", "pfx")
    anchors = pref.filter(F.col("knn_rank") == 1).select(
        F.col("qid").alias("qa"), F.col("pfx").alias("pfx0")
    )
    totals = d.groupBy("qid").agg(
        F.sum("delta_pico").cast("long").alias("delta_total"),
        F.max(
            F.when(F.col("knn_rank") == F.col("n_train"), F.col("ind"))
        ).alias("ind_last"),
    )
    s = (
        pref.join(F.broadcast(anchors), F.col("qid") == F.col("qa"))
        .join(F.broadcast(totals), "qid")
        .select(
            "qid",
            "tid",
            "ind",
            "knn_rank",
            "n_train",
            (
                # s_N (pico) + suffix of deltas from this rank on:
                # total - exclusive-within-query prefix
                F.col("ind_last")
                * F.expr(f"CAST({PICO} AS DECIMAL(38,0)) div n_train")
                + (F.col("delta_total") - (F.col("pfx") - F.col("pfx0")))
            ).cast("long").alias("s_pico"),
        )
    )
    out = s.select(
        "qid",
        F.col("tid").alias("vec_id"),
        "knn_rank",
        (F.col("s_pico") / F.lit(1e12)).alias("shapley_q12"),
        (F.col("ind") == 1).alias("label_match"),
        F.col("s_pico").alias("_sp"),
    )
    if top_n is None:
        return out.drop("_sp")
    vr = global_row_number(
        out.withColumn("_neg", -F.col("_sp")),
        ["qid", "_neg", "vec_id"],
        "vrn",
    )
    vr0 = vr.groupBy("qid").agg(F.min("vrn").alias("vrn0"))
    return (
        vr.join(F.broadcast(vr0), "qid")
        .withColumn(
            "value_rank", (F.col("vrn") - F.col("vrn0") + 1).cast("long")
        )
        .filter(F.col("value_rank") <= top_n)
        .select(
            "qid",
            "vec_id",
            "knn_rank",
            "value_rank",
            "shapley_q12",
            "label_match",
        )
    )


def offpolicy_ips_snips(
    df: DataFrame,
    action_col: str,
    reward_col: str,
) -> DataFrame:
    """IPS and self-normalized IPS value estimates of the UNIFORM
    target policy over logged (action, reward) decisions, with
    empirical behavior propensities p_b(a) = count_a / N — the logging
    policy a corpus-selection A/B actually ran.

    w(a) = (1/k) / p_b(a) = N / (k * count_a), pico-quantized once per
    ACTION (bounded domain) via a nonneg floor-div; rewards quantize
    to the micro grid per row and fold into exact per-action integer
    sums, so IPS = Σ_a w_a Σ_{i∈a} r_i / N and SNIPS = Σ_a w_a r_a /
    Σ_a n_a w_a are each ONE exact division over DECIMAL(38,0)
    integers. Negative rewards are supported: the division numerators
    carry their sign via a symmetric nonneg floor-div emulation.

    Returns one row: (n_logs, k_actions, logged_mean_q6, ips_q6,
    snips_q6). Distributed shape: one hash agg to the per-action
    table, one bounded rollup."""
    # NaN-guard BEFORE the micro floor: Spark floor(NaN) is 0 while the
    # oracle's CAST(floor(NaN) AS BIGINT) errors — NaN rewards drop on
    # both sides instead (the quantile_normalize convention)
    v = F.col(reward_col).cast("double")
    base = df.select(
        F.col(action_col).alias("a"),
        F.when(~F.isnan(v), F.floor(v * 1000000))
        .cast("long")
        .alias("r_micro"),
    ).filter(F.col("a").isNotNull() & F.col("r_micro").isNotNull())
    per_action = base.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("na"),
        # cast BEFORE the sum: a per-action micro-reward total can pass
        # int64 at corpus scale
        F.sum(F.col("r_micro").cast("decimal(38,0)")).alias("sr"),
    )
    return offpolicy_from_action_cells(per_action)


def offpolicy_from_action_cells(per_action: DataFrame) -> DataFrame:
    """Finale of :func:`offpolicy_ips_snips` over the pre-aggregated
    (a, na, sr) per-action cell table — the cells are the associative
    streaming state (per-row micro floors happen BEFORE the sums, so
    they merge), letting the T36 stream twin snapshot them and share
    this exact code path (the cells/finale recipe)."""
    tot = per_action.agg(
        F.count(F.lit(1)).cast("long").alias("k_actions"),
        F.sum("na").cast("long").alias("n_logs"),
        F.sum("sr").alias("sr_all"),
    )
    w = per_action.crossJoin(F.broadcast(tot)).select(
        "na",
        "sr",
        "k_actions",
        "n_logs",
        "sr_all",
        # subtract-modulo exact decimal division (the brier precedent):
        # `div` returns BIGINT and would silently wrap once the weight
        # n_logs*PICO/(k*na) passes 2^63 (one rare action in a huge
        # log); the modulo form stays DECIMAL(38,0) and exact
        F.expr(
            f"((CAST(n_logs AS DECIMAL(38,0)) * {PICO})"
            f" - (CAST(n_logs AS DECIMAL(38,0)) * {PICO})"
            " % (CAST(k_actions AS DECIMAL(38,0)) * na))"
            " / (CAST(k_actions AS DECIMAL(38,0)) * na)"
        ).cast("decimal(38,0)").alias("w_pico"),
    )
    agg = w.groupBy("k_actions", "n_logs", "sr_all").agg(
        F.sum(
            F.col("w_pico").cast("decimal(38,0)") * F.col("sr")
        ).alias("num"),
        F.sum(
            F.col("na").cast("decimal(38,0)") * F.col("w_pico")
        ).alias("den_pico"),
    )
    # signed micro-grid floor-div q6 finals built from NONNEG divisions
    def _signed_div_q6(num_expr: str, den_expr: str) -> str:
        return (
            f"CASE WHEN {den_expr} > 0 THEN CAST(CASE"
            f" WHEN {num_expr} >= 0 THEN ({num_expr}) div ({den_expr})"
            f" ELSE -((-({num_expr}) + ({den_expr}) - 1) div ({den_expr}))"
            f" END AS BIGINT) / 1e6 END"
        )

    return agg.selectExpr(
        "n_logs",
        "k_actions",
        # logged mean: Σ r_micro / N -> micro units, floor to q6 digits
        _signed_div_q6("sr_all", "CAST(n_logs AS DECIMAL(38,0))")
        + " AS logged_mean_q6",
        # IPS: num is pico*micro; / (N * PICO) -> micro units
        _signed_div_q6(
            "num", f"CAST(n_logs AS DECIMAL(38,0)) * {PICO}"
        )
        + " AS ips_q6",
        # SNIPS: num / den_pico -> micro units
        _signed_div_q6("num", "den_pico") + " AS snips_q6",
    )
