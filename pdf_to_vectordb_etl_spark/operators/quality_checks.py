"""Data-quality expectations (beyond-reference).

Delta-expectations / dbt-test class checks for a corpus pipeline: each
expectation is a boolean Column; ALL expectations evaluate in ONE pass
(a single aggregate over conditional counts — no per-check scan) into
one report row per expectation.

At 100 TB the one-pass property is the whole point: N checks cost one
scan, and the violation report is N tiny rows on the driver.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Expectation:
    name: str
    condition: Column  # True = row passes
    max_violation_rate: float = 0.0  # tolerated fraction of violating rows


def check_report(df: DataFrame, expectations: list[Expectation]) -> DataFrame:
    """Violation report, one row per expectation, computed in ONE
    aggregate pass: (name, n_rows, n_violations, violation_rate,
    max_violation_rate, breached)."""
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, e in enumerate(expectations):
        aggs.append(
            F.count_if(~F.coalesce(e.condition, F.lit(False))).alias(f"_v{i}")
        )
    row = df.agg(*aggs)
    reports = []
    for i, e in enumerate(expectations):
        rate = F.when(
            F.col("_n") > 0, F.col(f"_v{i}") / F.col("_n")
        ).otherwise(F.lit(0.0))
        reports.append(
            F.struct(
                F.lit(e.name).alias("name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_v{i}").alias("n_violations"),
                F.round(rate, 6).alias("violation_rate"),
                F.lit(e.max_violation_rate).alias("max_violation_rate"),
                (rate > e.max_violation_rate).alias("breached"),
            )
        )
    return row.select(F.explode(F.array(*reports)).alias("r")).select("r.*")


def k_anonymity_report(
    df: DataFrame,
    quasi_identifiers: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity risk profile over quasi-identifier columns (Sweeney
    2002, public): every row whose QI combination is shared by fewer
    than ``k`` rows is re-identifiable; the standard pre-release check
    before a derived dataset ships. Returns one summary row:
    equivalence-class count, how many classes/rows fall under k, the
    minimum class size (the k the data actually satisfies), and the
    suppression fraction (share of rows to drop for k-anonymity).

    One hash agg over the QI tuple + one fold — partial-combinable,
    no windows; the per-class table never leaves the executors."""
    g = df.groupBy(*quasi_identifiers).agg(F.count("*").alias("_n"))
    return g.agg(
        F.count("*").alias("n_classes"),
        F.sum(F.when(F.col("_n") < k, 1).otherwise(0))
        .cast("long")
        .alias("classes_under_k"),
        F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("rows_under_k"),
        F.min("_n").alias("min_class_size"),
        F.sum("_n").cast("long").alias("n_rows"),
    ).select(
        "n_classes",
        "classes_under_k",
        "rows_under_k",
        "min_class_size",
        (F.col("min_class_size") >= k).alias("k_anonymous"),
        # floor-quantize, never round() a raw double both engines must
        # agree on (the resample_locf/min_cost_supplier lesson)
        (F.floor(F.col("rows_under_k") / F.col("n_rows") * 10000) / 10000)
        .alias("suppression_frac"),
    )


def l_diversity_report(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    l: int = 2,
) -> DataFrame:
    """l-diversity risk profile (Machanavajjhala et al. 2007, public):
    k-anonymity's necessary companion — an equivalence class whose
    rows all share ONE sensitive value leaks it even when the class is
    large, so every class must carry at least ``l`` DISTINCT sensitive
    values. Returns one summary row mirroring k_anonymity_report:
    class count, classes/rows under l, the l the data actually
    satisfies, and the suppression fraction.

    NULL sensitive values count as a distinct value (a missing entry
    leaks "missing" exactly like any other value — and the two-level
    groupBy naturally forms a NULL group); the oracle must add the
    NULL group back to count(DISTINCT), which skips NULLs.

    One hash agg over (QI, sensitive) then one over QI (both
    partial-combinable, distinct folded into the first agg's key), one
    fold — the per-class table never leaves the executors."""
    per = (
        df.groupBy(*quasi_identifiers, F.col(sensitive_col).alias("_sv"))
        .agg(F.count("*").alias("_nv"))
        .groupBy(*quasi_identifiers)
        .agg(
            F.count("*").alias("_div"),
            F.sum("_nv").cast("long").alias("_n"),
        )
    )
    return per.agg(
        F.count("*").alias("n_classes"),
        F.sum(F.when(F.col("_div") < l, 1).otherwise(0))
        .cast("long")
        .alias("classes_under_l"),
        F.sum(F.when(F.col("_div") < l, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("rows_under_l"),
        F.min("_div").cast("long").alias("min_diversity"),
        F.sum("_n").cast("long").alias("n_rows"),
    ).select(
        "n_classes",
        "classes_under_l",
        "rows_under_l",
        "min_diversity",
        (F.col("min_diversity") >= l).alias("l_diverse"),
        # floor-quantize, never round() a raw double both engines must
        # agree on (the resample_locf/min_cost_supplier lesson)
        (F.floor(F.col("rows_under_l") / F.col("n_rows") * 10000) / 10000)
        .alias("suppression_frac"),
    )

def t_closeness_report(
    df: DataFrame,
    quasi_identifiers: list[str],
    sensitive_col: str,
    t: float = 0.3,
) -> DataFrame:
    """t-closeness risk profile (Li, Li & Venkatasubramanian 2007,
    public) — the third of the privacy trio after k-anonymity and
    l-diversity: every equivalence class's SENSITIVE-VALUE DISTRIBUTION
    must sit within distance ``t`` of the table-wide distribution
    (a skewed class leaks even when large and diverse). For
    categorical sensitive attributes the canonical distance is total
    variation (EMD under uniform ground distance):

        t_c = 1/2 * sum_s |P_c(s) - P(s)|

    Exactness: per (class, value) the deviation lifts to the common
    denominator — |x_cs*N - X_s*n_c| is an exact DECIMAL(38,0)
    integer — and values ABSENT from a class contribute exactly
    (N - sum_{s in c} X_s) * n_c via one algebraic correction term
    (|0*N - X_s*n_c| = X_s*n_c summed over the absent values), so the
    (class x value) grid is never densified. Each class's t quantizes
    ONCE: micro_t = (sum_abs * 1e6) div (2*n_c*N) — BIGINT-safe; the
    threshold compare is integer vs round(t*1e6).

    Two hash aggs + a value-marginal broadcast join; the class table
    never leaves the executors. Returns one summary row:
    (n_classes, classes_over_t, max_t_q6, t_close)."""
    cells = df.groupBy(
        *quasi_identifiers, F.col(sensitive_col).alias("_sv")
    ).agg(F.count("*").cast("long").alias("_x"))
    cls = cells.groupBy(*quasi_identifiers).agg(
        F.sum("_x").cast("long").alias("_nc")
    )
    glob = cells.groupBy("_sv").agg(F.sum("_x").cast("long").alias("_gx"))
    tot = glob.agg(F.sum("_gx").cast("long").alias("_n"))
    per = (
        cells.join(glob, "_sv")
        .join(cls, quasi_identifiers)
        .crossJoin(tot)
        .groupBy(*quasi_identifiers)
        .agg(
            F.sum(
                F.abs(
                    F.col("_x") * F.lit(1).cast("decimal(38,0)")
                    * F.col("_n")
                    - F.col("_gx") * F.lit(1).cast("decimal(38,0)")
                    * F.col("_nc")
                )
            ).alias("_pdev"),
            F.sum("_gx").cast("long").alias("_px"),
            F.max("_nc").alias("_nc"),
            F.max("_n").alias("_n"),
        )
        .withColumn(
            "_sum_abs",
            F.col("_pdev")
            + (F.col("_n") - F.col("_px"))
            * F.lit(1).cast("decimal(38,0)")
            * F.col("_nc"),
        )
        .selectExpr(
            "(_sum_abs * 1000000) div (2 * CAST(_nc AS DECIMAL(38,0)) * _n)"
            " AS micro_t"
        )
    )
    thresh = int(round(t * 1e6))
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum((F.col("micro_t") > thresh).cast("int"))
        .cast("long")
        .alias("classes_over_t"),
        F.max("micro_t").alias("_mx"),
    ).select(
        "n_classes",
        F.coalesce(F.col("classes_over_t"), F.lit(0).cast("long")).alias(
            "classes_over_t"
        ),
        (F.col("_mx").cast("double") / 1e6).alias("max_t_q6"),
        F.when(F.col("n_classes") > 0, F.col("_mx") <= thresh).alias(
            "t_close"
        ),
    )
