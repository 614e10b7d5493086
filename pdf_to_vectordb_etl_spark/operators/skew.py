"""Skew-aware join/aggregation helpers (100 TB path).

AQE's skew-join splitting (on in session.py) handles sort-merge joins
whose *partitions* are skewed; these helpers cover the cases AQE cannot:
the salt of a broadcast-infeasible hot-key join (``joins.salted_join``),
and a hot-key aggregation whose map-side combine is defeated by one
giant group.

Salting trades one narrow extra column + a small-side replication
factor for an even key distribution — deterministic (pmod of xxhash64),
no RNG state, stable under retries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_salt(df: DataFrame, key: str, buckets: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic per-row salt in [0, buckets): a hash over all
    columns spreads even rows sharing one hot key evenly across
    ``buckets`` shuffle partitions."""
    nonce = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.withColumn(salt_col, F.pmod(nonce, F.lit(buckets)).cast("int"))


def two_phase_count(
    df: DataFrame, keys: list[str], buckets: int = 16, agg_col: str = "n"
) -> DataFrame:
    """Hot-group aggregation: count per (key, salt) first (spreads the
    giant group), then sum the partials per key. Same trick extends to
    any algebraic aggregate (sum/min/max/avg via sum+count)."""
    salted = with_salt(df, keys[0], buckets)
    partial = salted.groupBy(*keys, "_salt").agg(F.count("*").alias("_pn"))
    return partial.groupBy(*keys).agg(F.sum("_pn").alias(agg_col))


def key_skew_report(df: DataFrame, key_col: str, top_n: int = 5) -> DataFrame:
    """Skew DIAGNOSIS — the numbers that decide whether a join/agg key
    needs salting before the job is launched at scale: the ``top_n``
    hottest keys with their row share, alongside distinct-key count and
    the p50/p99 per-key depth (max/p50 >> 1 means a few keys dominate
    and AQE's partition-level splitting may not be enough).

    Cost: one hash aggregation on the key (partial-combinable — safe
    even ON the skewed key, since combine happens map-side), then
    constant-size reductions: a TakeOrderedAndProject for the top keys
    and a one-row percentile aggregate broadcast back. Nothing here is
    corpus-cardinality except the first agg's output (one row per key).
    """
    counts = df.groupBy(key_col).agg(F.count("*").alias("n"))
    g = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.round(F.percentile("n", 0.5), 4).alias("p50_n"),
        F.round(F.percentile("n", 0.99), 4).alias("p99_n"),
    )
    top = counts.orderBy(F.desc("n"), F.col(key_col)).limit(top_n)
    return top.crossJoin(F.broadcast(g)).select(
        key_col,
        "n",
        F.round(F.col("n") / F.col("n_rows"), 6).alias("share"),
        "n_keys",
        "p50_n",
        "p99_n",
    )
