"""Z-order (Morton) clustering for multi-dimensional data skipping
(beyond-reference).

A 100 TB table can only be range-clustered on ONE sort key; queries
filtering on a second column then scan everything. Interleaving the
bits of two rank-scaled columns gives a single sort key whose contiguous
ranges are small rectangles in (x, y) space — parquet min/max footer
stats then prune files for predicates on EITHER column (the technique
behind Delta/Iceberg OPTIMIZE ZORDER; public algorithm, Morton 1966).

Everything is native integer expressions (shiftleft / & / |) inside
whole-stage codegen — no UDF; the only non-narrow step is the 1-row
min/max aggregate broadcast back for scaling. Clustering a write by
the key is then one repartitionByRange on it (a single shuffle, same
cost class as any clustered write).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: magic-number bit spreading: 16 -> 32 bits with zeros interleaved
_SPREAD_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def spread_bits16(c: Column) -> Column:
    """Spread a 16-bit int's bits to even positions of a 32-bit int
    (b15..b0 -> 0b15 0b14 ... 0b0). Pure codegen arithmetic."""
    out = c.cast("long")
    for shift, mask in _SPREAD_MASKS:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def _scale16(c: Column, lo: Column, hi: Column) -> Column:
    """Min-max scale to [0, 65535]. Uniform scaling (not rank-based):
    heavy skew in a column degrades locality for that column only —
    for rank-true Z-values substitute ntile(65536) at the cost of one
    extra sort; uniform is the right default for id/time-like keys."""
    span = hi.cast("double") - lo.cast("double")
    scaled = F.floor(
        (c.cast("double") - lo.cast("double")) * F.lit(65535.0) / span
    )
    # degenerate column (hi == lo) maps to 0
    return F.when(span == 0.0, F.lit(0)).otherwise(
        F.greatest(F.lit(0), F.least(F.lit(65535), scaled))
    ).cast("long")


def zorder_key(df: DataFrame, x_col: str, y_col: str, z_name: str = "z") -> DataFrame:
    """Attach the 32-bit Morton key of (x_col, y_col).

    The min/max scaling bounds come from a 1-row aggregate crossJoined
    back (broadcast of one row — free at any scale, and the bounds are
    computed in the same job, no driver round-trip)."""
    bounds = df.agg(
        F.min(x_col).alias("_xlo"),
        F.max(x_col).alias("_xhi"),
        F.min(y_col).alias("_ylo"),
        F.max(y_col).alias("_yhi"),
    )
    with_b = df.crossJoin(F.broadcast(bounds))
    xs = _scale16(F.col(x_col), F.col("_xlo"), F.col("_xhi"))
    ys = _scale16(F.col(y_col), F.col("_ylo"), F.col("_yhi"))
    z = spread_bits16(xs).bitwiseOR(F.shiftleft(spread_bits16(ys), 1))
    return with_b.withColumn(z_name, z).drop("_xlo", "_xhi", "_ylo", "_yhi")


def zonemap_prune_report(
    df: DataFrame,
    key: Column,
    layouts: dict[str, Column],
    lo: Column,
    hi: Column,
) -> DataFrame:
    """Data-skipping effectiveness report: for each candidate physical
    layout (a shard-id expression), build the zone map (per-shard
    min/max of ``key`` — exactly what parquet footer stats give each
    file) and measure how much of the table a range predicate
    ``key BETWEEN lo AND hi`` would actually scan.

    This is the planning question behind every 100 TB layout decision
    — "if we cluster by X instead of ingest order, how many files does
    the date filter still touch?" — answered from two map-side-combined
    aggregates per layout (shard-cardinality exchange, then a 1-row
    fold); no data is rewritten to evaluate a layout.

    Returns one row per layout: ``layout, n_shards, shards_scanned,
    rows_total, rows_scanned, prune_pct`` (percent of ROWS skipped;
    NULL on an empty table).
    """
    reports = []
    for name, shard in layouts.items():
        zones = (
            df.select(shard.alias("shard"), key.alias("k"))
            .groupBy("shard")
            .agg(
                F.min("k").alias("kmin"),
                F.max("k").alias("kmax"),
                F.count("*").alias("n"),
            )
        )
        overlap = (F.col("kmax") >= lo) & (F.col("kmin") <= hi)
        reports.append(
            zones.agg(
                F.lit(name).alias("layout"),
                F.count("*").cast("long").alias("n_shards"),
                F.sum(F.when(overlap, 1).otherwise(0))
                .cast("long")
                .alias("shards_scanned"),
                F.sum("n").cast("long").alias("rows_total"),
                F.sum(F.when(overlap, F.col("n")).otherwise(0))
                .cast("long")
                .alias("rows_scanned"),
            ).withColumn(
                "prune_pct",
                F.round(
                    100.0
                    * (
                        1.0
                        - F.col("rows_scanned").cast("double")
                        / F.expr("nullif(CAST(rows_total AS DOUBLE), 0.0)")
                    ),
                    4,
                ),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("layout")
