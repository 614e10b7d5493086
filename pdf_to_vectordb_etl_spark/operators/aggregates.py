"""Aggregation operators (SURVEY §2.4 A1-A5).

The reference accumulates per-subject strings in mutable dicts
(reference enem_pdf_extractor.py:479-501,:620-633) and upserts single
CSV cells (reference qdrant_text_loader.py:102-120); here both are
group-bys — the order-sensitive concat carries (page_index, pos) so the
result is deterministic under shuffles (SURVEY §7 hard part 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def subject_concat(questions: DataFrame, text_col: str = "txt") -> DataFrame:
    """A2 — per-(year, subject) document-order concatenation of the TXT
    records (reference :479-501 etc.).

    Spark gives no implicit row order, so each record is tagged with its
    (page_index, pos) sort key, collected, sorted in-group, then joined.
    One shuffle on (year, subject); group count is tiny (years × 6).
    """
    keyed = F.struct(
        F.col("page_index").alias("p"), F.col("pos").alias("q"), F.col(text_col).alias("t")
    )
    return (
        questions.groupBy("year", "subject")
        .agg(F.sort_array(F.collect_list(keyed)).alias("parts"))
        .select(
            "year",
            "subject",
            F.array_join(F.transform("parts", lambda s: s["t"]), "").alias("content"),
        )
    )


def question_counts(questions: DataFrame) -> DataFrame:
    """A3 (expected side) — per-(year, subject) question counts
    (reference qdrant_text_loader.py:217-224)."""
    return questions.groupBy("year", "subject").agg(F.count("*").alias("n"))


def extraction_stats(expected: DataFrame, inserted: DataFrame | None = None) -> DataFrame:
    """A3 — long-form stats table: kind ``todas_questoes`` (expected)
    and ``questoes_add`` (actually inserted) per (year, subject)
    (reference qdrant_text_loader.py:301-308)."""
    out = expected.select("year", "subject", F.lit("todas_questoes").alias("kind"), "n")
    if inserted is not None:
        out = out.unionByName(
            inserted.select("year", "subject", F.lit("questoes_add").alias("kind"), "n")
        )
    return out


def stats_pivot(stats: DataFrame, subjects: list[str] | None = None) -> DataFrame:
    """A4 — pivot to the reference's CSV shape: one column per subject,
    one row per (year, kind) (reference qdrant_text_loader.py:102-120).

    Explicit pivot values keep the plan to a single aggregation pass
    (no values-discovery job) — required habit at scale.
    """
    from ..schemas import SUBJECTS

    values = subjects if subjects is not None else list(SUBJECTS)
    return (
        stats.groupBy("year", "kind")
        .pivot("subject", values)
        .agg(F.first("n"))
        .orderBy("year", "kind")
    )


def stats_pivot_reference_csv(
    stats: DataFrame, subjects: list[str] | None = None
) -> DataFrame:
    """A4 in the reference's exact CSV shape: an unnamed index column
    ``"{year} todas questoes"`` / ``"{year} questoes add"`` and one
    float column per subject (reference qdrant_text_loader.py:102-120,
    golden: extraction_metadata/qdrant_extraction_data.csv)."""
    from ..schemas import SUBJECTS

    values = subjects if subjects is not None else list(SUBJECTS)
    kind_label = F.when(
        F.col("kind") == "todas_questoes", F.lit("todas questoes")
    ).otherwise(F.lit("questoes add"))
    idx = F.concat_ws(" ", F.col("year").cast("string"), kind_label)
    p = (
        stats.withColumn("", idx)
        .groupBy("")
        .pivot("subject", values)
        .agg(F.first(F.col("n").cast("double")))
    )
    return p.orderBy("")


def folder_parity_check(files: DataFrame) -> DataFrame:
    """A5 — PDF count + parity flags (reference pdf_to_qdrant_etl.py:134-138:
    error when fewer than 2 PDFs or an odd count)."""
    return files.agg(
        F.count("*").alias("n_pdfs"),
        (F.count("*") >= 2).alias("enough"),
        (F.count("*") % 2 == 0).alias("even"),
    )


def sessionize_gaps(
    df: DataFrame,
    time_col: str = "tus",
    by: str = "user_id",
    gap: int = 1_800_000_000,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization in batch: a new session starts when the
    time since the previous row of the same ``by`` key exceeds ``gap``
    (same units as ``time_col``). Adds a per-key ``session_id``
    (1-based, in time order).

    Batch twin of the t7 stream sessionizer: one window
    (single shuffle on the key) computes lag-gap flags and their
    running sum — the standard islands formulation, linear per key and
    embarrassingly parallel across keys.
    """
    from pyspark.sql import Window

    order = order_cols or [time_col]
    w = Window.partitionBy(by).orderBy(*order)
    prev = F.lag(time_col).over(w)
    new_session = F.when(
        prev.isNull() | ((F.col(time_col) - prev) > gap), 1
    ).otherwise(0)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("_new_s", new_session).withColumn(
        "session_id", F.sum("_new_s").over(cum)
    ).drop("_new_s")


def forward_fill(
    df: DataFrame,
    value_col: str,
    by: str,
    order_cols: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Last-observation-carried-forward (LOCF) gap fill: within each
    ``by`` key, replace NULLs in ``value_col`` with the most recent
    non-NULL value in ``order_cols`` order.

    One window (single shuffle on the key): ``last(value, ignorenulls)``
    over rows UNBOUNDED PRECEDING..CURRENT. Linear per key, parallel
    across keys — the sort is per-partition-group, never global, so the
    plan scales with key cardinality, not total rows. Rows before the
    first observation stay NULL (no look-ahead).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(by)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col or f"{value_col}_filled",
        F.last(value_col, ignorenulls=True).over(w),
    )


def latest_per_key(
    df: DataFrame,
    key: str,
    order_col: str,
    payload_cols: list[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """CDC-style compaction: collapse each ``key`` to its most recent
    record by ``order_col`` (changelog -> snapshot).

    ONE ``max_by`` of the whole payload struct — per-column max_by
    calls would resolve order ties independently and stitch the
    snapshot from DIFFERENT rows. With ``tiebreak_col`` the ordering
    key is a (order, tiebreak) STRUCT — numerically correct over the
    full signed domain (a zero-padded '%020d' string key would order
    '-…10' before '-…05' and pick the OLDER record for negative
    values; a multiplication-packed long overflows at micros × id
    scale). An external replay without struct-keyed arg_max uses the
    equivalent row_number()-over-(order DESC, tiebreak DESC) window.
    Map-side partial combine: the shuffle carries one row per
    (partition, key) instead of every version — at 100 TB changelog
    scale this beats the row_number()-over-window form, whose sort
    shuffles *all* versions."""
    okey = (
        F.col(order_col)
        if tiebreak_col is None
        else F.struct(F.col(order_col), F.col(tiebreak_col))
    )
    out = df.groupBy(key).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload_cols]), okey).alias("_w"),
        F.max(order_col).alias(order_col),
    )
    return out.select(
        key, *[F.col(f"_w.{c}").alias(c) for c in payload_cols], order_col
    )


def resample_locf(
    df: DataFrame,
    time_col: str,
    by: str,
    value_col: str,
    step: int,
    agg: str = "avg",
    round_dp: int = 4,
) -> DataFrame:
    """Downsample an irregular series onto a fixed time grid with LOCF
    gap fill: one row per (key, bucket) for EVERY bucket between the
    key's first and last observation; empty buckets carry the last
    observed aggregate forward.

    Plan: bucket aggregate (one shuffle, partial combine) -> per-key
    min/max bucket (tiny) -> ``sequence``/explode densifies the grid
    (array built only under its own explode) -> left join the
    aggregates back on (key, bucket) -> one LOCF window. Grid size is
    span/step per key — choose ``step`` so that's bounded; total work
    is O(events + grid), never O(events x grid). The per-bucket value
    FLOOR-quantizes BEFORE the fill so carried values are bit-identical
    to their source bucket in any engine (engine round() splits within
    1 ulp of a .5 boundary — bit this query at sf0.1: an avg landing on
    56.35625 rounded .3562 in one engine and .3563 in the other).
    """
    # integer `div`, not double /: exact bucketing for epoch-scale longs
    q = 10 ** round_dp
    b = (
        df.select(F.col(by), F.expr(f"`{time_col}` div {int(step)}").alias("bucket"),
                  F.col(value_col))
        .groupBy(by, "bucket")
        .agg(
            (F.floor(getattr(F, agg)(value_col) * q) / q).alias("_v")
        )
    )
    span = b.groupBy(by).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    grid = span.select(
        by, F.explode(F.sequence("_lo", "_hi")).alias("bucket")
    )
    dense = grid.join(b, [by, "bucket"], "left")
    filled = forward_fill(dense, "_v", by, ["bucket"], out_col="value_filled")
    return filled.select(
        by,
        (F.col("bucket") * step).alias("bucket_start"),
        (F.col("_v").isNotNull()).alias("observed"),
        "value_filled",
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    lower_q: float = 0.01,
    upper_q: float = 0.99,
    round_dp: int = 6,
) -> DataFrame:
    """Clip ``value_col`` to its [lower_q, upper_q] quantile band —
    per ``by`` group when given — the standard outlier guard before any
    mean/variance-based quality scoring.

    Exact ``percentile`` cutoffs (one aggregate; the cutoff table is
    group-count-sized and broadcasts back), rounded before the clip so
    the boundary is engine-stable. Adds ``<value_col>_w``."""
    lo = F.round(F.expr(f"percentile({value_col}, {lower_q})"), round_dp)
    hi = F.round(F.expr(f"percentile({value_col}, {upper_q})"), round_dp)
    if by is None:
        cuts = df.agg(lo.alias("_lo"), hi.alias("_hi"))
        joined = df.crossJoin(F.broadcast(cuts))
    else:
        cuts = df.groupBy(by).agg(lo.alias("_lo"), hi.alias("_hi"))
        joined = df.join(F.broadcast(cuts), by)
    clipped = F.least(F.greatest(F.col(value_col), F.col("_lo")), F.col("_hi"))
    return joined.withColumn(f"{value_col}_w", clipped).drop("_lo", "_hi")


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    time_col: str = "t",
) -> DataFrame:
    """Classic cohort-retention triangle: users bucketed by first-seen
    day, distinct-user counts per (cohort_day, day_offset), plus the
    retention rate against the cohort's own size.

    Two hash aggs and two equi-joins, all keyed on ``user_col`` or the
    tiny cohort table: the per-user first-seen agg and the join back to
    the event stream shuffle on the SAME key, so Spark reuses the
    exchange; the cohort-size join is calendar-cardinality and
    broadcast. Nothing is windowed, nothing global-sorts.
    """
    first = events.groupBy(user_col).agg(
        F.to_date(F.min(time_col)).alias("cohort_day")
    )
    sizes = first.groupBy("cohort_day").agg(
        F.count("*").alias("cohort_size")
    )
    joined = events.join(first, user_col).select(
        user_col,
        "cohort_day",
        F.datediff(F.to_date(F.col(time_col)), F.col("cohort_day")).alias(
            "day_offset"
        ),
    )
    counts = joined.groupBy("cohort_day", "day_offset").agg(
        F.countDistinct(user_col).alias("n_users")
    )
    return counts.join(F.broadcast(sizes), "cohort_day").select(
        "cohort_day",
        "day_offset",
        "n_users",
        F.round(F.col("n_users") / F.col("cohort_size"), 4).alias("retention"),
    )


def rolling_zscore_flags(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("tus", "event_id"),
    value_col: str = "value",
    lookback: int = 20,
    threshold: float = 2.5,
) -> DataFrame:
    """Streaming-style anomaly flags: each value is scored against the
    mean/stddev of its own trailing ``lookback`` rows (frame excludes
    the current row — no self-leakage), and rows with |z| above the
    threshold are emitted.

    One window partitioned by ``key_col`` — per-key state, embarrassingly
    parallel across keys; the frame is ROWS-bounded so memory is
    O(lookback) per open partition. z rounded to 4 BEFORE the threshold
    compare so external replays flag the identical row set.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-lookback, -1)
    )
    mean = F.avg(value_col).over(w)
    sd = F.stddev_samp(value_col).over(w)
    z = F.round((F.col(value_col) - mean) / sd, 4)
    return (
        events.withColumn("_sd", sd)
        .withColumn("z", z)
        .filter(
            F.col("_sd").isNotNull()
            & (F.col("_sd") > 0)
            & (F.abs(F.col("z")) > threshold)
        )
        .select(key_col, "event_id", F.round(value_col, 4).alias("value"), "z")
    )


def resample_interpolate(
    df: DataFrame,
    time_col: str,
    by: str,
    value_col: str,
    step: int,
    agg: str = "avg",
    round_dp: int = 4,
) -> DataFrame:
    """Fixed-grid resample with LINEAR interpolation between observed
    buckets (the companion of :func:`resample_locf`): an empty bucket
    gets prev + (next-prev) * elapsed-share; before the first / after
    the last observation it clamps to the nearest observed value.

    Same densify plan as LOCF (bucket agg -> per-key span -> sequence
    explode -> left join back) plus TWO windows per key — a backward
    last-non-null carrying (prev bucket, prev value) and a forward
    first-non-null carrying (next bucket, next value). Both windows
    share the per-key partitioning; interpolation itself is a narrow
    projection. Observed buckets FLOOR-quantize BEFORE interpolation so
    both anchors are engine-portable bit-exact (the resample_locf
    convention: engine round() splits within 1 ulp of a .5 boundary —
    avg summation order differs across engines)."""
    from pyspark.sql import Window

    q = 10 ** round_dp
    b = (
        df.select(
            F.col(by),
            F.expr(f"`{time_col}` div {int(step)}").alias("bucket"),
            F.col(value_col),
        )
        .groupBy(by, "bucket")
        .agg((F.floor(getattr(F, agg)(value_col) * q) / q).alias("_v"))
    )
    span = b.groupBy(by).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    grid = span.select(by, F.explode(F.sequence("_lo", "_hi")).alias("bucket"))
    dense = grid.join(b, [by, "bucket"], "left")
    wb = (
        Window.partitionBy(by)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(by)
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("_v").isNotNull(), F.col("bucket"))
    out = dense.select(
        by,
        "bucket",
        "_v",
        F.last("_v", ignorenulls=True).over(wb).alias("_pv"),
        F.last(obs_bucket, ignorenulls=True).over(wb).alias("_pb"),
        F.first("_v", ignorenulls=True).over(wf).alias("_nv"),
        F.first(obs_bucket, ignorenulls=True).over(wf).alias("_nb"),
    )
    interp = (
        F.when(F.col("_v").isNotNull(), F.col("_v"))
        .when(F.col("_pv").isNull(), F.col("_nv"))
        .when(F.col("_nv").isNull(), F.col("_pv"))
        .otherwise(
            F.col("_pv")
            + (F.col("_nv") - F.col("_pv"))
            * (F.col("bucket") - F.col("_pb"))
            / (F.col("_nb") - F.col("_pb"))
        )
    )
    # floor(x*10^dp + 0.5)/10^dp instead of round(): a blend of two
    # round-dp anchors lands on exact .5 ties often, where engine
    # round() implementations disagree (HALF_UP on decimal expansion vs
    # float tie-to-even); the floor form is pinned by IEEE ops alone,
    # so any engine replaying the same doubles emits the same digits.
    p = float(10 ** round_dp)
    return out.select(
        by,
        (F.col("bucket") * step).alias("bucket_start"),
        F.col("_v").isNotNull().alias("observed"),
        (F.floor(interp * p + F.lit(0.5)) / p).alias("value_interp"),
    )


def ewma(
    df: DataFrame,
    value_col: str = "value",
    by: str = "user_id",
    order_cols: tuple[str, ...] = ("tus", "event_id"),
    alpha: float = 0.3,
    lookback: int = 20,
) -> DataFrame:
    """Exponentially-weighted moving average per key over a trailing
    ROWS window — the bounded-memory form every monitoring pipeline
    uses (the unbounded recurrence y_t = αx_t + (1−α)y_{t−1} is
    inherently sequential; truncating at ``lookback`` makes it a
    windowed dot product with fixed weights, embarrassingly parallel
    across keys and identical in the limit).

    The α(1−α)^j weight ladder is computed ONCE in Python and enters
    the plan as a literal array — both the Spark kernel and any SQL
    replay index the same doubles, so results agree to the last bit
    before rounding. Weights renormalize over the rows actually
    present (short prefixes average over what exists). One window +
    one narrow aggregate; no recurrence, no UDF."""
    from pyspark.sql import Window

    wts = [alpha * (1 - alpha) ** (lookback - 1 - k) for k in range(lookback)]
    wlit = F.array(*[F.lit(w) for w in wts])
    w = (
        Window.partitionBy(by)
        .orderBy(*order_cols)
        .rowsBetween(-(lookback - 1), 0)
    )
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    s = F.size(arr)
    idx = F.sequence(F.lit(0), s - 1)
    num = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(arr, i + 1)
        * F.element_at(wlit, F.lit(lookback) - s + i + 1),
    )
    den = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(wlit, F.lit(lookback) - s + i + 1),
    )
    return df.withColumn("ewma", F.round(num / den, 6))


def time_decay_sum(
    df: DataFrame,
    value_col: str = "value",
    ts_col: str = "tus",
    by: str = "user_id",
    half_life_days: float = 30.0,
) -> DataFrame:
    """Recency-weighted value per key: Σ value · 0.5^(age/half_life),
    the standard decay featurization (recent activity dominates, old
    activity never fully vanishes). Age is measured from the corpus
    max timestamp — a 1-row broadcast, so the feature is deterministic
    for a given snapshot rather than wall-clock-dependent. One
    partial-combinable agg; the decay factor is a narrow projection."""
    ref = df.agg(F.max(ts_col).alias("_ref"))
    age_days = (F.col("_ref") - F.col(ts_col)) / F.lit(86_400_000_000.0)
    wt = F.pow(F.lit(0.5), age_days / F.lit(half_life_days))
    return (
        df.crossJoin(F.broadcast(ref))
        .groupBy(by)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col(value_col) * wt), 4).alias("decayed_value"),
        )
    )


def iqr_outlier_flags(
    df: DataFrame,
    value_col: str = "value",
    by: str = "event_type",
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outliers per group: rows outside
    [Q1 − k·IQR, Q3 + k·IQR]. Exact percentiles (one partial-
    combinable agg producing a group-cardinality cutoff table that
    joins back broadcast-cheap); fences round to 6 dp so the flag
    boundary is engine-stable. Returns only the flagged rows."""
    q = df.groupBy(by).agg(
        F.expr(f"percentile({value_col}, 0.25)").alias("_q1"),
        F.expr(f"percentile({value_col}, 0.75)").alias("_q3"),
    )
    iqr = F.col("_q3") - F.col("_q1")
    fences = q.select(
        by,
        F.round(F.col("_q1") - k * iqr, 6).alias("lo"),
        F.round(F.col("_q3") + k * iqr, 6).alias("hi"),
    )
    return (
        df.join(F.broadcast(fences), by)
        .filter((F.col(value_col) < F.col("lo")) | (F.col(value_col) > F.col("hi")))
        .select(by, value_col, "lo", "hi")
    )


def timed_funnel(
    df: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    windows_us: tuple[int, int] = (1_800_000_000, 7_200_000_000),
    key: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "tus",
) -> DataFrame:
    """Time-boxed conversion funnel: step 1 = a key's FIRST ``steps[0]``
    event; step 2 = its first ``steps[1]`` strictly after that, within
    ``windows_us[0]``; step 3 = its first ``steps[2]`` after the
    qualifying step 2, within ``windows_us[1]``. Emits one row per
    step: (step, n_keys, rate-vs-step-1).

    The anti-pattern this replaces is a per-key sort + Python walk;
    here each stage is a min-agg plus an equi-join on the key — three
    partial-combinable aggregates total, each output key-cardinality.
    Deterministic: "first" is min(ts), no tie ambiguity at equal ts
    because min is order-free."""
    s1, s2, s3 = steps
    w12, w23 = windows_us
    t = F.col(ts_col)
    v = (
        df.filter(F.col(type_col) == s1)
        .groupBy(key)
        .agg(F.min(ts_col).alias("t1"))
    )
    c = (
        df.filter(F.col(type_col) == s2)
        .join(v, key)
        .filter(t > F.col("t1"))
        .groupBy(key, "t1")
        .agg(F.min(ts_col).alias("t2"))
        .filter(F.col("t2") <= F.col("t1") + F.lit(w12))
    )
    p = (
        df.filter(F.col(type_col) == s3)
        .join(c.select(key, "t2"), key)
        .filter(t > F.col("t2"))
        .groupBy(key, "t2")
        .agg(F.min(ts_col).alias("t3"))
        .filter(F.col("t3") <= F.col("t2") + F.lit(w23))
    )
    n1 = v.agg(F.count("*").alias("n")).select(
        F.lit(s1).alias("step"), "n"
    )
    n2 = c.agg(F.count("*").alias("n")).select(
        F.lit(s2).alias("step"), "n"
    )
    n3 = p.agg(F.count("*").alias("n")).select(
        F.lit(s3).alias("step"), "n"
    )
    base = v.agg(F.count("*").alias("_b"))
    return (
        n1.unionByName(n2)
        .unionByName(n3)
        .crossJoin(F.broadcast(base))
        .select(
            "step",
            F.col("n").alias("n_keys"),
            # ANSI mode: 0-user funnels must yield NULL rates, not a
            # divide-by-zero job failure
            F.when(
                F.col("_b") > 0, F.round(F.col("n") / F.col("_b"), 6)
            ).alias("rate"),
        )
    )


def seasonal_decompose(
    series: DataFrame,
    value_col: str = "v",
    time_col: str = "t",
    by: str | None = None,
    period: int = 7,
) -> DataFrame:
    """Additive seasonal decomposition of a regular series (the
    classical moving-average method behind every STL-style monitor,
    public): value = trend + seasonal + remainder, with
    trend = centered (period+1)-point moving average (half-weight
    endpoints for even periods, the textbook 2x-MA), seasonal = the
    per-phase mean of the detrended series re-centered to sum to zero
    over one period, remainder = what's left.

    Plan: one trailing/leading ROWS window per key for the MA, one
    (key, phase) hash agg broadcast back for the seasonal profile —
    parallel across keys, no global window, no recurrence. Edge rows
    without a full MA window carry NULL trend/remainder (honest NaN
    policy rather than a shrinking-window estimate the oracle can't
    replay). Returns the input plus trend/seasonal/remainder rounded
    to 6."""
    from pyspark.sql import Window

    keys = [by] if by else []
    half = period // 2
    w = (
        Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    ).orderBy(time_col)
    if period % 2 == 0:
        # 2xMA: average of the two period-length windows offset by one
        # == weighted window with half-weight first/last of period+1
        wspan = w.rowsBetween(-half, half)
        ends = (
            F.first(value_col).over(wspan) + F.last(value_col).over(wspan)
        ) / 2
        trend_raw = (
            (F.sum(value_col).over(wspan) - ends) / F.lit(float(period))
        )
        n_in_span = F.count(value_col).over(wspan)
        full = period + 1
    else:
        wspan = w.rowsBetween(-half, half)
        trend_raw = F.avg(value_col).over(wspan)
        n_in_span = F.count(value_col).over(wspan)
        full = period
    d = series.withColumn(
        "_trend", F.when(n_in_span == full, trend_raw)
    ).withColumn("_phase", F.pmod(F.col(time_col), period))
    prof = (
        d.filter(F.col("_trend").isNotNull())
        .groupBy(*keys, "_phase")
        .agg(F.avg(F.col(value_col) - F.col("_trend")).alias("_praw"))
    )
    center = prof.groupBy(*keys).agg(F.avg("_praw").alias("_pmean"))
    prof = prof.join(center, keys) if keys else prof.crossJoin(
        F.broadcast(center)
    )
    prof = prof.select(
        *keys, "_phase", (F.col("_praw") - F.col("_pmean")).alias("_seasonal")
    )
    out = d.join(F.broadcast(prof), [*keys, "_phase"], "left")
    return out.select(
        *series.columns,
        F.round("_trend", 6).alias("trend"),
        F.round(F.coalesce("_seasonal", F.lit(0.0)), 6).alias("seasonal"),
        F.round(
            F.col(value_col) - F.col("_trend") - F.coalesce("_seasonal", F.lit(0.0)),
            6,
        ).alias("remainder"),
    )


def cusum_changepoints(
    series: DataFrame,
    value_col: str = "v",
    by: str = "key",
    order_cols: tuple[str, ...] = ("t",),
    slack: float = 0.5,
    threshold: float = 5.0,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Two-sided standardized CUSUM change detection (Page 1954,
    public): per key, S⁺ₜ = max(0, S⁺ₜ₋₁ + zₜ − k) flags upward mean
    shifts when it exceeds h (S⁻ symmetric). The recurrence looks
    sequential, but max(0, ·) prefix recursion has a closed windowed
    form: S⁺ₜ = Mₜ − min_{j≤t} Mⱼ with M = cumsum(z − k) — so the
    whole detector is one per-key window (cumsum + running-min twice),
    zero UDFs, parallel across keys; the (mean, std) standardization
    is a per-key aggregate joined back (AQE broadcasts the small
    side). Emits every row with s_pos/s_neg and the alarm flags —
    downstream keeps `filter(alarm)` for the changepoint list.

    ``stats`` (by, _mu, _sd) overrides the self-computed
    standardization — the trained-on-history mode the streaming twin
    (streaming.stateful.stream_cusum) shares, so both paths
    standardize identically."""
    from pyspark.sql import Window

    if stats is None:
        stats = series.groupBy(by).agg(
            F.avg(value_col).alias("_mu"),
            F.stddev_pop(value_col).alias("_sd"),
        )
    z = F.when(
        F.col("_sd") > 0, (F.col(value_col) - F.col("_mu")) / F.col("_sd")
    ).otherwise(F.lit(0.0))
    w = Window.partitionBy(by).orderBy(*order_cols)
    wall = w.rowsBetween(Window.unboundedPreceding, 0)
    d = (
        series.join(stats, by)
        .withColumn("_zp", z - F.lit(slack))
        .withColumn("_zn", -z - F.lit(slack))
    )
    # two projections: Spark forbids nesting a window inside a window,
    # so M materializes as a column before its running-min
    d = d.withColumn("_mp", F.sum("_zp").over(wall)).withColumn(
        "_mn", F.sum("_zn").over(wall)
    )
    s_pos = F.col("_mp") - F.least(F.min("_mp").over(wall), F.lit(0.0))
    s_neg = F.col("_mn") - F.least(F.min("_mn").over(wall), F.lit(0.0))
    return d.select(
        by,
        *order_cols,
        F.col(value_col),
        F.round(s_pos, 6).alias("s_pos"),
        F.round(s_neg, 6).alias("s_neg"),
        (s_pos > threshold).alias("alarm_up"),
        (s_neg > threshold).alias("alarm_down"),
    )


def theilsen_trend(
    df: DataFrame,
    by: str,
    x_col: str,
    y_col: str,
    tiebreak_col: str,
    max_points: int = 50,
    min_points: int = 5,
) -> DataFrame:
    """Theil-Sen robust trend per key: the MEDIAN of all pairwise
    slopes (y_j − y_i)/(x_j − x_i) — immune to the outliers that pull
    an OLS slope (the robust twin of the regr_slope trend).

    Scale shape: the pairwise join is quadratic in points PER KEY, so
    each key is first capped at ``max_points`` by a deterministic
    (x, tiebreak) rank — bounding fan-out at max_points²/2 per key
    regardless of how many rows a hot key carries; the join itself is
    an equi-join on the key.  Same-x pairs (simultaneous observations)
    are excluded — their slope is undefined.  The median is the exact
    per-key percentile, an aggregate over the bounded pair set.

    Returns ``{by}, n_points, n_pairs, ts_slope`` for keys with at
    least ``min_points`` observations.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(by).orderBy("_x", tiebreak_col)
    pts = (
        df.select(
            F.col(by),
            F.col(x_col).cast("double").alias("_x"),
            F.col(y_col).cast("double").alias("_y"),
            F.col(tiebreak_col),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_points)
        .select(by, "_x", "_y", "_rn")
        # three consumers (both pair-join sides + the point counts):
        # materialize the capped table once instead of re-running the
        # scan+window per consumer.  localCheckpoint, not persist —
        # blocks release on GC, so long-lived sessions calling this
        # repeatedly don't leak cached relations (no unpersist handle
        # on the returned lazy DataFrame).
        .localCheckpoint(eager=True)
    )
    a = pts.select(
        F.col(by), F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
        F.col("_rn").alias("_ra"),
    )
    b = pts.select(
        F.col(by), F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
        F.col("_rn").alias("_rb"),
    )
    pairs = (
        a.join(b, by)
        .filter((F.col("_ra") < F.col("_rb")) & (F.col("_xa") != F.col("_xb")))
        .select(
            by,
            ((F.col("_yb") - F.col("_ya")) / (F.col("_xb") - F.col("_xa")))
            .alias("_s"),
        )
    )
    npts = pts.groupBy(by).agg(F.count("*").cast("long").alias("n_points"))
    return (
        pairs.groupBy(by)
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.expr("percentile(_s, 0.5)"), 5).alias("ts_slope"),
        )
        .join(npts, by)
        .filter(F.col("n_points") >= min_points)
        .select(by, "n_points", "n_pairs", "ts_slope")
    )


def forecast_backtest(
    series: DataFrame,
    by: str,
    time_col: str,
    value_col: str,
    horizon: int = 7,
    season: int = 7,
) -> DataFrame:
    """Holdout backtest of the two standard zero-parameter forecasters
    over a per-key bucketed series: hold out the last ``horizon``
    buckets, forecast them with NAIVE (last training value) and
    SEASONAL-NAIVE (value ``season`` buckets earlier), and score with
    sMAPE plus MASE (seasonal-naive MAE scaled by the in-sample naive
    MAE — Hyndman's scale-free standard).  The honest baseline every
    fancier forecaster must beat.

    Shapes: one global cutoff from a 1-row max-time aggregate
    (broadcast); the seasonal forecast is an equi-join on (key, t −
    season); the naive forecast is a per-key max_by aggregate joined
    back; in-sample MAE uses a per-key PARTITIONED lag window.
    Requires ``horizon ≤ season`` so every seasonal lookup lands in
    the training span.

    Returns ``{by}, n_train, n_test, smape_naive, smape_seasonal,
    mase_seasonal`` (metrics floor-quantized at 6 dp; NULL when a
    forecast has no base — e.g. a key born inside the holdout).

    Exactness (r9 port): values quantize onto the 1/``grid`` integer
    lattice at entry (floor(v·grid + 0.5) — exact recovery for
    grid-valued inputs like per-day revenue sums of 2-dp events), so
    every |error| is an exact integer, each sMAPE term is one exact
    integer floor-division onto the micro grid, the per-key means are
    single divisions of exact integers, and MASE is one exact
    cross-multiplied integer division — round(avg(ratio)) was
    float-summation-order-dependent across engines.
    """
    from pyspark.sql import Window

    if horizon > season:
        raise ValueError("horizon must be <= season (lookups leave train)")
    grid = 100
    cutoff = series.agg(
        (F.max(time_col) - F.lit(horizon)).alias("_cut")
    )
    s = series.select(
        F.col(by), F.col(time_col).alias("_t"),
        F.floor(F.col(value_col).cast("double") * grid + F.lit(0.5))
        .cast("long")
        .alias("_v"),
    ).crossJoin(F.broadcast(cutoff))
    train = s.filter(F.col("_t") <= F.col("_cut")).select(by, "_t", "_v")
    test = s.filter(F.col("_t") > F.col("_cut")).select(by, "_t", "_v")

    last = train.groupBy(by).agg(
        F.max_by("_v", "_t").alias("_naive"),
        F.count("*").cast("long").alias("n_train"),
    )
    seas = train.select(
        F.col(by), (F.col("_t") + F.lit(season)).alias("_t"),
        F.col("_v").alias("_seasonal"),
    )
    joined = (
        test.join(last, by, "left")
        .join(seas, [by, "_t"], "left")
    )

    def _smape_cells(f, tag):
        # per-row sMAPE term as an exact micro integer: one integer
        # floor-division (quotient <= 2e6 — no div-BIGINT wrap). A 0/0
        # term (value and forecast both zero) counts as 0 error; the
        # mirror CASE keeps the DuckDB twin identical under ANSI.
        denom = F.abs(F.col("_v")) + F.abs(f)
        return (
            F.when(
                f.isNotNull() & (denom > 0),
                F.expr(
                    f"CAST(2 AS DECIMAL(38,0)) * abs(_v - {tag})"
                    f" * 1000000 div (abs(_v) + abs({tag}))"
                ),
            )
            .when(f.isNotNull(), F.lit(0).cast("long"))
        )

    rn = _smape_cells(F.col("_naive"), "_naive")
    rs = _smape_cells(F.col("_seasonal"), "_seasonal")
    scored = joined.groupBy(by).agg(
        F.first("n_train").alias("n_train"),
        F.count("*").cast("long").alias("n_test"),
        (
            F.floor(F.sum(rn).cast("double") / F.count(rn)) / 1e6 + 0.0
        ).alias("smape_naive"),
        (
            F.floor(F.sum(rs).cast("double") / F.count(rs)) / 1e6 + 0.0
        ).alias("smape_seasonal"),
        F.sum(
            F.when(
                F.col("_seasonal").isNotNull(),
                F.abs(F.col("_v") - F.col("_seasonal")),
            ).cast("decimal(38,0)")
        ).alias("_s_s"),
        F.count(F.when(F.col("_seasonal").isNotNull(), 1)).alias("_n_s"),
    )
    w = Window.partitionBy(by).orderBy("_t")
    insample = (
        train.withColumn("_prev", F.lag("_v").over(w))
        .groupBy(by)
        .agg(
            F.sum(
                F.abs(F.col("_v") - F.col("_prev")).cast("decimal(38,0)")
            ).alias("_s_n"),
            F.count(F.col("_prev")).alias("_n_n"),
        )
    )
    return (
        scored.join(insample, by, "left")
        .select(
            by,
            "n_train",
            "n_test",
            "smape_naive",
            "smape_seasonal",
            # MASE = (S_s/n_s)/(S_n/n_n) = S_s·n_n / (S_n·n_s) — one
            # exact integer floor-division onto the micro grid. A flat
            # training series (naive MAE 0) makes MASE undefined
            # unless the forecast is also perfect — report 0 then,
            # NULL otherwise (never divide by zero under ANSI).
            (
                F.when(
                    F.col("_s_n") > 0,
                    F.expr(
                        "_s_s * CAST(_n_n AS DECIMAL(38,0)) * 1000000"
                        " div (_s_n * CAST(_n_s AS DECIMAL(38,0)))"
                    ).cast("double")
                    / 1e6,
                )
                .when(F.col("_s_s") == 0, F.lit(0.0))
                + 0.0
            ).alias("mase_seasonal"),
        )
    )


def autocorr_lags(
    series: DataFrame,
    key_col: str,
    value_col: str,
    max_lag: int = 10,
) -> DataFrame:
    """Per-lag autocorrelation of an integer-valued series indexed by
    an integer position key: for each lag k in 1..max_lag, the Pearson
    correlation between (x_t, x_{t+k}) over the overlapping pairs —
    the ACF diagnostic behind every seasonality / AR-order decision
    (Box & Jenkins ch. 2).

    Distributed shape: the series (already one row per position — an
    upstream corpus agg) is equi-joined to itself shifted by each lag
    via one lags-table explode, then ONE hash agg per lag folds the
    five sufficient statistics as exact int64 sums (caller contract:
    values are integer-quantized and |x|·sqrt(n·max_lag) bounded so
    n·Σxy fits 2^63 — quantize coarser upstream at bigger scales).
    The finale is the textbook closed form r = (n·Σxy − Σx·Σy) /
    (sqrt(n·Σx² − Σx²)·sqrt(n·Σy² − Σy²)) on those exact integers,
    1e-6 floor-quantized; degenerate lags (n < 2 or zero variance on
    either side) are NULL.

    Returns one row per lag: lag, n_pairs, r_q6."""
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    a = series.select(
        F.col(key_col).alias("_t"), F.col(value_col).cast("long").alias("_x")
    ).filter(F.col("_t").isNotNull() & F.col("_x").isNotNull())
    lags = a.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    shifted = a.crossJoin(F.broadcast(lags)).select(
        (F.col("_t") + F.col("lag")).alias("_t"),
        F.col("_x").alias("_y"),
        "lag",
    )
    pairs = a.join(shifted, "_t")
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("_x").cast("long").alias("sx"),
        F.sum("_y").cast("long").alias("sy"),
        F.sum(F.col("_x") * F.col("_x")).cast("long").alias("sxx"),
        F.sum(F.col("_y") * F.col("_y")).cast("long").alias("syy"),
        F.sum(F.col("_x") * F.col("_y")).cast("long").alias("sxy"),
    )
    n = F.col("n_pairs")
    # the n·Σ products overflow int64 one scale step before the sums
    # do (bit by the ×10 replica) — promote them to exact
    # DECIMAL(38,0), the ols_closed_form / money_exact precedent;
    # DuckDB mirrors with HUGEINT
    dec = "decimal(38,0)"

    def d(c):
        return c.cast(dec)

    vx = d(n) * d(F.col("sxx")) - d(F.col("sx")) * d(F.col("sx"))
    vy = d(n) * d(F.col("syy")) - d(F.col("sy")) * d(F.col("sy"))
    cov = d(n) * d(F.col("sxy")) - d(F.col("sx")) * d(F.col("sy"))
    r = cov.cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    return s.select(
        "lag",
        "n_pairs",
        F.when(
            (n >= 2) & (vx > 0) & (vy > 0), F.floor(r * 1e6) / 1e6
        ).alias("r_q6"),
    ).orderBy("lag")


def touch_attribution(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    conversion: str = "purchase",
    touch_types: tuple[str, ...] = ("view", "click"),
    lookback: int = 7 * 86_400 * 1_000_000_000,
) -> DataFrame:
    """First-touch and last-touch conversion attribution — for every
    conversion event, which touch (view/click) within the lookback
    window gets the credit.  The classic marketing-analytics operator.

    Tie-proof distributed shape: touches are first collapsed to ONE
    row per (user, ts) via deterministic struct min/max (tuple order:
    event id, then type), so the per-user ``RANGE BETWEEN lookback
    PRECEDING AND 1 PRECEDING`` window sees distinct order keys and
    ``first/last(…, ignorenulls)`` cannot depend on shuffle order —
    RANGE frames are value-based, so conversions sharing a timestamp
    with a touch exclude it consistently (strictly-preceding
    semantics).  Per-user windows only (bounded partitions, never a
    global sort); one union + one linear window pass, no self-join.

    ``ts_col`` must be an integer epoch column (the engine's
    canonical nanos); ``lookback`` shares its unit.

    Returns one row per conversion: user, conversion id + ts,
    first/last touch id + type + gap (NULL when no touch in
    window)."""
    from pyspark.sql import Window

    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    touches = (
        base.filter(F.col(type_col).isin(list(touch_types)))
        .groupBy(user_col, ts_col)
        .agg(
            # ts leads the struct (constant within the group, so the
            # (id, type) tie-break is unchanged) and rides along for
            # the gap arithmetic downstream
            F.min(
                F.struct(
                    F.col(ts_col).alias("t"),
                    F.col(id_col).alias("i"),
                    F.col(type_col).alias("y"),
                )
            ).alias("_ft"),
            F.max(
                F.struct(
                    F.col(ts_col).alias("t"),
                    F.col(id_col).alias("i"),
                    F.col(type_col).alias("y"),
                )
            ).alias("_lt"),
        )
        .select(
            user_col,
            ts_col,
            "_ft",
            "_lt",
            F.lit(None).cast("long").alias("_conv"),
        )
    )
    convs = base.filter(F.col(type_col) == conversion).select(
        user_col,
        ts_col,
        F.lit(None).cast(touches.schema["_ft"].dataType).alias("_ft"),
        F.lit(None).cast(touches.schema["_lt"].dataType).alias("_lt"),
        F.col(id_col).alias("_conv"),
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy(ts_col)
        .rangeBetween(-lookback, -1)
    )
    lined = touches.unionByName(convs).select(
        user_col,
        ts_col,
        "_conv",
        F.first("_ft", ignorenulls=True).over(w).alias("_f"),
        F.last("_lt", ignorenulls=True).over(w).alias("_l"),
    )
    out = lined.filter(F.col("_conv").isNotNull())
    return out.select(
        F.col(user_col),
        F.col("_conv").alias("conversion_id"),
        F.col(ts_col).alias("conversion_ts"),
        F.col("_f").getField("i").alias("first_touch_id"),
        F.col("_f").getField("y").alias("first_touch_type"),
        (F.col(ts_col) - F.col("_f").getField("t")).alias("first_gap"),
        F.col("_l").getField("i").alias("last_touch_id"),
        F.col("_l").getField("y").alias("last_touch_type"),
        (F.col(ts_col) - F.col("_l").getField("t")).alias("last_gap"),
    )



def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_ns_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation (Hughes 1994,
    public — the classic lifecycle readout): per-user recency (latest
    event), frequency (event count), monetary (spend), each scored
    into exact quintiles (tile 1 = best), then folded into named
    lifecycle segments.

    Exactness: monetary floors every value onto the 1e-6 integer grid
    BEFORE summing (a per-user double sum would be accumulation-order
    dependent across engines); recency is the exact max of the integer
    nanosecond timestamps; all three quintiles come from
    :func:`~..suffixes.global_ntile` over (-metric, user) — exact
    ntile fill, unique keys, no single-partition window.

    Segment cuts scale with ``n_tiles``: "good" = the top 40% of
    tiles (cut = max(1, 2*n_tiles//5) — 2 of 5 at the default), so a
    non-default tile count keeps the intended semantics instead of
    silently skewing them.

    Returns one row per non-empty segment: (segment, n_users,
    monetary_micro) — bounded output, integer-exact."""
    from .suffixes import global_ntile

    per = events.filter(F.col(value_col).isNotNull()).groupBy(
        F.col(user_col).alias("u")
    ).agg(
        F.max(F.col(ts_ns_col)).cast("long").alias("r_ns"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.floor(F.col(value_col) * 1000000).cast("long"))
        .cast("long")
        .alias("m_micro"),
    )
    per = per.localCheckpoint(eager=True)  # three ntile passes read it
    r = global_ntile(
        per.select("u", (-F.col("r_ns")).alias("k")), ["k", "u"], n_tiles,
        out_col="r_score",
    ).select("u", "r_score")
    f = global_ntile(
        per.select("u", (-F.col("freq")).alias("k")), ["k", "u"], n_tiles,
        out_col="f_score",
    ).select("u", "f_score")
    m = global_ntile(
        per.select("u", (-F.col("m_micro")).alias("k")), ["k", "u"],
        n_tiles, out_col="m_score",
    ).select("u", "m_score")
    scored = per.join(r, "u").join(f, "u").join(m, "u")
    cut = max(1, (2 * int(n_tiles)) // 5)
    seg = (
        F.when((F.col("r_score") <= cut) & (F.col("f_score") <= cut),
               F.lit("champions"))
        .when(F.col("r_score") <= cut, F.lit("recent"))
        .when(F.col("f_score") <= cut, F.lit("at_risk"))
        .otherwise(F.lit("hibernating"))
    )
    return scored.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("m_micro").cast("long").alias("monetary_micro"),
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
) -> DataFrame:
    """Quantile normalization of a per-group score onto the POOLED
    distribution (Bolstad et al. 2003, the microarray batch-effect
    standard, public): row with within-group quantile q is mapped to
    the pooled value at quantile q — after it, every group's score
    distribution is exchangeable, so one global threshold treats all
    sources alike (the cross-source quality-score problem).

    Exactness: the mapped value is a VALUE COPIED from the pooled
    table (no arithmetic at all — nothing to round); within-group and
    pooled ranks both come from the sanctioned global_row_number
    primitive over unique (…, value, id) keys, per-group ranks
    re-anchored via the min-rank agg join (ccnet recipe, no per-group
    corpus window); the target pooled rank is the exact integer
    ceil(r_g * N / n_g) = (r_g*N + n_g - 1) div n_g. NULL values are
    dropped (a NULL has no quantile).

    Returns (id_col, group_col, value_col, norm_value)."""
    from pdf_to_vectordb_etl_spark.operators.suffixes import (
        global_row_number,
    )

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("g"),
        F.col(value_col).alias("v"),
    ).filter(F.col("v").isNotNull())
    gr = global_row_number(base, ["g", "v", "id"], "grn")
    offs = gr.groupBy("g").agg(
        F.min("grn").alias("rn0"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    ranked = gr.join(F.broadcast(offs), "g").select(
        "id",
        "g",
        "v",
        (F.col("grn") - F.col("rn0") + 1).alias("r_g"),
        "n_g",
    )
    pooled = global_row_number(
        base.select("v", "id"), ["v", "id"], "pr"
    ).select(F.col("pr").alias("target_pr"), F.col("v").alias("norm_value"))
    n_tot = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = (
        ranked.crossJoin(F.broadcast(n_tot))
        .withColumn(
            # r_g * N passes int64 at corpus scale — DECIMAL product;
            # the quotient is a pooled rank <= N, BIGINT-safe
            "target_pr",
            F.expr(
                "(CAST(r_g AS DECIMAL(38,0)) * n + n_g - 1) div n_g"
            ),
        )
        .join(pooled, "target_pr")
    )
    return out.select(
        F.col("id").alias(id_col),
        F.col("g").alias(group_col),
        F.col("v").alias(value_col),
        "norm_value",
    )


def quantile_normalize_approx(
    df: DataFrame,
    value_col: str,
    group_col: str,
    id_col: str,
    n_buckets: int = 256,
) -> DataFrame:
    """Sketch-based approximate quantile normalization — the 100-TB
    path for :func:`quantile_normalize`, whose exact pooled order
    statistics are global-sort-bound (measured ×100 = 23.7×, the
    worst ratio in SCALE.md). This variant is SORT-FREE: a fixed
    equi-WIDTH histogram over the pooled value range replaces both
    rank passes, so the whole plan is three scans (min/max agg, one
    (group, bucket) cell agg, the per-row output join) plus
    bucket-bounded bookkeeping — every shuffle is an aggregation,
    nothing is globally ordered, and the plan's cost is flat in N.

    Algorithm (one-pass equi-width quantile sketch, the classic
    fixed-grid histogram special case of Greenwald-Khanna-style
    summaries): bucket = floor((v−lo)/(hi−lo)·B) clamped to B−1; all
    rows of a (group, bucket) cell share the cell's top within-group
    rank r_hi (cumulative cell counts — a per-group window over ≤B
    cell rows), map it to the exact target pooled rank
    ceil(r_hi·N/n_g) (the Bolstad formula, same as the exact path),
    then look the rank up in the pooled bucket histogram's cumulative
    ranges and COPY that bucket's max value. Rank error is bounded by
    the occupancy of the landing pooled bucket (the chosen value's
    true pooled rank is cum_hi ≥ target_pr > cum_hi − cnt), i.e. the
    sketch guarantee N/B under uniform occupancy — pinned vs the
    exact path in tests.

    Cross-engine exactness of the APPROXIMATION itself: the only
    float arithmetic is the bucket expression — identical single
    IEEE ops in identical order on both engines (no summation-order
    anywhere) — and everything downstream is exact integer counts;
    the normalized value is COPIED (a per-bucket max), never
    computed. NULL values are dropped; callers filter NaN (its
    ordering diverges cross-engine, as in the exact path).

    Returns (id_col, group_col, value_col, norm_value)."""
    from pyspark.sql import Window

    base = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("g"),
        F.col(value_col).alias("v"),
    ).filter(F.col("v").isNotNull())
    mm = base.agg(F.min("v").alias("_lo"), F.max("v").alias("_hi"))
    # consumed by THREE branches (pooled histogram, group cells, the
    # per-row output join) — checkpoint per the consumed-twice
    # convention so the corpus scans once (plus the min/max pass)
    # instead of twice per branch
    bucketed = base.crossJoin(F.broadcast(mm)).select(
        "id",
        "g",
        "v",
        F.when(
            F.col("_hi") > F.col("_lo"),
            F.least(
                F.floor(
                    (F.col("v") - F.col("_lo"))
                    / (F.col("_hi") - F.col("_lo"))
                    * F.lit(float(n_buckets))
                ).cast("long"),
                F.lit(n_buckets - 1).cast("long"),
            ),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("b"),
    ).localCheckpoint(eager=True)
    pooled = bucketed.groupBy("b").agg(
        F.count("*").cast("long").alias("cnt"), F.max("v").alias("bmax")
    )
    # ≤ n_buckets rows by construction — the one sanctioned global
    # window here (audit-allowlisted); empty buckets never appear in
    # the groupBy output, and a zero-count range (cum_lo == cum_hi)
    # could never match a target rank anyway
    wp = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pcum = pooled.select(
        F.col("b").alias("pb"),
        "bmax",
        F.sum("cnt").over(wp).alias("cum_hi"),
        (F.sum("cnt").over(wp) - F.col("cnt")).alias("cum_lo"),
    )
    cells = bucketed.groupBy("g", "b").agg(
        F.count("*").cast("long").alias("cnt_g")
    )
    wg = Window.partitionBy("g").orderBy("b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gcum = cells.withColumn("r_hi", F.sum("cnt_g").over(wg))
    ng = cells.groupBy("g").agg(F.sum("cnt_g").cast("long").alias("n_g"))
    ntot = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    tgt = (
        gcum.join(F.broadcast(ng), "g")
        .crossJoin(F.broadcast(ntot))
        .withColumn(
            "target_pr",
            F.expr("(CAST(r_hi AS DECIMAL(38,0)) * n + n_g - 1) div n_g"),
        )
    )
    mapped = tgt.join(
        F.broadcast(pcum),
        (F.col("target_pr") > F.col("cum_lo"))
        & (F.col("target_pr") <= F.col("cum_hi")),
    ).select("g", "b", F.col("bmax").alias("norm_value"))
    return bucketed.join(mapped, ["g", "b"]).select(
        F.col("id").alias(id_col),
        F.col("g").alias(group_col),
        F.col("v").alias(value_col),
        "norm_value",
    )
