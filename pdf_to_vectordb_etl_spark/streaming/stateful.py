"""Custom stateful streaming operators (``applyInPandasWithState``).

The reference's only cross-batch state is the sink-count ID continuation
(SURVEY §2.11 T4), which deterministic IDs eliminate. These operators
are the beyond-reference stateful surface: arbitrary per-key state kept
by the engine across micro-batches — running totals, rolling z-score
flags, KMV and CUSUM state — the pattern any 100 TB streaming curation
pipeline needs (per-source dedup state, rate accounting, change
detection).

State is per group key, stored in the state store (checkpointed,
fault-tolerant); each micro-batch hands the operator the key's new rows
as pandas DataFrames plus its GroupState.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

RUNNING_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", LongType()),
    ]
)
RUNNING_STATE = StructType(
    [StructField("n", LongType()), StructField("tot", LongType())]
)


def _running_totals(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n, tot) = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        tot += int(pdf["value"].sum())
    state.update((n, tot))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [tot]})


def running_totals(events_stream: DataFrame) -> DataFrame:
    """Cumulative per-user event count + floor(value) total across all
    micro-batches seen so far; one updated row per key per batch."""
    from pyspark.sql import functions as F

    prepped = events_stream.select(
        "user_id", F.floor("value").cast("long").alias("value")
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=RUNNING_OUT,
        stateStructType=RUNNING_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ANOM_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("z", DoubleType()),
    ]
)
ANOM_STATE = StructType(
    [StructField("vals", ArrayType(DoubleType()))]
)


def make_zscore_flagger(lookback: int = 20, threshold: float = 2.5):
    """Streaming twin of aggregates.rolling_zscore_flags: per-key state
    is the trailing ``lookback`` values (bounded — O(lookback) doubles
    per key, independent of stream length); each new value is scored
    against the mean/sample-std of the state BEFORE it is appended, so
    the frame excludes self exactly like the batch ROWS window. z
    rounds to 4 before the threshold compare — identical flag set to
    the batch operator over the same rows."""

    def _flag(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        rows = rows.sort_values(["tus", "event_id"])
        hist: list[float] = list(state.get[0]) if state.exists else []
        out = []
        for eid, v in zip(rows["event_id"], rows["value"]):
            v = float(v)
            win = hist[-lookback:]
            n = len(win)
            if n >= 2:
                m = sum(win) / n
                var = sum((x - m) * (x - m) for x in win) / (n - 1)
                if var > 0:
                    z = round((v - m) / var ** 0.5, 4)
                    if abs(z) > threshold:
                        out.append((key[0], int(eid), round(v, 4), z))
            hist.append(v)
            if len(hist) > lookback:
                hist = hist[-lookback:]
        state.update((hist,))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "event_id", "value", "z"])

    return _flag


def stream_zscore_flags(
    events_stream: DataFrame, lookback: int = 20, threshold: float = 2.5
) -> DataFrame:
    """Emit anomaly flags as events arrive (append mode)."""
    prepped = events_stream.select("user_id", "tus", "event_id", "value")
    return prepped.groupBy("user_id").applyInPandasWithState(
        make_zscore_flagger(lookback, threshold),
        outputStructType=ANOM_OUT,
        stateStructType=ANOM_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_kmv_bottomk(
    stream: DataFrame,
    k: int = 128,
    by: str = "source",
    text_col: str = "text",
):
    """T12 — streaming KMV distinct sketch: per key, the k smallest
    md5 tags over distinct tokens maintained as custom state. The
    bottom-k of a set union is batch-split-INVARIANT (min-k is
    associative and commutative, and tags are hashes — no
    order-dependence anywhere), so any micro-batch arrangement of the
    same rows converges to the batch sketch and the batch KMV SQL is
    the parity oracle. State per key is ≤ k doubles — bounded however
    long the stream runs; emits (key, n_tags, est_distinct) per
    updated key per batch, n_tags non-decreasing so the latest row per
    key is the max-n_tags row."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, StringType

    from ..operators.sketch import kmv_u

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("n_tags", LongType()),
            StructField("est_distinct", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("tags", ArrayType(DoubleType()))]
    )

    toks = (
        stream.select(
            F.col(by).alias("key"),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("_tok"),
        )
        .filter(F.col("_tok") != "")
        .select("key", kmv_u(F.col("_tok")).alias("u"))
    )

    def _kmv(key_t, pdfs, state: GroupState):
        tags = set(state.get[0]) if state.exists else set()
        for pdf in pdfs:
            tags.update(float(x) for x in pdf["u"])
        keep = sorted(tags)[:k]
        state.update((keep,))
        est = float(len(keep)) if len(keep) < k else (k - 1) / keep[-1]
        yield pd.DataFrame(
            {
                "key": [key_t[0]],
                "n_tags": [len(keep)],
                "est_distinct": [round(est, 4)],
            }
        )

    return toks.groupBy("key").applyInPandasWithState(
        _kmv, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_cusum(
    stream: DataFrame,
    ref_stats: dict,
    key_col: str = "key",
    time_col: str = "t",
    value_col: str = "v",
    slack: float = 0.5,
    threshold: float = 3.0,
):
    """T13 — streaming CUSUM change detection: unlike the associative
    sketch states (T9-T12), the CUSUM recurrence
    S⁺ₜ = max(0, S⁺ₜ₋₁ + zₜ − k) genuinely carries ACROSS batches, so
    the state is the recurrence frontier: (s_pos, s_neg, last_t) per
    key — three scalars, bounded forever. Standardization uses FIXED
    reference statistics (the trained-on-history pattern; passed as a
    plain {key: (mu, sd)} dict — small, pickled into the operator),
    which is what makes streaming and batch agree: given time-ordered
    arrival per key, any batch split replays the identical fold, and
    the batch twin (aggregates.cusum_changepoints with the same
    ``stats``) is the parity oracle. Rows inside a batch are sorted by
    event time per key before folding; late rows violating last_t
    raise rather than silently corrupting the recurrence."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType, DoubleType, LongType, StringType

    out_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("t", LongType()),
            StructField("v", DoubleType()),
            StructField("s_pos", DoubleType()),
            StructField("s_neg", DoubleType()),
            StructField("alarm_up", BooleanType()),
            StructField("alarm_down", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("mp", DoubleType()),
            StructField("mn", DoubleType()),
            StructField("min_mp", DoubleType()),
            StructField("min_mn", DoubleType()),
            StructField("last_t", LongType()),
        ]
    )

    def _cusum(key_t, pdfs, state: GroupState):
        import pandas as _pd

        # state carries the CLOSED FORM's running values (cumsum M and
        # its running min), not the clamped S directly: the batch twin
        # computes S = M - least(min M, 0), and replicating that exact
        # operation order keeps the two paths bit-identical — folding
        # max(0, S+z-k) instead accumulates DIFFERENT floating-point
        # error and can flip a 6-dp rounding boundary vs the oracle
        inf = float("inf")
        mp, mn, min_mp, min_mn, last_t = (
            state.get if state.exists else (0.0, 0.0, inf, inf, -(1 << 62))
        )
        key = key_t[0]
        mu, sd = ref_stats.get(key, (0.0, 1.0))
        rows = _pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(time_col)
        out = {c.name: [] for c in out_schema.fields}
        for t, v in zip(rows[time_col], rows[value_col]):
            t = int(t)
            # strictly-late rows are unabsorbable; EQUAL timestamps are
            # accepted and folded in arrival order (a duplicate metric
            # sample must not permanently kill the query — batch parity
            # is guaranteed for strictly-increasing series, which the
            # t13 day-bucketed feed satisfies)
            if t < last_t:
                raise ValueError(
                    f"stream_cusum: out-of-order arrival for key {key!r}: "
                    f"t={t} after last_t={last_t} — the recurrence cannot "
                    "absorb late data; route late rows to a batch rebuild."
                )
            z = (float(v) - mu) / sd if sd > 0 else 0.0
            mp = mp + (z - slack)
            mn = mn + (-z - slack)
            min_mp = mp if mp < min_mp else min_mp
            min_mn = mn if mn < min_mn else min_mn
            sp = mp - (min_mp if min_mp < 0.0 else 0.0)
            sn = mn - (min_mn if min_mn < 0.0 else 0.0)
            last_t = t
            out["key"].append(key)
            out["t"].append(t)
            out["v"].append(float(v))
            out["s_pos"].append(round(sp, 6))
            out["s_neg"].append(round(sn, 6))
            out["alarm_up"].append(sp > threshold)
            out["alarm_down"].append(sn > threshold)
        state.update((mp, mn, min_mp, min_mn, last_t))
        yield _pd.DataFrame(out)

    prepped = stream.select(
        F.col(key_col).alias("key"),
        F.col(time_col).cast("long").alias(time_col),
        F.col(value_col).cast("double").alias(value_col),
    )
    return prepped.groupBy("key").applyInPandasWithState(
        _cusum, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
