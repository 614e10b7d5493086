"""One placement policy for the driver fast paths.

Bounded iterative state (a tokenizer's word vocab, a pair table, an
ANN index artifact) is cheapest to process in plain Python once it is
collected; above a size cap every such operator falls back to its
distributed plan. The decision is made here and only here:
:func:`bounded_collect` probes with ONE ``limit(cap + 1)`` action and
returns the rows, or ``None`` when the input is over the cap or the
placement setting forbids the collect.

``SPARK_GRAFT_PLACEMENT`` (env) takes three ordered values:

- ``auto`` (default) — every bounded collect is allowed;
- ``distributed`` — no ``driver``-level collect: every family runs its
  executor placement — a distributed plan, or the driver's own kernel
  in ``mapInPandas`` (the unigram Viterbi kernels; the hop-fused
  broadcast beam probe still runs);
- ``cascade`` — additionally no ``broadcast``-level collect: the beam
  probe runs its per-hop join cascade.

Caps stay with the operators, each a module constant passed at its
call site (no caller can switch a fast path off; the setting is the
one switch); results are identical under every value, which the
precommit gate checks by running the fallback-bearing registry keys
under ``distributed`` and ``cascade``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

PLACEMENTS = ("auto", "distributed", "cascade")
# the first placement (index into PLACEMENTS) that forbids each level
_OFF_FROM = {"driver": 1, "broadcast": 2}


def placement() -> str:
    """The current ``SPARK_GRAFT_PLACEMENT`` value; raises on anything
    outside :data:`PLACEMENTS` (a typo must not silently keep the fast
    paths on)."""
    mode = os.environ.get("SPARK_GRAFT_PLACEMENT", "auto")
    if mode not in PLACEMENTS:
        raise ValueError(
            f"SPARK_GRAFT_PLACEMENT={mode!r}: expected one of "
            + ", ".join(PLACEMENTS)
        )
    return mode


def bounded_collect(
    df: DataFrame, cap: int, level: str = "driver", *, as_pandas: bool = False
):
    """Collect ``df`` when it has at most ``cap`` rows and the placement
    allows a ``level`` collect (``"driver"``: the rows feed a Python
    loop; ``"broadcast"``: they ship to the executors once). Returns
    the rows (a pandas DataFrame with ``as_pandas`` — the Arrow
    transfer), or ``None`` — the caller then runs its distributed
    plan."""
    if PLACEMENTS.index(placement()) >= _OFF_FROM[level]:
        return None
    head = df.limit(cap + 1)
    rows = head.toPandas() if as_pandas else head.collect()
    return rows if len(rows) <= cap else None
