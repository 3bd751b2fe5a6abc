"""Stream-stream joins with event-time range conditions.

Structured Streaming executes an equi-key + time-range inner join
between two watermarked streams with bounded state: each side buffers
only rows younger than (watermark + range span), evicting as the
watermark advances. This is the streaming twin of
``operators.joins.interval_join`` — same predicate, same results
(parity-tested in test_streaming), different state story.

Scale notes:
- State size ≈ input rate × (watermark delay + range span) per side —
  set the watermark as tight as late data allows.
- The shuffle key is the equi-key; the range condition bounds state
  eviction, it does not partition. A hot key concentrates state on one
  partition — pre-salt the key upstream if a single entity can exceed
  executor memory within the watermark horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_interval_join(left: DataFrame, right: DataFrame,
                         left_on: str, right_on: str,
                         left_ts: str, right_ts: str,
                         lower_s: int, upper_s: int,
                         watermark: str = "1 hour") -> DataFrame:
    """INNER join pairs ``(l, r)`` with ``l.key == r.key`` and ``r.ts ∈
    (l.ts + lower_s, l.ts + upper_s]`` over two streams. Column names
    must be disjoint (same contract as the batch ``interval_join``)."""
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"stream_interval_join needs disjoint column names: {sorted(overlap)}")
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (F.col(left_on) == F.col(right_on))
        & F.expr(f"{right_ts} > {left_ts} + INTERVAL {int(lower_s)} SECONDS")
        & F.expr(f"{right_ts} <= {left_ts} + INTERVAL {int(upper_s)} SECONDS"))
    return l.join(r, cond, "inner")
