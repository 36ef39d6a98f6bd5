"""Time-axis expressions.

The reference serializes time as offsets from a units epoch
("days since 1858-11-17", img2ts.py:86); our derived per-token axis is
``ts = epoch + pos * dt`` (SURVEY.md §7.0) — pure column arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from repurpose_spark.config import EPOCH_STR


def pos_ts_expr(pos: str | Column = "pos", dt_seconds: int = 60,
                epoch: str = EPOCH_STR) -> Column:
    """timestamp for token position: epoch + pos*dt (exact integer seconds)."""
    p = F.col(pos) if isinstance(pos, str) else pos
    return F.timestamp_seconds(
        F.unix_timestamp(F.lit(epoch).cast("timestamp"))
        + p.cast("long") * F.lit(dt_seconds)
    )
