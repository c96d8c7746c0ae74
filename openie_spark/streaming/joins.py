"""Event-time interval join (§2.12 extension): conversion attribution —
join each trigger event (e.g. signup) to the same user's conversion
events (e.g. purchase) that follow within a bounded gap.

The join core is ONE function.  Shape: equality key (user_id) +
event-time range condition — Spark executes it as a plain hash join with
an in-band range filter (no BNLJ; the equality key keeps it
shuffle-bounded).  The `attribution` query runs it and is driver-oracle
checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ATTRIBUTION_GAP_MIN = 30
TRIGGER_TYPE = "signup"
CONVERSION_TYPE = "purchase"


def split_trigger_conversion(
    events: DataFrame,
    trigger_type: str = TRIGGER_TYPE,
    conversion_type: str = CONVERSION_TYPE,
) -> tuple[DataFrame, DataFrame]:
    """Project the two sides with disjoint column names, so the self-join
    has no ambiguous columns."""
    # parquet NTZ → TIMESTAMP: watermarks and unix_micros require the
    # tz-aware type; value-preserving under the fixed UTC session zone
    ts = F.col("ts").cast("timestamp")
    t = events.where(F.col("event_type") == trigger_type).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("trigger_id"),
        ts.alias("t_ts"),
    )
    c = events.where(F.col("event_type") == conversion_type).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("conversion_id"),
        ts.alias("c_ts"),
    )
    return t, c


def attribution_join(
    triggers: DataFrame,
    conversions: DataFrame,
    gap_minutes: int = ATTRIBUTION_GAP_MIN,
) -> DataFrame:
    """(trigger, conversion) pairs for the same user with
    t_ts < c_ts <= t_ts + gap.  Strict '<' on the lower bound: an event
    cannot attribute a conversion at the same instant (and it keeps the
    pair set asymmetric when trigger and conversion types coincide).
    `delay_us` is the exact microsecond gap (engine-portable integer)."""
    cond = (
        (F.col("t_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("t_ts"))
        & (
            F.col("c_ts")
            <= F.col("t_ts") + F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")
        )
    )
    return triggers.join(conversions, cond, "inner").select(
        F.col("t_user").alias("user_id"),
        "trigger_id",
        "conversion_id",
        (
            F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("t_ts"))
        ).alias("delay_us"),
    )
