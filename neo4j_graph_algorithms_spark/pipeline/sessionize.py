"""Gap-based event sessionization — the batch twin of the streaming
ingest plane's windowed aggregation.

No reference counterpart (the reference is a graph library); this is
the standard clickstream/training-telemetry primitive a 100 TB event
pipeline runs before funnel/retention analysis: split each user's
event stream into sessions wherever the inter-event gap exceeds a
threshold, then aggregate per session.

Spark shape — one by-user window + one hash aggregation, no UDF:

- events are ordered per user by (ts, event_id) — the id tie-break
  makes the session assignment DETERMINISTIC when timestamps collide
  (distributed sorts are otherwise free to permute equal keys);
- the gap test runs on ``unix_micros`` (exact integer microseconds —
  float epoch seconds would round and disagree across engines);
- session ids are the running sum of new-session flags per user
  (1-based), so they are stable, dense, and reproducible — not
  monotonically_increasing_id or any partition-dependent counter;
- the window shuffles O(events) once on user_id (skew note: a bot
  user with millions of events serializes its own partition — cap or
  pre-split such users upstream; the aggregation itself is map-side
  combinable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sessionize(
    events: DataFrame,
    gap_minutes: float = 30.0,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str | None = "value",
) -> DataFrame:
    """(user_id, session_id, n_events, first_ts, last_ts [, sum_value]):
    one row per (user, session), session boundaries wherever the gap
    between consecutive events exceeds ``gap_minutes``."""
    gap_us = int(round(gap_minutes * 60 * 1_000_000))
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    # NTZ columns can't feed unix_micros directly; the cast
    # reinterprets in the session timezone (pinned UTC in
    # session.build_session) — and the gap test uses DIFFERENCES only,
    # so any constant offset cancels regardless
    e = F.unix_micros(F.col(ts_col).cast("timestamp"))
    flagged = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("_ts"),
        *( [F.col(value_col).alias("_val")] if value_col else [] ),
        F.when(
            F.lag(e).over(w).isNull() | ((e - F.lag(e).over(w)) > gap_us), 1
        ).otherwise(0).alias("_new"),
        F.col(id_col).alias("_eid"),
    )
    ws = Window.partitionBy("user_id").orderBy("_ts", "_eid").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.withColumn("session_id", F.sum("_new").over(ws))
    aggs = [
        F.count("*").alias("n_events"),
        F.min("_ts").alias("first_ts"),
        F.max("_ts").alias("last_ts"),
    ]
    if value_col:
        aggs.append(F.sum("_val").alias("sum_value"))
    return sess.groupBy("user_id", "session_id").agg(*aggs)
