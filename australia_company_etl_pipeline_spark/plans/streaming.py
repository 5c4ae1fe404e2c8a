"""Oracle-checked batch twins of the streaming operators (SURVEY §2.10).

The streaming package's window/session transformations accept batch OR
streaming DataFrames; registering the batch application here puts the
*semantics* under the driver's DuckDB correctness gate. The streaming
execution path itself (file-source micro-batches, watermarks, state-store
checkpoints, ``applyInPandasWithState``) is exercised by
``tests/test_streaming.py`` against these same twins.

Window bounds surface as epoch seconds (BIGINT) on both sides — immune to
timezone/precision drift in the hash compare.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..streaming.events_stream import (
    _SESSION_OUT,
    _gap_seconds,
    dedup_within_horizon,
    session_windows,
    sliding_counts,
    tumbling_counts,
)
from .registry import register


@register(
    "events_window_counts",
    doc="Streaming extension, the window families in one result (r4 fold "
        "of events_tumbling_counts / events_sliding_counts to free a "
        "driver-window slot): kind='tumbling' rows are the 1h tumbling "
        "event-time window, kind='sliding' rows the 1h/30min sliding "
        "window (each event in exactly 2 buckets). Same function bodies "
        "serve the watermarked streams; oracle floors epoch seconds "
        "(tumbling) and materializes both bucket starts via unnest "
        "(sliding). kind='resample_zero' / 'resample_locf' (r5, "
        "operators/temporal.py:resample_events): hypertable-style "
        "resample + GAP FILL — the densified 1h axis from the corpus's "
        "first to last bucket, per event_type; empty buckets get "
        "n_events=0 with sum_value 0.0 (count semantics) or the last "
        "observed value carried forward (gauge semantics, NULL before "
        "a series' first observation) — the buckets a plain "
        "groupBy(window) silently omits are exactly the outages one "
        "monitors for. kind='anomaly' (r5, temporal.py:bucket_zscores): "
        "per-type z-scores over the zero-filled grid (sum_value = the "
        "bucket's z against its own series' mean/stddev, NULL for "
        "constant series) — the baseline anomaly signal; group moments "
        "accumulate in exact decimal so the doubles are bit-stable and "
        "fully value-checked.",
    tags=("streaming",),
    oracle="""
WITH rs_agg AS (
  SELECT event_type, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS b,
         count(*) AS n_events, round(sum(value), 2) AS s
  FROM events GROUP BY 1, 2
), rs_span AS (
  SELECT CAST(floor(epoch(min(ts)) / 3600) AS BIGINT) AS lo,
         CAST(floor(epoch(max(ts)) / 3600) AS BIGINT) AS hi
  FROM events
), rs_axis AS (SELECT unnest(range(lo, hi + 1)) AS b FROM rs_span),
rs_grid AS (SELECT t.event_type, a.b
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN rs_axis a),
rs_join AS (
  SELECT g.event_type, g.b, coalesce(r.n_events, 0) AS n_events, r.s
  FROM rs_grid g
  LEFT JOIN rs_agg r ON g.event_type = r.event_type AND g.b = r.b
), rs_stats AS (
  -- exact-decimal moments over the zero-filled grid (0.01-grid values
  -- -> sums exact), derived doubles mirror the Spark tree shape:
  -- count/min/max over the NON-NULL decimal values, variance clamped
  -- at 0, constant series detected by exact min == max
  SELECT event_type,
         CAST(count(CAST(coalesce(s, 0.0) AS DECIMAL(15,2))) AS DOUBLE)
           AS n,
         CAST(sum(CAST(coalesce(s, 0.0) AS DECIMAL(15,2))) AS DOUBLE)
           AS sd_sum,
         CAST(sum(CAST(coalesce(s, 0.0) AS DECIMAL(15,2))
                  * CAST(coalesce(s, 0.0) AS DECIMAL(15,2))) AS DOUBLE)
           AS sd_ss,
         min(CAST(coalesce(s, 0.0) AS DECIMAL(15,2))) AS vlo,
         max(CAST(coalesce(s, 0.0) AS DECIMAL(15,2))) AS vhi
  FROM rs_join GROUP BY 1
), rs_z AS (
  SELECT j.event_type, j.b, j.n_events,
         round((coalesce(j.s, 0.0) - (st.sd_sum / st.n))
               / nullif(CASE WHEN st.vlo = st.vhi THEN 0.0
                        ELSE sqrt(greatest(0.0,
                             (st.sd_ss - (st.sd_sum * st.sd_sum) / st.n)
                             / (st.n - 1.0))) END, 0.0), 6) AS z
  FROM rs_join j JOIN rs_stats st ON j.event_type = st.event_type
)
SELECT 'tumbling' AS kind,
       CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start_s,
       CAST(floor(epoch(ts) / 3600) * 3600 + 3600 AS BIGINT) AS window_end_s,
       event_type,
       COUNT(*) AS n_events,
       round(SUM(value), 2) AS sum_value
FROM events
GROUP BY 2, 3, 4
UNION ALL
SELECT 'sliding' AS kind,
       (half_bucket - k) * 1800 AS window_start_s,
       (half_bucket - k) * 1800 + 3600 AS window_end_s,
       event_type,
       COUNT(*) AS n_events,
       round(SUM(value), 2) AS sum_value
FROM (SELECT event_type, value,
             CAST(floor(epoch(ts) / 1800) AS BIGINT) AS half_bucket
      FROM events) e
CROSS JOIN (SELECT unnest([0, 1]) AS k) kk
GROUP BY 2, 3, 4
UNION ALL
SELECT 'resample_zero' AS kind, b * 3600 AS window_start_s,
       b * 3600 + 3600 AS window_end_s, event_type, n_events,
       coalesce(s, 0.0) AS sum_value
FROM rs_join
UNION ALL
SELECT 'resample_locf' AS kind, b * 3600 AS window_start_s,
       b * 3600 + 3600 AS window_end_s, event_type, n_events,
       last_value(s IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY b
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sum_value
FROM rs_join
UNION ALL
SELECT 'anomaly' AS kind, b * 3600 AS window_start_s,
       b * 3600 + 3600 AS window_end_s, event_type, n_events, z
FROM rs_z
""",
)
def events_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.staging import stage
    from ..operators.temporal import (bucket_zscores, fill_resampled,
                                      resample_grid)

    events = table(spark, sf_dir, "events")
    tumbling = (tumbling_counts(events, window="1 hour")
                .select(F.lit("tumbling").alias("kind"), "*"))
    sliding = (sliding_counts(events, window="1 hour", slide="30 minutes")
               .select(F.lit("sliding").alias("kind"), "*"))
    out = tumbling.unionByName(sliding)
    # ONE aggregate+densify pass feeds all three resample-family kinds
    # (the grid is span/interval × types — tiny — where its build plan
    # scans the big events table three times; without the stage each of
    # zero / locf / anomaly would re-run that build).
    grid = stage(resample_grid(events, "ts", "value", ["event_type"],
                               interval_s=3600))
    zero = fill_resampled(grid, ["event_type"], 3600, "zero")
    for fill, rs in (("zero", zero),
                     ("locf", fill_resampled(grid, ["event_type"], 3600,
                                             "locf"))):
        out = out.unionByName(
            rs.select(F.lit(f"resample_{fill}").alias("kind"),
                      F.col("bucket_start_s").alias("window_start_s"),
                      F.col("bucket_end_s").alias("window_end_s"),
                      "event_type", "n_events",
                      F.col("value").alias("sum_value")))
    anomaly = (bucket_zscores(zero, "value", ["event_type"])
               .select(F.lit("anomaly").alias("kind"),
                       F.col("bucket_start_s").alias("window_start_s"),
                       F.col("bucket_end_s").alias("window_end_s"),
                       "event_type", "n_events",
                       F.col("zscore").alias("sum_value")))
    return out.unionByName(anomaly)


@register(
    "dedup_events",
    doc="A4 dedup keep-first (clean_abr.py:280) + the streaming "
        "at-least-once ingest guard, folded kind-tagged (r4, frees a "
        "driver-window slot for purchase_attribution). kind='first': "
        "deterministic keep-first per (user_id, event_type) — lowest "
        "event_id. kind='horizon': batch twin of dedup_stream / "
        "dropDuplicatesWithinWatermark over events ∪ planted redeliveries "
        "(every 5th event re-sent 10min later — inside the 1h horizon, "
        "suppressed; every 11th re-sent 2h later — beyond it, kept); keep "
        "rule = nearest earlier arrival of the key is more than the "
        "horizon away (one lag window). The live streaming path is pinned "
        "by tests/test_streaming.py.",
    tags=("streaming", "dedup"),
    oracle="""
WITH replayed AS (
  SELECT event_id, ts, user_id, event_type, value FROM events
  UNION ALL
  SELECT event_id, ts + INTERVAL 10 MINUTE, user_id, event_type, value
  FROM events WHERE event_id % 5 = 0
  UNION ALL
  SELECT event_id, ts + INTERVAL 2 HOUR, user_id, event_type, value
  FROM events WHERE event_id % 11 = 0
), gapped AS (
  SELECT event_id, ts, user_id, event_type, value,
         epoch(ts) - epoch(lag(ts) OVER (
             PARTITION BY event_id ORDER BY ts ASC)) AS gap
  FROM replayed
)
SELECT 'first' AS kind, event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       user_id, event_type, round(value, 2) AS value2
FROM (
  SELECT event_id, ts, user_id, event_type, value, row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY event_id ASC) AS rn
  FROM events
) WHERE rn = 1
UNION ALL
SELECT 'horizon' AS kind, event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
       user_id, event_type, round(value, 2) AS value2
FROM gapped WHERE gap IS NULL OR gap > 3600
""",
)
def dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")

    win = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("event_id"))
    first = (e.withColumn("rn", F.row_number().over(win))
             .filter(F.col("rn") == 1)
             .select(F.lit("first").alias("kind"), "event_id",
                     F.col("ts").cast("long").alias("ts_s"),
                     "user_id", "event_type",
                     F.round("value", 2).alias("value2")))

    replay = (e.filter(F.col("event_id") % 5 == 0)
              .withColumn("ts", F.col("ts")
                          + F.expr("INTERVAL 10 MINUTES")))
    late = (e.filter(F.col("event_id") % 11 == 0)
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS")))
    replayed = e.unionByName(replay).unionByName(late)
    kept = dedup_within_horizon(replayed, ("event_id",), horizon_s=3600)
    horizon = kept.select(F.lit("horizon").alias("kind"), "event_id",
                          F.col("ts").cast("long").alias("ts_s"),
                          "user_id", "event_type",
                          F.round("value", 2).alias("value2"))
    return first.unionByName(horizon)


# Gaps-and-islands session oracle: break when the gap to the previous
# event is >= 30min (Spark session windows are [start, last+gap) — the
# end bound is exclusive, so an event exactly at the gap starts a new
# session); cumulative-sum the breaks into session ids, then aggregate.
_SESSION_ORACLE = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value, event_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_s,
       CAST(floor(epoch(MAX(ts))) + 1800 AS BIGINT) AS session_end_s,
       COUNT(*) AS n_events,
       round(SUM(value), 2) AS sum_value
FROM s
GROUP BY user_id, sid
"""


@register(
    "events_session_windows",
    doc="Streaming extension: native session windows per user "
        "(F.session_window, 30min inactivity gap); oracle is the "
        "gaps-and-islands rewrite (lag + cumulative break sum).",
    tags=("streaming",),
    oracle=_SESSION_ORACLE,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_windows(table(spark, sf_dir, "events"), gap="30 minutes")


@register(
    "user_sessions_pandas",
    doc="Custom stateful-operator template, batch form: per-user "
        "sessionization in an Arrow-batched applyInPandas sharing the "
        "merge loop with the streaming applyInPandasWithState sessionizer. "
        "Same oracle as events_session_windows — the custom operator is "
        "held to the same SQL-checkable semantics as the built-in. "
        "PARITY EXHIBIT ONLY (SURVEY U-3): the native session_windows "
        "is the form every other operator composes with; nothing else "
        "in the registry may plan a FlatMapGroupsInPandas node "
        "(pinned in tests/test_plan_shapes.py).",
    tags=("streaming", "pandas-udf"),
    oracle=_SESSION_ORACLE,
)
def user_sessions_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events").select("user_id", "ts", "value")
    gap_us = _gap_seconds("30 minutes") * 1_000_000

    def sessions(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ts")
        user_id = int(pdf["user_id"].iloc[0])
        # unit-robust epoch micros (datetime64 resolution varies: ns/us)
        ts_us = ((pdf["ts"] - pd.Timestamp(0))
                 // pd.Timedelta(microseconds=1)).to_numpy()
        vals = pdf["value"].to_numpy()
        out: list[list] = []
        open_s: list | None = None
        for t, v in zip(ts_us, vals):
            if open_s is None:
                open_s = [t, t, 1, float(v)]
            elif t - open_s[1] >= gap_us:  # end-exclusive, matches stream
                out.append(open_s)
                open_s = [t, t, 1, float(v)]
            else:
                open_s[1] = t
                open_s[2] += 1
                open_s[3] += float(v)
        if open_s is not None:
            out.append(open_s)
        return pd.DataFrame({
            "user_id": [user_id] * len(out),
            "session_start_s": [c[0] // 1_000_000 for c in out],
            "session_end_s": [c[1] // 1_000_000 + gap_us // 1_000_000
                              for c in out],
            "n_events": [c[2] for c in out],
            "sum_value": [round(c[3], 2) for c in out],
        })

    return events.groupBy("user_id").applyInPandas(
        sessions, schema=_SESSION_OUT)
