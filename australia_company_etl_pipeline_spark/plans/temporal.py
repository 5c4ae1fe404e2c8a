"""Temporal-join queries — as-of attribution + interval-window features.

Drives ``operators/temporal.py`` (as-of join, bucketed range join) under
the driver's DuckDB oracle gate.  The reference computes this family
row-at-a-time in pandas date-filtered merges
(``/root/reference/src/load/load_postgres.py`` latest-before lookups);
here both joins are single-shuffle distributed plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.temporal import asof_join, range_join
from .registry import register


@register(
    "purchase_attribution",
    doc="As-of join + range join (temporal extension): last-touch "
        "attribution — each purchase gets the latest 'view' event by the "
        "same user at-or-before it (backward as-of, ties broken by max "
        "event_id) plus activity-window features (count/sum of 'click' "
        "events in the inclusive hour before the purchase). As-of is the "
        "union+window merge (one shuffle, no non-equi join); the window "
        "features come from the bucketed range join (equi-join on "
        "(user, hour-bucket) + exact residual). Oracle spells both as "
        "naive inequality joins — DuckDB can afford O(n·m) per key at "
        "sf0.01.",
    tags=("temporal", "join"),
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
), att AS (
  SELECT event_id, vts FROM (
    SELECT p.event_id, v.ts AS vts,
           row_number() OVER (PARTITION BY p.event_id
                              ORDER BY v.ts DESC, v.event_id DESC) AS rn
    FROM purchases p JOIN events v
      ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
  ) WHERE rn = 1
), clicks AS (
  SELECT p.event_id, COUNT(*) AS n,
         CAST(SUM(CAST(c.value AS DECIMAL(30,6))) AS DOUBLE) AS sv
  FROM purchases p JOIN events c
    ON c.user_id = p.user_id AND c.event_type = 'click'
   AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
  GROUP BY 1
)
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS ts_s,
       CAST(floor(epoch(a.vts)) AS BIGINT) AS view_ts_s,
       CAST(floor(epoch(p.ts)) - floor(epoch(a.vts)) AS BIGINT)
           AS secs_since_view,
       COALESCE(cl.n, 0) AS n_clicks_1h,
       round(COALESCE(cl.sv, 0.0), 2) AS sum_click_value_1h
FROM purchases p
LEFT JOIN att a ON a.event_id = p.event_id
LEFT JOIN clicks cl ON cl.event_id = p.event_id
""",
)
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         "user_id", "ts"))
    views = (events.filter(F.col("event_type") == "view")
             .select("user_id", "ts", F.col("event_id").alias("view_id")))

    attributed = asof_join(
        purchases, views, on=["user_id"], left_ts="ts", right_ts="ts",
        payload=[], tie_col="view_id", how="left")

    clicks = (events.filter(F.col("event_type") == "click")
              .select("user_id", F.col("ts").alias("click_ts"), "value"))
    windows = purchases.select(
        F.col("purchase_id").alias("win_purchase_id"), "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("lo"),
        F.col("ts").alias("hi"))
    in_window = range_join(clicks, windows, on=["user_id"],
                           left_ts="click_ts", lower_col="lo",
                           upper_col="hi", bucket_s=3600)
    click_feats = (in_window
                   .groupBy(F.col("r.win_purchase_id").alias("purchase_id"))
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("l.value").cast("decimal(30,6)"))
                         .cast("double").alias("sv")))

    return (attributed
            .join(click_feats, "purchase_id", "left")
            .select("purchase_id", "user_id",
                    F.col("ts").cast("long").alias("ts_s"),
                    F.col("ts_matched").cast("long").alias("view_ts_s"),
                    (F.col("ts").cast("long")
                     - F.col("ts_matched").cast("long")).cast("long")
                     .alias("secs_since_view"),
                    F.coalesce("n", F.lit(0)).alias("n_clicks_1h"),
                    F.round(F.coalesce("sv", F.lit(0.0)), 2)
                     .alias("sum_click_value_1h")))


@register(
    "event_funnel",
    doc="Sequential funnel over events (r7, operators/temporal.py "
        "funnel): view -> click -> purchase with strictly-increasing "
        "timestamps, greedy earliest matching (exact for existence — "
        "the earliest prior-step time can only admit more later "
        "events). Spark = filtered scan + frontier equi-join + "
        "partial-agg min per step (no windows, no per-user arrays, no "
        "broadcast dependence); the oracle spells the same greedy "
        "chain as sequential min-ts joins. "
        "r8 folds kind='within_1d': the TIME-BOUNDED funnel (max_gap="
        "86400 — each step must land within a day of the previous "
        "step's frontier time). Under a gap bound the semantics are "
        "ANCHOR-GREEDY/first-touch, not exists-any-chain (documented "
        "on the operator, hand-golden-pinned in tests); the oracle "
        "replays the identical anchored chain with the same interval "
        "predicate. "
        "r8 folds kind='transition'/'transition_users' (operators/"
        "temporal.py event_transitions): the first-order Markov "
        "journey rollup — per-user lag over (ts, event_id) so equal "
        "timestamps have a pinned order, transitions partial-agg "
        "counted per (prev>next); step_name = 'prev>next', n_users "
        "carries the transition count for kind='transition' and the "
        "distinct-user count for kind='transition_users'.",
    tags=("temporal", "agg"),
    oracle="""
WITH tr AS (
  SELECT prev_type || '>' || event_type AS nm, count(*) AS n_tr,
         count(DISTINCT user_id) AS n_u
  FROM (SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events)
  WHERE prev_type IS NOT NULL GROUP BY 1
), s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
), g2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t
    AND e.ts <= s1.t + INTERVAL 86400 SECOND GROUP BY 1
), g3 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN g2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > g2.t
    AND e.ts <= g2.t + INTERVAL 86400 SECOND GROUP BY 1
)
SELECT 'all' AS kind, 1 AS step, 'view' AS step_name,
       count(*) AS n_users FROM s1
UNION ALL SELECT 'all', 2, 'click', count(*) FROM s2
UNION ALL SELECT 'all', 3, 'purchase', count(*) FROM s3
UNION ALL SELECT 'within_1d', 1, 'view', count(*) FROM s1
UNION ALL SELECT 'within_1d', 2, 'click', count(*) FROM g2
UNION ALL SELECT 'within_1d', 3, 'purchase', count(*) FROM g3
UNION ALL SELECT 'transition', CAST(NULL AS INT), nm, n_tr FROM tr
UNION ALL SELECT 'transition_users', CAST(NULL AS INT), nm, n_u FROM tr
""",
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.temporal import event_transitions, funnel

    e = table(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    # persisted frontiers: each frontier feeds the next step's join AND
    # its own count row — lineage-only funnels replanned the prefix
    # chain per consumer (the fold scheduled 14 event-log scans; staged
    # it is one filtered scan per step). Released with the caller's
    # staging scope.
    unbounded = funnel(e, steps, persist_frontiers=True).select(
        F.lit("all").alias("kind"), "step", "step_name", "n_users")
    bounded = funnel(e, steps, max_gap=86400,
                     persist_frontiers=True).select(
        F.lit("within_1d").alias("kind"), "step", "step_name", "n_users")
    # kind='transition'/'transition_users' (r8): one transition
    # aggregate feeds both rollup rows — via ONE explode, so the
    # window+groupBy subtree plans once, not once per rollup
    tr = event_transitions(e)
    step0 = F.lit(None).cast("int")
    nm = F.concat_ws(">", "prev_type", "next_type")
    t12 = (tr.select(F.explode(F.array(
               F.struct(F.lit("transition").alias("kind"),
                        step0.alias("step"), nm.alias("step_name"),
                        F.col("n_transitions").alias("n_users")),
               F.struct(F.lit("transition_users").alias("kind"),
                        step0.alias("step"), nm.alias("step_name"),
                        F.col("n_users").alias("n_users"))))
           .alias("__m"))
           .select("__m.kind", "__m.step", "__m.step_name",
                   "__m.n_users"))
    return unbounded.unionByName(bounded).unionByName(t12)
