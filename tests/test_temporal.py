"""Temporal joins: as-of (union+window merge) and bucketed range join.

Correctness on hand-built edge-case frames, an independent-formulation
cross-check on the real events table, and plan-shape pins (no nested-loop
join ever appears — the whole point of both operators)."""

from __future__ import annotations

import contextlib
import io
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark.catalog import table
from australia_company_etl_pipeline_spark.operators.temporal import (
    asof_join,
    range_join,
)


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def trades(spark):
    return spark.createDataFrame(
        [(1, "A", _ts("2024-01-01 10:00:00")),
         (2, "A", _ts("2024-01-01 10:05:00")),
         (3, "B", _ts("2024-01-01 10:00:30")),
         (4, "C", _ts("2024-01-01 10:00:00"))],  # no quotes for C
        "trade_id long, sym string, t timestamp")


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [("A", _ts("2024-01-01 09:59:00"), 10.0, 1),
         ("A", _ts("2024-01-01 10:00:00"), 11.0, 2),   # tie ts, higher qid
         ("A", _ts("2024-01-01 10:00:00"), 11.5, 3),   # wins the tie
         ("A", _ts("2024-01-01 10:04:00"), None, 4),   # null payload field
         ("B", _ts("2024-01-01 10:01:00"), 20.0, 5)],  # after B's trade
        "sym string, qt timestamp, px double, qid long")


def test_asof_backward_with_ties_and_nulls(trades, quotes):
    out = {r["trade_id"]: r for r in asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt",
        payload=["px", "qid"], tie_col="qid").collect()}
    # equal-ts quote is eligible; among the 10:00:00 tie, max qid=3 wins
    assert out[1]["qid"] == 3 and out[1]["px"] == 11.5
    # the matched row's px is NULL and must NOT fall back to an older quote
    assert out[2]["qid"] == 4 and out[2]["px"] is None
    # B's only quote is after the trade → unmatched
    assert out[3]["qid"] is None and out[3]["qt_matched"] is None
    # key with no right rows at all
    assert out[4]["qid"] is None
    assert len(out) == 4  # left join keeps everything


def test_asof_tolerance_and_inner(trades, quotes):
    out = {r["trade_id"]: r for r in asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt",
        payload=["qid"], tie_col="qid", tolerance_s=90).collect()}
    # trade 2 at 10:05 matches quote at 10:04 (60s ≤ 90s) — kept
    assert out[2]["qid"] == 4
    # trade 1's best match is at-tie 10:00:00 (0s) — kept
    assert out[1]["qid"] == 3
    inner = asof_join(trades, quotes, on=["sym"], left_ts="t",
                      right_ts="qt", payload=["qid"], tie_col="qid",
                      how="inner").collect()
    assert sorted(r["trade_id"] for r in inner) == [1, 2]

    strict = {r["trade_id"]: r for r in asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt",
        payload=["qid"], tie_col="qid", tolerance_s=30).collect()}
    # 10:04 quote is 60s old → outside 30s tolerance, nulled not older-matched
    assert strict[2]["qid"] is None


def test_asof_null_keys_follow_sql_semantics(spark):
    trades = spark.createDataFrame(
        [(1, None, _ts("2024-01-01 10:00:00")),
         (2, "A", _ts("2024-01-01 10:00:00")),
         (3, "A", None)],
        "trade_id long, sym string, t timestamp")
    quotes = spark.createDataFrame(
        [(None, _ts("2024-01-01 09:00:00"), 1),
         ("A", _ts("2024-01-01 09:00:00"), 2),
         ("A", None, 3)],
        "sym string, qt timestamp, qid long")
    out = {r["trade_id"]: r for r in asof_join(
        trades, quotes, on=["sym"], left_ts="t", right_ts="qt",
        payload=["qid"], tie_col="qid").collect()}
    assert out[1]["qid"] is None      # NULL key never matches NULL key
    assert out[2]["qid"] == 2        # NULL-ts quote ineligible, 09:00 wins
    assert out[3]["qid"] is None      # NULL left ts → unmatched
    assert len(out) == 3


def test_asof_rejects_colliding_payload(trades, quotes):
    with pytest.raises(ValueError, match="collide"):
        asof_join(trades, quotes.withColumnRenamed("px", "trade_id"),
                  on=["sym"], left_ts="t", right_ts="qt",
                  payload=["trade_id"])


def test_asof_matches_naive_formulation(spark, sf_dir):
    """Independent check on real data: purchases←views as-of equals the
    naive inequality-join + row_number formulation."""
    events = table(spark, sf_dir, "events")
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("pid"), "user_id", "ts"))
    views = (events.filter(F.col("event_type") == "view")
             .select("user_id", F.col("ts").alias("vts"),
                     F.col("event_id").alias("vid")))
    fast = asof_join(purchases, views, on=["user_id"], left_ts="ts",
                     right_ts="vts", payload=["vid"], tie_col="vid")
    from pyspark.sql.window import Window
    naive = (purchases.join(
                views, (purchases["user_id"] == views["user_id"])
                & (views["vts"] <= purchases["ts"]), "left")
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("pid").orderBy(
                     F.desc_nulls_last("vts"), F.desc_nulls_last("vid"))))
             .filter(F.col("rn") == 1)
             .select("pid", F.col("vts").alias("vts_matched"), "vid"))
    got = {r["pid"]: (r["vts_matched"], r["vid"]) for r in fast.collect()}
    want = {r["pid"]: (r["vts_matched"], r["vid"]) for r in naive.collect()}
    assert got == want and len(got) > 0


def test_asof_plan_one_shuffle_no_nlj(trades, quotes):
    # simple mode: each physical node appears exactly once in the tree
    plan = _plan(asof_join(trades, quotes, on=["sym"], left_ts="t",
                           right_ts="qt", payload=["px"], tie_col="qid"),
                 mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # union + ONE window shuffle — no join operator at all
    assert "Join" not in plan
    assert plan.count("Exchange") == 1, plan


@pytest.fixture(scope="module")
def intervals(spark):
    return spark.createDataFrame(
        [("A", 100, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 12:00:00")),
         ("A", 101, _ts("2024-01-01 11:30:00"), _ts("2024-01-01 11:45:00")),
         ("B", 102, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 10:00:00"))],
        "sym string, iid long, lo timestamp, hi timestamp")


@pytest.fixture(scope="module")
def points(spark):
    return spark.createDataFrame(
        [("A", 1, _ts("2024-01-01 10:00:00")),    # lower bound inclusive
         ("A", 2, _ts("2024-01-01 12:00:00")),    # upper bound inclusive
         ("A", 3, _ts("2024-01-01 11:40:00")),    # inside both A intervals
         ("A", 4, _ts("2024-01-01 12:00:01")),    # just outside
         ("B", 5, _ts("2024-01-01 10:00:00")),    # degenerate interval
         ("C", 6, _ts("2024-01-01 11:00:00"))],   # key with no intervals
        "sym string, pid long, pt timestamp")


def test_range_join_inclusive_bounds_no_dups(points, intervals):
    got = sorted((r["pid"], r["iid"]) for r in range_join(
        points, intervals, on=["sym"], left_ts="pt",
        lower_col="lo", upper_col="hi", bucket_s=1800).collect())
    assert got == [(1, 100), (2, 100), (3, 100), (3, 101), (5, 102)]


def test_range_join_bucket_width_invariance(points, intervals):
    for bucket_s in (60, 3600, 86400):
        got = sorted((r["pid"], r["iid"]) for r in range_join(
            points, intervals, on=["sym"], left_ts="pt",
            lower_col="lo", upper_col="hi", bucket_s=bucket_s).collect())
        assert got == [(1, 100), (2, 100), (3, 100), (3, 101), (5, 102)]


def test_range_join_guard_refuses_explosion(points, intervals):
    wide = range_join(points, intervals, on=["sym"], left_ts="pt",
                      lower_col="lo", upper_col="hi", bucket_s=1,
                      max_buckets=100)
    with pytest.raises(Exception, match="max_buckets"):
        wide.collect()
    with pytest.raises(ValueError):
        range_join(points, intervals, on=["sym"], left_ts="pt",
                   lower_col="lo", upper_col="hi", bucket_s=0)


def test_range_join_plan_is_equi_join(points, intervals):
    plan = _plan(range_join(points, intervals, on=["sym"], left_ts="pt",
                            lower_col="lo", upper_col="hi", bucket_s=1800))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


# ---------------------------------------------------------------------------
# Randomized parity fuzz vs pure-Python oracles (house style:
# tests/test_parity_fuzz.py) — seeded, one Spark job per suite.
# ---------------------------------------------------------------------------

def _dt(epoch_s):
    from datetime import datetime, timezone
    return (None if epoch_s is None else
            datetime.fromtimestamp(epoch_s, tz=timezone.utc)
            .replace(tzinfo=None))


def test_asof_join_fuzz_vs_python_oracle(spark):
    import random
    rng = random.Random(11)
    keys = ["a", "b", "c", None]
    lefts = [(i, rng.choice(keys),
              rng.choice([None] + list(range(0, 5000, 7))))
             for i in range(300)]
    rights = [(rng.choice(keys),
               rng.choice([None] + list(range(0, 5000, 13))),
               j if rng.random() > 0.2 else None,  # nullable payload
               j)
              for j in range(300)]
    # force exact-ts ties on both sides
    rights += [("a", 700, 9001, 9001), ("a", 700, None, 9002)]
    lefts += [(9000, "a", 700)]

    ldf = spark.createDataFrame(
        [(i, k, _dt(t)) for i, k, t in lefts],
        "lid long, k string, t timestamp")
    rdf = spark.createDataFrame(
        [(k, _dt(t), p, tie) for k, t, p, tie in rights],
        "k string, rt timestamp, payload long, tie long")

    for tol in (None, 500):
        got = {r["lid"]: (r["rt_matched"], r["payload"], r["tie"])
               for r in asof_join(ldf, rdf, on=["k"], left_ts="t",
                                  right_ts="rt", payload=["payload", "tie"],
                                  tie_col="tie", tolerance_s=tol).collect()}
        assert len(got) == len(lefts)
        for lid, k, t in lefts:
            cands = [(rt, tie, p) for (rk, rt, p, tie) in rights
                     if rk is not None and rk == k and rt is not None
                     and t is not None and rt <= t
                     and (tol is None or rt >= t - tol)]
            want = max(cands) if cands else None
            if want is None:
                assert got[lid] == (None, None, None), (lid, got[lid])
            else:
                rt, tie, p = want
                assert got[lid] == (_dt(rt), p, tie), (lid, got[lid])


def test_range_join_fuzz_vs_python_oracle(spark):
    import random
    rng = random.Random(13)
    pts = [(i, rng.choice(["a", "b", "c"]), rng.randrange(0, 3000))
           for i in range(250)]
    ivs = []
    for j in range(120):
        lo = rng.randrange(0, 3000)
        ivs.append((j, rng.choice(["a", "b", "c"]), lo,
                    lo + rng.choice([0, 1, 50, 400])))
    pdf = spark.createDataFrame([(i, k, _dt(t)) for i, k, t in pts],
                                "pid long, k string, pt timestamp")
    idf = spark.createDataFrame(
        [(j, k, _dt(lo), _dt(hi)) for j, k, lo, hi in ivs],
        "iid long, k string, lo timestamp, hi timestamp")
    want = sorted((i, j) for (i, pk, pt) in pts for (j, ik, lo, hi) in ivs
                  if pk == ik and lo <= pt <= hi)
    for bucket_s in (37, 500, 4000):
        got = sorted((r["pid"], r["iid"]) for r in range_join(
            pdf, idf, on=["k"], left_ts="pt", lower_col="lo",
            upper_col="hi", bucket_s=bucket_s).collect())
        assert got == want and len(want) > 0


def test_asof_bucketed_equivalent_to_plain(spark):
    """asof_join_bucketed must be pointwise identical to asof_join on
    adversarial fuzz data, across bucket widths spanning one-row-per-
    bucket to everything-in-one-bucket."""
    import random

    from australia_company_etl_pipeline_spark.operators.temporal import (
        asof_join_bucketed,
    )
    rng = random.Random(17)
    keys = ["hot", "b", None]
    # 'hot' is a deliberately skewed key: ~80% of all rows
    lefts = [(i, keys[0] if rng.random() < 0.8 else rng.choice(keys),
              rng.choice([None] + list(range(0, 5000, 3))))
             for i in range(400)]
    rights = [(keys[0] if rng.random() < 0.8 else rng.choice(keys),
               rng.choice([None] + list(range(0, 5000, 7))),
               j if rng.random() > 0.2 else None, j)
              for j in range(400)]
    ldf = spark.createDataFrame(
        [(i, k, _dt(t)) for i, k, t in lefts],
        "lid long, k string, t timestamp")
    rdf = spark.createDataFrame(
        [(k, _dt(t), p, tie) for k, t, p, tie in rights],
        "k string, rt timestamp, payload long, tie long")

    def rows(df):
        return sorted(
            (r["lid"], r["rt_matched"], r["payload"], r["tie"])
            for r in df.collect())

    for tol, how in ((None, "left"), (600, "left"), (None, "inner")):
        want = rows(asof_join(ldf, rdf, on=["k"], left_ts="t",
                              right_ts="rt", payload=["payload", "tie"],
                              tie_col="tie", tolerance_s=tol, how=how))
        for bucket_s in (1, 97, 1000, 10_000):
            got = rows(asof_join_bucketed(
                ldf, rdf, on=["k"], left_ts="t", right_ts="rt",
                payload=["payload", "tie"], tie_col="tie",
                tolerance_s=tol, how=how, bucket_s=bucket_s))
            assert got == want, (tol, how, bucket_s)


def test_asof_bucketed_no_nlj_and_validates(trades, quotes):
    from australia_company_etl_pipeline_spark.operators.temporal import (
        asof_join_bucketed,
    )
    plan = _plan(asof_join_bucketed(trades, quotes, on=["sym"],
                                    left_ts="t", right_ts="qt",
                                    payload=["px"], tie_col="qid"),
                 mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    with pytest.raises(ValueError):
        asof_join_bucketed(trades, quotes, on=["sym"], left_ts="t",
                           right_ts="qt", bucket_s=0)


def test_range_join_degenerate_intervals_match_nothing(spark):
    """Inverted (lower > upper) and NULL-bound intervals follow SQL
    semantics — no match — instead of exploding a descending sequence
    past the guard or failing the job on a NULL span."""
    pts = spark.createDataFrame(
        [("a", 1, _dt(1000))], "k string, pid long, pt timestamp")
    ivs = spark.createDataFrame(
        [("a", 10, _dt(2_000_000), _dt(0)),      # inverted, 2M-bucket span
         ("a", 11, None, _dt(2000)),             # NULL lower
         ("a", 12, _dt(0), None),                # NULL upper
         ("a", 13, _dt(500), _dt(1500))],        # sane — must still match
        "k string, iid long, lo timestamp, hi timestamp")
    got = [(r["pid"], r["iid"]) for r in range_join(
        pts, ivs, on=["k"], left_ts="pt", lower_col="lo", upper_col="hi",
        bucket_s=1, max_buckets=10_000).collect()]
    assert got == [(1, 13)]


def test_asof_rejects_matched_ts_collision(trades, quotes):
    chained = asof_join(trades, quotes, on=["sym"], left_ts="t",
                        right_ts="qt", payload=["px"], tie_col="qid")
    assert "qt_matched" in chained.columns
    with pytest.raises(ValueError, match="collide"):
        asof_join(chained, quotes, on=["sym"], left_ts="t",
                  right_ts="qt", payload=["qid"])


def test_asof_bucketed_map_payload_matches_plain(spark):
    """Review regression: a MapType payload is unorderable, so the
    bucketed summary must switch from max(struct(..payload)) to max_by
    — and still agree with the plain variant."""
    from australia_company_etl_pipeline_spark.operators.temporal import (
        asof_join, asof_join_bucketed)

    left = spark.createDataFrame(
        [("a", i * 100) for i in range(1, 8)], "sym string, t long") \
        .withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [("a", 50, 1, "x"), ("a", 250, 2, "y"), ("a", 650, 3, "z")],
        "sym string, qt long, qid long, tag string") \
        .withColumn("qt", F.col("qt").cast("timestamp")) \
        .withColumn("attrs", F.create_map(F.lit("tag"), F.col("tag"))) \
        .drop("tag")
    kw = dict(on=["sym"], left_ts="t", right_ts="qt",
              payload=["attrs"], tie_col="qid")
    plain = {(r.sym, r.t): (r.qt_matched, dict(r.attrs or {}))
             for r in asof_join(left, right, **kw).collect()}
    bucketed = {(r.sym, r.t): (r.qt_matched, dict(r.attrs or {}))
                for r in asof_join_bucketed(left, right, bucket_s=300,
                                            **kw).collect()}
    assert plain == bucketed and len(plain) == 7


def test_resample_gap_fill_zero_and_locf(spark):
    """Hand-built 2-series stream with a hole: the densified axis spans
    the GLOBAL min..max bucket for every series; zero-fill gives
    (0, 0.0) in the hole, locf carries the last observation through it
    and leaves buckets before a series' first observation NULL."""
    import pytest

    from australia_company_etl_pipeline_spark.operators.temporal import (
        resample_events)

    rows = [
        ("a", "2024-01-01 00:10:00", 1.0),
        ("a", "2024-01-01 00:40:00", 2.0),
        # hole at 01:xx for a
        ("a", "2024-01-01 02:05:00", 5.0),
        # b starts late: 00:xx and 01:xx are leading gaps for it
        ("b", "2024-01-01 02:30:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts string, value double") \
        .selectExpr("event_type", "CAST(ts AS TIMESTAMP) AS ts", "value")

    def key(rows_):
        return {(r.event_type, r.bucket_start_s): r for r in rows_}

    zero = key(resample_events(df, "ts", "value", ["event_type"],
                               3600, "zero").collect())
    locf = key(resample_events(df, "ts", "value", ["event_type"],
                               3600, "locf").collect())
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    # axis: 3 buckets × 2 series = 6 rows in both modes
    assert len(zero) == len(locf) == 6
    assert zero[("a", base)].value == 3.0          # 1.0 + 2.0
    assert zero[("a", base)].n_events == 2
    assert zero[("a", base + 3600)].value == 0.0   # the hole
    assert zero[("a", base + 3600)].n_events == 0
    assert locf[("a", base + 3600)].value == 3.0   # carried forward
    assert locf[("a", base + 7200)].value == 5.0   # own observation wins
    assert zero[("b", base)].value == 0.0
    assert locf[("b", base)].value is None         # before b's first obs
    assert locf[("b", base + 3600)].value is None
    assert locf[("b", base + 7200)].value == 7.0
    with pytest.raises(ValueError, match="unknown fill"):
        resample_events(df, "ts", "value", ["event_type"], 3600, "interp")


def test_resample_null_group_key_keeps_its_events(spark):
    """A NULL group key appears in the distinct() grid, so the
    grid-to-aggregate join must be NULL-SAFE — with plain equality the
    NULL-keyed series' aggregate rows never match and the series is
    silently reported as all-empty buckets despite having events (the
    r5 ADVICE hole)."""
    from australia_company_etl_pipeline_spark.operators.temporal import (
        resample_events)

    rows = [
        (None, "2024-01-01 00:10:00", 3.0),
        (None, "2024-01-01 00:20:00", 4.0),
        ("a", "2024-01-01 01:30:00", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts string, value double") \
        .selectExpr("event_type", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {(r.event_type, r.bucket_start_s): (r.n_events, r.value)
           for r in resample_events(df, "ts", "value", ["event_type"],
                                    3600, "zero").collect()}
    base = 1704067200
    assert len(got) == 4                      # 2 buckets × 2 series
    assert got[(None, base)] == (2, 7.0)      # NULL series keeps events
    assert got[(None, base + 3600)] == (0, 0.0)
    assert got[("a", base)] == (0, 0.0)
    assert got[("a", base + 3600)] == (1, 1.0)


def test_resample_fuzz_vs_python_oracle(spark):
    """Randomized sparse event streams vs a pure-Python oracle: axis
    bounds, bucket sums, zero-fill and the locf carry must agree for
    every group at every bucket."""
    from collections import defaultdict

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from australia_company_etl_pipeline_spark.operators.temporal import (
        resample_events)

    base = 1700000000 - (1700000000 % 60)

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(st.tuples(st.sampled_from(["a", "b", "c"]),
                              st.integers(0, 40),     # minutes offset
                              st.integers(-5, 5)),
                    min_size=1, max_size=25),
           st.sampled_from([60, 300]))
    def check(events, interval):
        rows = [(g, m * 60 + base, float(v)) for g, m, v in events]
        df = spark.createDataFrame(rows, "g string, es long, v double") \
            .selectExpr("g", "CAST(es AS TIMESTAMP) AS ts", "v")

        lo = min(es for _, es, _ in rows) // interval
        hi = max(es for _, es, _ in rows) // interval
        groups = sorted({g for g, _, _ in rows})
        agg = defaultdict(lambda: [0, 0.0])
        for g, es, v in rows:
            b = es // interval
            agg[(g, b)][0] += 1
            agg[(g, b)][1] += v
        expect_zero, expect_locf = {}, {}
        for g in groups:
            carry = None
            for b in range(lo, hi + 1):
                n, s = agg.get((g, b), (0, None))
                s = round(s, 2) if s is not None else None
                if s is not None:
                    carry = s
                expect_zero[(g, b * interval)] = (n, s if s is not None
                                                  else 0.0)
                expect_locf[(g, b * interval)] = (n, carry)

        for fill, exp in (("zero", expect_zero), ("locf", expect_locf)):
            got = {(r.g, r.bucket_start_s): (r.n_events, r.value)
                   for r in resample_events(df, "ts", "v", ["g"],
                                            interval, fill).collect()}
            assert set(got) == set(exp), fill
            for k in exp:
                gn, gv = got[k]
                en, ev = exp[k]
                assert gn == en, (fill, k)
                if ev is None:
                    assert gv is None, (fill, k)
                else:
                    assert gv is not None and abs(gv - ev) < 1e-9, \
                        (fill, k, gv, ev)

    check()


def test_bucket_zscores_hand_computed(spark):
    """z-scores over the zero-filled grid, hand-verified: series a has
    mean 4, sample stddev sqrt(19); series b's OUTAGE bucket (zero
    filled) gets a negative z — the signal a raw windowed aggregate
    cannot produce because the bucket would not exist. Constant series
    yield NULL z (stddev 0)."""
    import math

    from australia_company_etl_pipeline_spark.operators.temporal import (
        bucket_zscores, resample_events)

    rows = [("a", "2024-01-01 00:10:00", 1.0),
            ("a", "2024-01-01 01:10:00", 2.0),
            ("a", "2024-01-01 02:05:00", 9.0),
            ("b", "2024-01-01 00:30:00", 5.0),
            ("b", "2024-01-01 02:30:00", 5.0),
            ("c", "2024-01-01 00:00:30", 7.0),
            ("c", "2024-01-01 01:00:30", 7.0),
            ("c", "2024-01-01 02:00:30", 7.0)]
    df = (spark.createDataFrame(rows, "g string, ts string, v double")
          .selectExpr("g", "CAST(ts AS TIMESTAMP) AS ts", "v"))
    rs = resample_events(df, "ts", "v", ["g"], 3600, "zero")
    got = {(r.g, r.bucket_start_s): r
           for r in bucket_zscores(rs, "value", ["g"]).collect()}
    base = 1704067200
    sd_a = math.sqrt(19.0)
    assert got[("a", base)].mean == 4.0
    assert got[("a", base)].zscore == round((1.0 - 4.0) / sd_a, 6)
    assert got[("a", base + 7200)].zscore == round(5.0 / sd_a, 6)
    # b's hole: zero-filled bucket scores below its series mean
    zb = got[("b", base + 3600)]
    assert zb.value == 0.0 and zb.zscore < 0
    # constant series: stddev 0 -> NULL z, not a division blow-up
    assert all(got[("c", base + i * 3600)].zscore is None
               for i in range(3))


def test_bucket_zscores_locf_nulls_and_nonrepresentable_constant(spark):
    """Review regressions pinned: (1) a locf grid's leading NULL buckets
    must not bias the moments — statistics cover observed buckets only,
    and NULL-value buckets score NULL; (2) a constant series at a value
    with no exact binary representation (0.07) must yield NULL z via the
    exact decimal min==max check, not a ±1-ulp stddev artifact or a
    sqrt(negative) NaN."""
    from australia_company_etl_pipeline_spark.operators.temporal import (
        bucket_zscores, resample_events)

    rows = [("late", "2024-01-01 02:10:00", 4.0),
            ("late", "2024-01-01 03:10:00", 8.0),
            ("flat", "2024-01-01 00:10:00", 0.07),
            ("flat", "2024-01-01 01:10:00", 0.07),
            ("flat", "2024-01-01 03:20:00", 0.07)]
    df = (spark.createDataFrame(rows, "g string, ts string, v double")
          .selectExpr("g", "CAST(ts AS TIMESTAMP) AS ts", "v"))
    rs = resample_events(df, "ts", "v", ["g"], 3600, "locf")
    got = {(r.g, r.bucket_start_s): r
           for r in bucket_zscores(rs, "value", ["g"]).collect()}
    base = 1704067200
    # 'late' starts at bucket 2: buckets 0,1 are NULL under locf —
    # observed values are {4, 8}: mean 6, sd sqrt(8) — NOT mean 3
    late = got[("late", base + 7200)]
    assert late.mean == 6.0
    assert late.zscore is not None and late.zscore < 0
    assert got[("late", base)].value is None
    assert got[("late", base)].zscore is None        # no data, no score
    # 'flat': locf fills bucket 2 with 0.07 -> constant series; z NULL
    # everywhere, stddev exactly 0.0, no NaN
    for i in range(4):
        r = got[("flat", base + i * 3600)]
        assert r.stddev == 0.0 and r.zscore is None, r


def test_funnel_hand_golden(spark):
    """Hand-built users: full converter, wrong-order, partial,
    equal-timestamp (strictness), repeat-step."""
    from australia_company_etl_pipeline_spark.operators.temporal import (
        funnel)

    rows = [
        # u1 converts fully: view@1 click@2 purchase@3
        (1, "view", 1), (1, "click", 2), (1, "purchase", 3),
        # u2 wrong order: click BEFORE the first view -> stops at view
        (2, "click", 1), (2, "view", 2), (2, "purchase", 3),
        # wait - u2 has purchase@3 after view@2 but no click after view
        # -> reaches step 1 only
        # u3 partial: view then click, no purchase
        (3, "view", 1), (3, "click", 5),
        # u4 equal timestamps: click at the SAME ts as view -> strict >
        # rejects it
        (4, "view", 7), (4, "click", 7),
        # u5 greedy rescue: view@1 click@2 (early), purchase@10 -> the
        # EARLIEST click after view admits the purchase
        (5, "view", 1), (5, "click", 2), (5, "click", 9),
        (5, "purchase", 10),
        # u6 never views
        (6, "click", 1), (6, "purchase", 2),
    ]
    df = spark.createDataFrame(
        [(u, t, float(s)) for u, t, s in rows],
        "user_id long, event_type string, secs double").select(
        "user_id", "event_type",
        F.timestamp_seconds(F.col("secs")).alias("ts"))
    got = {r.step_name: r.n_users
           for r in funnel(df, ["view", "click", "purchase"]).collect()}
    assert got == {"view": 5, "click": 3, "purchase": 2}

    import pytest as _pt
    with _pt.raises(ValueError, match="at least 2"):
        funnel(df, ["view"])


def test_funnel_max_gap_hand_golden(spark):
    """Time-bounded funnel (r8): step i+1 must land in
    (t_i, t_i + max_gap]. Pins the ANCHOR-GREEDY (first-touch)
    semantics: the chain anchors at the user's EARLIEST step-1 event —
    a user whose only fast A->B pair starts at a later A does NOT
    convert (this is deliberately not exists-any-chain)."""
    from australia_company_etl_pipeline_spark.operators.temporal import (
        funnel)

    rows = [
        # u1: click 5s after first view -> converts under gap=10
        (1, "view", 0), (1, "click", 5),
        # u2: click 50s after first view -> misses gap=10
        (2, "view", 0), (2, "click", 50),
        # u3 ANCHOR pin: a later view@40 would put click@45 in window,
        # but the funnel anchors at view@0 -> no conversion
        (3, "view", 0), (3, "view", 40), (3, "click", 45),
        # u4 boundary: click exactly at t + gap -> inclusive, converts
        (4, "view", 0), (4, "click", 10),
    ]
    df = spark.createDataFrame(
        [(u, t, float(s)) for u, t, s in rows],
        "user_id long, event_type string, secs double").select(
        "user_id", "event_type",
        F.timestamp_seconds(F.col("secs")).alias("ts"))
    got = {r.step_name: r.n_users
           for r in funnel(df, ["view", "click"], max_gap=10).collect()}
    assert got == {"view": 4, "click": 2}  # u1 + u4
    # unbounded admits everyone with any later click
    all_got = {r.step_name: r.n_users
               for r in funnel(df, ["view", "click"]).collect()}
    assert all_got == {"view": 4, "click": 4}

    import pytest as _pt
    with _pt.raises(ValueError, match="max_gap"):
        funnel(df, ["view", "click"], max_gap=0)


# ------------------------------------------------------ event transitions

def _trans_events(spark):
    rows = [
        # user 1: view -> click -> view -> purchase
        (1, 1, datetime(2024, 1, 1, 0, 0), "view"),
        (2, 1, datetime(2024, 1, 1, 0, 1), "click"),
        (3, 1, datetime(2024, 1, 1, 0, 2), "view"),
        (4, 1, datetime(2024, 1, 1, 0, 3), "purchase"),
        # user 2: equal timestamps — order pinned by event_id
        (5, 2, datetime(2024, 1, 1, 1, 0), "view"),
        (6, 2, datetime(2024, 1, 1, 1, 0), "click"),
        # user 3: a single event opens no transition
        (7, 3, datetime(2024, 1, 1, 2, 0), "view"),
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")


def test_event_transitions_hand_golden(spark):
    from australia_company_etl_pipeline_spark.operators.temporal import (
        event_transitions,
    )

    got = {(r.prev_type, r.next_type): (r.n_transitions, r.n_users)
           for r in event_transitions(_trans_events(spark)).collect()}
    assert got == {
        ("view", "click"): (2, 2),       # users 1 and 2
        ("click", "view"): (1, 1),
        ("view", "purchase"): (1, 1),
    }


def test_event_transitions_bot_user_cap(spark):
    """max_events_per_user pre-caps a pathological user with the
    skew-safe salted cap BEFORE the per-user window: the bot keeps its
    EARLIEST cap-sized slice (deterministic by (ts, event_id)), normal
    users are bit-identical to the uncapped result, and the physical
    plan shows the two-level WindowGroupLimit cap ahead of the lag
    window."""
    from australia_company_etl_pipeline_spark.operators.temporal import (
        event_transitions,
    )

    # bot user 99: 100 alternating view/click events; normal user 1:
    # view -> click -> purchase
    rows = [(i, 99, datetime(2024, 1, 1, 0, 0, 0) + timedelta(seconds=i),
             "view" if i % 2 == 0 else "click") for i in range(100)]
    rows += [(1000, 1, datetime(2024, 1, 2), "view"),
             (1001, 1, datetime(2024, 1, 2, 0, 1), "click"),
             (1002, 1, datetime(2024, 1, 2, 0, 2), "purchase")]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    capped = event_transitions(df, max_events_per_user=10)
    got = {(r.prev_type, r.next_type): (r.n_transitions, r.n_users)
           for r in capped.collect()}
    # bot contributes only its earliest 10 events: v c v c v c v c v c
    # -> 5 view>click + 4 click>view; user 1 untouched
    assert got == {
        ("view", "click"): (5 + 1, 2),
        ("click", "view"): (4, 1),
        ("click", "purchase"): (1, 1),
    }
    # uncapped twin unchanged for the normal user
    full = {(r.prev_type, r.next_type): (r.n_transitions, r.n_users)
            for r in event_transitions(df).collect()}
    assert full[("view", "click")] == (50 + 1, 2)
    # plan: the salted cap's two window-group-limit levels sit below
    # the per-user lag window
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        capped.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("WindowGroupLimit") >= 2, plan

    with pytest.raises(ValueError, match="max_events_per_user"):
        event_transitions(df, max_events_per_user=1)


def test_funnel_persist_frontiers_matches_and_stages(spark):
    """persist_frontiers=True returns identical counts while staging
    each per-user frontier once (released with the staging scope) —
    the event_funnel fold's 14-scans-of-the-log fix."""
    from australia_company_etl_pipeline_spark.operators import staging
    from australia_company_etl_pipeline_spark.operators import (
        temporal as tmp,
    )

    rows = [(1, "view", 1), (1, "click", 2), (1, "purchase", 3),
            (2, "view", 1), (2, "click", 5),
            (3, "click", 1)]
    df = spark.createDataFrame(
        [(u, t, float(s)) for u, t, s in rows],
        "user_id long, event_type string, secs double").select(
        "user_id", "event_type",
        F.timestamp_seconds(F.col("secs")).alias("ts"))
    steps = ["view", "click", "purchase"]
    staged = {r.step_name: r.n_users
              for r in tmp.funnel(df, steps,
                                  persist_frontiers=True).collect()}
    plain = {r.step_name: r.n_users
             for r in tmp.funnel(df, steps).collect()}
    assert staged == plain == {"view": 2, "click": 2, "purchase": 1}
    assert staging.release() == 3     # one per step
    assert staging.release() == 0


def test_event_transitions_equal_ts_order_pinned_by_id(spark):
    from australia_company_etl_pipeline_spark.operators.temporal import (
        event_transitions,
    )

    # reversing ids at an equal timestamp flips the transition
    rows = [(6, 2, datetime(2024, 1, 1), "view"),
            (5, 2, datetime(2024, 1, 1), "click")]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    got = {(r.prev_type, r.next_type)
           for r in event_transitions(df).collect()}
    assert got == {("click", "view")}
