"""Temporal joins — as-of (merge) join and interval range join.

The reference has no dedicated temporal-join operator; its closest moves
are pandas ``merge`` + date filters inside the enrichment steps
(``/root/reference/src/transform/dim_companies.sql`` date-bounded lookups
and the per-row "latest record before date" loops in
``/root/reference/src/load/load_postgres.py``).  These two operators give
that semantics a first-class, scale-safe form — the shapes a
training-data / event pipeline needs constantly (last-touch attribution,
point-in-time feature lookup, activity-window features).

Scale design (100 TB lens):

``asof_join`` — the naive formulation is a non-equi join
(``r.ts <= l.ts`` → BroadcastNestedLoopJoin / O(n·m) per key).  Instead we
use the union + window merge: tag both sides, union them, and run ONE
window pass per key ordered by (ts, side, tie) taking the last non-null
right payload at-or-before each left row.  Cost: one shuffle on the key —
the same price as the equi-join you'd pay anyway — with zero row
explosion.  Per-column null-skipping is avoided by packing the right
payload into a single non-null struct.  Caveat: a window partition is one
key = one task; a pathologically hot key serializes (salting is NOT
applicable — order matters).  For that case pre-split by coarse time
bucket and stitch the boundary, or thin the right side first.

``range_join`` — the naive interval join is likewise a nested loop.  We
bucket time into fixed ``bucket_s`` slices: each left row lands in exactly
one bucket, each right interval explodes into the buckets it covers, and
the join becomes an equi-join on (key, bucket) + an exact range residual.
Each qualifying pair is produced exactly once (the left row's single
bucket is covered at most once by a given interval), so no dedup pass is
needed.  Pick ``bucket_s`` near the typical interval length: explosion
factor ≈ interval/bucket_s + 1.  A runtime guard refuses intervals that
would explode into more than ``max_buckets`` rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import staging

# Only an alias: the benchmark harness (perfbench/harness.py) imports it.
from .staging import release as unpersist_temporal  # noqa: F401

_TS = "__asof_ts"
_SIDE = "__asof_side"
_TIE = "__asof_tie"
_PAYLOAD = "__asof_payload"
_BUCKET = "__range_bucket"


def asof_join(left: DataFrame, right: DataFrame, on: Sequence[str],
              left_ts: str, right_ts: str,
              payload: Sequence[str] | None = None,
              tie_col: str | None = None,
              tolerance_s: int | None = None,
              how: str = "left") -> DataFrame:
    """For each left row, attach the latest right row with
    ``right_ts <= left_ts`` per ``on`` key (backward as-of join).

    Result: every left column, plus ``<right_ts>_matched`` (timestamp of
    the matched right row, NULL when none) and the ``payload`` columns
    (NULL when unmatched).  Payload names must not collide with left's.

    - ``tie_col``: deterministic winner among right rows sharing the same
      timestamp — the row with the HIGHEST ``tie_col`` wins.  Without it,
      equal-timestamp winners are nondeterministic.
    - ``tolerance_s``: matches older than ``left_ts - tolerance_s`` are
      discarded (treated as no match).
    - ``how``: 'left' keeps unmatched left rows with NULLs; 'inner' drops
      them.

    NULL join keys follow SQL equi-join semantics: right rows with a NULL
    key are discarded, left rows with a NULL key never match (they
    survive a 'left' join unmatched).  Without this, the window's
    NULL-groups-together behavior would silently invent NULL==NULL
    matches no SQL formulation produces.

    One shuffle (window over ``on``), no non-equi join — see module doc.
    For a single pathologically hot key see ``asof_join_bucketed``.
    """
    keys, payload, matched_ts, lt, r = _asof_prep(
        left, right, keys=list(on), left_ts=left_ts, right_ts=right_ts,
        payload=payload, tie_col=tie_col, how=how)
    u = lt.unionByName(r, allowMissingColumns=True)

    # Right (side 0) sorts before left (side 1) at equal ts → "at or
    # before" includes ties; among right ts-ties the max tie_col is last.
    w = (Window.partitionBy(*keys)
         .orderBy(F.col(_TS).asc(), F.col(_SIDE).asc(), F.col(_TIE).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = (u.withColumn(_PAYLOAD,
                           F.last(_PAYLOAD, ignorenulls=True).over(w))
              .filter(F.col(_SIDE) == 1))
    return _asof_finish(filled, left, payload, matched_ts, tolerance_s, how)


def _asof_prep(left: DataFrame, right: DataFrame, keys: list[str],
               left_ts: str, right_ts: str,
               payload: Sequence[str] | None, tie_col: str | None,
               how: str):
    """Shared validation + side tagging for the as-of variants."""
    if how not in ("left", "inner"):
        raise ValueError(f"how must be 'left' or 'inner', got {how!r}")
    if payload is None:
        payload = [c for c in right.columns
                   if c not in keys and c != right_ts]
    payload = list(payload)
    matched_ts = f"{right_ts}_matched"
    collide = (set(payload) | {matched_ts}) & set(left.columns)
    if collide:
        # includes matched_ts: chaining two as-of joins whose right sides
        # share a timestamp name would otherwise emit a duplicate column
        raise ValueError(f"output columns collide with left: {collide}")
    reserved = {_TS, _SIDE, _TIE, _PAYLOAD, _BUCKET}
    taken = reserved & (set(left.columns) | set(right.columns))
    if taken:
        # withColumn would silently OVERWRITE a same-named input column
        # (and the final select(*left.columns) would then return the
        # internal constant as the user's data) — e.g. feeding one as-of
        # output that leaked internals into another
        raise ValueError(
            f"input columns collide with reserved internal names: "
            f"{sorted(taken)} — rename them before the temporal join")
    # SQL NULL-key semantics (see asof_join docstring); a NULL right
    # timestamp can never be "at or before" anything either.
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    right = right.filter(~null_key & F.col(right_ts).isNotNull())
    # Right rows carry a non-null struct so one last(ignorenulls) fill
    # can't mix payload fields from different right rows.
    r = (right.select(
            *keys,
            F.col(right_ts).alias(_TS),
            F.struct(F.col(right_ts).alias(matched_ts),
                     *[F.col(c) for c in payload]).alias(_PAYLOAD),
            (F.col(tie_col) if tie_col else F.lit(0)).alias(_TIE))
         .withColumn(_SIDE, F.lit(0)))
    lt = (left
          .withColumn(_TS, F.col(left_ts))
          .withColumn(_SIDE, F.lit(1))
          .withColumn(_TIE, F.lit(None).cast(r.schema[_TIE].dataType)))
    return keys, payload, matched_ts, lt, r


def _asof_finish(filled: DataFrame, left: DataFrame, payload: list[str],
                 matched_ts: str, tolerance_s: int | None,
                 how: str) -> DataFrame:
    """Shared tolerance / join-mode / projection tail."""
    out = filled
    if tolerance_s is not None:
        fresh = (F.col(f"{_PAYLOAD}.{matched_ts}")
                 >= F.col(_TS)
                 - F.expr(f"INTERVAL {int(tolerance_s)} SECONDS"))
        out = out.withColumn(_PAYLOAD, F.when(fresh, F.col(_PAYLOAD)))
    if how == "inner":
        out = out.filter(F.col(_PAYLOAD).isNotNull())
    return out.select(
        *left.columns,
        F.col(f"{_PAYLOAD}.{matched_ts}").alias(matched_ts),
        *[F.col(f"{_PAYLOAD}.{c}").alias(c) for c in payload])


def asof_join_bucketed(left: DataFrame, right: DataFrame, on: Sequence[str],
                       left_ts: str, right_ts: str,
                       payload: Sequence[str] | None = None,
                       tie_col: str | None = None,
                       tolerance_s: int | None = None,
                       how: str = "left",
                       bucket_s: int = 3600) -> DataFrame:
    """``asof_join`` semantics, skew-resilient: the hot-key escape hatch.

    ``asof_join`` puts each key's full history in ONE window partition —
    correct, but a single pathologically hot key (one symbol with 10⁹
    quotes) serializes into one task.  This variant splits every key by a
    coarse time bucket so the heavy pass parallelizes across
    ``(key, bucket)``:

    1. within-bucket merge — the same union+window fill, partitioned by
       ``(key, floor(ts / bucket_s))``; any in-bucket match is by
       construction newer than everything in earlier buckets;
    2. per-``(key, bucket)`` right-side summary — ``max(struct(ts, tie,
       payload))``, a partial-aggregated groupBy (map-side combine), one
       row per bucket;
    3. carry — a running ``last(…, ignorenulls)`` over the SUMMARY spine
       (left buckets ∪ right summaries) per key, strictly-preceding-rows
       frame: the best right payload from any EARLIER bucket.  This
       window is per-key again, but over bucket summaries (rows =
       buckets, not events) — the skew never reaches it;
    4. left rows unmatched within their bucket take the carried payload
       via an equi-join on ``(key, bucket)``.

    Identical results to ``asof_join`` for every input (pinned by fuzz
    equivalence tests across bucket widths).  Prefer plain ``asof_join``
    unless a key is hot enough to dominate a stage.
    """
    if bucket_s <= 0:
        raise ValueError("bucket_s must be positive")
    keys, payload, matched_ts, lt, r = _asof_prep(
        left, right, keys=list(on), left_ts=left_ts, right_ts=right_ts,
        payload=payload, tie_col=tie_col, how=how)
    bkt = F.floor(F.col(_TS).cast("long") / bucket_s)

    # 1) within-bucket merge
    u = lt.unionByName(r, allowMissingColumns=True).withColumn(_BUCKET, bkt)
    w = (Window.partitionBy(*keys, _BUCKET)
         .orderBy(F.col(_TS).asc(), F.col(_SIDE).asc(), F.col(_TIE).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = (u.withColumn(_PAYLOAD,
                           F.last(_PAYLOAD, ignorenulls=True).over(w))
              .filter(F.col(_SIDE) == 1))

    # 2) per-bucket best right row (max over (ts, tie) carries its
    # payload). max(struct(ts, tie, payload)) orders the WHOLE struct —
    # fully deterministic (payload breaks (ts, tie) ties) but illegal
    # when the payload nests a MapType (maps are unorderable); there,
    # max_by orders by (ts, tie) only — same contract as the plain
    # variant's window, whose (ts, tie)-tie winner is arbitrary anyway.
    from ..session import contains_map_type

    if contains_map_type(r.schema[_PAYLOAD].dataType):
        best = F.max_by(F.struct(F.col(_PAYLOAD).alias("p")),
                        F.struct(F.col(_TS).alias("ts"),
                                 F.col(_TIE).alias("tie")))
    else:
        best = F.max(F.struct(F.col(_TS).alias("ts"),
                              F.col(_TIE).alias("tie"),
                              F.col(_PAYLOAD).alias("p")))
    summ = (r.withColumn(_BUCKET, bkt)
            .groupBy(*keys, _BUCKET)
            .agg(best.alias("__best")))

    # 3) carry across the summary spine (strictly earlier buckets)
    spine = (filled.select(*keys, _BUCKET).distinct()
             .join(summ, [*keys, _BUCKET], "full_outer"))
    cw = (Window.partitionBy(*keys).orderBy(F.col(_BUCKET).asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    carry = spine.select(
        *keys, _BUCKET,
        F.last(F.col("__best.p"), ignorenulls=True).over(cw).alias("__prev"))

    # 4) fill the still-unmatched left rows from the carry
    merged = (filled.join(carry, [*keys, _BUCKET], "left")
              .withColumn(_PAYLOAD,
                          F.coalesce(F.col(_PAYLOAD), F.col("__prev"))))
    return _asof_finish(merged, left, payload, matched_ts, tolerance_s, how)


def range_join(left: DataFrame, right: DataFrame, on: Sequence[str],
               left_ts: str, lower_col: str, upper_col: str,
               bucket_s: int = 3600,
               max_buckets: int = 1000) -> DataFrame:
    """Inner-join left rows to right intervals containing them:
    ``lower_col <= left_ts <= upper_col`` (inclusive both ends) per ``on``
    key, as a bucketed equi-join (see module doc — no nested loop).

    Sides are aliased ``l`` / ``r`` (like ``block_join``); select through
    the aliases when names overlap.  Intervals wider than
    ``max_buckets * bucket_s`` fail the job with a clear error rather than
    silently exploding.
    """
    if bucket_s <= 0:
        raise ValueError("bucket_s must be positive")
    keys = list(on)
    if _BUCKET in left.columns or _BUCKET in right.columns:
        # withColumn would clobber it and the final drop(_BUCKET) would
        # then delete the user's column from the output
        raise ValueError(
            f"input columns collide with reserved internal name "
            f"{_BUCKET!r} — rename before the range join")
    # SQL semantics for degenerate intervals: a NULL bound or an inverted
    # interval (lower > upper) matches nothing — drop the row instead of
    # letting NULL poison the guard or an inverted pair slip past it as a
    # negative span (sequence(start, stop) would then DESCEND and explode
    # |span| rows that the residual filter silently discards).
    right = right.filter(F.col(lower_col).isNotNull()
                         & F.col(upper_col).isNotNull()
                         & (F.col(lower_col) <= F.col(upper_col)))
    lo_b = F.floor(F.col(lower_col).cast("long") / bucket_s)
    hi_b = F.floor(F.col(upper_col).cast("long") / bucket_s)
    # Guard is folded INTO the sequence start (assert_true → NULL on pass)
    # so column pruning can't optimize it away.
    guard = F.coalesce(
        F.assert_true(
            hi_b - lo_b < max_buckets,
            F.lit(f"range_join: interval exceeds max_buckets={max_buckets} "
                  f"at bucket_s={bucket_s}; widen bucket_s or split the "
                  "interval")).cast("long"),
        F.lit(0))
    r = (right
         .withColumn(_BUCKET, F.explode(F.sequence(lo_b + guard, hi_b)))
         .alias("r"))
    lt = left.withColumn(
        _BUCKET, F.floor(F.col(left_ts).cast("long") / bucket_s)
    ).alias("l")
    cond = (F.col(f"l.{_BUCKET}") == F.col(f"r.{_BUCKET}"))
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    cond = (cond
            & (F.col(f"l.{left_ts}") >= F.col(f"r.{lower_col}"))
            & (F.col(f"l.{left_ts}") <= F.col(f"r.{upper_col}")))
    return lt.join(r, cond, "inner").drop(_BUCKET)


def resample_events(df: DataFrame, ts_col: str, value_col: str,
                    group_cols: Sequence[str],
                    interval_s: int = 3600,
                    fill: str = "zero") -> DataFrame:
    """Hypertable-style resample + gap fill: aggregate into fixed
    ``interval_s`` buckets, then DENSIFY the time axis so every group
    carries a row for every bucket between the corpus's first and last
    event — the operation a plain ``groupBy(window)`` cannot express
    (it emits only buckets that HAVE events, so downstream charting /
    rate math / anomaly baselines silently skip outages, which are
    exactly the buckets one is looking for).

    ``fill='zero'``: empty buckets get ``n_events=0, value=0.0`` —
    count/sum semantics. ``fill='locf'``: empty buckets carry the
    group's last observed value forward (gauge semantics; buckets
    before a group's first observation stay NULL), still ``n_events=0``.

    Returns ``(*group_cols, bucket_start_s, bucket_end_s, n_events,
    value)``; ``value`` is the bucket's ``round(sum(value_col), 2)``.

    Scale shape: ONE partial-aggregated shuffle on (group, bucket); the
    axis is generated from a single min/max aggregate row
    (``sequence()`` on the driver-free literal range) cross-joined with
    the DISTINCT groups — the densified grid is |groups| × |buckets|
    rows, bounded by the time span over ``interval_s``, NOT by event
    volume (pick the interval so the grid stays sane: a year at 1h ×
    10k groups is 87M rows — partition-prunable, but choose
    deliberately). The locf window partitions per group over that
    bounded axis, so no event-volume pile-up either."""
    return fill_resampled(
        resample_grid(df, ts_col, value_col, group_cols, interval_s),
        group_cols, interval_s, fill)


def resample_grid(df: DataFrame, ts_col: str, value_col: str,
                  group_cols: Sequence[str],
                  interval_s: int = 3600) -> DataFrame:
    """The EXPENSIVE half of ``resample_events``, exposed so multiple
    fill variants (and downstream consumers like ``bucket_zscores``)
    can share ONE aggregate+densify pass — the builder pattern: stage
    (persist) this grid, then apply ``fill_resampled`` per variant as a
    near-free projection/window instead of re-scanning the source per
    fill. Returns ``(*group_cols, __b, n_events, __sum)`` with ``__sum``
    NULL in gap buckets (the raw, unfilled grid)."""
    gcols = list(group_cols)
    bucket = F.floor(F.unix_timestamp(F.col(ts_col))
                     / F.lit(interval_s)).cast("long")
    agg = (df.select(*gcols, bucket.alias("__b"),
                     F.col(value_col).alias("__v"))
           .groupBy(*gcols, "__b")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("__v"), 2).alias("__sum")))
    span = df.agg(
        F.floor(F.min(F.unix_timestamp(F.col(ts_col)))
                / F.lit(interval_s)).cast("long").alias("__lo"),
        F.floor(F.max(F.unix_timestamp(F.col(ts_col)))
                / F.lit(interval_s)).cast("long").alias("__hi"))
    axis = (span.select(F.explode(F.sequence("__lo", "__hi"))
                        .alias("__b")))
    grid = df.select(*gcols).distinct().crossJoin(axis)
    # NULL-SAFE group-key equality: a NULL group key appears in the
    # distinct() grid, but plain `=` never matches NULL — its aggregate
    # rows would be orphaned and the NULL-keyed series silently reported
    # as all-empty buckets (n_events=0) despite having events
    agg_r = agg.select(*[F.col(c).alias(f"__r_{c}") for c in gcols],
                       F.col("__b").alias("__r_b"),
                       "n_events", "__sum")
    cond = F.col("__b") == F.col("__r_b")
    for c in gcols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"__r_{c}"))
    return (grid.join(agg_r, cond, "left")
            .select(*gcols, "__b", "n_events", "__sum"))


def fill_resampled(joined: DataFrame, group_cols: Sequence[str],
                   interval_s: int, fill: str) -> DataFrame:
    """Apply one fill policy to a ``resample_grid`` frame (see
    ``resample_events`` for the semantics)."""
    if fill not in ("zero", "locf"):
        raise ValueError(f"unknown fill {fill!r}: use 'zero' or 'locf'")
    gcols = list(group_cols)
    if fill == "zero":
        value = F.coalesce(F.col("__sum"), F.lit(0.0))
    else:
        w = (Window.partitionBy(*gcols).orderBy(F.col("__b").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        value = F.last("__sum", ignorenulls=True).over(w)
    return (joined.select(
        *gcols,
        (F.col("__b") * interval_s).alias("bucket_start_s"),
        (F.col("__b") * interval_s + interval_s).alias("bucket_end_s"),
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        value.alias("value")))


def bucket_zscores(resampled: DataFrame, value_col: str,
                   group_cols: Sequence[str]) -> DataFrame:
    """Per-group z-scores over a gap-filled bucket grid (the
    ``resample_events`` output) — the baseline anomaly signal: a bucket
    whose value sits far from ITS OWN series' mean flags a spike or an
    outage, and thanks to the gap fill an outage bucket EXISTS to be
    flagged (the raw windowed aggregate simply omits it).

    Adds ``mean``, ``stddev`` (sample), ``zscore`` (rounded 6; NULL for
    constant series, NULL-value buckets, and single-observation
    series). Statistics describe the OBSERVED (non-NULL) buckets only —
    a locf grid's leading NULLs (before a series' first observation)
    are "no data", and counting them in ``n`` while the sums skip them
    would silently bias every statistic. Group moments accumulate in
    exact decimal — the input values sit on ``resample_events``' 0.01
    grid, so Σv and Σv² are exact and the derived doubles are
    bit-stable at any partitioning (same discipline as every
    oracle-checked aggregate here). Constant series are detected
    EXACTLY (decimal min == max) — the double variance of a constant
    non-binary-representable value is a ±1-ulp artifact, so relying on
    ``var == 0`` would misreport it and a negative artifact would even
    sqrt to NaN; the variance is additionally clamped at 0. One
    partial-agg shuffle over the grid + a small join; grid size is
    span/interval × groups, not event volume."""
    gcols = list(group_cols)
    v = F.col(value_col)
    # decimal(15,2): the product stays at decimal(31,4) — inside the
    # 38-digit cap, so Spark never silently rounds the square
    vd = v.cast("decimal(15,2)")
    stats = (resampled.groupBy(*gcols)
             .agg(F.count(vd).alias("__n"),
                  F.sum(vd).alias("__s"),
                  F.sum(vd * vd).alias("__ss"),
                  F.min(vd).alias("__lo"),
                  F.max(vd).alias("__hi")))
    n = F.col("__n").cast("double")
    s = F.col("__s").cast("double")
    ss = F.col("__ss").cast("double")
    mean = s / n
    var = F.greatest(F.lit(0.0), (ss - (s * s) / n) / (n - F.lit(1.0)))
    sd = F.when(F.col("__lo") == F.col("__hi"), F.lit(0.0))         .otherwise(F.sqrt(var))
    return (resampled.join(stats, gcols)
            .withColumn("mean", F.round(mean, 6))
            .withColumn("stddev", F.round(sd, 6))
            .withColumn("zscore",
                        F.round((v - mean) / F.nullif(sd, F.lit(0.0)), 6))
            .drop("__n", "__s", "__ss", "__lo", "__hi"))


def funnel(events: DataFrame, steps: list[str],
           user_col: str = "user_id", ts_col: str = "ts",
           type_col: str = "event_type",
           max_gap: int | None = None,
           persist_frontiers: bool = False,
           storage_level=None) -> DataFrame:
    """Sequential-funnel counts → ``(step, step_name, n_users)``: how
    many users performed step 1, then step 2 strictly AFTER their
    first step-1 event, and so on (the product-analytics staple:
    view → click → purchase).

    Semantics: greedy earliest matching — a user converts step ``i+1``
    iff some step-``i+1`` event lands strictly after their EARLIEST
    qualifying step-``i`` time. Greedy is exact for existence (taking
    the earliest prior-step time can only admit more, never fewer,
    later events), so this equals the "any increasing subsequence"
    definition while staying a join chain.

    ``max_gap`` (seconds) bounds each step's conversion window — the
    real-funnel form ("purchased within 7 days of the click"): step
    ``i+1`` must land in ``(t_i, t_i + max_gap]``. NOTE the semantics
    under a gap bound are ANCHOR-GREEDY (first-touch): the chain
    anchors at the user's earliest step-1 event and each step extends
    from the earliest qualifying previous-step time. This is the
    classic first-touch funnel, and it is NOT "exists any chain" — a
    user whose only fast A→B pair starts at a LATER A does not
    convert (greedy's exactness argument needs an unbounded window;
    pinned in tests with a hand golden either way).

    Scale: per step, one filtered scan + one keyed equi-join against
    the (one row per surviving user) frontier + one partial-agg min —
    no windows, no per-user event arrays (a bot with millions of
    events costs map-side-combined minimums, not a collect_list blob),
    no broadcast dependence. N steps = N keyed shuffles, each smaller
    than the last; the gap bound only adds a predicate to the join.

    Each frontier is consumed twice (the next step's join AND its own
    count row), so lineage-only frontiers replan the whole prefix
    chain per consumer — 2N scheduled scans of the event log instead
    of N. ``persist_frontiers=True`` caches each per-user frontier
    (one row per surviving user — the bounded frame this chain exists
    to produce) so the log is scanned exactly once per step; they are
    staged and released with the caller's staging scope.
    ``storage_level`` defaults to MEMORY_AND_DISK — frontiers are
    per-user rows, far smaller than the log, so the default is right
    even at 100 TB; ``"DISK_ONLY"`` remains available for funnels over
    billions of users (``operators/staging.py``)."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least 2 steps")
    if max_gap is not None and max_gap <= 0:
        raise ValueError(f"max_gap must be > 0 seconds, got {max_gap}")

    def stage(fr: DataFrame) -> DataFrame:
        if persist_frontiers:
            fr = staging.stage(fr, storage_level)
        return fr

    t, u = F.col(ts_col), F.col(user_col)
    cur = stage(events.filter(F.col(type_col) == steps[0])
                .groupBy(user_col).agg(F.min(t).alias("__t")))
    frontiers = [cur]
    for s in steps[1:]:
        cond = t > F.col("__prev")
        if max_gap is not None:
            cond = cond & (t <= F.col("__prev")
                           + F.expr(f"INTERVAL {int(max_gap)} SECOND"))
        cur = stage(events.filter(F.col(type_col) == s)
                    .join(cur.withColumnRenamed("__t", "__prev"),
                          user_col)
                    .filter(cond)
                    .groupBy(user_col).agg(F.min(t).alias("__t")))
        frontiers.append(cur)
    out = None
    for i, (name, fr) in enumerate(zip(steps, frontiers)):
        row = fr.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).alias("step"), F.lit(name).alias("step_name"),
            "n_users")
        out = row if out is None else out.unionByName(row)
    return out


def event_transitions(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      order_cols: Sequence[str] = ("event_id",),
                      max_events_per_user: int | None = None,
                      ) -> DataFrame:
    """First-order Markov transition counts over each user's event
    stream: ``(prev_type, next_type, n_transitions, n_users)`` — the
    journey-mining rollup behind "what do users do after X" (next-step
    prediction baselines, funnel discovery, anomaly screens for
    impossible orderings).

    Each user's events order by ``(ts, *order_cols)`` — pass a unique
    id in ``order_cols`` so equal-timestamp events have a pinned,
    engine-replayable order (the determinism every oracle fold here
    depends on). The first event of a user opens no transition.

    Scale shape: ONE window over the ``user_col`` partition (lag of
    the type column only — no arrays, no payload) feeding one
    partial-aggregated groupBy on (prev, next). A per-user window is
    the standard sessionization shape; a bot user with 10⁶ events
    serializes its own partition — set ``max_events_per_user`` to
    pre-cap pathological users with the skew-safe two-level salted
    ``textstats.cap_per_key`` BEFORE the per-user window (the hot key
    fans out over salt buckets; the raw-key window then sees at most
    ``max_events_per_user`` rows per user). The kept slice is each
    user's EARLIEST ``max_events_per_user`` events by (ts, *order_cols)
    — deterministic, so capped transition counts are replayable; users
    under the cap are bit-identical to the uncapped result. Default
    off: capping truncates bot journeys, a sampling decision the
    caller owns."""
    if max_events_per_user is not None:
        from .textstats import cap_per_key

        if max_events_per_user < 2:
            raise ValueError("max_events_per_user must be >= 2 "
                             "(one transition needs two events), got "
                             f"{max_events_per_user}")
        order = F.struct(F.col(ts_col),
                         *[F.col(c) for c in order_cols])
        events = cap_per_key(events.withColumn("__ord", order),
                             [user_col], max_events_per_user,
                             order_col="__ord").drop("__ord")
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), *[F.col(c).asc() for c in order_cols])
    lagged = events.select(
        F.col(user_col).alias("__u"),
        F.col(type_col).alias("next_type"),
        F.lag(F.col(type_col)).over(w).alias("prev_type"))
    return (lagged.filter(F.col("prev_type").isNotNull())
            .groupBy("prev_type", "next_type")
            .agg(F.count(F.lit(1)).alias("n_transitions"),
                 F.countDistinct("__u").alias("n_users"))
            .orderBy(F.desc("n_transitions"), F.asc("prev_type"),
                     F.asc("next_type")))
