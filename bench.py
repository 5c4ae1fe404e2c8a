#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line with per-query wall-clock seconds.

Each query is forced with the noop sink (full computation, no write cost),
after a warm-up run of the flagship to absorb JVM/codegen startup. Every
query runs REPS times in interleaved rounds; "queries" carries per-query
MEDIANS and "value" their sum — robust to the bench machine's external
load (observed ±40% swings on single runs).

ATTRIBUTION (r6): folded queries (several kinds/methods unioned into one
registered result) are ALSO timed per branch — each branch forced
standalone for BRANCH_REPS interleaved rounds — and reported under
"branches". This separates "the fold does more work now" from "a plan
got slower": a new fold shows up as a new branch row while the existing
branches hold, whereas a regression moves a branch that didn't change.
Branch timings are STANDALONE costs (a branch built alone re-creates
any projection the fold shares, e.g. a persisted shingle frame), so the
fold total can legitimately be less than its branch sum; compare
branches round-over-round, totals for the headline.

SENTINEL NORMALIZATION (r8): the same commit has benched 70s in one
window and 112-122s hours later — single wall-clock runs cannot
falsify a real regression against that host noise. A tiny fixed
sentinel (SENTINEL below, a one-scan partial agg whose plan hasn't
changed since r2) is timed at the START of every interleaved round;
the JSON carries the sentinel's per-round times + median and
"queries_normalized" = per-query median / sentinel median. Compare
NORMALIZED ratios round-over-round: a query that doubled while the
sentinel also doubled is host noise; a query that doubled against a
flat sentinel is a regression.

PYTHON-BOUNDARY SENTINEL + PER-REP TIMES (r10): the JVM sentinel is
blind to Python-WORKER contention — in r9 the one headline query with
an ArrowEvalPython stage recorded 31.98 normalized (a 5-rep median!)
in the driver's window against 7.31 in the builder's, on an identical
golden-pinned plan, and nothing in the artifact could adjudicate. Two
fixes: (a) every query's PER-REP raw times are recorded (detail line +
bench_detail_last.json), not just medians; (b) a second sentinel — a
fixed identity pandas_udf over a deterministic in-memory frame — is
timed each round, and pandas_udf-bearing queries (detected from their
physical plans) get a second normalization column
"queries_normalized_py" = median / py_sentinel median. A py-query that
spikes against a flat py-sentinel is a regression; one that spikes WITH
the py-sentinel is Python-side host noise, now visible in the record.
The summary (last) line carries both sentinels' per-rep ladders and the
py-queries' per-rep raw times so the driver's bounded 2000-char stdout
tail always captures them.

PLAN GUARD (r10): before timing, every headline query's physical-plan
skeleton at the bench sf_dir is compared against the committed
bench-scale goldens (tests/golden_plans_sf01/, regenerated via
SPARK_GRAFT_SF01_GOLDENS=1 UPDATE_GOLDEN_PLANS=1 pytest sweep) — the
sf0.001 goldens can't see broadcast-threshold flips that only occur at
bench scale. A divergence aborts the bench (exit 2) instead of
recording a window whose numbers measure a different plan; set
SPARK_GRAFT_SKIP_PLAN_GUARD=1 to record anyway (e.g. on a host whose
testdata differs).

JVM ATTRIBUTION COUNTERS + TIMESTAMPS (r11): the r10 window recorded a
274s rep of a JVM-only query (median ~5s) against flat sentinels, and
nothing in the artifact said WHY. Now every timed rep captures, via
ManagementFactory through the py4j gateway, the DELTAS of: total JIT
compilation time, classes loaded/unloaded, and the code-cache pools'
used bytes (plus the absolute post-rep occupancy), together with epoch
start/end timestamps. A slow rep is then adjudicable post-hoc: a spike
with a matching compile-time/class-churn delta is the JIT pathology
(tune the code cache); a spike with flat counters is NOT — look at the
timestamps against system logs instead. Stored per-rep under
"queries_jvm" in bench_detail_last.json; the stdout summary carries
only the worst offender to stay inside the tail budget.

MIN + INSTABILITY (r11): with a heavy right tail, the per-query MIN is
the contention-free estimator and median/min is a per-query
instability score; both are recorded ("queries_min", "instability")
so window health is visible without re-deriving it from queries_reps.

HEADLINE CONTRACT (r12): the FINAL line's "queries" now carries the
per-query medians (it was {} with the detail on the preceding,
tail-truncated line — which left the driver's PERF comparison blind:
n_common=0, null geomean, empty scaling.per_query in PERF_r11.json).
Timed region unchanged; the drop-to-fit ladder sheds the redundant
diagnostic fields first and the medians last.
"""

from __future__ import annotations

import difflib
import json
import os
import re
import statistics
import sys
import time

from australia_company_etl_pipeline_spark import plans
from australia_company_etl_pipeline_spark.operators import staging
from australia_company_etl_pipeline_spark.plancheck import (
    crosses_python_boundary,
    formatted_plan,
    plan_skeleton,
)
from australia_company_etl_pipeline_spark.session import get_spark

HEADLINE = [
    # entity-resolution core (reference parity)
    "entity_match_blocking",
    "match_cascade_best",
    "best_supplier_match",
    "pricing_summary",
    "stats_rollup",
    "promo_revenue_by_brand",
    "best_order_per_customer",
    "union_score_bands",
    "dedup_events",
    "monthly_order_stats",
    "purchase_attribution",
    # training-data pipeline extensions
    "exact_dedup_docs",
    "segment_dedup_docs",
    "hashed_dup_pairs",
    "ngram_jaccard_dup_pairs",  # r6: the 5-pipeline portable-backend
    #                             query was the heaviest registered
    #                             query yet invisible to the perf gate
    "ann_bruteforce_topk",
    "ann_approx_topk",
    "doc_profile",
    "doc_search_bm25",
    "corpus_filter_stats",  # r7: the 9-branch curation rollup (filter/
    #                         pii/mixture/cap/dsir/url/html/bloom/c4)
    #                         joins the perf gate with per-branch
    #                         attribution
    "vocab_ngram_counts",   # r7: gained the CMS fold (token+bigram+
    #                         sketch counters over the same explode)
    "events_session_windows",
]

REPS = 5  # per-query repetitions; the JSON reports per-query MEDIANS
#           (raised from 3 in r5: observed ±15% machine noise swamped
#           real deltas — a 5-sample median tolerates two bad rounds)

# Heavy-query rep overrides: ngram_jaccard_dup_pairs runs FIVE
# pipelines (r8: the incremental branch's fresh-index replay is now a
# keyed cached artifact — the first rep may pay a one-time build, the
# median reflects steady-state reads); 5 reps of it alone would still
# stretch the bench's wall clock. 3 samples give a median that
# tolerates one bad round.
REPS_OVERRIDE = {"ngram_jaccard_dup_pairs": 3}

# The drift sentinel: one scan + partial agg over orders, plan
# unchanged since r2, ~0.3s at sf0.1 — a pure host-speed probe.
SENTINEL = "stats_rollup"

# Python-boundary sentinel frame size: 1M rows of one double column
# through an identity pandas_udf — big enough that Arrow serialization
# and the Python worker's compute window dominate the measurement
# (worker fork is absorbed by the warm-up; local[] reuses workers),
# small enough to stay well under a second on an idle host.
PY_SENTINEL_ROWS = 1_000_000

BRANCH_REPS = 2  # per-branch repetitions for folded queries — branch
#                  rows are for ATTRIBUTION (which branch moved), not
#                  the headline number; 2 samples bound the wall clock
#                  (the branch pass re-runs every fold piecewise)

# ngram's branch sweep is the most expensive attribution pass (it
# re-runs all five pipelines standalone); r11 raises it 1 → 2 reps so
# the simhash-fp-persist claim (10.4s → ~5s, operators/dedup.py) is
# confirmed by a 2-sample attribution instead of one noisy rep — the
# r10 window's single rep read 9.7s against a 4.9s standalone measure.
BRANCH_REPS_OVERRIDE = {"ngram_jaccard_dup_pairs": 2}

SF01_GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "tests", "golden_plans_sf01")


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def gc_barrier(spark) -> None:
    """Full JVM GC before a timed run — the JMH discipline. Everything
    shares one local[] JVM here, so garbage from the PREVIOUS query
    (expired broadcasts, shuffle buffers, 10⁶ codegen array allocations)
    otherwise collects in the MIDDLE of the next timed window: measured
    on an idle host, the identical cascade plan swung 2.0s → 15s → 63s
    run-to-run, and stabilized at ~2s with this barrier. The barrier
    charges each query its own steady-state cost, not its neighbors'
    allocation debt (a real cluster spreads that debt across executors).
    """
    spark._jvm.System.gc()


def jvm_counters(spark) -> dict:
    """Snapshot the JVM's JIT/classloading/code-cache state through the
    py4j gateway (ManagementFactory). Costs a few gateway round-trips
    (~1 ms total) — negligible against multi-second reps, and taken
    OUTSIDE the timed window anyway.

    Fields: ``compile_ms`` cumulative JIT compilation time;
    ``loaded``/``unloaded`` cumulative class counts; ``cc_used`` the
    summed used bytes of every CodeHeap pool (Java 17 segments the code
    cache into non-nmethods / profiled / non-profiled heaps — summed
    here; an unsegmented JVM exposes one 'Code Cache' pool, matched
    too). Unloaded classes + rising compile time across a slow rep =
    the flush/recompile pathology; flat counters = look elsewhere."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    comp = mf.getCompilationMXBean()
    cl = mf.getClassLoadingMXBean()
    cc_used = 0
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if "CodeHeap" in name or "Code Cache" in name:
            u = pool.getUsage()
            if u is not None:
                cc_used += u.getUsed()
    gc_ms = 0
    for gc in mf.getGarbageCollectorMXBeans():
        t = gc.getCollectionTime()
        if t > 0:
            gc_ms += t
    return {
        "compile_ms": int(comp.getTotalCompilationTime()),
        "loaded": int(cl.getTotalLoadedClassCount()),
        "unloaded": int(cl.getUnloadedClassCount()),
        "cc_used": int(cc_used),
        "gc_ms": int(gc_ms),
    }


def _loadavg() -> float:
    """1-min host load at rep end — the external-contention signal the
    JVM counters cannot see (r9 precedent: a rep spiked 18s → 259s with
    the GC barrier in place, load 7.5, NO local process above 1.3% CPU
    — hypervisor/neighbor steal). A slow rep with flat JVM counters and
    high load is the host; flat counters AND low load means the probe
    set is still missing the cause."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except Exception:
        return -1.0


def _jvm_delta(before: dict, after: dict, t0: float, t1: float) -> dict:
    """Per-rep attribution record: counter deltas + epoch timestamps
    (so a stall can be correlated with the sentinel ladder and system
    logs post-hoc) + absolute post-rep code-cache occupancy in MB +
    1-min host load at rep end."""
    return {
        "t0": round(t0, 2),
        "t1": round(t1, 2),
        "load": _loadavg(),
        "compile_ms": after["compile_ms"] - before["compile_ms"],
        "loaded": after["loaded"] - before["loaded"],
        "unloaded": after["unloaded"] - before["unloaded"],
        "gc_ms": after["gc_ms"] - before["gc_ms"],
        "cc_mb": round(after["cc_used"] / 1048576, 1),
    }


_PY_SENTINEL_DF = None


def py_sentinel_df(spark):
    """The Python-boundary probe: ship PY_SENTINEL_ROWS doubles across
    the Arrow boundary through an identity pandas_udf and fold them to
    one row. Pure in-memory (no scan), fixed plan (Range → Project →
    ArrowEvalPython → partial agg) — its ONLY variable cost is the
    host's JVM↔Python transfer + Python worker execution, i.e. exactly
    the contention surface the JVM sentinel cannot see.

    Built ONCE per process and reused: a fresh pandas_udf per call
    registers new function/codegen artifacts every round, and that
    churn was measured to trigger JIT deoptimization storms in the
    NEXT query's whole-stage-codegen loops (an identical blocking-join
    plan swung 3s → 48-208s, CPU-bound in interpreted expression eval;
    reusing one plan object stabilized it at 2.8s ± 0.1 after two
    settling reps — hence the extended warm-up in main())."""
    global _PY_SENTINEL_DF
    if _PY_SENTINEL_DF is not None:
        return _PY_SENTINEL_DF
    import pandas as pd  # noqa: F401  (pandas_udf requires it)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ident(s):
        return s * 1.0

    df = spark.range(PY_SENTINEL_ROWS).select(
        (F.col("id") % 9973).cast("double").alias("x"))
    _PY_SENTINEL_DF = df.select(F.sum(_ident(F.col("x"))).alias("s"))
    return _PY_SENTINEL_DF


def _plan_guard(spark, sf_dir: str, names: list[str]) -> dict[str, bool]:
    """Capture each headline query's plan ONCE: (a) detect Python-
    boundary stages (for the py-sentinel normalization column), and
    (b) when bench-scale goldens exist for this sf_dir, refuse to
    record a window whose plans diverge from them. Returns
    {name: crosses_python_boundary}."""
    py_flags: dict[str, bool] = {}
    enforce = (os.path.isdir(SF01_GOLDEN_DIR)
               and "sf0.1" in sf_dir
               and not os.environ.get("SPARK_GRAFT_SKIP_PLAN_GUARD"))
    diverged: dict[str, str] = {}
    for name in names:
        df = plans.REGISTRY[name].builder(spark, sf_dir)
        plan = formatted_plan(df)
        py_flags[name] = crosses_python_boundary(plan)
        if enforce:
            path = os.path.join(SF01_GOLDEN_DIR, f"{name}.txt")
            if os.path.exists(path):
                with open(path) as f:
                    want = f.read()
                skel = plan_skeleton(df)
                if skel != want:
                    diverged[name] = "\n".join(difflib.unified_diff(
                        want.splitlines(), skel.splitlines(),
                        fromfile=f"golden_plans_sf01/{name}.txt",
                        tofile="current", lineterm=""))
        staging.release()
    if diverged:
        # a refusal still leaves one machine-readable line on stdout
        print(json.dumps({"metric": "headline_queries_total",
                          "value": None, "error": "plan_guard",
                          "diverged": list(diverged)}))
        sys.stdout.flush()
        print("PLAN GUARD: bench-scale plan skeletons diverged from "
              "tests/golden_plans_sf01/ — refusing to record a window "
              "that measures a different plan. Regenerate goldens "
              "(SPARK_GRAFT_SF01_GOLDENS=1 UPDATE_GOLDEN_PLANS=1 pytest "
              "tests/test_golden_plans.py) if the change is intentional, "
              "or set SPARK_GRAFT_SKIP_PLAN_GUARD=1.\n"
              + "\n".join(f"--- {n} ---\n{d}"
                          for n, d in diverged.items()), file=sys.stderr)
        spark.stop()
        sys.exit(2)
    return py_flags


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # Everything shares one local[] JVM: the 2M-pair scoring queries
    # allocate faster than a 16g old gen turns over, so mid-window GCs
    # dominate their variance (see gc_barrier). A third of this box's
    # RAM buys steady-state headroom; an explicit env still wins, and a
    # real cluster sizes executors per --executor-memory as usual.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")
    spark = get_spark("ace-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in plans.REGISTRY]
    py_flags = _plan_guard(spark, sf_dir, names)
    # warm-up: ONE full untimed round over every query + both sentinels
    # (the JMH discipline) — a query's first execution compiles and
    # JIT-profiles its generated classes (measured 2-6x its steady
    # state), and with the session's enlarged codegen class cache those
    # classes STAY warm across the timed rounds, so round 1 measures
    # steady-state cost rather than compile+profile debt
    force(py_sentinel_df(spark))
    warmup_jvm: dict[str, dict] = {}
    for name in names:
        c0, w0 = jvm_counters(spark), time.time()
        force(plans.REGISTRY[name].builder(spark, sf_dir))
        warmup_jvm[name] = _jvm_delta(c0, jvm_counters(spark),
                                      w0, time.time())
        warmup_jvm[name]["sec"] = round(
            warmup_jvm[name]["t1"] - warmup_jvm[name]["t0"], 3)
        staging.release()
    # SECOND warm-up pass for the heavy queries (r11, closes the r10
    # "warm-up gap"): one execution leaves most codegen methods at C1 —
    # C2 tiering triggers on the SECOND run, so rep 1 of every heavy
    # query was paying 2-6x in residual JIT compilation (per-rep
    # compile_ms deltas in the thousands for round 0, measured). A
    # second untimed pass absorbs that tier-up where it is material;
    # sub-2s queries don't move the total and skip it.
    for name in names:
        if warmup_jvm[name]["sec"] < 2.0:
            continue
        c0, w0 = jvm_counters(spark), time.time()
        force(plans.REGISTRY[name].builder(spark, sf_dir))
        warmup_jvm[name + "#2"] = _jvm_delta(c0, jvm_counters(spark),
                                             w0, time.time())
        warmup_jvm[name + "#2"]["sec"] = round(
            warmup_jvm[name + "#2"]["t1"]
            - warmup_jvm[name + "#2"]["t0"], 3)
        staging.release()

    # REPS interleaved rounds (round-robin, not back-to-back, so a load
    # spike on the shared bench machine hits different queries each
    # round); per-query MEDIAN is reported — one slow outlier round no
    # longer masks or fakes a regression (±40% external noise observed).
    times: dict[str, list[float]] = {n: [] for n in names}
    jvm_reps: dict[str, list[dict]] = {n: [] for n in names}
    sentinel_times: list[float] = []
    sentinel_stamps: list[list[float]] = []
    py_sentinel_times: list[float] = []
    py_sentinel_stamps: list[list[float]] = []
    sentinel_builder = plans.REGISTRY[SENTINEL].builder
    for rep in range(REPS):
        gc_barrier(spark)
        w0 = time.time()
        t0 = time.perf_counter()
        force(sentinel_builder(spark, sf_dir))
        sentinel_times.append(time.perf_counter() - t0)
        sentinel_stamps.append([round(w0, 2), round(time.time(), 2)])
        gc_barrier(spark)
        w0 = time.time()
        t0 = time.perf_counter()
        force(py_sentinel_df(spark))
        py_sentinel_times.append(time.perf_counter() - t0)
        py_sentinel_stamps.append([round(w0, 2), round(time.time(), 2)])
        for name in names:
            if rep >= REPS_OVERRIDE.get(name, REPS):
                continue
            gc_barrier(spark)
            c0, w0 = jvm_counters(spark), time.time()
            t0 = time.perf_counter()
            force(plans.REGISTRY[name].builder(spark, sf_dir))
            times[name].append(time.perf_counter() - t0)
            jvm_reps[name].append(
                _jvm_delta(c0, jvm_counters(spark), w0, time.time()))
            staging.release()
    per_query = {n: round(statistics.median(ts), 3)
                 for n, ts in times.items()}
    per_query_min = {n: round(min(ts), 3) for n, ts in times.items()}
    # median/min: 1.0 = perfectly quiet window; >2 = the median itself
    # is contention-inflated and min is the better steady-state read
    instability = {n: round(per_query[n] / per_query_min[n], 2)
                   for n in per_query if per_query_min[n] > 0}
    total = round(sum(per_query.values()), 3)
    sentinel_median = statistics.median(sentinel_times)
    py_sentinel_median = statistics.median(py_sentinel_times)
    normalized = {n: round(v / sentinel_median, 2)
                  for n, v in per_query.items()}
    normalized_py = {n: round(per_query[n] / py_sentinel_median, 2)
                     for n in names if py_flags.get(n)}

    # per-branch attribution for folded queries (same interleaving +
    # median discipline; standalone costs — see module docstring)
    branch_names = [(n, b) for n in names
                    for b in plans.REGISTRY[n].branches]
    btimes: dict[tuple[str, str], list[float]] = \
        {nb: [] for nb in branch_names}
    for rep in range(BRANCH_REPS):
        for name, branch in branch_names:
            if rep >= BRANCH_REPS_OVERRIDE.get(name, BRANCH_REPS):
                continue
            gc_barrier(spark)
            t0 = time.perf_counter()
            force(plans.REGISTRY[name].branches[branch](spark, sf_dir))
            btimes[(name, branch)].append(time.perf_counter() - t0)
            staging.release()
    branches: dict[str, dict[str, float]] = {}
    branches_reps: dict[str, dict[str, list[float]]] = {}
    for (name, branch), ts in btimes.items():
        branches.setdefault(name, {})[branch] = \
            round(statistics.median(ts), 3)
        branches_reps.setdefault(name, {})[branch] = \
            [round(t, 3) for t in ts]

    # OUTPUT CONTRACT (r9/r10): the driver captures a bounded ~2000-char
    # TAIL of stdout and parses the LAST line as the bench JSON. Three
    # artifacts, least-critical first so tail clipping eats from the
    # front: (1) bench_detail_last.json on disk — EVERYTHING, including
    # per-rep times for every query and branch; (2) a detail stdout
    # line (same content minus branch reps); (3) the compact final
    # summary line, sized to survive the tail window, carrying the
    # falsifiability essentials: both sentinels' per-rep ladders and
    # the py-boundary queries' per-rep raw times.
    queries_reps = {n: [round(t, 3) for t in ts]
                    for n, ts in times.items()}
    detail = {
        "metric": "headline_queries_detail",
        "value": total,
        "unit": "sec",
        "reps": REPS,
        "reps_override": REPS_OVERRIDE,
        "aggregate": "median",
        "branches": branches,
        "branch_reps": BRANCH_REPS,
        "queries": per_query,
        "queries_min": per_query_min,
        "instability": instability,
        "queries_reps": queries_reps,
        "queries_jvm": jvm_reps,
        "warmup_jvm": warmup_jvm,
        "sentinel": {"name": SENTINEL,
                     "times": [round(t, 3) for t in sentinel_times],
                     "median": round(sentinel_median, 3),
                     "stamps": sentinel_stamps},
        "py_sentinel": {"rows": PY_SENTINEL_ROWS,
                        "times": [round(t, 3)
                                  for t in py_sentinel_times],
                        "median": round(py_sentinel_median, 3),
                        "stamps": py_sentinel_stamps},
        "queries_normalized": normalized,
        "queries_normalized_py": normalized_py,
        "value_normalized": round(total / sentinel_median, 2),
        "sf": sf,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_detail_last.json"), "w") as f:
        json.dump({**detail, "branches_reps": branches_reps}, f,
                  indent=1)
    print(json.dumps(detail))
    # worst-offender health record for the bounded stdout tail: the
    # query with the highest median/min ratio, with the JVM counter
    # record of its SLOWEST rep — one glance says whether the window's
    # worst rep was JIT churn (compile/unload deltas) or not
    worst = max(instability, key=instability.get) if instability else None
    instability_top = None
    if worst is not None:
        slow_i = max(range(len(times[worst])),
                     key=lambda i: times[worst][i])
        instability_top = {
            "query": worst, "ratio": instability[worst],
            "median": per_query[worst], "min": per_query_min[worst],
            "slow_rep": queries_reps[worst][slow_i],
            "jvm": jvm_reps[worst][slow_i] if jvm_reps[worst] else None,
        }
    summary = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "value_normalized": round(total / sentinel_median, 2),
        "sentinel_median": round(sentinel_median, 3),
        "sentinel_times": [round(t, 3) for t in sentinel_times],
        "py_sentinel_median": round(py_sentinel_median, 3),
        "py_sentinel_times": [round(t, 3) for t in py_sentinel_times],
        "py_queries_reps": {n: queries_reps[n]
                            for n in sorted(normalized_py)},
        "queries_normalized_py": normalized_py,
        "instability_top": instability_top,
        "n_queries": len(per_query),
        # r12 (headline contract fix): per-query MEDIANS in the FINAL
        # line — r11's "queries": {} left the driver's PERF comparison
        # blind (n_common=0, null geomean, empty scaling.per_query)
        # because its bounded tail capture truncates the oversized
        # detail line. ~660 bytes for 22 queries; the drop ladder below
        # sheds redundant fields first and never sheds this one.
        "queries": per_query,
        "queries_min": per_query_min,
        "sf": sf,
    }
    # The final line must survive the driver's ~2000-char stdout tail
    # INTACT (r8 regression: a fat last line overflowed the capture and
    # the round recorded no machine-readable headline). Never die after
    # printing (the r9 assert recreated the failure it guarded against,
    # and asserts strip under -O): drop optional fields until it fits.
    # Everything dropped here still lives in the detail line and in
    # bench_detail_last.json; "queries" is what the driver's per-query
    # regression gate reads, so it outlives every optional field.
    for drop in ("py_queries_reps", "queries_normalized_py",
                 "py_sentinel_times", "sentinel_times",
                 "instability_top", "queries_min"):
        line = json.dumps(summary)
        if len(line) <= 1500:
            break
        summary.pop(drop, None)
    # final guards (r11, ADVICE): the loop pops its last field without
    # re-checking — if the summary still exceeds the tail budget, fall
    # back to a minimal headline (WITH the per-query medians while they
    # fit; without them only as the very last resort) rather than
    # silently recreating the r8 no-machine-readable-headline failure
    if len(json.dumps(summary)) > 1500:
        summary = {"metric": "headline_queries_total", "value": total,
                   "unit": "sec", "queries": per_query, "sf": sf}
    if len(json.dumps(summary)) > 1500:
        summary = {"metric": "headline_queries_total", "value": total,
                   "unit": "sec", "sf": sf}
    print(json.dumps(summary))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
