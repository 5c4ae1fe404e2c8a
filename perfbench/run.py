"""Benchmark entry point.

    python3 perfbench/run.py --workload er_batch --seed 1 --seconds 8 \
        --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed under ``perfbench/.work/`` (deleted on exit), starts a session on a
fresh driver JVM, runs one cold pass and then a fixed number of warm
passes (at least ``--seconds`` of them), checks the last pass's outputs, and
prints two JSON lines on stdout: a detail record (provenance, input sizes,
storage state, failure fraction, sample counts), then the result line
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.

A run that cannot measure (the package or its test helpers are missing,
or set-up or the cold pass fails) prints one ``{"refused": <reason>}``
line as the last line on stderr, no result, and exits with 2.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import harness  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# name -> (unit, better); the same names, in the same order, as
# BENCHMARK.json (pinned by test_perfbench.py)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "first_pass_s": ("s", "lower"),
    "pass_s": ("s", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "jvm_peak_rss_mb": ("MiB", "lower"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.py4j_calls": ("count", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.first_build_s": ("s", "lower"),
    "plans.optimize_s": ("s", "lower"),
    "sources.shred_s": ("s", "lower"),
    "sources.records_out": ("count", "higher"),
    "sources.upsert_s": ("s", "lower"),
    "sources.bytes_written": ("B", "lower"),
    "sources.write_amp": ("x", "lower"),
    "pipeline.clean.self_s": ("s", "lower"),
    "pipeline.match.self_s": ("s", "lower"),
    "pipeline.match.candidate_pairs": ("count", "lower"),
    "pipeline.match.llm_band_rows": ("count", "lower"),
    "pipeline.match.accept_ratio": ("ratio", "higher"),
    "pipeline.match.python_s": ("s", "lower"),
    "pipeline.marts.self_s": ("s", "lower"),
    "operators.audit.self_s": ("s", "lower"),
    "operators.audit.jobs": ("count", "lower"),
    "operators.dedup.self_s": ("s", "lower"),
    "operators.ann.self_s": ("s", "lower"),
    "operators.retrieval.self_s": ("s", "lower"),
    "operators.quality.self_s": ("s", "lower"),
    "operators.textstats.self_s": ("s", "lower"),
    "operators.dedup.candidate_pairs": ("count", "lower"),
    "operators.dedup.planted_recall": ("ratio", "higher"),
    "operators.ann.builder_jobs": ("count", "lower"),
    "operators.staging.staged_bytes": ("B", "lower"),
    "operators.staging.persisted_rdds": ("count", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.task_s": ("s", "lower"),
    "spark.core_util": ("ratio", "higher"),
    "spark.shuffle_read_bytes": ("B", "lower"),
    "spark.shuffle_write_bytes": ("B", "lower"),
    "spark.spill_bytes": ("B", "lower"),
    "spark.gc_s": ("s", "lower"),
    "spark.input_bytes": ("B", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}
WORKLOADS = ("er_batch", "corpus_curation")


class NotMeasured(Exception):
    """No warm pass completed; the message is the first error."""


def refuse(reason: str) -> int:
    print(json.dumps({"refused": reason}), file=sys.stderr)
    return 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="bench", choices=tuple(inputs.SIZES),
                   help="input size (inputs.SIZES); 'tiny' is for the "
                        "benchmark's own smoke tests")
    return p.parse_args(argv)


def _pass(wl, tracer, pass_no: int, traced: bool):
    spark = wl.spark
    persisted = harness.persisted_rdds(spark)
    t0 = time.perf_counter()
    with tracer.traced_pass(spark, pass_no, traced):
        ops = wl.run_pass(pass_no)
    seconds = time.perf_counter() - t0
    staged = harness.staged_bytes(spark)
    harness.release_storage(spark)
    return harness.PassResult(seconds=seconds, traced=traced, ops=ops,
                              persisted_at_start=persisted,
                              staged_bytes=staged,
                              ended=time.perf_counter())


def run_passes(wl, tracer, args):
    """The cold pass, then the workload's warm passes (more if they take
    less than ``--seconds``); then the checks. Returns (passes, problems,
    errors): a failing operation ends the run and is reported."""
    passes, problems, errors = [], [], []
    try:
        passes.append(_pass(wl, tracer, 0, bool(args.trace)))
        # a traced run brackets each traced warm pass with untraced ones,
        # so their comparison (trace.overhead_frac) cancels warm-up drift
        min_warm = 3 if args.trace else workloads.WARM_PASSES
        t0 = time.perf_counter()
        while (len(passes) - 1 < min_warm
               or time.perf_counter() - t0 < args.seconds):
            n = len(passes)
            passes.append(_pass(wl, tracer, n,
                                bool(args.trace) and n % 2 == 0))
        problems = wl.check()
    except Exception:
        errors.append(traceback.format_exc())
        print(errors[-1], file=sys.stderr)
    return passes, problems, errors


def measure(args, work: str) -> tuple[dict, dict]:
    """Set up, run the passes, check; returns (result, detail)."""
    harness.configure_env(work)
    wl = workloads.make(args.workload, inputs.SIZES[args.size])
    inputs_dir = os.path.join(work, "inputs")
    event_dir = os.path.join(work, "eventlog") if args.trace else None

    spark = None
    try:
        wl.generate(inputs_dir, args.seed)
        spark, start_s = harness.launch(work, event_dir)
        setup_s = time.perf_counter() - T_START

        tracer = harness.Tracer()
        wl.start(spark, tracer, inputs_dir, work)
        passes, problems, errors = run_passes(wl, tracer, args)
        check_s = time.perf_counter() - passes[-1].ended if passes else 0.0
        counts = wl.layer_counts() if args.trace and not (
            problems or errors) else {}
        storage_mem = harness.storage_memory_bytes(spark)
        rss = harness.jvm_peak_rss_mb(spark)
    finally:
        if spark is not None:
            harness.shutdown(spark)
    for p in problems:
        print(f"wrong result: {p}", file=sys.stderr)
    failed = len(problems) + len(errors)

    attempted = sum(len(p.ops) for p in passes) + len(errors)
    warm = passes[1:]
    if not warm:
        raise NotMeasured(errors[0].strip().splitlines()[-1] if errors
                          else "no pass ran")
    if args.trace:
        metrics = layer_metrics(wl, tracer, passes, start_s, counts,
                                harness.read_event_log(event_dir))
        names = PER_LAYER
    else:
        metrics = end_to_end(wl, passes, setup_s, rss)
        names = END_TO_END
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": names[k][0]}
                    for k in names},
    }
    sha, dirty = harness.git_state()
    detail = {"detail": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "size": args.size,
        "provenance": {"git_sha": sha, "dirty": dirty,
                       "source_sha": harness.source_sha(),
                       "nproc": harness.nproc(),
                       "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                       "python": sys.version.split()[0]},
        "inputs": {"rows": wl.info["rows"], "bytes": wl.info["bytes"],
                   "total_rows": wl.input_rows,
                   "total_bytes": wl.input_bytes},
        "storage": {
            "storage_memory_bytes": storage_mem,
            "max_staged_bytes": max(p.staged_bytes for p in passes),
            "persisted_rdds_at_pass_start": [p.persisted_at_start
                                             for p in passes]},
        "failed_frac": failed / max(1, attempted),
        "problems": problems[:20],
        "passes": [round(p.seconds, 4) for p in passes],
        "first_pass_ops_s": {op: round(s, 4) for op, s in passes[0].ops},
        "warm_op_median_s": {
            op: round(harness.median([s for p in warm
                                      for o, s in p.ops if o == op]), 4)
            for op, _ in passes[0].ops},
        "warm_ops": sum(len(p.ops) for p in warm),
        "warm_s": round(sum(p.seconds for p in warm), 4),
        "check_s": round(check_s, 4),
    }}
    return result, detail


def end_to_end(wl, passes, setup_s: float, rss: float) -> dict:
    warm = passes[1:]
    pass_s = harness.median([p.seconds for p in warm])
    return {
        "setup_s": setup_s,
        "first_pass_s": passes[0].seconds,
        "pass_s": pass_s,
        "rows_per_s": wl.input_rows / pass_s,
        "jvm_peak_rss_mb": rss,
    }


def layer_metrics(wl, tracer, passes, start_s, counts, groups) -> dict:
    """Per-layer metrics: medians over the traced warm passes, except the
    first-pass ones (from the traced cold pass 0) and per-run counts."""
    traced = [n for n, p in enumerate(passes) if p.traced and n > 0]
    untraced = [p.seconds for n, p in enumerate(passes)
                if n > 0 and not p.traced]

    def med(f):
        return harness.median([f(n) for n in traced])

    def layer(name):
        return med(lambda n: tracer.layer_seconds(n, name))

    def group(n, prefix=""):
        return harness.group_totals(groups, n, prefix)

    def spark_sum(key):
        return med(lambda n: group(n)[key])

    task_s = spark_sum("task_ms") / 1000.0
    delta_alone = counts.get("delta_alone_bytes", 0)
    m = {
        "session.start_s": start_s,
        # the untraced warm passes: the program's own commands only
        "session.py4j_calls": harness.median(
            [tracer.py4j[n] for n, p in enumerate(passes)
             if n > 0 and not p.traced]),
        "plans.build_s": layer("plans.build"),
        "plans.first_build_s": tracer.layer_seconds(0, "plans.build"),
        "plans.optimize_s": layer("plans.optimize"),
        "sources.shred_s": layer("sources.shred"),
        "sources.records_out": med(
            lambda n: tracer.counts[n]["records_out"]),
        "sources.upsert_s": layer("sources.upsert"),
        "sources.bytes_written": med(
            lambda n: group(n, "sources.upsert")["output_bytes"]),
        "sources.write_amp": (med(
            lambda n: group(n, "sources.upsert|delta")["output_bytes"])
            / delta_alone) if delta_alone else 0.0,
        "pipeline.clean.self_s": layer("pipeline.clean"),
        "pipeline.match.self_s": layer("pipeline.match"),
        "pipeline.match.llm_band_rows": med(
            lambda n: tracer.counts[n]["llm_band_rows"]),
        "pipeline.match.python_s": med(
            lambda n: group(n, "pipeline.match")["python_ms"]) / 1000.0,
        "pipeline.marts.self_s": layer("pipeline.marts"),
        "operators.audit.self_s": layer("operators.audit"),
        "operators.audit.jobs": med(
            lambda n: group(n, "operators.audit")["jobs"]),
        "operators.ann.builder_jobs": group(
            0, "plans.build|ann_approx")["jobs"],
        "operators.staging.staged_bytes": med(
            lambda n: passes[n].staged_bytes),
        "operators.staging.persisted_rdds": max(
            p.persisted_at_start for p in passes),
        "spark.jobs": spark_sum("jobs"),
        "spark.stages": spark_sum("stages"),
        "spark.task_s": task_s,
        "spark.core_util": task_s / (harness.nproc() * med(
            lambda n: passes[n].seconds)),
        "spark.shuffle_read_bytes": med(
            lambda n: group(n)["remote_read_bytes"]
            + group(n)["local_read_bytes"]),
        "spark.shuffle_write_bytes": spark_sum("shuffle_write_bytes"),
        "spark.spill_bytes": spark_sum("disk_spill_bytes"),
        "spark.gc_s": spark_sum("gc_ms") / 1000.0,
        "spark.input_bytes": spark_sum("input_bytes"),
        "trace.overhead_frac": (
            med(lambda n: passes[n].seconds) / harness.median(untraced)
            - 1.0),
    }
    for op_layer in ("dedup", "ann", "retrieval", "quality", "textstats"):
        m[f"operators.{op_layer}.self_s"] = layer(f"operators.{op_layer}")
    for k in ("pipeline.match.candidate_pairs",
              "pipeline.match.accept_ratio",
              "operators.dedup.candidate_pairs",
              "operators.dedup.planted_recall"):
        m[k] = float(counts.get(k, 0.0))
    return {k: float(v) for k, v in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    root, package = harness.ROOT, harness.PACKAGE
    if not os.path.isfile(os.path.join(root, package, "__init__.py")):
        return refuse(f"package {package} not found next to {HERE}")
    if not os.path.isfile(os.path.join(root, "tests", "conftest.py")):
        return refuse("tests/conftest.py (the oracle comparator) not found")
    sys.path.insert(0, root)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        result, detail = measure(args, work)
    except NotMeasured as e:
        return refuse(f"no warm pass completed: {e}")
    except Exception as e:
        traceback.print_exc()
        return refuse(f"run failed: {type(e).__name__}: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
