"""Session lifetime, storage state, tracing and provenance for the benchmark.

Nothing here starts a process or touches the filesystem at import time:
``run.py`` calls ``configure_env`` first, then ``launch`` and the rest.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "australia_company_etl_pipeline_spark"


# ---------------------------------------------------------------------------
# Machine sizing
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A quarter of physical memory, between 1 and 8 GiB: the local[]
    driver JVM holds every task, so it gets the whole Spark heap, and the
    rest of the machine stays free for Python workers and the page cache.
    (The package's own default, 16g with -Xms16g, assumes a 128 GiB rig.)
    """
    mib = mem_total_bytes() // 4 // (1 << 20)
    return f"{max(1024, min(8192, mib))}m"


def configure_env(work: str) -> None:
    """Point every temp/local directory the run uses inside ``work`` and
    size the session, before the first JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp       # Python tempfile, incl. index caches
    import tempfile
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp}")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_heap()
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # Python workers import the package (the stub-LLM pandas_udf)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable


# ---------------------------------------------------------------------------
# Session lifetime
# ---------------------------------------------------------------------------

def launch(work: str, event_log_dir: str | None = None):
    """Start a session through the package's ``get_spark`` on a fresh JVM.
    Returns (spark, seconds)."""
    from australia_company_etl_pipeline_spark import session

    java_opts = (session._DEFAULTS["spark.driver.extraJavaOptions"]
                 + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
                 + " -XX:-UsePerfData")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=conf)
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def shutdown(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit
    (the gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM (peak resident set) of the driver JVM, in MiB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/<jvm>/status")


# ---------------------------------------------------------------------------
# Storage state between passes
# ---------------------------------------------------------------------------

def release_storage(spark) -> None:
    """Release every operator staging cache the package keeps, then run a
    Python and a JVM GC so Spark's ContextCleaner can free frames nobody
    references any more."""
    from australia_company_etl_pipeline_spark.operators import (
        cluster, dedup, lm, retrieval, temporal)
    from australia_company_etl_pipeline_spark.pipeline import corpus

    dedup.unpersist_shingles()
    retrieval.unpersist_postings()
    lm.unpersist_lm()
    cluster.unpersist_cluster()
    temporal.unpersist_temporal()
    corpus.release_corpus_cache()
    gc.collect()
    spark._jvm.System.gc()


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def staged_bytes(spark) -> int:
    """Bytes held by persisted RDDs, in memory and on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return int(sum(i.memSize() + i.diskSize() for i in infos))


def storage_memory_bytes(spark) -> int:
    """Spark storage memory available to the (single, local) executor."""
    status = spark.sparkContext._jsc.sc().getExecutorMemoryStatus()
    it = status.valuesIterator()
    total = 0
    while it.hasNext():
        total += int(it.next()._1())
    return total


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------

class Tracer:
    """Per-layer spans for traced passes.

    A span ``<layer>|<detail>`` tags every Spark job it starts with the
    job group ``p<pass>|<layer>|<detail>`` (read back from the event log
    after the session stops) and records its self time. Spans are no-ops
    in untraced passes, so untraced passes run exactly the code of an
    untraced run. py4j commands are counted in every pass; only the
    untraced passes' counts are the program's own traffic (a span sends
    job-group commands of its own).
    """

    def __init__(self) -> None:
        self.spark = None
        self.pass_no: int | None = None      # None: not tracing
        self.counting: int | None = None     # the pass py4j counts go to
        # self seconds per span name, per pass
        self.seconds: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.counts: dict[int, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        self.py4j: dict[int, int] = defaultdict(int)
        self._stack: list[list] = []
        self._install_py4j_counter()

    @property
    def active(self) -> bool:
        return self.pass_no is not None

    def _install_py4j_counter(self) -> None:
        from py4j.java_gateway import GatewayClient

        if getattr(GatewayClient, "_perfbench_tracer", None) is not None:
            GatewayClient._perfbench_tracer = self
            return
        orig = GatewayClient.send_command

        def send_command(client, *args, **kwargs):
            tracer = GatewayClient._perfbench_tracer
            if tracer.counting is not None:
                tracer.py4j[tracer.counting] += 1
            return orig(client, *args, **kwargs)

        GatewayClient.send_command = send_command
        GatewayClient._perfbench_tracer = self

    @contextmanager
    def traced_pass(self, spark, pass_no: int, on: bool):
        self.spark = spark
        self.pass_no = pass_no if on else None
        self.counting = pass_no
        try:
            yield
        finally:
            self.pass_no = self.counting = None

    @contextmanager
    def span(self, name: str):
        """Time ``name`` (``<layer>|<detail>``) and tag its jobs. Spans
        nest: a span's self time excludes its child spans, and the
        enclosing span's tag is restored on exit."""
        if not self.active:
            yield
            return
        sc = self.spark.sparkContext
        p = self.pass_no
        frame = [f"p{p}|{name}", 0.0]    # [job group, child seconds]
        self._stack.append(frame)
        sc.setJobGroup(frame[0], name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            took = time.perf_counter() - t0
            self.seconds[p][name] += took - frame[1]
            self._stack.pop()
            if self._stack:
                self._stack[-1][1] += took
                sc.setJobGroup(self._stack[-1][0], self._stack[-1][0])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def layer_seconds(self, pass_no: int, layer: str) -> float:
        """Self seconds of every span of ``layer`` in one pass."""
        return sum(v for k, v in self.seconds[pass_no].items()
                   if k.split("|", 1)[0] == layer)

    def count(self, name: str, value: float) -> None:
        if self.active:
            self.counts[self.pass_no][name] += value


# Spark task metrics summed per job group, from the event log.
_TASK_SUMS = {
    "task_ms": ("Executor Run Time",),
    "gc_ms": ("JVM GC Time",),
    "input_bytes": ("Input Metrics", "Bytes Read"),
    "output_bytes": ("Output Metrics", "Bytes Written"),
    "shuffle_write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "remote_read_bytes": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "local_read_bytes": ("Shuffle Read Metrics", "Local Bytes Read"),
    "disk_spill_bytes": ("Disk Bytes Spilled",),
}
_PY_WORKER_ACC = "time to run Python workers"


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """{job group: {"jobs", "stages" (that ran), task metric sums,
    "python_ms"}} for every job group found in the (single, uncompressed)
    event log under ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    with open(files[0], encoding="utf-8") as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if not group:
                    continue
                groups[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(e["Stage Info"]["Stage ID"])
                if group is not None:
                    groups[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                g = groups[group]
                m = e.get("Task Metrics") or {}
                for name, path in _TASK_SUMS.items():
                    v = m
                    for key in path:
                        v = v.get(key, 0) if isinstance(v, dict) else 0
                    g[name] += v or 0
                for acc in (e.get("Task Info") or {}).get("Accumulables",
                                                          ()):
                    if acc.get("Name") == _PY_WORKER_ACC:
                        g["python_ms"] += float(acc.get("Update") or 0)
    return groups


def group_totals(groups: dict[str, dict[str, float]], pass_no: int,
                 layer_prefix: str = "") -> dict[str, float]:
    """Sum the job-group totals of one pass (optionally one layer)."""
    out: dict[str, float] = defaultdict(float)
    prefix = f"p{pass_no}|{layer_prefix}"
    for name, g in groups.items():
        if name.startswith(prefix):
            for k, v in g.items():
                out[k] += v
    return out


# ---------------------------------------------------------------------------
# Provenance
# ---------------------------------------------------------------------------

def source_sha() -> str:
    """sha256 over the package's and the benchmark's Python sources — an
    identity for the measured code that works without a git checkout."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), os.path.dirname(__file__)):
        for dirpath, dirs, files in os.walk(top):
            dirs[:] = sorted(d for d in dirs if not d.startswith("."))
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_state() -> tuple[str | None, bool | None]:
    """(sha, dirty) of the checkout, or (None, None) outside a git work
    tree. Git is not allowed to search above the checkout."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=30)
        if sha.returncode != 0:
            return None, None
        st = subprocess.run(["git", "status", "--porcelain",
                             "--untracked-files=no"], cwd=ROOT, env=env,
                            capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None, None
    return sha.stdout.strip(), bool(st.stdout.strip())


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class PassResult:
    seconds: float
    traced: bool
    ops: list[tuple[str, float]] = field(default_factory=list)
    failed: int = 0
    persisted_at_start: int = 0
    staged_bytes: int = 0
    ended: float = 0.0          # perf_counter at the end of the pass
