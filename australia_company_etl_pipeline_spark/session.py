"""SparkSession factory tuned for scale-out execution.

Mirrors the intent of the reference's session builder
(``/root/reference/src/common/spark_session.py:99-203``) but drops its
anti-patterns: we *require* Arrow (the reference silently fell back to
row-based exchange, ``rawlog.txt:181-183``), enable AQE skew-join handling,
and size shuffle partitions from the local core count instead of a fixed 200.

On a real cluster none of the local[] bits apply — the factory only fills in
defaults when no master is configured, so ``spark-submit --master yarn`` etc.
override cleanly.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for local[32] / 128 GiB test rig; on a cluster the
# explicit spark-submit conf wins because we use .config() (not .set on a
# live context) and only when building a brand-new session.
_DEFAULTS = {
    # AQE: runtime re-planning — coalesce post-shuffle partitions, convert
    # sort-merge joins to broadcast when a side turns out small, split skewed
    # partitions. Essential at 100 TB where static planning guesses wrong.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas boundary. Required, not optional.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # 128m split targets keep scan tasks sized for executor memory at scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # spark.driver.memory is added in get_spark (read from
    # SPARK_GRAFT_DRIVER_MEM at CALL time, like cpu_count's knob —
    # an import-time read would freeze the value before a harness can
    # set the env var); see the comment there.
    # quieter local runs
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # JIT code cache sized for a long-lived whole-stage-codegen session
    # (r10): every distinct query compiles fresh generated classes, and
    # the JVM's default 240 MB ReservedCodeCacheSize fills after a few
    # dozen — the JVM then silently FLUSHES compiled methods, and a hot
    # 6M-iteration codegen loop that re-enters interpreted runs 20-50x
    # slow until recompiled. Measured on the bench workload: the
    # blocking-join query swung 3s → 48-208s run-to-run on an identical
    # final adaptive plan (CPU-bound in interpreted expression eval,
    # jstack-verified), and stabilized at 3-5s with this one flag.
    # Set on BOTH JVMs (r11): local mode's driver==executor masks the
    # gap, but on a real cluster whole-stage-codegen loops run in
    # EXECUTOR JVMs — leaving executors at the 240 MB default would
    # reintroduce the flush pathology exactly where the hot loops live.
    #
    # GC (r11): +UseParallelGC — the residual multi-second stall class
    # left after the r10 code-cache fix was adjudicated with in-stall
    # thread dumps + GC.heap_info (scripts/r11_stall_probe.py): G1's
    # pause-adaptive sizing collapses the young gen to a few regions
    # (measured 80 MB of a 29 GB heap, 5% used) after any full GC, and
    # the next allocation-heavy query — collection expressions like
    # array_intersect allocate per ROW — then runs 30x slow, fully
    # CPU-RUNNABLE, young-collecting every ~100 ms while G1 re-expands
    # by feedback. The throughput collector sizes generations from the
    # heap (young = 1/3) and holds them, which is the right trade for
    # a batch engine: measured on the 22-query rotation, total median
    # 76.0s -> 57.6s (-24%) and the stall class gone (worst rep of the
    # blocking join 100.3s -> 3.0s). G1 remains the better default for
    # latency-sensitive mixed services and very large (>64 GB) heaps —
    # override via extra_conf/spark-submit there. The driver line is
    # completed with -Xms in get_spark (a local[] driver otherwise
    # starts at a tiny initial heap and pays the growth; cluster
    # executors already get -Xms=-Xmx from Spark's launcher).
    "spark.driver.extraJavaOptions":
        "-XX:ReservedCodeCacheSize=512m -XX:+UseParallelGC",
    "spark.executor.extraJavaOptions":
        "-XX:ReservedCodeCacheSize=512m -XX:+UseParallelGC",
    # The second half of the same pathology: Spark's compiled-class
    # cache (source → loaded class) holds only 100 entries by default,
    # and a session rotating through the 22-query bench (~200+ distinct
    # codegen stages) evicts EVERY class every cycle — each repetition
    # then loads a fresh class and runs interpreted until the C2 queue
    # reaches it. With 100 entries an 8-query rotation was stable and
    # the 22-query rotation swung 4s → 110s on identical plans; at 3000
    # the full rotation holds 3-5s (whole-round total 138s → 83s). The
    # memory cost is class metadata only — compiled-code size is
    # already bounded by ReservedCodeCacheSize above.
    "spark.sql.codegen.cache.maxEntries": "3000",
    # Third half of the codegen-cache story (r11): the generated class
    # name embeds codegenStageId (GeneratedIteratorForCodegenStage<N>),
    # and the cache keys on the full source TEXT. Under AQE a folded
    # query's stage numbering depends on the order runtime re-planning
    # reaches each shuffle stage, which is nondeterministic across runs
    # with many concurrent branches — so an IDENTICAL code body gets a
    # different class name and misses the cache. Measured on the
    # 9-branch doc_search_bm25 fold: 66-80 fresh Janino compilations
    # (plus their class loads and C1/C2 JIT, 2.5-5.7s of background
    # compile) on EVERY rep at steady state; with the id out of the
    # class name, zero. Single-branch queries were already stable —
    # this only fires where AQE + plan width meet. The id is a
    # debugging nicety (SPARK-23032); stack traces still carry the
    # stage comment.
    "spark.sql.codegen.useIdInClassName": "false",
    # Driver-side API latency (r11): PySpark 4's DataFrame-debugging
    # layer wraps EVERY Column/DataFrame API call to capture the Python
    # call site for error enrichment — per call that is a
    # conf.get("spark.sql.stackTracesInDataFrameContext") py4j round
    # trip, a PySparkCurrentOrigin.set + .clear round-trip pair, and an
    # inspect-based stack walk. Measured on this rig: 1.31 ms/op -> 0.64
    # ms/op with it off, and the two widest folded builders' driver-side
    # construction dropped ~33% (corpus_filter_stats 9.6 -> 6.4 s,
    # doc_search_bm25 5.2 -> 3.6 s per build). The cost is error
    # messages losing the user-code line reference — the right trade
    # for a production engine whose queries are library-built; flip it
    # back on (extra_conf) when debugging a plan interactively.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # The url SQL templates (urls.py _sq) escape string literals for the
    # DEFAULT parser mode; a session flipped to the legacy
    # escapedStringLiterals=true would parse their regexes differently
    # and silently diverge from the DuckDB oracle's regexes (r11
    # advice). Pin the default explicitly so a stray spark-defaults.conf
    # can't flip it under the engine; pinned by
    # tests/test_session_conf.py.
    "spark.sql.parser.escapedStringLiterals": "false",
}


def cpu_count() -> int:
    """Local parallelism knob; the driver exports SPARK_GRAFT_CPUS."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _install_py4j_handle_cache() -> None:
    """Memoize py4j's reflection lookups (r11, guide §5 driver
    discipline: the driver's build latency is part of every query).

    Every PySpark ``F.<fn>(...)`` call resolves its JVM handle from
    scratch: ``getattr(sc._jvm, "org.apache.spark.sql.functions")`` is a
    py4j REFLECTION round trip (JVMView.__getattr__), and
    ``getattr(<functions class>, name)`` is a second one
    (JavaClass.__getattr__) — both answered by the same immutable
    JavaClass / static-JavaMember handles every time, yet re-fetched
    over the socket per call. The same pattern fires in
    ``_to_seq`` (``sc._jvm.PythonUtils``) under every varargs builder
    (concat/struct/select/groupBy). Measured on this rig: 4 round trips
    per simple column op, of which only ONE (the actual invocation)
    does new work.

    This patch caches, per JVMView / JavaClass INSTANCE, the successful
    class/package/static-member results of ``__getattr__`` in the
    instance ``__dict__``. Handles are stateless (name + gateway
    client), so reuse is exact; field-VALUE results are never cached
    (they can change); failures are never cached. Gateway restarts are
    safe by construction: a new JVM means new JVMView/JavaClass
    instances, whose caches start empty.

    This is metadata/handle memoization — the same class of fix as the
    catalog's parquet-schema cache — never data, never results.
    """
    from py4j.java_gateway import JavaClass, JavaMember, JavaPackage, JVMView

    if getattr(JVMView, "_acep_handle_cache", False):
        return

    orig_view_getattr = JVMView.__getattr__
    orig_class_getattr = JavaClass.__getattr__

    def view_getattr(self, name):
        cache = self.__dict__.setdefault("_acep_cache", {})
        hit = cache.get(name)
        if hit is not None:
            return hit
        out = orig_view_getattr(self, name)
        if isinstance(out, (JavaClass, JavaPackage)):
            cache[name] = out
        return out

    def class_getattr(self, name):
        cache = self.__dict__.setdefault("_acep_cache", {})
        hit = cache.get(name)
        if hit is not None:
            return hit
        out = orig_class_getattr(self, name)
        # JavaMember here is always a STATIC method handle; JavaClass a
        # nested class — both immutable. Anything else (static field
        # VALUE) must stay uncached.
        if isinstance(out, (JavaMember, JavaClass)):
            cache[name] = out
        return out

    JVMView.__getattr__ = view_getattr
    JavaClass.__getattr__ = class_getattr
    JVMView._acep_handle_cache = True


def contains_map_type(dtype) -> bool:
    """True when ``dtype`` is — or nests, at any depth — a ``MapType``.
    Map columns are neither orderable (``max``/``sort_array``/struct
    comparison) nor hashable (``F.hash``), so operators that build a
    deterministic row order from column values must route around them
    (``cap_per_key`` content hash, ``asof_join_bucketed`` summary)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return True
    if isinstance(dtype, ArrayType):
        return contains_map_type(dtype.elementType)
    if isinstance(dtype, StructType):
        return any(contains_map_type(f.dataType) for f in dtype.fields)
    return False


def materialize(df, checkpoint: str = "local"):
    """Materialize a frame and truncate its lineage — the loop-body step of
    iterative operators (connected components, k-means), whose plans would
    otherwise grow by two joins per round.

    ``checkpoint='local'`` — ``localCheckpoint``: executor-local blocks,
    fastest, but lost if an executor dies (fine on a stable rig; risky on
    preemptible/spot clusters). ``checkpoint='reliable'`` — reliable
    ``checkpoint()`` to the configured checkpoint dir (HDFS/object store):
    survives executor loss; call ``spark.sparkContext.setCheckpointDir``
    first.
    """
    if checkpoint == "local":
        return df.localCheckpoint(eager=True)
    if checkpoint == "reliable":
        sc = df.sparkSession.sparkContext
        if not sc.getCheckpointDir():
            raise ValueError(
                "checkpoint='reliable' needs a checkpoint directory: call "
                "spark.sparkContext.setCheckpointDir('<hdfs-or-local-path>')"
                " before running the operator")
        return df.checkpoint(eager=True)
    raise ValueError(
        f"unknown checkpoint mode {checkpoint!r}: use 'local' (fast, "
        f"executor-local) or 'reliable' (survives executor loss)")


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the session's Hadoop ``FileSystem`` —
    the ONLY correct way to ask "is this table there" for paths Spark
    reads/writes: a driver-local ``os.path.exists`` silently answers
    False for every non-local default FS (HDFS, object stores), which
    for an index-cache probe means rebuild-every-run and for a
    crash-recovery probe means never seeing the backup."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return bool(hpath.getFileSystem(conf).exists(hpath))


def replace_dir(spark: SparkSession, tmp: str, final: str) -> None:
    """Swap a freshly-written directory into place with Hadoop
    ``FileSystem.rename`` — the crash-safe alternative to
    ``mode('overwrite')`` on a path readers depend on (an in-place
    overwrite TRUNCATES the target before the new files land, so a
    crash mid-write destroys the table).

    Sequence: delete any stale ``<final>.__old`` from a prior crashed
    swap, rename ``final`` → ``<final>.__old``, rename ``tmp`` →
    ``final``, delete the backup. Each rename is atomic on HDFS and on
    POSIX local filesystems; the only crash window leaves BOTH the new
    data (at ``tmp``) and the old (at ``.__old``) intact on disk — a
    re-run or an operator recovers by hand, nothing is destroyed.
    (Object stores without atomic rename — raw S3 — need a committer or
    a table format instead; rename there is copy+delete.)

    Contract: DURABILITY for a single writer, not reader isolation.
    Between the two renames the path briefly does not exist (a reader
    starting in that window errors cleanly and retries), and a reader
    whose lazy scan already captured file paths under ``final`` fails
    mid-job if a swap lands under it — schedule swaps when no job is
    reading the table, or use a table format for snapshot isolation
    (see the README boundary note).
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(final).getFileSystem(conf)
    if not fs.exists(hpath(tmp)):
        # validate BEFORE touching final: discovering the missing tmp
        # only at its rename would strand the live table at .__old
        raise IOError(f"replace_dir: tmp dir {tmp} does not exist; "
                      f"{final} left untouched")
    old = hpath(final + ".__old")
    if fs.exists(old):
        fs.delete(old, True)
    if fs.exists(hpath(final)):
        if not fs.rename(hpath(final), old):
            raise IOError(f"rename {final} -> {final}.__old failed")
    if not fs.rename(hpath(tmp), hpath(final)):
        raise IOError(f"rename {tmp} -> {final} failed; previous data "
                      f"preserved at {final}.__old")
    fs.delete(old, True)
    # drop any cached file listing for the swapped path: a same-session
    # reader that listed the OLD files (InMemoryFileIndex caches per
    # path) would otherwise fail with FAILED_READ_FILE.FILE_NOT_EXIST —
    # or, worse on object stores, silently read the stale generation
    spark.catalog.refreshByPath(final)


def _parse_bytes(v: str) -> int:
    """Spark byte-conf values: plain ints or k/m/g-suffixed."""
    v = v.strip().lower().rstrip("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}.get(v[-1:], 1)
    return int(v[:-1] if mult > 1 else v) * mult


def ensure_min_partitions(df, target: int | None = None):
    """Repartition ONLY when the input arrived under-split.

    A small parquet scan on local[] lands as ONE split, serializing any
    pair-explosion work that follows; a real cluster scan is already many
    splits, where an unconditional ``repartition(cpu_count()*2)`` would be
    a pure-loss full shuffle (possibly *reducing* parallelism). Gate on
    an estimate of the scan's split count so the knob only fires on the
    degenerate case.

    The estimate comes from the input-file listing (Σ per-file
    ceil(size / maxPartitionBytes), locally statted). This deliberately
    avoids ``df.rdd.getNumPartitions()``, which forces a second physical
    planning of the frame (the RDD conversion plans once, the real action
    re-plans) — wasteful on catalog-heavy 100 TB plans.

    Conservative fallbacks (the gate only ever SKIPS its shuffle when
    unsure — a missed spread costs parallelism on one degenerate scan, a
    wrong full shuffle costs a pass over the data):
    - remote / unstattable file URIs have unknown sizes: a handful of
      multi-GB object-store files is ≥ target true splits, so when any
      size is unknown and the stattable floor hasn't reached the target,
      the repartition is skipped rather than guessed;
    - frames with NO file inputs are repartitioned only when their
      analyzed plan has no shuffle-producing operator (join / aggregate /
      sort / window / repartition / dedup). Driver-local relations — the
      case this gate serves — stay spread; a post-shuffle in-memory frame
      is already ``shuffle.partitions`` wide and is left alone.
    """
    target = target or cpu_count() * 2
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        max_bytes = _parse_bytes(df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728"))
        est, unknown = 0, False
        for uri in files:
            path = uri[len("file:"):] if uri.startswith("file:") else None
            if path and os.path.exists(path):
                est += max(1, -(-os.path.getsize(path) // max_bytes))
            else:
                unknown = True
            if est >= target:
                return df
        if unknown:
            return df
        return df.repartition(target)
    if _plan_has_shuffle_op(df):
        return df
    return df.repartition(target)


# Analyzed-plan node names that imply a shuffle (or an explicit
# partitioning) already widened the frame. Matched at NODE-HEAD
# position only — a raw substring scan would also hit attribute names
# the plan prints ('JoinDate', 'WindowStart'), making the gate skip the
# spread for exactly the driver-local frames it exists to fix. Still
# analyzed-plan-only (no physical planning); a residual false positive
# merely skips the spread, never adds a pure-loss shuffle.
_SHUFFLE_OP_RE = None  # compiled lazily; see _plan_has_shuffle_op


def _plan_has_shuffle_op(df) -> bool:
    global _SHUFFLE_OP_RE
    import re

    if _SHUFFLE_OP_RE is None:
        names = ("Join", "Aggregate", "Repartition", "Sort", "Window",
                 "Deduplicate", "Intersect", "Except")
        # tree lines look like ':  +- Aggregate [k], [count(1) ...]' —
        # anchor each marker to the start of a node label
        _SHUFFLE_OP_RE = re.compile(
            r"^[\s:+\-']*(?:" + "|".join(names) + r")\b", re.MULTILINE)
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    return bool(_SHUFFLE_OP_RE.search(plan))


def get_spark(app_name: str = "australia-company-etl-pipeline-spark",
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults."""
    _install_py4j_handle_cache()
    cpus = cpu_count()
    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_MASTER") and "SPARK_CONNECT_MODE_ENABLED" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    conf = dict(_DEFAULTS)
    # One shuffle partition per core locally; AQE coalesces further.
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    conf["spark.default.parallelism"] = str(cpus)
    # local[] runs the whole engine in the DRIVER JVM: 32 concurrent
    # tasks + 64m broadcast builds cannot live in Spark's 1g default
    # heap (bench hit notEnoughMemoryToBuildAndBroadcastTableError at
    # sf0.1). The default sizes for THIS 128 GiB rig — override with
    # SPARK_GRAFT_DRIVER_MEM on smaller machines; on a real cluster
    # submit with explicit --driver-memory/--executor-memory as usual
    # (and note the setting is inert if a JVM gateway already exists).
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "16g")
    if extra_conf:
        conf.update(extra_conf)
    # pre-commit the whole heap (-Xms == -Xmx): Spark's launcher does
    # exactly this for cluster executors; a local[] driver otherwise
    # starts small and the first allocation-heavy stages pay the
    # growth + the collector's resize churn (see the GC note above).
    # AFTER the extra_conf merge so -Xms tracks the FINAL driver
    # memory (an extra_conf that shrinks the heap must shrink -Xms
    # with it — -Xms > -Xmx aborts the JVM); a caller-supplied -Xms
    # wins untouched.
    if "-Xms" not in conf.get("spark.driver.extraJavaOptions", ""):
        conf["spark.driver.extraJavaOptions"] = (
            conf.get("spark.driver.extraJavaOptions", "")
            + " -Xms" + conf["spark.driver.memory"]).strip()
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
