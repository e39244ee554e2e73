"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` (single JVM); the configs below are chosen so
the same logical plans scale to a multi-executor cluster: AQE on (runtime
coalesce + skew-join handling), shuffle partitions sized to cores locally
(cluster deployments override via ``spark.sql.shuffle.partitions``), Arrow on
for the few Pandas-UDF paths, UTC session timezone (the reference normalizes
everything tz-naive; SURVEY §1.2).  The driver JVM's heap is pinned and
pre-touched, and its C2 (tier-4) compile thresholds are raised by
``JIT_TIER4_SCALE`` so C2 compiles only code that runs hot.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Native-allocator steady state for the Python workers (the twin of the
# JVM Xms/AlwaysPreTouch pin below, on the C-heap side).  Two measured
# pathologies on virtualized hosts (r15, OPTIMIZATION_r15.md §1b):
#
# * glibc serves any allocation above M_MMAP_THRESHOLD (default 128 KB,
#   dynamic cap 32 MB) with a fresh mmap and RETURNS it to the OS on
#   free — so every Arrow batch / numpy kernel scratch buffer is
#   first-touch page-faulted again on EVERY batch.  Measured on the r15
#   box: touching a fresh 50 MB buffer cost 1-64 s under host memory
#   contention vs 0 ms once the arena recycles it (microbench in
#   OPTIMIZATION_r15.md).  Raising the threshold keeps big-but-bounded
#   scratch in the arena (reused, never unmapped); the trim threshold
#   stops the arena itself from being shaved back between batches.
#   Peak RSS is unchanged — the worker keeps only its own high-water.
#
# * pyarrow's DEFAULT memory pool is jemalloc, whose decay purge gives
#   batch buffers back via MADV_FREE — same refault churn (measured:
#   35 s -> 66 ms across five 50 MB allocations while the system pool
#   sat at ~30 ms flat).  "system" routes Arrow through the (now tamed)
#   glibc arena and is available in every pyarrow build.
#
# Set via os.environ BEFORE the JVM launches so the local-mode Python
# workers (forked from the JVM-spawned daemon) inherit them; the
# spark.executorEnv.* twins below carry the same values to cluster
# executors.  These are defaults only (``os.environ.setdefault``): a
# value already exported under the variable's own name wins, and any
# sane setting beats the default unmap-and-refault churn.
_NATIVE_ALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": str(512 * 1024 * 1024),
    "MALLOC_TRIM_THRESHOLD_": str(1024 * 1024 * 1024),
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


#: ceiling of the default driver heap (the r15 calibration heap)
_MAX_DEFAULT_HEAP_MB = 16 * 1024
#: share of the host's memory (or of the cgroup limit) the default heap
#: takes: the heap is pre-touched below, and the Python workers, the
#: JVM's off-heap and the OS page cache need the rest
_HEAP_SHARE = 0.6

#: Spark's generated-code cache (``CodeGenerator``'s LRU of compiled
#: classes).  Spark's default of 100 entries is smaller than one pass of
#: the six flagship/zscore/CUSUM plain+twin queries (191 classes), so
#: every re-run of a plan in a session paid Janino and JIT compilation
#: again.  Census (``tools/codegen_census.py``: all 142 registered
#: queries at sf0.001, twice in one session; BASELINE.md "Generated-code
#: census"): the working set is about 2,070 classes; the second sweep
#: compiled 2,840 classes at the default size and 87 at this one, and
#: Metaspace fell from 235 to 214 MB (evicted classes were generated and
#: loaded again).  About 2x the working set leaves headroom for callers'
#: own plans.  Static conf: it takes effect only in a new JVM.
CODEGEN_CACHE_ENTRIES = 4096

#: JDK 17's defaults for the tier-4 (C2) compile thresholds
_TIER4_DEFAULTS = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}
#: How much later than the JDK default the driver JVM hands a method to
#: C2.  The engine's work is bound by plans, not by bulk data: planner,
#: optimizer and AQE code runs thousands of times per plan, not millions,
#: so at the default thresholds C2 spends most of its effort on code that
#: never pays the compile back.  Census (BASELINE.md "Generated-code
#: census", JIT subsection): over a sweep of the registered queries the
#: C2 threads used 38 % of the JVM's CPU, six times C1; in one cold
#: train/evaluate lifecycle of the benchmark the JIT threads used 27.6
#: of 62.4 CPU seconds.  At 5x, C2's CPU in the sweep fell by 44 %.
#: Bulk loops cross even a 10x back-edge threshold within milliseconds,
#: so they still reach C2.  C1 (tiers 1-3) keeps its defaults: C1 alone
#: runs bulk aggregates and windows 3-5x slower.  5, not 10: at 10 the
#: cold first pass over a query set ran about 15 % longer (hot code stays
#: in profiled tier-3 code longer), at 5 it did not.
JIT_TIER4_SCALE = 5
JIT_TIER4_THRESHOLDS = {k: v * JIT_TIER4_SCALE for k, v in _TIER4_DEFAULTS.items()}


def _host_memory_bytes() -> int | None:
    """Memory this process may use: MemTotal, capped by a cgroup (v2 or
    v1) memory limit when one is set.  None when neither is readable."""
    limits = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limits.append(int(line.split()[1]) * 1024)
                    break
    except OSError:
        pass
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limits.append(int(raw))
    return min(limits) if limits else None


def default_driver_memory(host_bytes: int | None = None) -> str:
    """Driver heap when ``SPARK_DRIVER_MEMORY`` is unset: min(16g, 0.6 x
    the host's memory or cgroup limit), in MiB.  The heap is pinned and
    pre-touched at launch, so asking for more than the host has kills
    the JVM before any work (``mmap ... failed``)."""
    if host_bytes is None:
        host_bytes = _host_memory_bytes()
    if host_bytes is None:
        return f"{_MAX_DEFAULT_HEAP_MB}m"
    share_mb = int(host_bytes * _HEAP_SHARE) >> 20
    return f"{min(_MAX_DEFAULT_HEAP_MB, share_mb)}m"


def get_spark(app_name: str = "lookout_spark", cpus: int | None = None) -> SparkSession:
    """Return (or create) the engine's SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    for k, v in _NATIVE_ALLOC_ENV.items():
        os.environ.setdefault(k, v)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        # Pin the heap (Xms = Xmx) and fault every page in at JVM start
        # (AlwaysPreTouch).  Without this, any full GC (the bench harness
        # fires one between queries; long-lived engines see them
        # periodically) lets G1 UNCOMMIT the heap back toward the default
        # Xms (~2 GB), and the next query's allocations re-fault the
        # committed-then-released pages.  On virtualized hosts those
        # faults are kernel-side work — measured here at >90% system time
        # across all 32 cores for up to 30 s (r15 profiling:
        # bigram_lm_perplexity reps of 2 s vs 16-32 s in ONE session,
        # eliminated completely by this pin — OPTIMIZATION_r15.md §1).
        # One-time cost: the pre-touch itself at session start, OUTSIDE
        # any per-query timing.  Guide §5 (memory): steady-state heap for
        # a long-running engine; on a cluster the same flags go on the
        # executor JVMs.  The C2 thresholds ride along (JIT_TIER4_SCALE).
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch "
            + " ".join(f"-XX:{k}={v}" for k, v in JIT_TIER4_THRESHOLDS.items()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # cluster twin of the os.environ defaults above (no-op in local mode:
    # local workers inherit the driver process environment directly)
    for k, v in _NATIVE_ALLOC_ENV.items():
        builder = builder.config(f"spark.executorEnv.{k}", os.environ.get(k, v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
