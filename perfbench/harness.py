"""Measurement plumbing shared by the workloads: session sizing, host
fingerprint, process CPU and memory probes, JVM GC time, Spark job/task counts and
the span tracer.  Nothing here reaches into the package under test; every
number is read from outside it (``/proc``, JMX over py4j, Spark's status
tracker)."""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

#: driver heap the benchmark gives the session, whatever the package default.
#: The package asks for 16g with -Xms = -Xmx and AlwaysPreTouch, which cannot
#: start on a host with less free memory than that and no swap.
HEAP_MB = 1024
#: at least this many samples must lie beyond a percentile before it is
#: reported (the p50 is always reported)
MIN_TAIL_SAMPLES = 10


# --- session sizing and host fingerprint ----------------------------------


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb_for_host(mem_mb: int) -> int:
    """HEAP_MB, or a quarter of physical memory on a smaller host (rounded
    down to 256 MB, at least 512 MB)."""
    return max(512, min(HEAP_MB, (mem_mb // 4) // 256 * 256))


def configure_session_env(work_dir: str) -> dict:
    """Set the session's environment before the JVM starts: heap size,
    core count, Spark scratch dirs, and temp/crash-log paths, all kept under
    ``work_dir``.  Returns the settings for the fingerprint."""
    cpus = len(os.sched_getaffinity(0))
    heap = heap_mb_for_host(mem_total_mb())
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    settings = {
        "SPARK_DRIVER_MEMORY": f"{heap}m",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        # Python's tempfile (py4j connection file) and the JVM's temp files
        # and crash logs stay inside the work dir; -UsePerfData keeps the
        # JVM from writing its counters file under /tmp
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} "
            f"-XX:ErrorFile={os.path.join(work_dir, 'hs_err_pid%p.log')} "
            "-XX:-UsePerfData"
        ),
    }
    os.environ.update(settings)
    return settings


def load_average() -> list[float]:
    return [float(x) for x in os.getloadavg()]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_usage(before: list[int], after: list[int]) -> dict:
    """Busy cores (everything but idle and iowait, all processes on the
    host) and the share of CPU time the hypervisor stole between two
    ``cpu_ticks`` readings.  Steal inflates every wall-time metric."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return {
        "busy_cores": round(len(os.sched_getaffinity(0)) * (total - d[3] - d[4]) / total, 3),
        "steal_frac": round(d[7] / total, 4),
    }


def host_fingerprint(settings: dict) -> dict:
    return {
        "cores": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "heap": settings["SPARK_DRIVER_MEMORY"],
        "spark_cpus": int(settings["SPARK_GRAFT_CPUS"]),
        "load_before": load_average(),
    }


# --- process probes --------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may contain spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"  # a zombie has exited


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (children, grandchildren, ...)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class ProcessProbe:
    """CPU seconds of the Python driver plus the JVM and every live process
    under it (the Python workers).

    CPU = driver (user + system) + for the JVM and each live descendant
    (user + system + reaped children's user + system).  A worker that exits
    is reaped by its parent, so its time moves into the parent's reaped
    counters and the sum stays continuous.

    The JIT compiler threads' share is read as well.  It stays in the CPU
    total: JIT and the work it compiles trade places (a lifecycle whose
    code compiled late spends more CPU interpreting), so the total is the
    steadier figure.  Compiler threads come and go; each one's last reading
    is kept, so the JIT total never falls when a thread exits."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._jit_by_tid: dict[str, float] = {}

    def _jit_total(self) -> float:
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:  # the thread ended between listing and reading
                continue
            # thread names: "C1 CompilerThread0", "C2 CompilerThread1", ...
            if "CompilerThre" in raw[raw.index("(") + 1 : raw.rindex(")")]:
                fields = raw[raw.rindex(")") + 2 :].split()
                self._jit_by_tid[tid] = (int(fields[11]) + int(fields[12])) / _TICK
        return sum(self._jit_by_tid.values())

    def cpu_seconds(self) -> float:
        t = os.times()
        total = t.user + t.system
        for pid in [self.jvm_pid, *descendants(self.jvm_pid)]:
            fields = _stat_fields(pid)
            if fields is not None:
                # utime, stime, cutime, cstime are fields 14-17 of stat
                total += sum(int(x) for x in fields[11:15]) / _TICK
        return total

    def sample(self) -> tuple[float, float]:
        """(CPU, of which JIT compiler threads) seconds so far."""
        return self.cpu_seconds(), self._jit_total()


def snapshot_before_jvm() -> dict:
    """Counters at a moment before the JVM exists: its CPU and GC are 0."""
    t = os.times()
    return {
        "t": time.perf_counter(),
        "cpu": t.user + t.system,
        "driver_cpu": time.process_time(),
        "gc": 0.0,
    }


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_seconds(spark) -> float:
    """Accumulated collection time of every JVM garbage collector (JMX)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def group_stats(spark, group: str) -> tuple[int, int, float]:
    """(jobs, completed tasks, task seconds) Spark holds for a job group.
    Task seconds are the tasks' summed executor run time (the status
    store's ``executorRunTime`` of each stage's last attempt): the bulk
    work the group did, as opposed to driver-side planning."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group) or []
    tasks, run_ms = 0, 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            stage = tracker.getStageInfo(sid)
            tasks += stage.numCompletedTasks if stage else 0
            try:
                run_ms += store.lastStageAttempt(sid).executorRunTime()
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                pass
    return len(jobs), tasks, run_ms / 1000.0


# --- memory --------------------------------------------------------------


def _heap_pools(spark) -> list:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_heap_peak(spark) -> None:
    for pool in _heap_pools(spark):
        pool.resetPeakUsage()


def heap_peaks_mb(spark) -> dict[str, float]:
    """Each heap pool's peak use since ``reset_heap_peak`` (JMX
    ``MemoryPoolMXBean``), by pool name."""
    return {str(p.getName()): p.getPeakUsage().getUsed() / 2**20 for p in _heap_pools(spark)}


def retained_heap_peak_mb(peaks: dict[str, float]) -> float:
    """Summed peaks of the heap pools that outlive a young collection
    (survivor and old).  Eden is left out: it fills to the size the
    collector gives it between young collections, whatever the program
    allocates, so its peak measures the collector's sizing."""
    return sum(mb for name, mb in peaks.items() if "Eden" not in name)


def heap_committed_mb(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20


def _vm_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:  # exited, or a zombie
        return None


class RssSampler:
    """Peak, over the timed part, of the resident memory the program uses
    beyond the JVM heap: Python driver + JVM + Python workers, minus the
    committed heap.  The session pins the heap (-Xms = -Xmx) and pre-touches
    it, so the whole heap is resident from JVM start and would otherwise
    hide every change below its size; heap use is ``heap_peaks_mb``.

    The Python workers are forked from one daemon and share its pages, so
    each is counted by its proportional share (Pss), not its RSS, which
    would count the shared pages once per worker.  A child the JVM is
    spawning shares the JVM's address space until it runs its own program
    and would count the whole JVM again; children still running the JVM's
    executable are skipped.  Samples every
    ``interval_s`` on a thread of its own; ``peak_parts`` keeps the
    breakdown of the peak sample."""

    def __init__(self, jvm_pid: int, heap_mb: float, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.heap_mb = heap_mb
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._jvm_exe = _exe(jvm_pid)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> float:
        workers = [p for p in descendants(self.jvm_pid) if _exe(p) not in (None, self._jvm_exe)]
        parts = {
            "driver": _vm_rss_kb(os.getpid()) / 1024.0,
            "jvm": _vm_rss_kb(self.jvm_pid) / 1024.0 - self.heap_mb,
            "workers": sum(_pss_kb(p) for p in workers) / 1024.0,
            "n_workers": len(workers),
        }
        mb = parts["driver"] + parts["jvm"] + parts["workers"]
        if mb > self.peak_mb:
            self.peak_mb, self.peak_parts = mb, parts
        return mb

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_mb


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, shut down the py4j gateway and wait until the JVM and
    every process it started have exited (killing stragglers at the
    timeout)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    root = jvm_pid(spark)
    pids = [root, *descendants(root)]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
                if time.monotonic() > deadline + 5.0:
                    raise RuntimeError(f"process {pid} outlived the session")
            time.sleep(0.05)


# --- statistics ----------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def reportable_percentiles(n: int) -> list[float]:
    """Percentiles that may be reported for ``n`` samples: the median, plus
    each of p90/p99/p99.9 only when at least MIN_TAIL_SAMPLES samples lie
    beyond it."""
    out = [50.0] if n >= 1 else []
    # (percentile, samples beyond it per 1000), exact in integers
    for p, tail in ((90.0, 100), (99.0, 10), (99.9, 1)):
        if n * tail >= MIN_TAIL_SAMPLES * 1000:
            out.append(p)
    return out


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return float(s[k])


# --- tracing ---------------------------------------------------------------


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


class Tracer:
    """Spans around calls into the package's layers, kept in memory.

    Disabled (the untraced run), ``span`` only yields.  Enabled, each span
    records wall time, CPU (ProcessProbe), JVM GC time, and the Spark jobs,
    tasks and task seconds it launched: the span runs under its own job group, and the
    thread's previous group is restored afterwards, so a span opened inside
    a streaming micro-batch hands the scheduler's group back intact."""

    def __init__(self, spark, probe: ProcessProbe, run_id: str, enabled: bool):
        self.spark = spark
        self.probe = probe
        self.run_id = run_id
        self.enabled = enabled
        #: recorded on each span: "setup" (session start, inputs, warm-up)
        #: or "measure" (the timed operations)
        self.phase = "setup"
        self.spans: list[dict] = []
        #: seconds spent in the tracer's own bookkeeping (job groups,
        #: probes, status-tracker reads), all threads: its overhead
        self.bookkeeping_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    @contextmanager
    def span(self, name: str, parent: dict | None = None, since: dict | None = None):
        """Yield the span record (or None when disabled).  ``parent``
        defaults to the innermost open span of this thread.  ``since``
        backdates the start to a ``snapshot_before_jvm()`` taken before the
        session existed.  A caller may put a ``_groups`` list on the record
        to charge further job groups to it (a streaming slot's micro-batch
        groups)."""
        if not self.enabled:
            yield None
            return
        t_enter = time.perf_counter()
        sc = self.spark.sparkContext
        stack = self._local.__dict__.setdefault("stack", [])
        parent = parent if parent is not None else (stack[-1] if stack else None)
        rec = {
            "id": self._new_id(),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "phase": self.phase,
        }
        group = f"perfbench-{self.run_id}-{rec['id']}"
        old_group = sc.getLocalProperty("spark.jobGroup.id")
        old_desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(group, name)
        if since is None:
            since = {
                "t": None,
                "cpu": self.probe.cpu_seconds(),
                "driver_cpu": time.process_time(),
                "gc": jvm_gc_seconds(self.spark),
            }
        stack.append(rec)
        rec["start"] = time.perf_counter() if since["t"] is None else since["t"]
        entry_s = time.perf_counter() - t_enter
        try:
            yield rec
        finally:
            rec["end"] = t_exit = time.perf_counter()
            stack.pop()
            rec["cpu_s"] = self.probe.cpu_seconds() - since["cpu"]
            rec["driver_cpu_s"] = time.process_time() - since["driver_cpu"]
            rec["gc_s"] = jvm_gc_seconds(self.spark) - since["gc"]
            if old_group is not None:
                sc.setJobGroup(old_group, old_desc or "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            jobs, tasks, task_s = group_stats(self.spark, group)
            for g in rec.pop("_groups", ()):
                j, t, ts = group_stats(self.spark, g)
                jobs, tasks, task_s = jobs + j, tasks + t, task_s + ts
            rec["own_jobs"], rec["own_tasks"], rec["own_task_s"] = jobs, tasks, task_s
            with self._lock:
                self.spans.append(rec)
                self.bookkeeping_s += entry_s + time.perf_counter() - t_exit

    def finish(self) -> None:
        """Fill inclusive job/task counts, task seconds and self time into
        every span."""
        by_parent: dict[int, list[dict]] = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def inclusive(s):
            j, t, ts = s["own_jobs"], s["own_tasks"], s["own_task_s"]
            for c in by_parent.get(s["id"], []):
                cj, ct, cts = inclusive(c)
                j, t, ts = j + cj, t + ct, ts + cts
            s["jobs"], s["tasks"], s["task_s"] = j, t, ts
            return j, t, ts

        for s in by_parent.get(None, []):
            inclusive(s)
        selfs = self_times(self.spans)
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
            s["self_s"] = selfs[s["id"]]
