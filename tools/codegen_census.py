"""Generated-code census: how many classes the registered queries compile,
and how many a second sweep in the same session compiles again.

Runs every registered query (or the names given) twice in one session,
each built and drained through the noop sink as ``bench.py`` drains it,
and prints one JSON line:

* ``sweep1`` / ``sweep2``: classes compiled by each sweep (Spark's
  ``CodegenMetrics`` compilation histogram, one sample per class);
* ``churn``: per-query recompiles in the second sweep, largest first
  (a plan that builds new code on every run, e.g. an inlined literal);
* ``metaspace_mb``: JVM Metaspace in use after both sweeps;
* ``cache_entries``: the session's ``spark.sql.codegen.cache.maxEntries``;
* ``jit_cpu_s``: per sweep, the CPU seconds (user + system) of the JVM's
  JIT compiler threads grouped by thread name (``comm`` in
  ``/proc/<jvm pid>/task/*``: ``C1 CompilerThre``, ``C2 CompilerThre``),
  beside ``jvm_cpu_s``, the whole JVM's CPU seconds in the same sweep.
  Compiler threads come and go; each one's last reading is kept.

With a cache that holds the working set, ``sweep2`` is just the churn.

Usage: SF_DIR=<test-data dir, e.g. the sf0.001 set> python tools/codegen_census.py [name ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_lookout_for_equipment_python_sdk_spark.plans import queries as q
from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark

_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(stat: str) -> float:
    """utime + stime of a /proc ``stat`` line, in seconds."""
    fields = stat[stat.rindex(")") + 2 :].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


class JitProbe:
    """CPU seconds of a JVM and of its JIT compiler threads by name."""

    def __init__(self, pid: int):
        self.pid = pid
        self._by_tid: dict[str, tuple[str, float]] = {}

    def sample(self) -> tuple[float, dict[str, float]]:
        """(JVM CPU, compiler-thread CPU by ``comm``) seconds so far."""
        task_dir = f"/proc/{self.pid}/task"
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/stat") as f:
                    raw = f.read()
            except OSError:  # the thread ended between listing and reading
                continue
            comm = raw[raw.index("(") + 1 : raw.rindex(")")]
            if "CompilerThre" in comm:
                self._by_tid[tid] = (comm, _cpu_s(raw))
        with open(f"/proc/{self.pid}/stat") as f:
            jvm = _cpu_s(f.read())
        by_comm: dict[str, float] = {}
        for comm, cpu in self._by_tid.values():
            by_comm[comm] = by_comm.get(comm, 0.0) + cpu
        return jvm, by_comm


def _delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: round(v - before.get(k, 0.0), 2) for k, v in sorted(after.items())}


def main() -> None:
    sf_dir = os.environ.get("SF_DIR")
    if not sf_dir:
        sys.exit("set SF_DIR to a test-data directory (e.g. the sf0.001 set)")
    names = sys.argv[1:] or list(q.QUERIES)
    spark = get_spark("codegen_census")
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    probe = JitProbe(int(jvm.java.lang.ProcessHandle.current().pid()))
    sweeps: list[dict[str, int]] = []
    jit: list[dict[str, float]] = []
    jvm_cpu: list[float] = []
    errors: dict[str, str] = {}
    for _ in range(2):
        cpu0, jit0 = probe.sample()
        per_query = {}
        for name in names:
            before = compiles.getCount()
            try:
                q.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failing query costs one row
                errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
            per_query[name] = compiles.getCount() - before
            spark.catalog.clearCache()
            probe.sample()  # keep the reading of a compiler thread that exits later
        sweeps.append(per_query)
        cpu1, jit1 = probe.sample()
        jit.append(_delta(jit1, jit0))
        jvm_cpu.append(round(cpu1 - cpu0, 2))
    metaspace = sum(
        p.getUsage().getUsed()
        for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getName() == "Metaspace"
    )
    churn = sorted(
        ((n, c) for n, c in sweeps[1].items() if c), key=lambda kv: (-kv[1], kv[0])
    )
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "queries": len(names),
                "cache_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
                "sweep1": sum(sweeps[0].values()),
                "sweep2": sum(sweeps[1].values()),
                "metaspace_mb": round(metaspace / (1 << 20), 1),
                "jvm_cpu_s": jvm_cpu,
                "jit_cpu_s": jit,
                "churn": dict(churn),
                "errors": errors,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
