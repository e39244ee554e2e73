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
* ``cache_entries``: the session's ``spark.sql.codegen.cache.maxEntries``.

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


def main() -> None:
    sf_dir = os.environ.get("SF_DIR")
    if not sf_dir:
        sys.exit("set SF_DIR to a test-data directory (e.g. the sf0.001 set)")
    names = sys.argv[1:] or list(q.QUERIES)
    spark = get_spark("codegen_census")
    jvm = spark._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    sweeps: list[dict[str, int]] = []
    errors: dict[str, str] = {}
    for _ in range(2):
        per_query = {}
        for name in names:
            before = compiles.getCount()
            try:
                q.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failing query costs one row
                errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
            per_query[name] = compiles.getCount() - before
            spark.catalog.clearCache()
        sweeps.append(per_query)
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
                "churn": dict(churn),
                "errors": errors,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
