"""Dump ``explain('formatted')`` for bench queries to plans/<tag>/.

Usage: python tools/plan_dump.py <tag> [query ...]

Writes ``plans/<tag>/<query>.txt`` for each named query (default: every
entry in bench.BENCH_QUERIES).  Plans are captured at sf0.001 by default
(override with SF_DIR) — plan SHAPE (exchanges, join strategy, pushed
filters, Python-eval nodes) is what the files pin; sizes differ by SF.
Expression ids (``#N``) and ``plan_id=N`` are written normalized, so two
dumps of the same queries diff clean across sessions and commits.

Queries that eagerly execute machinery while BUILDING the frame
(streaming replays) still only dump the plan of the returned frame.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark
from amazon_lookout_for_equipment_python_sdk_spark.plans import queries as q


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r15"
    names = sys.argv[2:]
    if not names:
        import bench

        names = bench.BENCH_QUERIES
    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_dump")
    for name in names:
        try:
            df = q.QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            plan = re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR: {type(e).__name__}: {e}"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print(f"dumped {name}")


if __name__ == "__main__":
    main()
