"""Workload ``query_mix``: back-to-back passes over a fixed list of the
package's registered queries, one closed-loop client.

Setup writes a seeded ``events`` table (the layout of the registered
queries' test data) and runs one warm-up pass in which every query's result
is collected and compared with its ``ORACLE_SQL`` on DuckDB (the repository's
``tools/check.py:compare``).  One operation is one pass over the list in a
seed-shuffled order: each query is built (``QUERIES[name](spark, dir)``) and
drained through the noop sink, as ``bench.py`` drains it.  Every query run is
an operation counted in ``attempted``/``failed``.

The list keeps whole query families, never one side of a plain/twin pair:
the plain and the chunked twin of the flagship resample, rolling z-score and
CUSUM families.  All of them read ``events`` only.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import random
import sys
import time

from inputs import write_events

#: plans module -> registered queries of the mix, whole families
MIX = {
    "timeseries_q": ["flagship_resample_ffill_rolling", "flagship_ffill_chunked"],
    "anomaly_q": [
        "rolling_zscore_anomalies",
        "rolling_zscore_anomalies_chunked",
        "cusum_drift_flags",
        "cusum_drift_flags_chunked",
    ],
}
#: rows of the generated events table (the size of the sf0.01 test data)
N_EVENTS = 10_000


def layer_names() -> list[str]:
    """The per-layer metric names this workload's spans feed."""
    out = []
    for module in MIX:
        out += [f"plans.{module}.build_s", f"plans.{module}.run_s"]
    return out + [f"query.{q}_s" for qs in MIX.values() for q in qs]


class QueryMix:
    name = "query_mix"
    min_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.queries = [(m, q) for m, qs in MIX.items() for q in qs]

    def generate(self, root: str) -> str:
        return write_events(root, self.ctx.seed, N_EVENTS)

    def setup(self, data_dir: str) -> None:
        from amazon_lookout_for_equipment_python_sdk_spark.plans import queries as q

        self.data_dir = data_dir
        self.registry = q.QUERIES
        self.oracle = q.ORACLE_SQL
        for module, name in self.queries:
            owner = self.registry[name].__module__.rsplit(".", 1)[-1]
            if owner != module:
                raise RuntimeError(f"{name} is registered in {owner}, listed under {module}")

    def warm_up(self) -> tuple[int, int]:
        """One pass in list order, each result collected and compared with
        its oracle on DuckDB; returns (queries attempted, failed)."""
        import duckdb

        check = _load_check_module()
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{os.path.join(self.data_dir, 'events.parquet')}')"
        )
        failed = 0
        for _, name in self.queries:
            try:
                df = self.registry[name](self.ctx.spark, self.data_dir)
                # compare() prints a line per query; stdout is for the result
                with contextlib.redirect_stdout(sys.stderr):
                    ok = check.compare(name, df, con, self.oracle[name])
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                self.ctx.log(f"{self.name} check {name}: {type(e).__name__}: {e}")
                ok = False
            failed += not ok
        con.close()
        return len(self.queries), failed

    def exhausted(self) -> bool:
        return False

    def operation(self, i: int) -> tuple[int, int, float]:
        """One pass in the order ``--seed`` and the pass index give;
        returns (queries attempted, failed, wall seconds)."""
        ctx, span = self.ctx, self.ctx.tracer.span
        order = list(self.queries)
        random.Random(ctx.seed * 100_003 + i).shuffle(order)
        failed = 0
        t0 = time.perf_counter()
        for module, name in order:
            try:
                with span(f"query.{name}"):
                    with span(f"plans.{module}.build"):
                        df = self.registry[name](ctx.spark, self.data_dir)
                    with span(f"plans.{module}.run"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                ctx.log(f"{self.name} pass {i} {name}: {type(e).__name__}: {e}")
                failed += 1
        return len(order), failed, time.perf_counter() - t0

    def final_check(self) -> int:
        return 0  # the warm-up pass compared every query with its oracle

    @staticmethod
    def layer_metrics(spans: list[dict], op_ids: list[int]) -> dict[str, list[float]]:
        """Per traced pass: each query's wall time, and each plans module's
        summed build and drain time.  Returns name -> one value per pass."""
        by_parent: dict[int, list[dict]] = {}
        for s in spans:
            by_parent.setdefault(s["parent"], []).append(s)
        out: dict[str, list[float]] = {}
        for op in op_ids:
            totals = dict.fromkeys(
                [f"plans.{m}.{k}_s" for m in MIX for k in ("build", "run")], 0.0
            )
            for qs in by_parent.get(op, []):
                if not qs["name"].startswith("query."):
                    continue  # another workload's operation
                out.setdefault(f"{qs['name']}_s", []).append(qs["end"] - qs["start"])
                for child in by_parent.get(qs["id"], []):
                    totals[f"{child['name']}_s"] += child["end"] - child["start"]
            for k, v in totals.items():
                out.setdefault(k, []).append(v)
        return out


def _load_check_module():
    """The repository's oracle harness, ``tools/check.py``, by file path."""
    root = os.getcwd()
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_check", os.path.join(root, "tools", "check.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module
