"""Benchmark entry point.  Run from the repository root:

    python3 perfbench/run.py --workload train_evaluate --seed 1 --seconds 8 --trace 0

Builds the workload's inputs from ``--seed``, starts one Spark session on
local[<cores>], sets up and warms up, then runs the workload's operation
back to back (one closed-loop client) until ``--seconds`` have passed, checks
the outputs, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones; BENCHMARK.json at the repository root names them and gives their
units.  A traced run reports the time the tracer spent on its own
bookkeeping as its overhead.  Diagnostics go to stderr; a full
record of the run (host fingerprint, set-up phases, every operation, every
span) is written to ``.perfbench_out/<workload>-seed<seed>-trace<trace>.json``.
Exits non-zero without a result when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

PACKAGE = "amazon_lookout_for_equipment_python_sdk_spark"
WORKLOADS = ["train_evaluate", "live_inference", "query_mix"]

#: the package's layers, each timed around its public call; ``op`` is one
#: whole operation of the workload (a lifecycle, a slot, a pass)
LAYERS = [
    "op",
    "session",  # get_spark, input generation, set-up, warm-up
    "sources.ingest",  # Catalog.ingest_data
    "ml.fit",  # AnomalyDetector.fit
    "ml.transform_build",  # AnomalyDetector.transform (lazy plan build)
    "ml.evaluation.ranges",  # ModelEvaluation.predicted_ranges().collect()
    "ml.evaluation.rank",  # ModelEvaluation.rank_signals().collect()
    "streaming.slot",  # InferenceScheduler start -> await -> results
]
LAYER_FIELDS = ["wall_s", "self_s", "cpu_s", "gc_s", "jobs", "tasks", "task_s"]


class Context:
    """What a workload needs from the runner."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer = None

    @staticmethod
    def log(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def workload_class(name: str):
    if name == "train_evaluate":
        from train_evaluate import TrainEvaluate

        return TrainEvaluate
    if name == "live_inference":
        from live_inference import LiveInference

        return LiveInference
    from query_mix import QueryMix

    return QueryMix


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def layer_metrics(tracer: harness.Tracer, ops: list[dict], cores: int) -> dict:
    """Median per call of every per-layer metric.  A layer's calls in the
    timed part are used when it has any; otherwise its set-up calls (the
    live workload fits only in set-up).  A layer the workload never calls
    reports 0."""
    from query_mix import QueryMix, layer_names

    out = {}
    for layer in LAYERS:
        spans = [s for s in tracer.spans if s["name"] == layer and s["phase"] == "measure"]
        spans = spans or [s for s in tracer.spans if s["name"] == layer]
        for field in LAYER_FIELDS:
            out[f"{layer}.{field}"] = harness.median([s[field] for s in spans])
    measured = [s for s in tracer.spans if s["phase"] == "measure"]
    builds = [s for s in measured if s["name"] == "ml.transform_build"]
    out["ml.transform_build.driver_cpu_s"] = harness.median([s["driver_cpu_s"] for s in builds])
    slots = [s for s in measured if s["name"] == "streaming.slot"]
    for key in ("trigger_s", "add_batch_s", "query_planning_s", "restart_s"):
        out[f"streaming.{key}"] = harness.median([s[key] for s in slots])
    op_spans = [s for s in measured if s["name"] == "op"]
    mix = QueryMix.layer_metrics(tracer.spans, [s["id"] for s in op_spans])
    for name in layer_names():
        out[name] = harness.median(mix.get(name, []))
    out["jvm.jit_cpu_s"] = harness.median([o["jit_s"] for o in ops])
    out["trace.ops"] = len(ops)
    # the tracer's own time per operation, and as a share of the operation
    out["trace.bookkeeping_s"] = harness.median([o["trace_s"] for o in ops])
    out["trace.overhead_pct"] = harness.median(
        [100.0 * o["trace_s"] / o["latency_s"] for o in ops]
    )
    # the share of the cores' time the operation kept busy with Spark tasks
    out["trace.bulk_share"] = harness.median(
        [s["task_s"] / (cores * s["wall_s"]) for s in op_spans]
    )
    return out


def run(args, ctx: Context, record: dict) -> dict:
    """Set up, run the timed loop, check; returns the result object."""
    attempted = failed = 0
    phases = record["setup_phases"] = {}
    snap = harness.snapshot_before_jvm()
    attempted += 1
    try:
        from amazon_lookout_for_equipment_python_sdk_spark import get_spark

        spark = get_spark("perfbench")
    except Exception as e:  # noqa: BLE001 - a JVM that cannot start is a failed setup op
        ctx.log(f"session failed to start: {type(e).__name__}: {e}")
        record["error"] = f"session: {type(e).__name__}: {e}"
        return {"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}
    phases["session_s"] = time.perf_counter() - snap["t"]
    ctx.spark = spark
    probe = harness.ProcessProbe(harness.jvm_pid(spark))
    ctx.tracer = tracer = harness.Tracer(spark, probe, record["run_id"], enabled=args.trace == 1)
    wl = workload_class(args.workload)(ctx)
    try:
        with tracer.span("session", since=snap):
            t0 = time.perf_counter()
            inputs = wl.generate(os.path.join(ctx.work, "inputs"))
            t1 = time.perf_counter()
            wl.setup(inputs)
            t2 = time.perf_counter()
            a, f = wl.warm_up()
            attempted, failed = attempted + a, failed + f
        phases.update(generate_s=t1 - t0, setup_s=t2 - t1, warm_up_s=time.perf_counter() - t2)
        setup_s = time.perf_counter() - snap["t"]
    except Exception as e:  # noqa: BLE001 - report the failed setup, keep the artifact
        ctx.log(f"setup failed: {type(e).__name__}: {e}")
        record["error"] = f"setup: {type(e).__name__}: {e}"
        return {"correct": False, "attempted": attempted, "failed": failed + 1, "metrics": {}}

    tracer.phase = "measure"
    ops = []
    harness.reset_heap_peak(spark)
    rss = harness.RssSampler(probe.jvm_pid, harness.heap_committed_mb(spark))
    rss.start()
    t_start, ticks0 = time.perf_counter(), harness.cpu_ticks()
    while not wl.exhausted():
        i = len(ops)
        cpu0, jit0 = probe.sample()
        book0 = tracer.bookkeeping_s
        with tracer.span("op"):
            a, f, latency = wl.operation(i)
        cpu1, jit1 = probe.sample()
        ops.append(
            {
                "i": i,
                "latency_s": latency,
                "cpu_s": cpu1 - cpu0,
                "jit_s": jit1 - jit0,
                "trace_s": tracer.bookkeeping_s - book0,
                "attempted": a,
                "failed": f,
            }
        )
        attempted, failed = attempted + a, failed + f
        if time.perf_counter() - t_start >= args.seconds and len(ops) >= wl.min_ops:
            break
    record["timed_s"] = time.perf_counter() - t_start
    record["host"]["timed"] = harness.host_usage(ticks0, harness.cpu_ticks())
    offheap_rss = rss.stop()
    record["offheap_rss_parts_mb"] = rss.peak_parts
    record["heap_peaks_mb"] = heap_peaks = harness.heap_peaks_mb(spark)
    failed += wl.final_check()
    record["ops"] = ops
    lat = [o["latency_s"] for o in ops]
    record["percentiles"] = {
        f"p{p:g}": harness.percentile(lat, p) for p in harness.reportable_percentiles(len(lat))
    }
    end_to_end, per_layer = declared_metrics()
    if args.trace:
        tracer.finish()
        record["spans"] = tracer.spans
        metrics, units = layer_metrics(tracer, ops, len(os.sched_getaffinity(0))), per_layer
        metrics["jvm.heap_peak_mb"] = harness.retained_heap_peak_mb(heap_peaks)
    else:
        metrics = {
            "setup_s": setup_s,
            "cpu_s": harness.median([o["cpu_s"] for o in ops]),
            "offheap_rss_mb": offheap_rss,
        }
        units = end_to_end
    if set(metrics) != set(units):
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: computed only {sorted(set(metrics) - set(units))}, "
            f"declared only {sorted(set(units) - set(metrics))}"
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {root}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(root, ".perfbench_work", run_id)
    os.makedirs(work)
    ctx = Context(args.seed, work)
    settings = harness.configure_session_env(work)
    record = {"run_id": run_id, "args": vars(args), "host": harness.host_fingerprint(settings)}
    ticks0 = harness.cpu_ticks()
    try:
        result = run(args, ctx, record)
    finally:
        if ctx.spark is not None:
            harness.stop_session(ctx.spark)
        record["host"]["load_after"] = harness.load_average()
        record["host"]["run"] = harness.host_usage(ticks0, harness.cpu_ticks())
        shutil.rmtree(work, ignore_errors=True)
    record["result"] = result
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    ops = record.get("ops", [])
    print(f"host: {json.dumps(record['host'])}")
    print(f"operations: {len(ops)} in {record.get('timed_s', 0):.1f} s; latency {json.dumps(record.get('percentiles', {}))}")
    print(json.dumps(result), flush=True)
    return 0 if result["metrics"] else 1


if __name__ == "__main__":
    sys.exit(main())
