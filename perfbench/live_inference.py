"""Workload ``live_inference``: the reference's cron-style scheduler, one
closed-loop client.

Setup reads a generated plant's CSV, fits a model on its first day and
stages the tail of the second day as per-slot CSVs with
``generate_replay_data``.
One operation is one slot: its CSV lands in the scheduler's input dir, then
``InferenceScheduler.start(available_now=True)`` -> ``await_termination()``
-> ``stop()``.  The slot's latency runs from the landing to the moment its
``results_<stamp>.jsonl`` and its SUCCESS audit row both exist; the next slot
lands only after that.  Each slot is tiny (one PT5M bucket), so per-batch
overhead and the scoring-plan build dominate.

Harness constraints this workload works within:

* ``generate_replay_data`` writes tag columns in sorted order and the
  scheduler validates CSV headers in config order, so sensor names sort the
  same way as they are configured (zero-padded, see inputs.sensor_names).
* ``InferenceScheduler.stop()`` sets ``query`` to None, so the slot's
  ``recentProgress`` is read before ``stop()``.
* Micro-batches run on the stream thread under the scheduler's own job group
  ``scheduler-<name>-batch-<id>``; a slot's jobs are counted by that group.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timedelta

from inputs import EPOCH, Plant, write_plant

N_SENSORS = 8
DAYS = 2
#: slots staged for replay: the warm-up slots and at most seven timed ones
#: (a run also ends when they run out)
N_STAGED = 10
#: the third slot still spends about 4 s of CPU on JIT compilation, later
#: ones about 2 s; the warm-up takes the first three
WARM_SLOTS = 3
SCHEDULER = "live"
#: replay clock: staged history is shifted to end just before this instant
START_AT = datetime(2024, 6, 1, 12, 0, 0)
#: timestamp layout of the staged slot CSVs (what the scheduler reads)
REPLAY_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


class LiveInference:
    name = "live_inference"
    #: timed slots per run at least, however long they take, so the median
    #: rests on no single slot
    min_ops = 4

    def __init__(self, ctx):
        self.ctx = ctx
        self.n_landed = 0
        #: (stamp, landed csv, results file) of every slot served with a
        #: SUCCESS audit row
        self.served: list[tuple[str, str, str]] = []
        self.slot_span = None

    def generate(self, root: str) -> Plant:
        return write_plant(root, self.ctx.seed, N_SENSORS, DAYS)

    def setup(self, plant: Plant) -> None:
        """Fit on day 1, stage the replay slots, create the scheduler.
        Counted in setup_s."""
        import amazon_lookout_for_equipment_python_sdk_spark as lk
        from amazon_lookout_for_equipment_python_sdk_spark.sources.readers import (
            TRAINING_TS_FORMAT,
            read_component_csv,
        )
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        ctx = self.ctx
        self.schema = T.StructType(
            [T.StructField("Timestamp", T.TimestampType())]
            + [T.StructField(t, T.DoubleType()) for t in plant.tags]
        )
        wide = read_component_csv(
            ctx.spark, os.path.join(plant.csv_root, "plant"), self.schema, ts_format=TRAINING_TS_FORMAT
        )
        df = lk.AnomalyDetector.wide_input(wide)
        cfg = lk.ModelConfig(model_name="plant_model", sampling_rate="PT5M")
        with ctx.tracer.span("ml.fit"):
            self.detector = lk.AnomalyDetector(cfg).fit(
                df.filter(F.col("ts") < F.lit(EPOCH + timedelta(days=1)).cast("timestamp"))
            )
        report = lk.generate_replay_data(
            df.withColumn("component", F.lit("plant")),
            os.path.join(ctx.work, "staged"),
            start_at=START_AT,
            frequency_minutes=5,
            duration_minutes=5 * N_STAGED,
        )
        if report["empty_slots"] or len(report["written"]) != N_STAGED:
            raise RuntimeError(f"replay staging: {len(report['written'])} files, empty {report['empty_slots'][:3]}")
        self.staged = sorted(report["written"])
        self.input_dir = os.path.join(ctx.work, "in")
        self.output_dir = os.path.join(ctx.work, "out")
        os.makedirs(self.input_dir)
        self.scheduler = lk.InferenceScheduler(
            ctx.spark,
            lk.SchedulerConfig(
                scheduler_name=SCHEDULER,
                input_dir=self.input_dir,
                output_dir=self.output_dir,
                components=["plant"],
                tags=plant.tags,
                frequency="PT5M",
            ),
            self.score_fn,
        )
        self.scheduler.create()

    def score_fn(self, batch_wide):
        """The user's scoring hook: wide slot rows -> long -> transform."""
        import amazon_lookout_for_equipment_python_sdk_spark as lk

        with self.ctx.tracer.span("ml.transform_build", parent=self.slot_span):
            return self.detector.transform(lk.AnomalyDetector.wide_input(batch_wide), component="plant")

    def warm_up(self) -> tuple[int, int]:
        attempted = failed = 0
        for _ in range(WARM_SLOTS):
            a, f, _lat = self.operation(-1)
            attempted, failed = attempted + a, failed + f
        return attempted, failed

    def exhausted(self) -> bool:
        return self.n_landed >= len(self.staged)

    def operation(self, i: int) -> tuple[int, int, float]:
        """Land the next staged slot and serve it; returns (1, failed,
        latency seconds)."""
        ctx, sched = self.ctx, self.scheduler
        src = self.staged[self.n_landed]
        base = os.path.basename(src)
        stamp = base[len("plant_") : -len(".csv")]
        dst = os.path.join(self.input_dir, base)
        result = os.path.join(self.output_dir, f"results_{stamp}.jsonl")
        self.n_landed += 1
        ok = False
        with ctx.tracer.span("streaming.slot") as rec:
            self.slot_span = rec
            t0 = time.perf_counter()
            try:
                shutil.copyfile(src, dst)
                sched.start(available_now=True)
                sched.await_termination()
                progress = list(sched.query.recentProgress)  # stop() drops the query
                ok = os.path.exists(result) and self._audited_success(result)
            except Exception as e:  # noqa: BLE001 - a failed slot is a counted failure
                ctx.log(f"{self.name} slot {stamp}: {type(e).__name__}: {e}")
                progress = []
            latency = time.perf_counter() - t0
            if rec is not None:
                rec["_groups"] = [f"scheduler-{SCHEDULER}-batch-{p['batchId']}" for p in progress]
                ms = [p["durationMs"] for p in progress]
                rec["trigger_s"] = sum(d.get("triggerExecution", 0) for d in ms) / 1000.0
                rec["add_batch_s"] = sum(d.get("addBatch", 0) for d in ms) / 1000.0
                rec["query_planning_s"] = sum(d.get("queryPlanning", 0) for d in ms) / 1000.0
                rec["restart_s"] = latency - rec["trigger_s"]
        self.slot_span = None
        sched.stop()
        if ok:
            self.served.append((stamp, dst, result))
        else:
            ctx.log(f"{self.name} slot {stamp}: no results file with a SUCCESS audit row")
        return 1, 0 if ok else 1, latency

    def _audited_success(self, result: str) -> bool:
        with open(os.path.join(self.output_dir, "audit-log.jsonl")) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        return any(r["status"] == "SUCCESS" and r["output"] == result for r in rows)

    def final_check(self) -> int:
        """Served results equal a batch ``transform`` of the same landed
        rows, slot by slot, read back through ``read_inference_results`` +
        ``pivot_diagnostics``.  Returns the number of slots that differ
        (a slot without results already failed in ``operation``)."""
        import amazon_lookout_for_equipment_python_sdk_spark as lk
        from amazon_lookout_for_equipment_python_sdk_spark.sources.readers import (
            pivot_diagnostics,
            read_inference_results,
        )

        if not self.served:
            return 0
        spark = self.ctx.spark
        wide = (
            spark.read.option("header", True)
            .option("timestampFormat", REPLAY_TS_FORMAT)
            .schema(self.schema)
            .csv([csv for _, csv, _ in self.served])
        )
        batch = self.detector.transform(lk.AnomalyDetector.wide_input(wide), component="plant")
        served = read_inference_results(spark, [res for _, _, res in self.served])
        want = _rows_by_slot(pivot_diagnostics(batch))
        got = _rows_by_slot(pivot_diagnostics(served))
        bad = [stamp for stamp, _, _ in self.served if got.get(stamp) != want.get(stamp)]
        for stamp in bad:
            self.ctx.log(f"{self.name} slot {stamp}: served results differ from the batch transform")
        return len(bad)


def _rows_by_slot(df) -> dict[str, list[tuple]]:
    """Collected rows keyed by slot stamp (5-minute floor of the timestamp),
    columns in name order, rows sorted."""
    cols = sorted(df.columns)
    out: dict[str, list[tuple]] = {}
    for r in df.select(*cols).collect():
        ts = r["timestamp"]
        slot = ts - timedelta(minutes=ts.minute % 5, seconds=ts.second, microseconds=ts.microsecond)
        out.setdefault(slot.strftime("%Y%m%d%H%M%S"), []).append(tuple(r))
    return {k: sorted(v, key=repr) for k, v in out.items()}
