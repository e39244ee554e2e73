"""Workload ``train_evaluate``: the reference's batch workflow, one closed-loop
client.

One operation is a full lifecycle on the generated plant: create a dataset
and ``Catalog.ingest_data`` the CSV tree -> ``AnomalyDetector.fit`` on the
first days with the planted windows as ``labels`` -> ``transform`` the last
day -> ``ModelEvaluation(labels=...)`` ``predicted_ranges()`` and
``rank_signals()``, both collected.  Its five steps are the operations
counted in ``attempted``/``failed``; the checks on their outputs run after
the step's timer stops.

There is no warm-up: a batch job runs the workflow once per process, so the
timed lifecycle is the first one in the JVM and pays its JIT compilation and
Spark's code generation, as the user's job does.  Set-up is the session
start and the input generation only.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import timedelta

import numpy as np

from inputs import EPOCH, Plant, write_plant

#: plant shape: fit on all days but the last, evaluate the last
N_SENSORS = 8
DAYS = 3
RATE_S = 300  # PT5M


class TrainEvaluate:
    name = "train_evaluate"
    min_ops = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.plant: Plant | None = None

    def generate(self, root: str) -> Plant:
        return write_plant(root, self.ctx.seed, N_SENSORS, DAYS)

    def setup(self, plant: Plant) -> None:
        import amazon_lookout_for_equipment_python_sdk_spark as lk

        self.plant = plant
        self.schema_json = lk.create_data_schema({"plant": ["Timestamp", *plant.tags]})

    def warm_up(self) -> tuple[int, int]:
        return 0, 0

    def exhausted(self) -> bool:
        return False

    def operation(self, i: int) -> tuple[int, int, float]:
        """Run one lifecycle; returns (steps attempted, steps failed, wall
        seconds of the five steps)."""
        import amazon_lookout_for_equipment_python_sdk_spark as lk
        from pyspark.sql import functions as F

        ctx, plant = self.ctx, self.plant
        span = ctx.tracer.span
        split_ts = EPOCH + timedelta(days=plant.n_minutes // 1440 - 1)
        labels = ctx.spark.createDataFrame(plant.windows, "start timestamp, end timestamp")
        root = os.path.join(ctx.work, f"catalog-{i}")
        failed, steps = [], 0
        t0 = time.perf_counter()
        try:
            catalog = lk.Catalog(ctx.spark, root)
            catalog.create_dataset("plant", self.schema_json)
            with span("sources.ingest"):
                res = catalog.ingest_data("plant", plant.csv_root)
            steps += 1
            if res != {"status": "SUCCESS", "rows_ingested": plant.n_values}:
                failed.append(f"ingest: {res}, expected {plant.n_values} rows")
            df = catalog.load_dataset("plant")
            split = F.lit(split_ts).cast("timestamp")
            cfg = lk.ModelConfig(model_name="plant_model", sampling_rate="PT5M")
            with span("ml.fit"):
                det = lk.AnomalyDetector(cfg).fit(df.filter(F.col("ts") < split), labels=labels)
            steps += 1
            eval_long = df.filter(F.col("ts") >= split)
            with span("ml.transform_build"):
                scored = det.transform(eval_long, component="plant")
            steps += 1
            ev = lk.ModelEvaluation(scored, labels=labels, sampling_rate_s=RATE_S)
            with span("ml.evaluation.ranges"):
                ranges = ev.predicted_ranges().collect()
            steps += 1
            with span("ml.evaluation.rank"):
                ranked = ev.rank_signals(eval_long).collect()
            wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - a failed step is a counted failure
            ctx.log(f"{self.name} op {i}: {type(e).__name__}: {e}")
            return 5, 5 - steps, time.perf_counter() - t0
        finally:
            shutil.rmtree(root, ignore_errors=True)
        failed += self._check_outputs(plant, split_ts, ranges, ranked)
        for f in failed:
            ctx.log(f"{self.name} op {i}: check failed: {f}")
        # a step fails once however many of its checks fail
        return 5, len({f.split(":")[0] for f in failed}), wall

    def final_check(self) -> int:
        return 0  # every lifecycle checks its own outputs

    @staticmethod
    def _check_outputs(plant, split_ts, ranges, ranked) -> list[str]:
        """Planted windows of the evaluated day each overlap a predicted
        range; every distance equals its NumPy recomputation from the
        written values and the predicted ranges, in descending order; the two
        perturbed sensors rank top."""
        problems = []
        step = timedelta(seconds=RATE_S)
        for w0, w1 in plant.windows:
            if w0 < split_ts:
                continue
            if not any(r["start"] <= w1 and r["end"] + step > w0 for r in ranges):
                problems.append(f"ranges: planted window {w0}..{w1} not recovered")
        ref = reference_distances(plant, split_ts, [(r["start"], r["end"]) for r in ranges])
        got = {r["tag"]: r["distance"] for r in ranked}
        if sorted(got) != sorted(ref):
            problems.append(f"rank: tags {sorted(got)}, expected {sorted(ref)}")
        for tag in sorted(set(got) & set(ref)):
            if abs(got[tag] - ref[tag]) > 1e-9 * max(1.0, abs(ref[tag])):
                problems.append(f"rank: {tag} distance {got[tag]}, recomputed {ref[tag]}")
        if [r["tag"] for r in ranked] != sorted(got, key=lambda t: (-got[t], t)):
            problems.append(f"rank: not in descending distance order: {list(got)}")
        top = sorted(r["tag"] for r in ranked[:2])
        if top != sorted(plant.perturbed):
            problems.append(f"rank: top {top}, perturbed {plant.perturbed}")
        return problems


def reference_distances(plant, split_ts, ranges, num_bins: int = 20) -> dict[str, float]:
    """``rank_signals`` of the evaluated days, recomputed in NumPy.  A
    minute is anomalous when its PT5M bucket lies in a predicted range or a
    label window (both inclusive); each sensor's values get ``num_bins``
    equal bins over their own min..max (binned as the program bins them), a
    density histogram per subset, and the distance is the mean absolute
    difference of the two sorted density vectors."""
    m0 = int((split_ts - EPOCH).total_seconds()) // 60
    minutes = np.arange(m0, plant.n_minutes)
    bucket_s = (minutes - minutes % (RATE_S // 60)) * 60
    anomalous = np.zeros(len(minutes), bool)
    for start, end in [*ranges, *plant.windows]:
        s, e = ((t - EPOCH).total_seconds() for t in (start, end))
        anomalous |= (bucket_s >= s) & (bucket_s <= e)
    out = {}
    for j, tag in enumerate(plant.tags):
        x = plant.values[m0:, j]
        lo, hi = x.min(), x.max()
        width = (hi - lo) / float(num_bins)
        bins = np.clip(np.floor((x - lo) / width), 0, num_bins - 1).astype(int)
        dens = []
        for part in (bins[~anomalous], bins[anomalous]):
            dens.append(np.sort(np.bincount(part, minlength=num_bins) / (len(part) * width)))
        out[tag] = float(np.mean(np.abs(dens[0] - dens[1])))
    return out

