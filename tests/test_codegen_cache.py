"""Compile-once pins: a plan re-run in the same session reuses its
generated classes instead of paying Janino and JIT compilation again.

The count is Spark's own ``CodegenMetrics.METRIC_COMPILATION_TIME``
histogram, which records one sample per compiled class (JVM-wide), read
over py4j around the run under test.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.plans.queries import QUERIES
from amazon_lookout_for_equipment_python_sdk_spark.session import CODEGEN_CACHE_ENTRIES
from amazon_lookout_for_equipment_python_sdk_spark.streaming import (
    InferenceScheduler,
    SchedulerConfig,
)

#: the plain and chunked twins of the flagship resample, rolling z-score
#: and CUSUM families (one pass of them outgrew Spark's default
#: 100-entry generated-code cache)
RECURRING = [
    "flagship_resample_ffill_rolling",
    "flagship_ffill_chunked",
    "rolling_zscore_anomalies",
    "rolling_zscore_anomalies_chunked",
    "cusum_drift_flags",
    "cusum_drift_flags_chunked",
]


def _compiled(spark) -> int:
    """Classes compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _drain(spark, sf_dir: str, name: str) -> None:
    QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_session_reports_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_recurring_queries_compile_once(spark, sf_dir):
    """A whole pass over the six queries, then a second pass: nothing in
    the second pass compiles."""
    for name in RECURRING:
        _drain(spark, sf_dir, name)
    recompiled = {}
    for name in RECURRING:
        before = _compiled(spark)
        _drain(spark, sf_dir, name)
        recompiled[name] = _compiled(spark) - before
    assert recompiled == dict.fromkeys(RECURRING, 0)


def test_scheduler_slots_compile_once(spark, tmp_path):
    """One start/await/stop lifecycle per landed slot: after the first
    slot, a slot's plans are all cache hits, so nothing compiles."""
    indir, outdir = tmp_path / "in", tmp_path / "out"
    indir.mkdir()
    cfg = SchedulerConfig(
        scheduler_name="codegen_pin",
        input_dir=str(indir),
        output_dir=str(outdir),
        components=["pump"],
        tags=["p1", "p2"],
        frequency="PT5M",
    )

    def score_fn(batch):
        return batch.select(
            F.col("Timestamp").alias("timestamp"),
            F.when(F.col("p1") > F.col("p2"), 1).otherwise(0).alias("prediction"),
            (F.col("p1") - F.col("p2")).alias("anomaly_score"),
        )

    sched = InferenceScheduler(spark, cfg, score_fn)
    sched.create()
    t0 = datetime(2024, 3, 1, 8, 0)
    compiled = []
    for i in range(3):
        slot = t0 + timedelta(minutes=5 * i)
        with open(indir / f"pump_{slot:%Y%m%d%H%M%S}.csv", "w") as f:
            f.write("Timestamp,p1,p2\n")
            for s in (10, 70, 250):
                ts = slot + timedelta(seconds=s)
                f.write(f"{ts:%Y-%m-%dT%H:%M:%S}.000000,{i + s / 100},{s / 200}\n")
        before = _compiled(spark)
        sched.start(available_now=True)
        sched.await_termination()
        sched.stop()
        compiled.append(_compiled(spark) - before)
        assert os.path.exists(outdir / f"results_{slot:%Y%m%d%H%M%S}.jsonl")
    statuses = [e["status"] for e in sched.list_inference_executions().collect()]
    assert statuses == ["SUCCESS"] * 3
    assert compiled[1:] == [0, 0], compiled
