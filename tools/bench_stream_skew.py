"""Skewed-replay measurement for the STATEFUL STREAMING twins (r10
verdict #5): the batch twins have sf30_skew evidence; this replays the
same Zipf-skewed fixture through ``sessionize_stream`` and
``streaming_zscore`` and records wall-clock + state size vs the uniform
fixture of identical volume.

    python tools/gen_sf1.py && python tools/gen_skew.py
    python tools/bench_stream_skew.py

What it answers: Structured Streaming's stateful operators partition by
GROUP, so a hot key (one user holding ~50% of events, one event_type
~60%) concentrates that share of every micro-batch onto one
``applyInPandasWithState`` task — the serialized-hot-group shape.  The
bounded-state contract says state CANNOT blow up (sessionize holds one
open session per key; zscore holds one ``window``-tail per key — both
O(keys), independent of rows); wall-clock MAY degrade toward the hot
key's share.  The table makes both claims measurable.

Replay: parquet readStream over the fixture's part files,
``maxFilesPerTrigger`` sized for ~8 micro-batches, availableNow drain
to a noop-ish parquet sink in TMPDIR (fresh checkpoint per rep).
Metrics per run: drain wall-clock, max ``numRowsTotal`` and max
``memoryUsedBytes`` across the state operator's progress events.

Protocol: ``bench.measure`` — min-of-REPS (SPARK_GRAFT_STREAM_SKEW_REPS,
default 2), clearCache + double GC before every rep.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import measure  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402
from amazon_lookout_for_equipment_python_sdk_spark.streaming.stateful import (  # noqa: E402
    sessionize_stream,
    streaming_zscore,
)

LOCAL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata"
)
_pair = os.environ.get("SPARK_GRAFT_STREAM_SKEW_PAIR", "sf1:sf1_skew").split(":")
UNIFORM = os.path.join(LOCAL, _pair[0])
SKEWED = os.path.join(LOCAL, _pair[1])
REPS = int(os.environ.get("SPARK_GRAFT_STREAM_SKEW_REPS", "2"))
N_BATCHES = 8

OPERATORS = {
    # hot user_id holds ~50% of the skewed stream
    "sessionize_stream": lambda s: sessionize_stream(
        s, gap_minutes=30, key_col="user_id", watermark="10 minutes"
    ),
    # hot event_type holds ~60%
    "streaming_zscore": lambda s: streaming_zscore(s, window=100),
}


def _replay(spark, op_name, sf_dir):
    """REPS timed replays, each from a fresh checkpoint and output in
    ~N_BATCHES availableNow micro-batches; returns (each rep's wall_s,
    max_state_rows, max_state_bytes)."""
    src = os.path.join(sf_dir, "events.parquet")
    n_files = len(glob.glob(os.path.join(src, "*.parquet")))
    per_trigger = max(1, -(-n_files // N_BATCHES))
    schema = spark.read.parquet(src).schema
    work = tempfile.mkdtemp(prefix=f"sparkgraft_stream_skew_{op_name}_")
    done = []

    def replay():
        rep = os.path.join(work, str(len(done)))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", per_trigger)
            .parquet(src)
        )
        # decade fixtures ship ts as TIMESTAMP_NTZ; watermarks need
        # TIMESTAMP and the session runs UTC so the cast is value-safe
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        q = (
            OPERATORS[op_name](stream)
            .writeStream.format("parquet")
            .option("path", os.path.join(rep, "out"))
            .option("checkpointLocation", os.path.join(rep, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        done.append(q)

    try:
        walls = measure(spark, f"{op_name} {sf_dir}", replay, REPS)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    states = [
        so for q in done for p in q.recentProgress
        for so in p.get("stateOperators", [])
    ]
    rows = max((so.get("numRowsTotal", 0) or 0 for so in states), default=0)
    mem = max((so.get("memoryUsedBytes", 0) or 0 for so in states), default=0)
    return walls, rows, mem


def main() -> None:
    spark = get_spark("bench_stream_skew")
    # progress history must cover all micro-batches of a drain
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "64")
    out = {}
    for op in OPERATORS:
        for label, sf_dir in (("uniform", UNIFORM), ("skewed", SKEWED)):
            walls, rows, mem = _replay(spark, op, sf_dir)
            print(
                f"{op} {label}: reps {walls} state_rows={rows} "
                f"state_bytes={mem}",
                file=sys.stderr,
            )
            out[f"{op}:{label}"] = {
                "wall_s": round(min(walls), 2),
                "max_state_rows": rows,
                "max_state_bytes": mem,
            }
        u, k = out[f"{op}:uniform"], out[f"{op}:skewed"]
        k["skew_penalty"] = round(k["wall_s"] / u["wall_s"], 2)
        k["state_rows_ratio"] = round(
            k["max_state_rows"] / max(u["max_state_rows"], 1), 3
        )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
