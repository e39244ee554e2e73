"""Generate .localdata/cusum_xl — the few-keys x ~50M-rows/key fixture
the cusum routing budget needs a MEASURED point from (r10 verdict #3).

The r9 negative A/B showed cusum's plain form winning at every point up
to 2M rows/key (an unbounded-prefix fold has no W-row frame work for
the chunked twin to amortize), and the 2e7 default budget sat 10x past
the largest measured point — an extrapolation routing.py flagged
itself.  This fixture puts one key a decade past that largest point:

- ``hot``: 50M rows (one event_type — the shape where the plain form's
  per-key window serializes 50M rows onto ONE task's sort)
- ``cold_a`` / ``cold_b``: 1M rows each (so the median/broadcast paths
  see >1 key)

Schema matches events.parquet (event_id, ts, user_id, event_type,
value, props) so the operators run unmodified.  Deterministic: ids from
``spark.range``, values from xxhash64 — no wall clock, no RNG.  NOT
driver data, NOT an oracle input; consumed only by tools/ab_twin.py.

    python tools/gen_cusum_xl.py                 # 50M hot (default)
    SPARK_GRAFT_CUSUM_HOT=20000000 SPARK_GRAFT_CUSUM_NAME=cusum_20m \
        python tools/gen_cusum_xl.py             # bracketing points
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark  # noqa: E402

LOCAL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata"
)
HOT_ROWS = int(os.environ.get("SPARK_GRAFT_CUSUM_HOT", str(50_000_000)))
#: seconds between consecutive per-key events (r11: the range-frame
#: family's crossover depends on frame DENSITY — events/sec x range —
#: not just rows/key, so its A/B needs sparse-cadence variants too)
STRIDE_S = int(os.environ.get("SPARK_GRAFT_CUSUM_STRIDE_S", "1"))
# cold keys stay a fifth of the hot key so max_key_rows IS the hot key
# at every fixture size (a fixed 1M cold would dominate small points)
COLD_ROWS = max(HOT_ROWS // 5, 10_000)
DST = os.path.join(
    LOCAL, os.environ.get("SPARK_GRAFT_CUSUM_NAME", "cusum_xl")
)
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z


def main() -> None:
    spark = get_spark("gen_cusum_xl")
    os.makedirs(DST, exist_ok=True)
    total = HOT_ROWS + 2 * COLD_ROWS
    df = (
        spark.range(0, total, 1, 64)
        .withColumn(
            "event_type",
            F.when(F.col("id") < HOT_ROWS, F.lit("hot"))
            .when(F.col("id") < HOT_ROWS + COLD_ROWS, F.lit("cold_a"))
            .otherwise(F.lit("cold_b")),
        )
        # per-key second-granularity clock (hot spans ~1.6y at 50M rows)
        .withColumn(
            "_seq",
            F.when(F.col("id") < HOT_ROWS, F.col("id"))
            .when(
                F.col("id") < HOT_ROWS + COLD_ROWS, F.col("id") - HOT_ROWS
            )
            .otherwise(F.col("id") - HOT_ROWS - COLD_ROWS),
        )
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(
                F.lit(EPOCH_S) + F.col("_seq") * F.lit(STRIDE_S)
            ).alias("ts"),
            F.pmod(F.col("id"), F.lit(1000)).alias("user_id"),
            "event_type",
            # +/-100.00 in cents, exact on the _cents grid
            (
                (F.pmod(F.xxhash64("id"), F.lit(20001)) - F.lit(10000))
                / F.lit(100.0)
            ).alias("value"),
            F.lit("").alias("props"),
        )
    )
    df.write.mode("overwrite").parquet(os.path.join(DST, "events.parquet"))
    print(f"wrote {DST}/events.parquet ({total} rows, hot={HOT_ROWS})")


if __name__ == "__main__":
    main()
