"""Guards on the chunked twins' internal staging machinery (r11 ADVICE).

Three hazards, all previously silent:

1. ``join_boundary`` with NO join columns raised an opaque IndexError.
2. A boundary-table payload column sharing a name with a left column
   (or the ``_nsj_`` staging prefix) yielded ambiguous duplicate
   columns after the join instead of a clear error.
3. The twins stage internals via ``withColumn('_ord'/'_b'/...)`` which
   silently REPLACES same-named input columns — a caller frame already
   carrying one of those names got corrupted output where the plain
   forms have no such hazard.  ``guard_internal`` now rejects loudly at
   every twin entry point; the as-of pair additionally rejects
   ``_side``/``_m`` in BOTH forms (shared ``_asof_prepare``).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.operators import (
    _chunkjoin,
    corpus as cp,
    stats as st,
    timeseries as ts_ops,
)


@pytest.fixture(scope="module")
def small_df(spark):
    pdf = pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00", "2024-01-01 01:00", "2024-01-01 02:00"]
            ),
            "value": [1.0, 2.0, 3.0],
        }
    )
    return spark.createDataFrame(pdf)


def test_join_boundary_rejects_no_join_columns(spark, small_df):
    with pytest.raises(ValueError, match="at least one join column"):
        _chunkjoin.join_boundary(small_df, small_df, [], [])


def test_join_boundary_rejects_payload_collision(spark, small_df):
    # right carries join col `k` plus payload `value`, which collides
    # with left's own `value` column
    right = small_df.select("k", "value")
    with pytest.raises(ValueError, match="collide"):
        _chunkjoin.join_boundary(small_df, right, ["k"], [])


def test_join_boundary_rejects_nsj_prefixed_payload(spark, small_df):
    right = small_df.groupBy("k").agg(F.max("value").alias("_nsj_x"))
    with pytest.raises(ValueError, match="_nsj_"):
        _chunkjoin.join_boundary(small_df, right, ["k"], [])


def test_join_boundary_still_joins_clean_payload(spark, small_df):
    right = small_df.groupBy("k").agg(F.max("value").alias("vmax"))
    out = _chunkjoin.join_boundary(small_df, right, ["k"], [])
    assert out.columns == ["k", "ts", "value", "vmax"]
    assert out.count() == 3


@pytest.mark.parametrize("bad", ["_ord", "_b", "_rn", "_carry"])
def test_guard_internal_rejects_reserved(spark, small_df, bad):
    poisoned = small_df.withColumn(bad, F.lit(0))
    with pytest.raises(ValueError, match="reserved internal"):
        _chunkjoin.guard_internal(poisoned)


def test_guard_internal_rejects_nsj_prefix(spark, small_df):
    poisoned = small_df.withColumn("_nsj_k", F.lit(0))
    with pytest.raises(ValueError, match="reserved internal"):
        _chunkjoin.guard_internal(poisoned)


def test_twin_entry_points_guard(spark, small_df):
    """Every twin rejects a frame carrying a reserved staging name."""
    poisoned = small_df.withColumn("_b", F.lit(0))
    cases = [
        lambda: ts_ops.ffill_chunked(
            poisoned, "value", 3600, ts_col="ts", key_col="k"
        ),
        lambda: ts_ops.rolling_range_chunked(
            poisoned, 3600,
            lambda w: {"m": F.avg("value").over(w)},
            3600, ts_col="ts", key_col="k",
        ),
        lambda: ts_ops.lead_pairs_chunked(
            poisoned, 3600, ts_col="ts", key_col="k"
        ),
        lambda: ts_ops.sessionize_chunked(
            poisoned, 3600, ts_col="ts", key_col="k"
        ),
        lambda: ts_ops.restamp_positional_chunked(
            poisoned, "2024-01-01", 60, 3600, ts_col="ts", key_col="k"
        ),
        lambda: ts_ops.asof_join_chunked(
            poisoned, small_df.select("k", "ts"), 3600,
            ts_col="ts", key_col="k",
        ),
        lambda: st.rolling_zscore_chunked(
            poisoned, 8, 3600, value_col="value",
            ts_col="ts", key_col="k",
        ),
        lambda: st.cusum_reflected_chunked(
            poisoned, 3600, value_col="value",
            ts_col="ts", key_col="k",
        ),
        lambda: st.ewma_chunked(
            poisoned, 0.3, 3600, value_col="value",
            order_col="ts", key_col="k",
        ),
    ]
    for call in cases:
        with pytest.raises(ValueError, match="reserved internal"):
            call()


def test_asof_both_forms_reject_side_column(spark, small_df):
    poisoned = small_df.withColumn("_side", F.lit(9))
    with pytest.raises(ValueError, match="_side"):
        ts_ops.asof_join(poisoned, small_df.select("k", "ts"),
                         ts_col="ts", key_col="k")
    with pytest.raises(ValueError, match="_side"):
        ts_ops.asof_join(small_df.select("k", "ts"), poisoned,
                         ts_col="ts", key_col="k")


#: every public ``*_chunked`` twin, called on ``(frame, docs, span)``
_SPAN_CALLS = {
    "sessionize": lambda f, d, s: ts_ops.sessionize_chunked(
        f, s, ts_col="ts", key_col="k", tiebreak_col="eid"
    ),
    "ffill": lambda f, d, s: ts_ops.ffill_chunked(
        f, "value", s, ts_col="ts", key_col="k"
    ),
    "rolling_range": lambda f, d, s: ts_ops.rolling_range_chunked(
        f, 0, lambda w: {"n": F.count(F.lit(1)).over(w)}, s,
        ts_col="ts", key_col="k",
    ),
    "lead_pairs": lambda f, d, s: ts_ops.lead_pairs_chunked(
        f, s, ts_col="ts", key_col="k"
    ),
    "restamp_positional": lambda f, d, s: ts_ops.restamp_positional_chunked(
        f, "2024-01-01", 60, s, ts_col="ts", key_col="k"
    ),
    "asof_join": lambda f, d, s: ts_ops.asof_join_chunked(
        f, f.select("k", "ts", F.col("value").alias("price")), s,
        ts_col="ts", key_col="k", payload_cols=["price"],
    ),
    "rolling_zscore": lambda f, d, s: st.rolling_zscore_chunked(
        f, 8, s, value_col="value", ts_col="ts", key_col="k",
        tiebreak_col="eid",
    ),
    "cusum_reflected": lambda f, d, s: st.cusum_reflected_chunked(
        f, s, value_col="value", ts_col="ts", key_col="k",
        tiebreak_col="eid",
    ),
    "ewma": lambda f, d, s: st.ewma_chunked(
        f, 0.3, s, value_col="value", order_col="ts", key_col="k"
    ),
    "pack_documents": lambda f, d, s: cp.pack_documents_chunked(
        d, bucket_span_ids=s
    ),
    "assemble_packs": lambda f, d, s: cp.assemble_packs_chunked(
        d, bucket_span_ids=s
    ),
}


@pytest.mark.parametrize("span", [0, -1])
@pytest.mark.parametrize("twin", sorted(_SPAN_CALLS))
def test_twins_reject_nonpositive_bucket_span(spark, small_df, twin, span):
    """A bucket span <= 0 is refused while the plan is built: zero
    divided by zero inside a Spark job, and a negative span reversed the
    bucket order and returned wrong rows."""
    frame = small_df.withColumn("eid", F.monotonically_increasing_id())
    docs = spark.createDataFrame(
        [(1, "s", "a b"), (2, "s", "c")],
        "doc_id long, source string, text string",
    )
    sc = spark.sparkContext
    group = f"span-{twin}-{span}"
    sc.setJobGroup(group, "bucket span check")
    try:
        with pytest.raises(ValueError, match="positive"):
            _SPAN_CALLS[twin](frame, docs, span)
    finally:
        sc.setJobGroup(f"{group}-after", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
