"""NULL-key groups through the chunked twins (r11 review finding).

Spark's window ``partitionBy`` treats a NULL key as a regular partition
value, so every PLAIN form sessionizes/scores/fills/pairs/restamps a
NULL-key group like any other.  The twins join their boundary tables
back on the key — and a standard equi-join drops NULL keys, which made
every twin silently lose (inner joins) or orphan (left-join carries)
exactly that group.  operators/_chunkjoin.join_boundary fixes the class
with null-safe key equality; these tests pin plain == twin on frames
where a NULL-key group spans multiple buckets, for all six families.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.operators import (
    stats as st,
    timeseries as ts_ops,
)


@pytest.fixture(scope="module")
def nullkey_df(spark):
    """4 keys (one NULL) x 40 rows each, spanning ~40h so hour-scale
    buckets split every group across many buckets."""
    rng = np.random.default_rng(5)
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "k": [None, "a", "b", "c"] * 40,
            "ts": base + pd.to_timedelta(rng.integers(0, 40 * 3600, 160), "s"),
            "eid": np.arange(160),
            "value": rng.normal(size=160).round(2),
        }
    )
    return spark.createDataFrame(pdf)


def test_lead_pairs_chunked_null_key_group(spark, nullkey_df):
    def key(df):
        return sorted(
            (str(r["k"]), str(r["start_ts"]), str(r["end_ts"]))
            for r in df.collect()
        )

    plain = key(ts_ops.lead_pairs(nullkey_df, ts_col="ts", key_col="k"))
    got = key(
        ts_ops.lead_pairs_chunked(nullkey_df, 3_600, ts_col="ts", key_col="k")
    )
    assert got == plain
    # the NULL-key group itself produced cross-bucket pairs
    assert sum(1 for k, _, _ in plain if k == "None") == 39


def test_restamp_positional_chunked_null_key_group(spark, nullkey_df):
    def stamps(df):
        return {r["eid"]: str(r["ts"]) for r in df.collect()}

    plain = stamps(
        ts_ops.restamp_positional(
            nullkey_df, "2025-01-01 00:00:00", 60, ts_col="ts",
            key_col="k", tiebreak_col="eid",
        )
    )
    got = stamps(
        ts_ops.restamp_positional_chunked(
            nullkey_df, "2025-01-01 00:00:00", 60, 3_600, ts_col="ts",
            key_col="k", tiebreak_col="eid",
        )
    )
    assert got == plain and len(got) == 160


def test_sessionize_skew_null_key_group(spark, nullkey_df):
    def seqs(df):
        return {r["eid"]: r["session_seq"] for r in df.collect()}

    plain = seqs(
        ts_ops.sessionize(
            nullkey_df, ts_col="ts", key_col="k", gap_minutes=30,
            tiebreak_col="eid",
        )
    )
    for span in (600, 3_600, 10_000_000):
        got = seqs(
            ts_ops.sessionize_chunked(
                nullkey_df, span, ts_col="ts", key_col="k", gap_minutes=30,
                tiebreak_col="eid",
            )
        )
        assert got == plain and len(got) == 160, span


def test_asof_chunked_null_key_group(spark, nullkey_df):
    left = nullkey_df.select("k", "ts", "eid")
    right = (
        nullkey_df.filter(F.col("eid") % 5 == 0)
        .groupBy("k", "ts")
        .agg(F.max("value").alias("pay"))
    )

    def key(df):
        return sorted(
            (r["eid"], r["pay"]) for r in df.collect()
        )

    plain = key(
        ts_ops.asof_join(left, right, ts_col="ts", key_col="k",
                         payload_cols=["pay"])
    )
    got = key(
        ts_ops.asof_join_chunked(left, right, 3_600, ts_col="ts",
                                 key_col="k", payload_cols=["pay"])
    )
    assert got == plain
    # NULL-key left rows matched NULL-key right rows via the carry
    by_eid = dict(plain)
    null_eids = [r["eid"] for r in left.filter(F.col("k").isNull()).collect()]
    assert any(by_eid[e] is not None for e in null_eids)


def test_zscore_chunked_null_key_group(spark, nullkey_df):
    def zkey(df):
        return {r["eid"]: r["zscore"] for r in df.collect()}

    plain = zkey(
        st.rolling_zscore(
            nullkey_df, 7, value_col="value", ts_col="ts", key_col="k",
            tiebreak_col="eid",
        )
    )
    got = zkey(
        st.rolling_zscore_chunked(
            nullkey_df, 7, bucket_span_s=3_600, value_col="value",
            ts_col="ts", key_col="k", tiebreak_col="eid",
        )
    )
    assert got == plain and len(got) == 160


# --- null TIMESTAMPS (the sibling class, second r11 review pass) -----------
# The plain windows order null-ts rows nulls-first and process them;
# the twins' bucket ids must therefore be the sentinel FRONT bucket
# (NULL_TS_BUCKET), not NULL — a NULL bucket id fails the plain-equality
# bucket join and drops the rows.  lead/restamp had the sentinel from
# birth (their tests cover nulls); these pin zscore/cusum/sessionize.


@pytest.fixture(scope="module")
def nullts_df(spark, nullkey_df):
    """nullkey_df with ~10% of timestamps nulled (on top of the NULL
    key group) — both null axes at once."""
    return nullkey_df.withColumn(
        "ts", F.when(F.col("eid") % 11 == 0, None).otherwise(F.col("ts"))
    )


def test_zscore_chunked_null_ts_rows(spark, nullts_df):
    def zkey(df):
        return {r["eid"]: r["zscore"] for r in df.collect()}

    plain = zkey(
        st.rolling_zscore(
            nullts_df, 7, value_col="value", ts_col="ts", key_col="k",
            tiebreak_col="eid",
        )
    )
    got = zkey(
        st.rolling_zscore_chunked(
            nullts_df, 7, bucket_span_s=3_600, value_col="value",
            ts_col="ts", key_col="k", tiebreak_col="eid",
        )
    )
    assert got == plain and len(got) == 160


def test_cusum_chunked_null_ts_rows(spark, nullts_df):
    def ckey(df):
        return {r["eid"]: r["cusum"] for r in df.collect()}

    plain = ckey(
        st.cusum_reflected(
            nullts_df, value_col="value", ts_col="ts", key_col="k",
            tiebreak_col="eid",
        )
    )
    got = ckey(
        st.cusum_reflected_chunked(
            nullts_df, bucket_span_s=3_600, value_col="value",
            ts_col="ts", key_col="k", tiebreak_col="eid",
        )
    )
    assert got == plain and len(got) == 160


def test_cusum_chunked_null_values(spark, nullkey_df):
    """Null VALUES at the front of a bucket: the running sum carries
    the earlier buckets' total through them, as the plain window's does
    (the hand-built twin nulled those rows' cusum)."""
    nullv = nullkey_df.withColumn(
        "value", F.when(F.col("eid") % 9 < 3, None).otherwise(F.col("value"))
    )

    def ckey(df):
        return {r["eid"]: r["cusum"] for r in df.collect()}

    plain = ckey(
        st.cusum_reflected(
            nullv, value_col="value", ts_col="ts", key_col="k",
            tiebreak_col="eid",
        )
    )
    got = ckey(
        st.cusum_reflected_chunked(
            nullv, bucket_span_s=3_600, value_col="value",
            ts_col="ts", key_col="k", tiebreak_col="eid",
        )
    )
    assert got == plain and len(got) == 160


def test_sessionize_skew_null_ts_rows(spark, nullts_df):
    def seqs(df):
        return {r["eid"]: r["session_seq"] for r in df.collect()}

    plain = seqs(
        ts_ops.sessionize(
            nullts_df, ts_col="ts", key_col="k", gap_minutes=30,
            tiebreak_col="eid",
        )
    )
    for span in (600, 3_600, 10_000_000):
        got = seqs(
            ts_ops.sessionize_chunked(
                nullts_df, span, ts_col="ts", key_col="k", gap_minutes=30,
                tiebreak_col="eid",
            )
        )
        assert got == plain and len(got) == 160, span
    # null-ts rows each open a session (the plain lag's null prev) —
    # assert they're present, not just that the maps agree
    nulls = [r["eid"] for r in nullts_df.filter(F.col("ts").isNull()).collect()]
    assert nulls and all(plain[e] is not None for e in nulls)


def test_sessionize_skew_all_null_ts(spark):
    """All-null-ts frame: every row sits in the twin's sentinel front
    bucket, which reproduces the plain walk (each row its own session;
    an earlier skew path returned NULL session_seq here)."""
    df = spark.createDataFrame(
        [("a", None, i) for i in range(6)] + [("b", None, 6)],
        "k string, ts timestamp, eid long",
    )

    def seqs(out):
        return {r["eid"]: r["session_seq"] for r in out.collect()}

    plain = seqs(
        ts_ops.sessionize(
            df, ts_col="ts", key_col="k", tiebreak_col="eid"
        )
    )
    got = seqs(
        ts_ops.sessionize_chunked(
            df, 3_600, ts_col="ts", key_col="k", tiebreak_col="eid"
        )
    )
    assert got == plain == {0: 1, 1: 2, 2: 3, 3: 4, 4: 5, 5: 6, 6: 1}


def test_cusum_chunked_null_key_group(spark, nullkey_df):
    def ckey(df):
        return {r["eid"]: r["cusum"] for r in df.collect()}

    plain = ckey(
        st.cusum_reflected(
            nullkey_df, value_col="value", ts_col="ts", key_col="k",
            tiebreak_col="eid",
        )
    )
    got = ckey(
        st.cusum_reflected_chunked(
            nullkey_df, bucket_span_s=3_600, value_col="value",
            ts_col="ts", key_col="k", tiebreak_col="eid",
        )
    )
    assert got == plain and len(got) == 160
