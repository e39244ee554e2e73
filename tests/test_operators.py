"""Operator unit tests: pandas/numpy cross-checks + invariants
(SURVEY §5 strategy: ops not fully covered by the SQL oracle)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.operators import (
    intervals,
    timeseries as ts_ops,
    wasserstein as ws,
)


def wasserstein_1d(u: np.ndarray, v: np.ndarray) -> float:
    """Reference 1-D EMD (scipy.stats.wasserstein_distance semantics) via
    the CDF-difference integral — pure numpy stand-in for scipy."""
    u, v = np.sort(u), np.sort(v)
    all_x = np.sort(np.concatenate([u, v]))
    deltas = np.diff(all_x)
    u_cdf = np.searchsorted(u, all_x[:-1], side="right") / len(u)
    v_cdf = np.searchsorted(v, all_x[:-1], side="right") / len(v)
    return float(np.sum(np.abs(u_cdf - v_cdf) * deltas))


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from amazon_lookout_for_equipment_python_sdk_spark.plans.registry import load

    return load(spark, sf_dir, "events")


def test_resample_mean_matches_pandas(spark, events):
    out = (
        ts_ops.resample_mean(events, 300, key_col="event_type")
        .orderBy("event_type", "bucket_ts")
        .toPandas()
    )
    pdf = events.select("ts", "event_type", "value").toPandas()
    expected = (
        pdf.set_index("ts")
        .groupby("event_type")["value"]
        .resample("300s")
        .mean()
        .dropna()
    )
    got = out.set_index(["event_type", "bucket_ts"])["avg_value"]
    assert len(got) == len(expected)
    np.testing.assert_allclose(got.values, expected.values, rtol=1e-9)


def test_ffill_matches_pandas(spark, events):
    filled = ts_ops.resample_ffill(
        events, 300, key_col="event_type"
    ).orderBy("event_type", "bucket_ts").toPandas()
    pdf = events.select("ts", "event_type", "value").toPandas()
    for etype, grp in pdf.groupby("event_type"):
        expected = grp.set_index("ts")["value"].resample("300s").mean().ffill()
        got = filled[filled.event_type == etype].set_index("bucket_ts")["value"]
        assert len(got) == len(expected), etype
        pd.testing.assert_series_equal(
            got, expected, check_names=False, check_freq=False, rtol=1e-9
        )


def test_rolling_mean_matches_pandas(spark, events):
    filled = ts_ops.resample_ffill(events, 300, key_col="event_type")
    rolled = (
        ts_ops.rolling_mean(filled, 12, "value", key_col="event_type")
        .orderBy("event_type", "bucket_ts")
        .toPandas()
    )
    for etype, grp in rolled.groupby("event_type"):
        expected = grp.set_index("bucket_ts")["value"].rolling(12).mean()
        np.testing.assert_allclose(
            grp.set_index("bucket_ts")["rolling_avg"].values,
            expected.values,
            rtol=1e-9,
        )


def test_ranges_points_roundtrip(spark):
    """M2/N5 invariant: ranges -> points -> compacted ranges is identity."""
    ranges = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00", "2024-01-01 00:10:00"),
            ("a", "2024-01-01 01:00:00", "2024-01-01 01:05:00"),
            ("b", "2024-01-02 10:00:00", "2024-01-02 10:30:00"),
        ],
        "tag string, start string, end string",
    ).select(
        "tag",
        F.to_timestamp("start").alias("start"),
        F.to_timestamp("end").alias("end"),
    )
    points = intervals.expand_ranges(ranges, 60, extra_cols=["tag"])
    # flagged-only input: time gaps > step must break runs
    flagged = points.withColumn("f", F.lit(1))
    compacted = intervals.compact_runs(
        flagged, "f", ts_col="ts", key_col="tag", step_seconds=60
    )
    got = {
        (r["tag"], r["start"].isoformat(), r["end"].isoformat())
        for r in compacted.collect()
    }
    want = {
        (r["tag"], r["start"].isoformat(), r["end"].isoformat())
        for r in ranges.collect()
    }
    assert got == want


def test_wasserstein_matches_reference_semantics(spark, events):
    """A6: engine distance == wasserstein(density_vec_a, density_vec_b)
    computed the reference's way (density vectors as samples)."""
    split = "2024-01-05 00:00:00"
    tagged = events.withColumn(
        "subset",
        F.when(F.col("ts") < F.lit(split).cast("timestamp"), "train").otherwise(
            "eval"
        ),
    )
    hists = ws.density_histograms(
        tagged, "subset", 20, key_col="event_type", value_col="value"
    )
    engine = {
        r["event_type"]: r["distance"]
        for r in ws.wasserstein_between_density_vectors(
            hists, "train", "eval", "event_type"
        ).collect()
    }
    hp = hists.toPandas()
    for etype in engine:
        u = hp[(hp.event_type == etype) & (hp.subset == "train")]["density"].values
        v = hp[(hp.event_type == etype) & (hp.subset == "eval")]["density"].values
        expected = wasserstein_1d(u, v)
        assert abs(engine[etype] - expected) < 1e-12, etype


def test_histogram_matches_numpy(spark, events):
    from amazon_lookout_for_equipment_python_sdk_spark.operators.histogram import (
        histogram,
    )

    out = histogram(events, 20, key_col="event_type", value_col="value").toPandas()
    pdf = events.select("event_type", "value").toPandas()
    for etype, grp in pdf.groupby("event_type"):
        x = grp["value"].values
        counts, edges = np.histogram(x, bins=20, range=(x.min(), x.max()))
        dens, _ = np.histogram(x, bins=20, range=(x.min(), x.max()), density=True)
        o = out[out.event_type == etype].sort_values("bin")
        np.testing.assert_array_equal(o["count"].values, counts)
        np.testing.assert_allclose(o["density"].values, dens, rtol=1e-9)
        np.testing.assert_allclose(o["bin_start"].values, edges[:-1], rtol=1e-9)


def test_histogram_constant_signal_matches_numpy(spark):
    """min==max must not divide by zero: numpy widens the range to
    (v-0.5, v+0.5) and so do we (ADVICE r1)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.histogram import (
        histogram,
    )

    df = spark.createDataFrame(
        [("flat", 7.0)] * 10 + [("vary", float(i)) for i in range(10)],
        "tag string, value double",
    )
    out = histogram(df, 20).toPandas()
    for tag in ("flat", "vary"):
        x = np.array(
            [7.0] * 10 if tag == "flat" else [float(i) for i in range(10)]
        )
        counts, edges = np.histogram(x, bins=20)
        dens, _ = np.histogram(x, bins=20, density=True)
        o = out[out.tag == tag].sort_values("bin")
        np.testing.assert_array_equal(o["count"].values, counts)
        np.testing.assert_allclose(o["density"].values, dens, rtol=1e-9)
        np.testing.assert_allclose(o["bin_start"].values, edges[:-1], rtol=1e-9)
    # degenerate signal also survives the density-histogram path (wasserstein)
    tagged = df.withColumn("subset", F.lit("train"))
    h = ws.density_histograms(tagged, "subset", 20).toPandas()
    assert not h["density"].isna().any()


def test_resample_first_skips_interior_nulls(spark):
    """pandas resample().first() returns the first NON-null value in the
    bucket; an all-null bucket stays null."""
    rows = [
        ("2024-01-01 00:00:10", "s", None),
        ("2024-01-01 00:01:00", "s", 5.0),
        ("2024-01-01 00:02:00", "s", 7.0),
        ("2024-01-01 00:05:30", "s", None),
    ]
    df = spark.createDataFrame(
        rows, "ts string, tag string, value double"
    ).select(F.to_timestamp("ts").alias("ts"), "tag", "value")
    out = {
        r["bucket_ts"].minute: r["first_value"]
        for r in ts_ops.resample_first(df, 300).collect()
    }
    assert out[0] == 5.0  # null at 00:00:10 skipped
    assert out[5] is None  # all-null bucket stays null


def test_stamp_points_preserves_duplicate_rows(spark):
    """Duplicate point rows (same ts scored twice) must keep their
    multiplicity through the stamp — a groupBy on data columns alone
    would collapse them."""
    pts = spark.createDataFrame(
        [("2024-01-01 00:05:00",)] * 2 + [("2024-01-01 02:00:00",)],
        "ts string",
    ).select(F.to_timestamp("ts").alias("ts"))
    pred = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00")],
        "start string, end string",
    ).select(
        F.to_timestamp("start").alias("start"),
        F.to_timestamp("end").alias("end"),
    )
    out = intervals.stamp_points(pts, pred).collect()
    assert len(out) == 3
    assert sorted(r["prediction"] for r in out) == [0, 1, 1]


def test_off_condition_dsl():
    from amazon_lookout_for_equipment_python_sdk_spark.functions import (
        parse_off_condition,
    )

    col = parse_off_condition("pump\\flow > 3.5", layout="wide")
    assert "flow" in str(col)
    with pytest.raises(ValueError):
        parse_off_condition("not a condition")
    with pytest.raises(ValueError):
        parse_off_condition("pump\\flow >= 3.5")  # only < and > in the DSL


def test_off_condition_semantics(spark):
    """Reference contract: 'tag < 1000' = machine OFF below 1000 -> those
    rows are excluded; null gating values are kept (no evidence of off)."""
    from amazon_lookout_for_equipment_python_sdk_spark.functions import on_filter

    df = spark.createDataFrame(
        [(1, 500.0), (2, 1500.0), (3, None)], "id int, flow double"
    )
    kept = df.filter(on_filter("pump\\flow < 1000", layout="wide"))
    assert sorted(r["id"] for r in kept.collect()) == [2, 3]


def test_iso8601_durations():
    from amazon_lookout_for_equipment_python_sdk_spark.functions import (
        iso8601_duration_to_seconds as dur,
        tz_offset_string,
    )

    assert dur("PT5M") == 300
    assert dur("PT1H") == 3600
    assert dur("PT1S") == 1
    assert dur("PT1H30M15S") == 5415
    with pytest.raises(ValueError):
        dur("P1D")
    assert tz_offset_string(330) == "+05:30"
    assert tz_offset_string(-300) == "-05:00"


def test_winnowing_guarantee_and_edges(spark):
    """Schleimer et al. 2003 guarantee: two docs sharing a substring of
    length >= w + k - 1 MUST share a fingerprint; docs shorter than k
    yield an empty set; fingerprints are distinct per doc."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators import text as tx

    k, w = 8, 4  # guarantee length 11
    shared = "abcdefghijk"  # exactly w + k - 1 chars
    rows = [
        (1, f"xxxx{shared}yyyy"),
        (2, f"zz{shared}qqqqqq"),
        (3, "completely different content here"),
        (4, "short"),  # < k chars -> empty set
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["fps"]
        for r in df.select(
            "doc_id",
            tx.winnow_fingerprints_udf(k, w)(F.col("text")).alias("fps"),
        ).collect()
    }
    assert set(got[1]) & set(got[2]), "guaranteed shared fingerprint missing"
    assert not (set(got[1]) & set(got[3]))
    assert got[4] == []
    for fps in got.values():
        assert len(fps) == len(set(fps))
    # hash portability: values match the oracle's inlined polynomial
    import duckdb

    from amazon_lookout_for_equipment_python_sdk_spark.operators.text import (
        WINNOW_MOD, winnow_pows,
    )

    poly = " + ".join(
        f"CAST(ord(substr(t, CAST(i + {j} AS INT), 1)) AS BIGINT) * {p}"
        for j, p in enumerate(winnow_pows(k))
    )
    txt = rows[0][1]
    duck = duckdb.sql(
        f"SELECT list_transform(range(1, {len(txt) - k + 1} + 1), "
        f"i -> ({poly}) % {WINNOW_MOD}) AS hs FROM (SELECT '{txt}' AS t)"
    ).fetchone()[0]
    # every selected fingerprint is one of the oracle's k-gram hashes
    assert set(got[1]) <= set(duck)


def test_asof_join_matches_pandas_merge_asof(spark):
    """asof_join (backward/forward, tolerance, unmatched) vs
    pandas.merge_asof on a random fixture — the operator's defining
    semantics, including inclusive matches at equal timestamps."""
    import pandas as pd

    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        asof_join,
    )

    rng = np.random.default_rng(7)
    base = pd.Timestamp("2024-01-01")
    left_pd = pd.DataFrame(
        {
            "k": rng.integers(0, 5, 200),
            "ts": base + pd.to_timedelta(rng.integers(0, 10_000, 200), "s"),
            "lid": np.arange(200),
        }
    )
    right_pd = (
        pd.DataFrame(
            {
                "k": rng.integers(0, 6, 80),  # key 5 never matches
                "ts": base + pd.to_timedelta(rng.integers(0, 10_000, 80), "s"),
                "pay": rng.normal(size=80).round(3),
            }
        )
        .drop_duplicates(["k", "ts"])  # asof contract: unique (key, ts)
        .reset_index(drop=True)
    )
    left = spark.createDataFrame(left_pd)
    right = spark.createDataFrame(right_pd)
    for direction in ("backward", "forward"):
        for tol in (None, 600):
            got = (
                asof_join(
                    left,
                    right,
                    ts_col="ts",
                    key_col="k",
                    direction=direction,
                    tolerance_seconds=tol,
                )
                .orderBy("lid")
                .toPandas()
            )
            want = pd.merge_asof(
                left_pd.sort_values("ts", kind="stable"),
                right_pd.sort_values("ts", kind="stable"),
                on="ts",
                by="k",
                direction=direction,
                tolerance=None if tol is None else pd.Timedelta(seconds=tol),
            ).sort_values("lid")
            assert list(got["lid"]) == list(want["lid"])
            pd.testing.assert_series_equal(
                got["pay"].reset_index(drop=True),
                want["pay"].reset_index(drop=True),
                check_exact=True,
            )


def test_asof_join_preserves_matched_null_payload(spark):
    """r11 fix: a matched right row whose payload VALUE is NULL must
    yield NULL — per-column ignorenulls fills used to skip past it to an
    OLDER right row's value (100 here), silently diverging from
    merge_asof / DuckDB ASOF JOIN.  The struct fill preserves it.  NaN
    is NOT null in Spark, so the hazard needs a true SQL NULL to show."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        asof_join,
    )

    left = spark.sql(
        "SELECT * FROM VALUES"
        " ('a', timestamp'2024-01-01 00:00:05', 1),"
        " ('a', timestamp'2024-01-01 00:00:10', 2) t(tag, ts, lval)"
    )
    right = spark.sql(
        "SELECT * FROM VALUES"
        " ('a', timestamp'2024-01-01 00:00:01', 100),"
        " ('a', timestamp'2024-01-01 00:00:08', CAST(NULL AS INT))"
        " t(tag, ts, price)"
    )
    got = {
        r["lval"]: r["price"]
        for r in asof_join(
            left, right, key_col="tag", payload_cols=["price"]
        ).collect()
    }
    assert got == {1: 100, 2: None}
    # forward direction: left ts=5 matches right ts=8 (NULL), not ts=1
    fwd = {
        r["lval"]: r["price"]
        for r in asof_join(
            left, right, key_col="tag", payload_cols=["price"],
            direction="forward",
        ).collect()
    }
    assert fwd == {1: None, 2: None}  # lval=2 has no right row >= ts=10


def test_asof_join_chunked_equals_plain(spark):
    """The skew-safe twin is row-for-row equal to asof_join across
    directions, tolerance, and bucket geometries — including spans that
    leave buckets with only-left rows (carry must bridge them), only-
    right rows, and multi-bucket gaps; one giant bucket degenerates to
    the plain shape."""
    import pandas as pd

    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        asof_join,
        asof_join_chunked,
    )

    rng = np.random.default_rng(11)
    base = pd.Timestamp("2024-01-01")
    left_pd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, 300),
            "ts": base + pd.to_timedelta(rng.integers(0, 50_000, 300), "s"),
            "lid": np.arange(300),
        }
    )
    right_pd = (
        pd.DataFrame(
            {
                "k": rng.integers(0, 5, 60),  # sparse: long right gaps
                "ts": base
                + pd.to_timedelta(rng.integers(0, 50_000, 60), "s"),
                "pay": rng.normal(size=60).round(3),
            }
        )
        .drop_duplicates(["k", "ts"])
        .reset_index(drop=True)
    )
    left = spark.createDataFrame(left_pd)
    right = spark.createDataFrame(right_pd)

    def key(df):
        return sorted(
            (r["lid"], r["pay"]) for r in df.collect()
        )

    for direction in ("backward", "forward"):
        for tol in (None, 600):
            plain = key(
                asof_join(
                    left, right, ts_col="ts", key_col="k",
                    direction=direction, tolerance_seconds=tol,
                )
            )
            for span in (60, 3_600, 10_000_000):  # many/medium/one bucket
                got = key(
                    asof_join_chunked(
                        left, right, span, ts_col="ts", key_col="k",
                        direction=direction, tolerance_seconds=tol,
                    )
                )
                assert got == plain, (direction, tol, span)


def test_asof_join_chunked_preserves_matched_null_payload(spark):
    """The struct-level coalesce keeps the r11 null-payload fix through
    the carry path: the matched right row's NULL survives even when the
    carry bridges buckets."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        asof_join_chunked,
    )

    left = spark.sql(
        "SELECT * FROM VALUES"
        " ('a', timestamp'2024-01-01 02:00:00', 1),"
        " ('a', timestamp'2024-01-01 05:00:00', 2) t(tag, ts, lval)"
    )
    right = spark.sql(
        "SELECT * FROM VALUES"
        " ('a', timestamp'2024-01-01 00:00:01', 100),"
        " ('a', timestamp'2024-01-01 03:00:00', CAST(NULL AS INT))"
        " t(tag, ts, price)"
    )
    got = {
        r["lval"]: r["price"]
        for r in asof_join_chunked(
            left, right, 3600, key_col="tag", payload_cols=["price"]
        ).collect()
    }
    # lval=1's bucket has no right row -> carry bridges to ts=00:00:01;
    # lval=2 matches the NULL-payload row via carry from an earlier
    # bucket — the NULL must survive, not fall through to 100
    assert got == {1: 100, 2: None}


def test_asof_join_chunked_no_per_key_corpus_window(spark):
    """Plan shape: every corpus-sized Window partitions by (key, bucket)
    — the twin's reason to exist; only the bucket-count-sized carry
    table windows by bare key, and the carry join is broadcast."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        asof_join_chunked,
    )

    left = spark.range(100).select(
        F.lit("a").alias("tag"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 60).alias("ts"),
        F.col("id").alias("lval"),
    )
    right = spark.range(20).select(
        F.lit("a").alias("tag"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 300).alias("ts"),
        (F.col("id") * 2).alias("price"),
    )
    plan = (
        asof_join_chunked(left, right, 3600, key_col="tag")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan  # carry join never shuffles
    # the corpus-side fill window must partition by (key, bucket) — a
    # bare-key corpus window would re-serialize the hot key
    import re as _re

    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    assert any("_b" in s for s in specs), plan  # local fill keyed (k,_b)


def test_asof_join_null_timestamp_semantics(spark):
    """DuckDB ASOF contract for NULL timestamps, pinned on BOTH forms
    and BOTH directions: a right row with NULL ts never matches (the
    inequality is NULL), a left row with NULL ts emits with null
    payloads (LEFT join).  Before the shared _asof_prepare/_asof_finish
    this diverged between the twins — plain's window null placement
    flips with direction (asc nulls-first vs desc nulls-last) while the
    chunked bucket axis does not, so a null-ts right row could become
    every bucket's carry in forward mode."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        asof_join,
        asof_join_chunked,
    )

    left = spark.sql(
        "SELECT * FROM VALUES"
        " ('a', timestamp'2024-01-01 02:00:00', 1),"
        " ('a', CAST(NULL AS TIMESTAMP), 2) t(tag, ts, lval)"
    )
    right = spark.sql(
        "SELECT * FROM VALUES"
        " ('a', timestamp'2024-01-01 01:00:00', 100),"
        " ('a', CAST(NULL AS TIMESTAMP), 999) t(tag, ts, price)"
    )
    for direction, want in (
        ("backward", {1: 100, 2: None}),  # lval=1 matches ts=01:00
        ("forward", {1: None, 2: None}),  # no right row >= 02:00
    ):
        for fn in (
            lambda l, r, d: asof_join(
                l, r, key_col="tag", payload_cols=["price"], direction=d
            ),
            lambda l, r, d: asof_join_chunked(
                l, r, 3600, key_col="tag", payload_cols=["price"],
                direction=d,
            ),
        ):
            got = {
                row["lval"]: row["price"]
                for row in fn(left, right, direction).collect()
            }
            assert got == want, (direction, got)


def test_asof_join_rejects_payload_clash(spark):
    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        asof_join,
    )

    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.current_timestamp().alias("ts"),
        F.lit(1.0).alias("pay"),
    )
    with pytest.raises(ValueError, match="payload columns already in left"):
        asof_join(df, df, ts_col="ts", key_col="k", payload_cols=["pay"])


def _pairs_key(df):
    """Multiset view of a lead_pairs result: (key, start, end) as strings
    so null start_ts (the nulls-first block's bridge row) sorts too."""
    return sorted(
        (r["k"] if "k" in df.columns else None, str(r["start_ts"]), str(r["end_ts"]))
        for r in df.collect()
    )


def test_lead_pairs_chunked_equals_plain(spark):
    """The skew-safe twin is multiset-equal to lead_pairs across bucket
    geometries — spans leaving multi-bucket per-key gaps (the boundary
    bridge must reach the next NON-EMPTY bucket), duplicate timestamps
    (tie pairs are order-free as a multiset since tied start_ts are
    equal), null timestamps (the nulls-first block emits exactly one
    bridge row in both forms), and one giant bucket degenerating to the
    plain shape.  Keyed and keyless."""
    rng = np.random.default_rng(7)
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 4, 400),
            # coarse grid → plenty of exact ties within and across keys
            "ts": base
            + pd.to_timedelta(rng.integers(0, 2_000, 400) * 60, "s"),
        }
    )
    pdf.loc[rng.choice(400, 7, replace=False), "ts"] = pd.NaT
    df = spark.createDataFrame(pdf)

    plain = _pairs_key(ts_ops.lead_pairs(df, ts_col="ts", key_col="k"))
    keyless_src = df.drop("k").limit(120)
    plain_keyless = _pairs_key(ts_ops.lead_pairs(keyless_src, ts_col="ts"))
    for span in (300, 7_200, 100_000_000):
        got = _pairs_key(
            ts_ops.lead_pairs_chunked(df, span, ts_col="ts", key_col="k")
        )
        assert got == plain, span
        got_kl = _pairs_key(
            ts_ops.lead_pairs_chunked(keyless_src, span, ts_col="ts")
        )
        assert got_kl == plain_keyless, span


def test_restamp_positional_chunked_equals_plain(spark):
    """The skew-safe twin is row-for-row equal to restamp_positional
    (joined on the tiebreak id) across bucket geometries — ties inside
    and across bucket boundaries (equal timestamps always share a
    bucket), null timestamps (both forms rank them first), keyed and
    keyless, and a giant single bucket."""
    rng = np.random.default_rng(13)
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "k": rng.integers(0, 3, 300),
            "ts": base
            + pd.to_timedelta(rng.integers(0, 500, 300) * 3_600, "s"),
            "eid": np.arange(300),
        }
    )
    pdf.loc[rng.choice(300, 5, replace=False), "ts"] = pd.NaT
    df = spark.createDataFrame(pdf)

    def stamps(out):
        return {r["eid"]: str(r["ts"]) for r in out.collect()}

    for key in ("k", None):
        plain = stamps(
            ts_ops.restamp_positional(
                df, "2025-01-01 00:00:00", 60, ts_col="ts",
                key_col=key, tiebreak_col="eid",
            )
        )
        for span in (3_600, 86_400, 10_000_000_000):
            got = stamps(
                ts_ops.restamp_positional_chunked(
                    df, "2025-01-01 00:00:00", 60, span, ts_col="ts",
                    key_col=key, tiebreak_col="eid",
                )
            )
            assert got == plain, (key, span)


def test_ffill_chunked_equals_plain(spark):
    """The skew-safe fill is row-for-row equal to ffill across bucket
    geometries — sparse non-null values leaving multi-bucket gaps (the
    carry must bridge them), all-null keys (leading nulls stay null,
    pandas semantics), null timestamps (nulls-first sentinel bucket),
    a NULL key group, and a giant single bucket."""
    rng = np.random.default_rng(23)
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "tag": [None, "a", "b", "c"] * 100,
            "bucket_ts": base
            + pd.to_timedelta(rng.integers(0, 3_000, 400) * 60, "s"),
            "v": rng.normal(size=400).round(3),
            "eid": np.arange(400),
        }
    )
    pdf = pdf.drop_duplicates(["tag", "bucket_ts"]).reset_index(drop=True)
    # sparse: ~90% of values null; one key entirely null
    pdf.loc[rng.random(len(pdf)) < 0.9, "v"] = None
    pdf.loc[pdf["tag"] == "c", "v"] = None
    # exactly ONE null-ts row per key (plain ffill has no tiebreak, so
    # several tied null-ts rows order nondeterministically); the NULL
    # key's and 'a''s carry a NON-null value — the nulls-first case
    # whose value must flow into every later bucket of the key
    for tag, val in ((None, 9.5), ("a", 7.5), ("b", None), ("c", None)):
        i = pdf.index[pdf["tag"].isna() if tag is None else (pdf["tag"] == tag)][0]
        pdf.loc[i, "bucket_ts"] = pd.NaT
        pdf.loc[i, "v"] = val
    df = spark.createDataFrame(pdf)

    def vals(out):
        return {r["eid"]: r["filled"] for r in out.collect()}

    plain = vals(
        ts_ops.ffill(df, "v", ts_col="bucket_ts", key_col="tag",
                     out_col="filled")
    )
    for span in (3_600, 36_000, 10_000_000_000):
        got = vals(
            ts_ops.ffill_chunked(
                df, "v", span, ts_col="bucket_ts", key_col="tag",
                out_col="filled",
            )
        )
        assert got == plain, span
    # in-place fill keeps the schema of the plain form
    a = ts_ops.ffill(df, "v", ts_col="bucket_ts", key_col="tag")
    b = ts_ops.ffill_chunked(df, "v", 3_600, ts_col="bucket_ts", key_col="tag")
    assert a.columns == b.columns


def test_resample_ffill_chunked_matches_plain(spark, events):
    """The flagship idiom with the skew-safe fill — ``time_grid`` joined
    to the resample, then ``ffill_chunked`` — returns exactly
    ``resample_ffill``'s rows on the fixture."""
    plain = {
        (r["event_type"], str(r["bucket_ts"])): r["value"]
        for r in ts_ops.resample_ffill(
            events, 300, key_col="event_type"
        ).collect()
    }
    agg = ts_ops.resample_mean(events, 300, key_col="event_type")
    grid = ts_ops.time_grid(events, 300, key_col="event_type")
    filled = ts_ops.ffill_chunked(
        grid.join(agg, ["event_type", "bucket_ts"], "left"),
        "avg_value", 6 * 3600, "bucket_ts", "event_type", out_col="value",
    )
    got = {
        (r["event_type"], str(r["bucket_ts"])): r["value"]
        for r in filled.collect()
    }
    assert got == plain


def test_rolling_range_chunked_equals_plain(spark):
    """The range-frame twin is row-for-row equal to rolling_range
    across bucket geometries (span >= range) — same-instant ties
    (shared frames), a NULL key group, null timestamps (Spark's
    null-frame rule: a key's null-ts rows share one frame, excluded
    from every non-null frame), sparse keys with multi-bucket gaps,
    and one giant bucket.  Also pins the span < range validation."""
    rng = np.random.default_rng(31)
    base = pd.Timestamp("2024-01-01")
    pdf = pd.DataFrame(
        {
            "k": [None, "a", "b"] * 120,
            # coarse 10-min grid -> plenty of exact same-instant ties
            "ts": base
            + pd.to_timedelta(rng.integers(0, 400, 360) * 600, "s"),
            "v": rng.normal(size=360).round(2),
            "eid": np.arange(360),
        }
    )
    pdf.loc[rng.choice(360, 8, replace=False), "ts"] = pd.NaT
    df = spark.createDataFrame(pdf)
    cents = F.round(F.col("v") * 100).cast("long")

    def aggs(w):
        return {
            "n_r": F.count(F.lit(1)).over(w),
            "sum_r": F.sum(cents).over(w),
        }

    def key(out):
        return {r["eid"]: (r["n_r"], r["sum_r"]) for r in out.collect()}

    plain = key(ts_ops.rolling_range(df, 3_600, aggs, ts_col="ts", key_col="k"))
    for span in (3_600, 7_200, 86_400, 10_000_000):
        got = key(
            ts_ops.rolling_range_chunked(
                df, 3_600, aggs, span, ts_col="ts", key_col="k"
            )
        )
        assert got == plain, span
    assert len(plain) == 360  # null-key and null-ts rows all present
    with pytest.raises(ValueError, match="range_s"):
        ts_ops.rolling_range_chunked(df, 3_600, aggs, 1_800, ts_col="ts")
    # span=0 with range_s=0 (legal for plain — same-instant frame) must
    # raise cleanly, not DIVIDE_BY_ZERO at collect (review fix)
    with pytest.raises(ValueError, match="positive"):
        ts_ops.rolling_range_chunked(df, 0, aggs, 0, ts_col="ts")
    # a zero fill span raises while the plan is built (review fix)
    with pytest.raises(ValueError, match="positive"):
        ts_ops.ffill_chunked(df, "v", 0, ts_col="ts", key_col="k")


def test_lead_restamp_chunked_plan_shapes(spark):
    """Both twins' corpus-sized windows partition by (key, bucket) — the
    reason they exist — and the tiny boundary tables join back broadcast
    (same contract as the asof/zscore twins)."""
    import re as _re

    df = spark.range(200).select(
        F.lit("a").alias("k"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 60).alias("ts"),
        F.col("id").alias("eid"),
    )
    for out in (
        ts_ops.lead_pairs_chunked(df, 3_600, ts_col="ts", key_col="k"),
        ts_ops.restamp_positional_chunked(
            df, "2025-01-01 00:00:00", 60, 3_600, ts_col="ts",
            key_col="k", tiebreak_col="eid",
        ),
        ts_ops.ffill_chunked(
            df.withColumn("v", F.when(F.col("eid") % 7 == 0, F.col("eid"))),
            "v", 3_600, ts_col="ts", key_col="k",
        ),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        assert specs, plan
        assert any("_b" in s for s in specs), plan


def test_rolling_range_chunked_plan_shape(spark):
    """The range twin has NO join at all (union + per-(key, bucket)
    window); its corpus window must partition by (key, bucket) and no
    bare-key corpus window may appear."""
    import re as _re

    df = spark.range(500).select(
        F.lit("a").alias("k"),
        F.timestamp_seconds(1_700_000_000 + F.col("id") * 60).alias("ts"),
        F.col("id").alias("v"),
    )
    out = ts_ops.rolling_range_chunked(
        df, 3_600, lambda w: {"n": F.count(F.lit(1)).over(w)}, 7_200,
        ts_col="ts", key_col="k",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    specs = _re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("_b" in s for s in specs), plan


def test_interval_overlap_join_matches_naive(spark):
    """Block-bucketed interval-overlap join == the naive theta join, on
    intervals spanning multiple blocks, touching boundaries, and nested."""
    import random

    from amazon_lookout_for_equipment_python_sdk_spark.operators.intervals import (
        interval_overlap_join,
    )

    rng = random.Random(7)
    base = 1_700_000_000

    def mk(n, seed_off):
        rows = []
        for i in range(n):
            s = base + rng.randint(0, 100_000)
            e = s + rng.randint(1, 20_000)  # up to ~5.5h -> multi-block
            rows.append((seed_off + i, s, e))
        return rows

    lrows, rrows = mk(40, 0), mk(40, 1000)
    left = spark.createDataFrame(lrows, "lid long, s long, e long").select(
        "lid",
        F.timestamp_seconds("s").alias("start"),
        F.timestamp_seconds("e").alias("end"),
    )
    right = spark.createDataFrame(rrows, "rid long, s long, e long").select(
        "rid",
        F.timestamp_seconds("s").alias("start"),
        F.timestamp_seconds("e").alias("end"),
    )
    got = sorted(
        (r["l_lid"], r["r_rid"])
        for r in interval_overlap_join(left, right).collect()
    )
    want = sorted(
        (li, ri)
        for (li, ls, le) in lrows
        for (ri, rs, rr) in rrows
        if ls < rr and rs < le
    )
    assert got == want and len(want) > 50  # non-trivial overlap mass


def test_interval_overlap_join_boundary_half_open(spark):
    from amazon_lookout_for_equipment_python_sdk_spark.operators.intervals import (
        interval_overlap_join,
    )

    base = 1_700_000_000
    left = spark.createDataFrame(
        [(1, base, base + 3600)], "lid long, s long, e long"
    ).select("lid", F.timestamp_seconds("s").alias("start"),
             F.timestamp_seconds("e").alias("end"))
    # touching at the boundary: [base+3600, ...) does NOT overlap [base, base+3600)
    right = spark.createDataFrame(
        [(2, base + 3600, base + 7200), (3, base + 3599, base + 7200)],
        "rid long, s long, e long",
    ).select("rid", F.timestamp_seconds("s").alias("start"),
             F.timestamp_seconds("e").alias("end"))
    got = sorted(
        (r["l_lid"], r["r_rid"])
        for r in interval_overlap_join(left, right).collect()
    )
    assert got == [(1, 3)]


def test_interval_overlap_join_subsecond_boundaries(spark):
    """Regression: whole-second block truncation missed overlaps whose
    boundaries carry sub-second parts (the fixture timestamps all do).
    Block membership must be microsecond-exact."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.intervals import (
        interval_overlap_join,
    )

    base_us = 1_700_000_000 * 1_000_000
    # left [..:59:59.5, +1h later by 0.5s): crosses the hour boundary by
    # half a second; right starts exactly on the hour -> 0.5s true overlap
    left = spark.createDataFrame(
        [(1, base_us + 3600_500_000 - 3601_000_000, base_us + 3600_500_000)],
        "lid long, s_us long, e_us long",
    ).select(
        "lid",
        F.timestamp_micros("s_us").alias("start"),
        F.timestamp_micros("e_us").alias("end"),
    )
    right = spark.createDataFrame(
        [(2, base_us + 3600_000_000, base_us + 7200_000_000)],
        "rid long, s_us long, e_us long",
    ).select(
        "rid",
        F.timestamp_micros("s_us").alias("start"),
        F.timestamp_micros("e_us").alias("end"),
    )
    got = [
        (r["l_lid"], r["r_rid"])
        for r in interval_overlap_join(left, right).collect()
    ]
    assert got == [(1, 2)]


def test_density_histograms_caller_bounds_clamp_both_ends(spark):
    """r8 (ADVICE r7): caller-supplied ``bounds`` narrower than the data
    must clamp BOTH ends — a value below min lands in bin 0 (not bin -1,
    which the grid join would drop while the subset total still counted
    it, deflating every density) and a value above max in the top bin.
    Densities must sum to 1/width per subset."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        wasserstein as ws,
    )

    rows = [("s", "train", v) for v in (-5.0, 0.0, 1.0, 9.0, 10.0, 99.0)]
    df = spark.createDataFrame(rows, "tag string, subset string, value double")
    bounds = spark.createDataFrame(
        [("s", 0.0, 10.0)], "tag string, min_value double, max_value double"
    )
    h = (
        ws.density_histograms(df, "subset", 10, bounds=bounds)
        .toPandas()
        .sort_values("bin")
    )
    dens = h["density"].to_numpy()
    width = (10.0 - 0.0) / 10
    # all 6 samples accounted for: densities integrate to 1
    assert abs(dens.sum() * width - 1.0) < 1e-12
    # -5 clamped into bin 0 (with 0.0); 10/99 clamped into bin 9 (with 9)
    by_bin = dict(zip(h["bin"], dens))
    assert abs(by_bin[0] - 2 / 6 / width) < 1e-12
    assert abs(by_bin[9] - 3 / 6 / width) < 1e-12
