"""Time-series / interval query layer (SURVEY §2.4-2.5, J1/J5/J6, M2, N1/N5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import timeseries as ts_ops
from .registry import (
    RATE,
    ROLL,
    SQL_BUCKET,
    det_avg,
    det_sum,
    load,
    qfloor,
    register,
    sql_det_avg,
    sql_det_sum,
    sql_qfloor,
)

# ---------------------------------------------------------------------------
# Phase 1 flagship: resample -> ffill -> rolling (A1 + W2/J4 + A10/W1)
# ---------------------------------------------------------------------------

_FLAGSHIP_SQL = f"""
WITH agg AS (
  SELECT event_type, {SQL_BUCKET} AS bucket_ts,
         {sql_det_avg('value')} AS avg_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(bucket_ts) AS t0, max(bucket_ts) AS t1 FROM agg GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(t0, t1, INTERVAL {RATE} SECOND)) AS bucket_ts
  FROM bounds
), filled AS (
  SELECT g.event_type, g.bucket_ts,
         last_value(a.avg_value IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.bucket_ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
  FROM grid g LEFT JOIN agg a
    ON g.event_type = a.event_type AND g.bucket_ts = a.bucket_ts
)
SELECT event_type, bucket_ts, value,
       CASE WHEN count(value) OVER w >= {ROLL}
            THEN {sql_qfloor('avg(value) OVER w')} END AS rolling_avg
FROM filled
WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
             ROWS BETWEEN {ROLL - 1} PRECEDING AND CURRENT ROW)
"""


@register("flagship_resample_ffill_rolling", _FLAGSHIP_SQL)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's preprocessing spine (plot.py:232-253 + 533-535):
    5-min tumbling mean per signal -> complete grid + forward fill ->
    1-hour rolling average."""
    events = load(spark, sf_dir, "events")
    agg = events.groupBy(
        "event_type", ts_ops.bucket(F.col("ts"), RATE).alias("bucket_ts")
    ).agg(det_avg(F.col("value")).alias("avg_value"))
    grid = ts_ops.time_grid(events, RATE, ts_col="ts", key_col="event_type")
    filled = ts_ops.ffill(
        grid.join(agg, ["event_type", "bucket_ts"], "left"),
        "avg_value",
        "bucket_ts",
        "event_type",
        out_col="value",
    ).drop("avg_value")
    rolled = ts_ops.rolling_mean(
        filled, ROLL, "value", ts_col="bucket_ts", key_col="event_type"
    )
    return rolled.select(
        "event_type",
        "bucket_ts",
        "value",
        qfloor(F.col("rolling_avg")).alias("rolling_avg"),
    )


@register("flagship_ffill_chunked", _FLAGSHIP_SQL)
def flagship_ffill_chunked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship spine with the skew-safe FILL (identical rows, same
    oracle — the chunked-row precedent): ``ffill_chunked`` runs the
    per-key last-non-null as a keyed prefix scan
    (operators/timeseries.py; see ``_chunkjoin.keyed_scan``) — the
    seventh routed family (operators/routing.py ``route("ffill")``;
    measured crossover in BASELINE.md r11 addendum 6).  The grid the
    fill runs over is span-bounded, not event-bounded — a decade of
    5-min slots is ~1M rows PER KEY regardless of event volume, which
    is exactly the few-keys-long-history shape the twins exist for.
    Property equality (sparse gaps, all-null keys, null keys/ts) pinned
    in tests/test_operators.py.  Built exactly like the plain flagship
    (det_avg resample, not the operator's plain F.avg — the oracle's
    float determinism contract) with only the fill swapped."""
    events = load(spark, sf_dir, "events")
    agg = events.groupBy(
        "event_type", ts_ops.bucket(F.col("ts"), RATE).alias("bucket_ts")
    ).agg(det_avg(F.col("value")).alias("avg_value"))
    grid = ts_ops.time_grid(events, RATE, ts_col="ts", key_col="event_type")
    filled = ts_ops.ffill_chunked(
        grid.join(agg, ["event_type", "bucket_ts"], "left"),
        "avg_value",
        6 * 3600,
        "bucket_ts",
        "event_type",
        out_col="value",
    ).drop("avg_value")
    rolled = ts_ops.rolling_mean(
        filled, ROLL, "value", ts_col="bucket_ts", key_col="event_type"
    )
    return rolled.select(
        "event_type",
        "bucket_ts",
        "value",
        qfloor(F.col("rolling_avg")).alias("rolling_avg"),
    )


# ---------------------------------------------------------------------------
# A1: resample mean (standalone)
# ---------------------------------------------------------------------------


@register(
    "resample_mean",
    f"""
SELECT event_type, {SQL_BUCKET} AS bucket_ts,
       {sql_det_avg('value')} AS avg_value, count(*) AS n_rows
FROM events GROUP BY 1, 2
""",
)
def resample_mean_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — resample(rule).mean() (reference plot.py:249-250)."""
    events = load(spark, sf_dir, "events")
    return events.groupBy(
        "event_type", ts_ops.bucket(F.col("ts"), RATE).alias("bucket_ts")
    ).agg(det_avg(F.col("value")).alias("avg_value"), F.count("*").alias("n_rows"))


# ---------------------------------------------------------------------------
# A2: resample first (deterministic first-by-ts, event_id tiebreak)
# ---------------------------------------------------------------------------


@register(
    "resample_first",
    f"""
SELECT event_type, bucket_ts, value AS first_value FROM (
  SELECT event_type, {SQL_BUCKET} AS bucket_ts, value,
         row_number() OVER (
           PARTITION BY event_type, {SQL_BUCKET}
           ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events) t WHERE rn = 1
""",
)
def resample_first_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — resample(rule).first() (reference plot.py:673)."""
    events = load(spark, sf_dir, "events")
    out = ts_ops.resample_first(
        events,
        RATE,
        ts_col="ts",
        key_col="event_type",
        value_col="value",
        tiebreak_col="event_id",
    )
    return out.select(
        "event_type", "bucket_ts", F.col("first_value").alias("first_value")
    )


# ---------------------------------------------------------------------------
# A4: global min/max per signal
# ---------------------------------------------------------------------------


@register(
    "minmax_per_signal",
    """
SELECT event_type, min(value) AS min_value, max(value) AS max_value,
       count(*) AS n_rows
FROM events GROUP BY 1
""",
)
def minmax_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — per-signal min/max for bin edges (reference evaluation.py:282-287)."""
    events = load(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# A5: 20-bin density histogram per signal
# ---------------------------------------------------------------------------

_HIST_SQL = """
WITH bounds0 AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx,
         count(*) AS n FROM events WHERE value IS NOT NULL GROUP BY 1
), bounds AS (
  -- numpy degenerate-range rule, mirroring the engine's
  -- widen_degenerate_bounds: min==max widens by 0.5 each side
  SELECT event_type,
         CASE WHEN mx = mn THEN mn - 0.5 ELSE mn END AS min_value,
         CASE WHEN mx = mn THEN mx + 0.5 ELSE mx END AS max_value,
         n
  FROM bounds0
), binned AS (
  SELECT e.event_type,
         CAST(least(floor((e.value - b.min_value) /
                          ((b.max_value - b.min_value)/20.0)), 19) AS INTEGER) AS bin,
         count(*) AS cnt
  FROM events e JOIN bounds b USING (event_type)
  WHERE e.value IS NOT NULL
  GROUP BY 1, 2
), grid AS (
  SELECT b.event_type, g.bin, b.min_value, b.max_value, b.n
  FROM bounds b, (SELECT unnest(generate_series(0, 19)) AS bin) g
)
SELECT g.event_type, g.bin,
       g.min_value + g.bin * ((g.max_value - g.min_value)/20.0) AS bin_start,
       COALESCE(c.cnt, 0) AS count,
       COALESCE(c.cnt, 0) / (g.n * ((g.max_value - g.min_value)/20.0)) AS density
FROM grid g LEFT JOIN binned c ON g.event_type = c.event_type AND g.bin = c.bin
"""


@register("histogram_20bin", _HIST_SQL)
def histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — fixed-width density histogram (reference evaluation.py:282-299)."""
    from ..operators.histogram import histogram

    events = load(spark, sf_dir, "events")
    return histogram(events, 20, key_col="event_type", value_col="value").select(
        "event_type", "bin", "bin_start", "count", "density"
    )


# ---------------------------------------------------------------------------
# A6/A7: Wasserstein(density-vectors) ranking — the flagship analytic
# ---------------------------------------------------------------------------

_SPLIT = "2024-01-15 00:00:00"

_WASS_SQL = f"""
WITH tagged AS (
  SELECT event_type, value,
         CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 'train' ELSE 'eval' END AS subset
  FROM events WHERE value IS NOT NULL
), bounds0 AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM tagged GROUP BY 1
), bounds AS (
  SELECT event_type,
         CASE WHEN mx = mn THEN mn - 0.5 ELSE mn END AS min_value,
         CASE WHEN mx = mn THEN mx + 0.5 ELSE mx END AS max_value
  FROM bounds0
), counts AS (
  SELECT t.event_type, t.subset,
         CAST(least(floor((t.value - b.min_value) /
                          ((b.max_value - b.min_value)/20.0)), 19) AS INTEGER) AS bin,
         count(*) AS cnt
  FROM tagged t JOIN bounds b USING (event_type)
  GROUP BY 1, 2, 3
), totals AS (
  SELECT event_type, subset, count(*) AS n FROM tagged GROUP BY 1, 2
), grid AS (
  SELECT b.event_type, s.subset, g.bin, b.min_value, b.max_value
  FROM bounds b,
       (SELECT unnest(generate_series(0, 19)) AS bin) g,
       (SELECT DISTINCT subset FROM tagged) s
), dens AS (
  SELECT g.event_type, g.subset, g.bin,
         COALESCE(c.cnt, 0) / (t.n * ((g.max_value - g.min_value)/20.0)) AS density
  FROM grid g
  LEFT JOIN counts c ON g.event_type = c.event_type AND g.subset = c.subset AND g.bin = c.bin
  JOIN totals t ON g.event_type = t.event_type AND g.subset = t.subset
), ranked AS (
  SELECT event_type, subset, density,
         row_number() OVER (PARTITION BY event_type, subset
                            ORDER BY density, bin) AS r
  FROM dens
), dist AS (
  SELECT a.event_type,
         {sql_qfloor('avg(abs(a.density - b.density))', 10)} AS distance
  FROM ranked a JOIN ranked b
    ON a.event_type = b.event_type AND a.r = b.r
  WHERE a.subset = 'train' AND b.subset = 'eval'
  GROUP BY 1
)
SELECT event_type, distance,
       CAST(row_number() OVER (ORDER BY distance DESC, event_type) AS INTEGER) AS rnk
FROM (
  -- signals missing one subset collapse to 0.0, mirroring the engine
  SELECT b.event_type, COALESCE(d.distance, 0.0) AS distance
  FROM bounds b LEFT JOIN dist d USING (event_type)) t
"""


_WASS_RAW_SQL = f"""
WITH tagged AS (
  SELECT event_type, value,
         CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 'train' ELSE 'eval' END AS subset
  FROM events WHERE value IS NOT NULL
), bounds0 AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM tagged GROUP BY 1
), bounds AS (
  SELECT event_type,
         CASE WHEN mx = mn THEN mn - 0.5 ELSE mn END AS min_value,
         CASE WHEN mx = mn THEN mx + 0.5 ELSE mx END AS max_value
  FROM bounds0
), counts AS (
  SELECT t.event_type, t.subset,
         CAST(least(floor((t.value - b.min_value) /
                          ((b.max_value - b.min_value)/20.0)), 19) AS INTEGER) AS bin,
         count(*) AS cnt
  FROM tagged t JOIN bounds b USING (event_type)
  GROUP BY 1, 2, 3
), totals AS (
  SELECT event_type, subset, count(*) AS n FROM tagged GROUP BY 1, 2
), grid AS (
  SELECT b.event_type, s.subset, g.bin, b.min_value, b.max_value
  FROM bounds b,
       (SELECT unnest(generate_series(0, 19)) AS bin) g,
       (SELECT DISTINCT subset FROM tagged) s
), dens AS (
  SELECT g.event_type, g.subset, g.bin,
         ((g.max_value - g.min_value)/20.0) AS width,
         COALESCE(c.cnt, 0) / (t.n * ((g.max_value - g.min_value)/20.0)) AS density
  FROM grid g
  LEFT JOIN counts c ON g.event_type = c.event_type AND g.subset = c.subset AND g.bin = c.bin
  JOIN totals t ON g.event_type = t.event_type AND g.subset = t.subset
), cdf AS (
  SELECT event_type, subset, bin, width,
         sum(density) OVER (PARTITION BY event_type, subset ORDER BY bin) AS c
  FROM dens
)
SELECT event_type, emd,
       CAST(row_number() OVER (ORDER BY emd DESC, event_type) AS INTEGER) AS rnk
FROM (
  SELECT a.event_type,
         {sql_qfloor('sum(abs(a.c - b.c)) * any_value(a.width) * any_value(a.width)', 10)} AS emd
  FROM cdf a JOIN cdf b ON a.event_type = b.event_type AND a.bin = b.bin
  WHERE a.subset = 'train' AND b.subset = 'eval'
  GROUP BY 1) t
"""


@register("wasserstein_raw_rank", _WASS_RAW_SQL)
def wasserstein_raw_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documented extension beside the density-vector-parity metric: the
    textbook binned EMD between the RAW train/eval sample distributions —
    sum over shared bins of |CDF_train - CDF_eval| * bin_width, the
    CDF-difference integral (SURVEY §7 hard-part 1).  Oracle mirrors the
    CDF as a DuckDB window cumsum over the same density grid; both engines
    run the running sum in bin order, so the floats match bit-for-bit
    under the same quantization as ``wasserstein_rank``."""
    from pyspark.sql import Window
    from ..operators.wasserstein import raw_sample_emd

    events = load(spark, sf_dir, "events").withColumn(
        "subset",
        F.when(F.col("ts") < F.lit(_SPLIT).cast("timestamp"), "train").otherwise(
            "eval"
        ),
    )
    d = raw_sample_emd(
        events, "subset", "train", "eval", 20,
        key_col="event_type", value_col="value",
    )
    d = d.select("event_type", qfloor(F.col("emd"), 10).alias("emd"))
    return d.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("emd"), "event_type"))
        .cast("int"),
    )


@register("wasserstein_rank", _WASS_SQL)
def wasserstein_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7 — per-signal Wasserstein distance between train/eval density
    vectors, ranked desc (reference evaluation.py:228-313, incl. the quirk
    that the distance is between the DENSITY vectors, not raw samples)."""
    from pyspark.sql import Window
    from ..operators.wasserstein import (
        density_histograms,
        wasserstein_between_density_vectors,
    )

    events = load(spark, sf_dir, "events").withColumn(
        "subset",
        F.when(F.col("ts") < F.lit(_SPLIT).cast("timestamp"), "train").otherwise(
            "eval"
        ),
    )
    hists = density_histograms(
        events, "subset", 20, key_col="event_type", value_col="value"
    )
    d = wasserstein_between_density_vectors(hists, "train", "eval", "event_type")
    d = d.select("event_type", qfloor(F.col("distance"), 10).alias("distance"))
    return d.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("distance"), "event_type"))
        .cast("int"),
    )


# ---------------------------------------------------------------------------
# M2: run compaction (point flags -> ranges)
# ---------------------------------------------------------------------------

_COMPACT_SQL = f"""
WITH pts AS (
  SELECT event_type, {SQL_BUCKET} AS bucket_ts,
         CASE WHEN {sql_det_avg('value')} > 100.0 THEN 1 ELSE 0 END AS f
  FROM events GROUP BY 1, 2
), runs AS (
  SELECT event_type, bucket_ts, f,
         CASE WHEN lag(f) OVER w IS NULL OR lag(f) OVER w <> f
              THEN 1 ELSE 0 END AS new_run
  FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
), ids AS (
  SELECT event_type, bucket_ts, f,
         sum(new_run) OVER (PARTITION BY event_type ORDER BY bucket_ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM runs
)
SELECT event_type, min(bucket_ts) AS start, max(bucket_ts) AS "end",
       count(*) AS n_points
FROM ids WHERE f = 1 GROUP BY event_type, run_id
"""


@register("run_compaction", _COMPACT_SQL)
def run_compaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — contiguous anomalous runs -> (start,end) ranges (SURVEY §4.2.4;
    reference ModelMetrics predicted_ranges, evaluation.py:96-117)."""
    from ..operators.intervals import compact_runs

    events = load(spark, sf_dir, "events")
    pts = events.groupBy(
        "event_type", ts_ops.bucket(F.col("ts"), RATE).alias("bucket_ts")
    ).agg((det_avg(F.col("value")) > F.lit(100.0)).cast("int").alias("f"))
    return compact_runs(pts, "f", ts_col="bucket_ts", key_col="event_type")


# ---------------------------------------------------------------------------
# J1: range join — stamp points 0/1/2 (labels win)
# ---------------------------------------------------------------------------

_SQL_HOUR_BUCKET = "CAST(to_timestamp(floor(epoch(ts)/3600)*3600) AS TIMESTAMP)"

_STAMP_SQL = f"""
WITH pred AS (
  SELECT {_SQL_HOUR_BUCKET} AS hstart
  FROM events WHERE event_type = 'error'
  GROUP BY 1 HAVING {sql_det_avg('value')} > 100.0
), lab AS (
  SELECT {_SQL_HOUR_BUCKET} AS hstart
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1 HAVING {sql_det_avg('value')} > 105.0
), pts AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
  WHERE event_type = 'click'
)
SELECT p.event_id, p.ts,
       CASE WHEN EXISTS (SELECT 1 FROM lab l WHERE p.ts >= l.hstart
                         AND p.ts <= l.hstart + INTERVAL 3599 SECOND) THEN 2
            WHEN EXISTS (SELECT 1 FROM pred r WHERE p.ts >= r.hstart
                         AND p.ts <= r.hstart + INTERVAL 3599 SECOND) THEN 1
            ELSE 0 END AS prediction
FROM pts p
"""


@register("range_join_stamp", _STAMP_SQL)
def range_join_stamp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — point-in-range stamping, 0=normal 1=predicted 2=labeled
    (reference evaluation.py:206-224).  Bucketed interval join (SURVEY
    §4.2.1): equi-join on coarse time block + residual BETWEEN."""
    from ..operators.intervals import stamp_points

    events = load(spark, sf_dir, "events")

    def hourly_ranges(etype: str, thresh: float) -> DataFrame:
        return (
            events.filter(F.col("event_type") == etype)
            .groupBy(ts_ops.bucket(F.col("ts"), 3600).alias("start"))
            .agg(det_avg(F.col("value")).alias("_avg"))
            .filter(F.col("_avg") > thresh)
            .select(
                "start",
                (F.col("start") + F.make_interval(secs=F.lit(3599))).alias("end"),
            )
        )

    points = events.filter(F.col("event_type") == "click").select("event_id", "ts")
    return stamp_points(
        points, hourly_ranges("error", 100.0), hourly_ranges("purchase", 105.0)
    )


# ---------------------------------------------------------------------------
# N5: range -> point expansion at 1-min steps
# ---------------------------------------------------------------------------

_EXPAND_SQL = f"""
WITH ranges AS (
  SELECT event_type,
         CAST(to_timestamp(floor(epoch(ts)/3600)*3600) AS TIMESTAMP) AS start
  FROM events GROUP BY 1, 2 HAVING {sql_det_avg('value')} > 102.0
)
SELECT event_type,
       unnest(generate_series(start, start + INTERVAL 3540 SECOND,
                              INTERVAL 60 SECOND)) AS ts,
       1 AS label
FROM ranges
"""


@register("range_expand_1min", _EXPAND_SQL)
def range_expand_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5 — interval table -> per-minute labeled point series (reference
    plot.py:320-333 pd.date_range fill)."""
    from ..operators.intervals import expand_ranges

    events = load(spark, sf_dir, "events")
    ranges = (
        events.groupBy(
            "event_type", ts_ops.bucket(F.col("ts"), 3600).alias("start")
        )
        .agg(det_avg(F.col("value")).alias("_avg"))
        .filter(F.col("_avg") > 102.0)
        .select(
            "event_type",
            "start",
            (F.col("start") + F.make_interval(secs=F.lit(3540))).alias("end"),
        )
    )
    return expand_ranges(
        ranges, 60, extra_cols=["event_type"], ts_name="ts"
    ).withColumn("label", F.lit(1))


# ---------------------------------------------------------------------------
# W5: train/eval split by timestamp
# ---------------------------------------------------------------------------


@register(
    "train_eval_split",
    f"""
SELECT event_type,
       CASE WHEN ts < TIMESTAMP '{_SPLIT}' THEN 'train' ELSE 'eval' END AS subset,
       count(*) AS n_rows, {sql_det_avg('value')} AS avg_value
FROM events GROUP BY 1, 2
""",
)
def split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 — partition a series at split_timestamp (reference model.py:166-192
    TrainingData/EvaluationData time bounds)."""
    events = load(spark, sf_dir, "events")
    return (
        events.withColumn(
            "subset",
            F.when(F.col("ts") < F.lit(_SPLIT).cast("timestamp"), "train").otherwise(
                "eval"
            ),
        )
        .groupBy("event_type", "subset")
        .agg(F.count("*").alias("n_rows"), det_avg(F.col("value")).alias("avg_value"))
    )


# ---------------------------------------------------------------------------
# W4: slot flooring (15-min scheduler slots with end bound)
# ---------------------------------------------------------------------------


@register(
    "floor_slot_15min",
    """
SELECT CAST(to_timestamp(floor(epoch(ts)/900)*900) AS TIMESTAMP) AS slot_start,
       CAST(to_timestamp(floor(epoch(ts)/900)*900 + 899) AS TIMESTAMP) AS slot_end,
       count(*) AS n_rows
FROM events GROUP BY 1, 2
""",
)
def floor_slot_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4 — floor-to-frequency slot assignment, end = start + freq - 1s
    (reference scheduler.py:153-164, dataset.py:295-303)."""
    from ..operators.timeseries import slot_bounds

    events = load(spark, sf_dir, "events")
    start, end = slot_bounds(F.col("ts"), 15)
    return (
        events.select(start.alias("slot_start"), end.alias("slot_end"))
        .groupBy("slot_start", "slot_end")
        .agg(F.count("*").alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# J5: consecutive-pair chunk boundaries via lead()
# ---------------------------------------------------------------------------


_LEAD_SQL = """
SELECT event_type, start_ts, end_ts FROM (
  SELECT event_type, bucket_ts AS start_ts,
         lead(bucket_ts) OVER (PARTITION BY event_type ORDER BY bucket_ts) AS end_ts
  FROM (SELECT DISTINCT event_type,
               CAST(to_timestamp(floor(epoch(ts)/3600)*3600) AS TIMESTAMP) AS bucket_ts
        FROM events) t) x
WHERE end_ts IS NOT NULL
"""


def _hourly_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_type", ts_ops.bucket(F.col("ts"), 3600).alias("bucket_ts")
    ).distinct()


@register("lead_pairs_chunks", _LEAD_SQL)
def lead_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — zip(splits[:-1], splits[1:]) chunking (reference dataset.py:527-531)."""
    return ts_ops.lead_pairs(
        _hourly_buckets(spark, sf_dir), ts_col="bucket_ts", key_col="event_type"
    ).select("event_type", "start_ts", "end_ts")


@register("lead_pairs_chunks_chunked", _LEAD_SQL)
def lead_pairs_chunked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe variant of ``lead_pairs_chunks`` (identical rows,
    same oracle — the rolling_zscore_anomalies_chunked precedent): the
    per-key lead window decomposed into (key, time-bucket) local pairs
    plus a tiny next-bucket-first boundary table joined back broadcast
    (operators/timeseries.py lead_pairs_chunked) — the shape that
    survives one hot key's split history, where the plain per-key
    window serializes it onto one task's sort.  Registered r11 with the
    fifth routed family (operators/routing.py route("lead_pairs"); measured
    crossover in BASELINE.md r11 addendum 5); the randomized property
    test (tests/test_operators.py) additionally pins the two forms
    multiset-equal, null timestamps included."""
    return ts_ops.lead_pairs_chunked(
        _hourly_buckets(spark, sf_dir),
        6 * 3600,
        ts_col="bucket_ts",
        key_col="event_type",
    ).select("event_type", "start_ts", "end_ts")


# ---------------------------------------------------------------------------
# J6: restamping (constant shift + positional)
# ---------------------------------------------------------------------------


@register(
    "shift_restamp",
    """
SELECT event_id, CAST(ts AS TIMESTAMP) + INTERVAL 7 DAY AS shifted_ts
FROM events WHERE event_type = 'error'
""",
)
def shift_restamp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6a — shift a series by a constant delta (reference dataset.py:521-522)."""
    events = load(spark, sf_dir, "events")
    return events.filter(F.col("event_type") == "error").select(
        "event_id", (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("shifted_ts")
    )


_RESTAMP_SQL = """
SELECT event_id, event_type,
       TIMESTAMP '2025-01-01 00:00:00'
         + (row_number() OVER (PARTITION BY event_type
                               ORDER BY CAST(ts AS TIMESTAMP), event_id) - 1)
           * INTERVAL 60 SECOND AS new_ts
FROM events
"""


@register("positional_restamp", _RESTAMP_SQL)
def positional_restamp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6b — replace timestamps with a synthetic equal-length date_range
    (reference dataset.py:316-323): i-th row by ts order -> start + i*step.
    Per-key (the reference restamps one component at a time,
    dataset.py:303-323), so the row_number window partitions by event_type
    — no single-partition global sort at scale."""
    events = load(spark, sf_dir, "events")
    out = ts_ops.restamp_positional(
        events.select("event_id", "event_type", "ts"),
        "2025-01-01 00:00:00",
        60,
        ts_col="ts",
        key_col="event_type",
        tiebreak_col="event_id",
    )
    return out.select("event_id", "event_type", F.col("ts").alias("new_ts"))


@register("positional_restamp_chunked", _RESTAMP_SQL)
def positional_restamp_chunked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe variant of ``positional_restamp`` (identical rows,
    same oracle): the per-key row_number as a keyed prefix count
    (operators/timeseries.py restamp_positional_chunked; see
    ``_chunkjoin.keyed_scan``) — the sixth routed family
    (operators/routing.py route("restamp_positional"); measured crossover
    shared with lead_pairs, BASELINE.md r11 addendum 5).  Also the
    distributed answer to the plain form's documented keyless
    single-partition global sort.  Row-for-row equality (ties, null
    timestamps, keyless) pinned in tests/test_operators.py."""
    events = load(spark, sf_dir, "events")
    out = ts_ops.restamp_positional_chunked(
        events.select("event_id", "event_type", "ts"),
        "2025-01-01 00:00:00",
        60,
        6 * 3600,
        ts_col="ts",
        key_col="event_type",
        tiebreak_col="event_id",
    )
    return out.select("event_id", "event_type", F.col("ts").alias("new_ts"))


# ---------------------------------------------------------------------------
# N1-style pivot: long -> wide (F-TAGS-WIDE duality)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

_PIVOT_SQL = f"""
SELECT {SQL_BUCKET} AS bucket_ts,
       {', '.join(f'''{sql_det_avg(f"CASE WHEN event_type = '{t}' THEN value END")} AS {t}''' for t in _EVENT_TYPES)}
FROM events GROUP BY 1
"""


@register("pivot_wide", _PIVOT_SQL)
def pivot_wide_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long -> wide pivot (reference's two accepted data formats,
    plot.py:46-50; diagnostics explode/pivot N1 is the same shape,
    scheduler.py:636-657)."""
    events = load(spark, sf_dir, "events")
    aggs = [
        det_avg(F.when(F.col("event_type") == t, F.col("value"))).alias(t)
        for t in _EVENT_TYPES
    ]
    return events.groupBy(
        ts_ops.bucket(F.col("ts"), RATE).alias("bucket_ts")
    ).agg(*aggs)


# ---------------------------------------------------------------------------
# as-of join: attach the latest preceding purchase to every click (r5)
# ---------------------------------------------------------------------------

_ASOF_SQL = """
WITH l AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
), r AS (
  SELECT user_id, ts, max(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, l.ts, r.purchase_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


@register("asof_join_purchases", _ASOF_SQL)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stream as-of join (trades-and-quotes shape): every click event
    carries the value of the user's latest purchase at or before it.
    DuckDB's native ASOF LEFT JOIN is the oracle; Spark side is the
    union + per-key window formulation (operators.timeseries.asof_join) —
    one shuffle, no range join.  Purchases pre-aggregate per (user, ts)
    with a deterministic max so the right side is unique per instant (the
    asof contract)."""
    events = load(spark, sf_dir, "events")
    left = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    right = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return ts_ops.asof_join(
        left, right, ts_col="ts", key_col="user_id",
        payload_cols=["purchase_value"],
    ).select("event_id", "user_id", "ts", "purchase_value")


@register("asof_join_purchases_chunked", _ASOF_SQL)
def asof_join_purchases_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe twin of ``asof_join_purchases`` (identical rows,
    same oracle — the rolling_zscore/cusum chunked-row precedent): the
    per-key forward fill as a keyed prefix scan
    (operators/timeseries.py asof_join_chunked, r11; see
    ``_chunkjoin.keyed_scan``).  Registered so the
    driver certifies the twin's lineage every rotation — it is the form
    ``route("asof_join")`` routes to when one hot key (the heavily-traded
    symbol) would serialize both tables' history onto one task."""
    events = load(spark, sf_dir, "events")
    left = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    right = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return ts_ops.asof_join_chunked(
        left, right, 24 * 3600, ts_col="ts", key_col="user_id",
        payload_cols=["purchase_value"],
    ).select("event_id", "user_id", "ts", "purchase_value")


# ---------------------------------------------------------------------------
# Interval x interval overlap join (J1 extended)
# ---------------------------------------------------------------------------

_OVERLAP_SQL = """
WITH er AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
         min(CAST(ts AS TIMESTAMP)) AS s,
         max(CAST(ts AS TIMESTAMP)) + INTERVAL 1 SECOND AS e
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
), cl AS (
  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS d,
         min(CAST(ts AS TIMESTAMP)) AS s,
         max(CAST(ts AS TIMESTAMP)) + INTERVAL 1 SECOND AS e
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT er.user_id AS user_id, er.d AS error_day, cl.d AS click_day,
       CAST(epoch_us(least(er.e, cl.e)) - epoch_us(greatest(er.s, cl.s))
            AS BIGINT) AS overlap_us
FROM er JOIN cl
  ON er.user_id = cl.user_id AND er.s < cl.e AND cl.s < er.e
"""


@register("interval_overlap_error_click", _OVERLAP_SQL)
def interval_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downtime correlation: each user's daily error activity span joined
    to their overlapping daily click spans (operators/intervals.py
    interval_overlap_join — block-bucketed, first-overlap-block
    ownership; the oracle is the naive theta join).  Exact microsecond
    overlap widths."""
    from ..operators.intervals import interval_overlap_join

    events = load(spark, sf_dir, "events")

    def day_spans(etype):
        return (
            events.filter(F.col("event_type") == etype)
            .groupBy("user_id", F.to_date("ts").alias("d"))
            .agg(
                F.min("ts").alias("start"),
                (F.max("ts") + F.expr("INTERVAL 1 SECOND")).alias("end"),
            )
        )

    er = day_spans("error")
    cl = day_spans("click")
    j = interval_overlap_join(er, cl, key_cols=["user_id"])
    return j.select(
        F.col("l_user_id").alias("user_id"),
        F.col("l_d").alias("error_day"),
        F.col("r_d").alias("click_day"),
        (
            F.unix_micros(F.least(F.col("l_end"), F.col("r_end")))
            - F.unix_micros(F.greatest(F.col("l_start"), F.col("r_start")))
        ).alias("overlap_us"),
    )


# ---------------------------------------------------------------------------
# Composed model-evaluation chain (reference evaluation.py:189-313):
# predicted ranges -> range-join stamping -> shared-bin histograms ->
# Wasserstein(density) rank -> top-k.  M2+J1+A5+A6+A7+T2 in ONE query.
# ---------------------------------------------------------------------------

def _model_eval_sql(pts_cte: str) -> str:
    """The evaluation-chain SQL with a pluggable flagged-buckets CTE —
    shared by the fixed-threshold and calibrated variants (the chain
    after ``pts`` is identical)."""
    return "WITH " + pts_cte + _EVAL_CHAIN_SQL_TAIL


_EVAL_CHAIN_SQL_TAIL = f""", runs AS (
  SELECT event_type, bucket_ts, f,
         CASE WHEN lag(f) OVER w IS NULL OR lag(f) OVER w <> f
              THEN 1 ELSE 0 END AS new_run
  FROM pts WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
), ids AS (
  SELECT event_type, bucket_ts, f,
         sum(new_run) OVER (PARTITION BY event_type ORDER BY bucket_ts
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run_id
  FROM runs
), ranges AS (
  SELECT event_type, min(bucket_ts) AS rstart, max(bucket_ts) AS rend
  FROM ids WHERE f = 1 GROUP BY event_type, run_id
), tagged AS (
  SELECT e.event_type, e.value,
         CASE WHEN r.rstart IS NULL THEN 'normal' ELSE 'anomalous' END
           AS subset
  FROM (SELECT event_type, value, {SQL_BUCKET} AS ts_b
        FROM events WHERE value IS NOT NULL) e
  LEFT JOIN ranges r
    ON e.event_type = r.event_type AND e.ts_b BETWEEN r.rstart AND r.rend
), bounds0 AS (
  SELECT event_type, min(value) AS mn, max(value) AS mx
  FROM tagged GROUP BY 1
), bounds AS (
  SELECT event_type,
         CASE WHEN mx = mn THEN mn - 0.5 ELSE mn END AS min_value,
         CASE WHEN mx = mn THEN mx + 0.5 ELSE mx END AS max_value
  FROM bounds0
), counts AS (
  SELECT t.event_type, t.subset,
         CAST(least(floor((t.value - b.min_value) /
                          ((b.max_value - b.min_value)/20.0)), 19)
              AS INTEGER) AS bin,
         count(*) AS cnt
  FROM tagged t JOIN bounds b USING (event_type)
  GROUP BY 1, 2, 3
), totals AS (
  SELECT event_type, subset, count(*) AS n FROM tagged GROUP BY 1, 2
), grid AS (
  SELECT b.event_type, s.subset, g.bin, b.min_value, b.max_value
  FROM bounds b,
       (SELECT unnest(generate_series(0, 19)) AS bin) g,
       (SELECT DISTINCT subset FROM tagged) s
), dens AS (
  SELECT g.event_type, g.subset, g.bin,
         COALESCE(c.cnt, 0) / (t.n * ((g.max_value - g.min_value)/20.0))
           AS density
  FROM grid g
  LEFT JOIN counts c ON g.event_type = c.event_type
                    AND g.subset = c.subset AND g.bin = c.bin
  JOIN totals t ON g.event_type = t.event_type AND g.subset = t.subset
), rankedd AS (
  SELECT event_type, subset, density,
         row_number() OVER (PARTITION BY event_type, subset
                            ORDER BY density, bin) AS r
  FROM dens
), dist AS (
  SELECT a.event_type,
         {sql_qfloor('avg(abs(a.density - b.density))', 10)} AS distance
  FROM rankedd a JOIN rankedd b
    ON a.event_type = b.event_type AND a.r = b.r
  WHERE a.subset = 'normal' AND b.subset = 'anomalous'
  GROUP BY 1
)
SELECT event_type, distance, rnk FROM (
  SELECT event_type, distance,
         CAST(row_number() OVER (ORDER BY distance DESC, event_type)
              AS INTEGER) AS rnk
  FROM (SELECT b.event_type, COALESCE(d.distance, 0.0) AS distance
        FROM bounds b LEFT JOIN dist d USING (event_type)) t0
) t WHERE rnk <= 3
"""

_MODEL_EVAL_SQL = _model_eval_sql(
    f"""pts AS (
  SELECT event_type, {SQL_BUCKET} AS bucket_ts,
         CASE WHEN {sql_det_avg('value')} > 100.0 THEN 1 ELSE 0 END AS f
  FROM events GROUP BY 1, 2
)"""
)


@register("model_evaluation", _MODEL_EVAL_SQL)
def model_evaluation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full evaluation post-processing chain in one
    composed query (evaluation.py:96-117 predicted ranges; 206-224 point
    stamping; 228-313 shared-bin histograms + density-vector Wasserstein
    + rank; 557-571 top-k): a deterministic threshold model flags 5-min
    buckets (det-avg > 100), contiguous flags compact to predicted
    RANGES (M2), raw events range-join their signal's ranges to split
    into normal/anomalous subsets (J1 — block-bucketed equi-join, no
    theta join), per-signal shared-edge density histograms (A5) feed the
    density-vector Wasserstein distance (A6), and signals rank by drift
    with top-3 kept (A7+T2).

    Scale shape: ranges are aggregate-sized (broadcast through the
    block-bucketed join); the event scan flows once through bucketing,
    once through the histogram aggs; everything downstream of the two
    corpus-wide hash aggs is grid-sized."""
    from pyspark.sql import Window

    from ..operators.intervals import compact_runs, range_join_bucketed
    from ..operators.wasserstein import (
        density_histograms,
        wasserstein_between_density_vectors,
    )

    events = load(spark, sf_dir, "events")
    pts = events.groupBy(
        "event_type", ts_ops.bucket(F.col("ts"), RATE).alias("bucket_ts")
    ).agg((det_avg(F.col("value")) > F.lit(100.0)).cast("int").alias("f"))
    return _evaluation_chain(events, pts)


def _evaluation_chain(events: DataFrame, pts: DataFrame) -> DataFrame:
    """ranges -> stamping -> histograms -> Wasserstein -> top-3, shared
    by the fixed-threshold and calibrated model_evaluation queries.
    ``pts`` is the flagged-buckets frame (event_type, bucket_ts, f)."""
    from pyspark.sql import Window

    from ..operators.intervals import compact_runs, range_join_bucketed
    from ..operators.wasserstein import (
        density_histograms,
        wasserstein_between_density_vectors,
    )

    ranges = compact_runs(
        pts, "f", ts_col="bucket_ts", key_col="event_type"
    ).select("event_type", "start", "end")
    filtered = events.filter(F.col("value").isNotNull())
    stamped = range_join_bucketed(
        filtered.select(
            "event_type",
            "value",
            ts_ops.bucket(F.col("ts"), RATE).alias("ts_b"),
        ),
        ranges.withColumn("_hit", F.lit(1)),
        ts_col="ts_b",
        key_cols=["event_type"],
        payload_cols=["_hit"],
    ).select(
        "event_type",
        "value",
        F.when(F.col("_hit").isNotNull(), "anomalous")
        .otherwise("normal")
        .alias("subset"),
    )
    # shared bin edges come from per-signal min/max over ALL subsets —
    # the stamping is a disjoint-range left join, so stamped's value set
    # IS filtered's: compute bounds from the plain scan and the
    # expensive range-join lineage executes once (histogram pass), not
    # twice (r7 scan audit: this chain ran 7-9 event-scan subtrees)
    from ..operators.histogram import signal_bounds

    bounds = signal_bounds(
        filtered.select("event_type", "value"), "event_type", "value"
    )
    hists = density_histograms(
        stamped,
        "subset",
        20,
        key_col="event_type",
        value_col="value",
        bounds=bounds,
    )
    d = wasserstein_between_density_vectors(
        hists, "normal", "anomalous", "event_type"
    )
    return (
        d.select("event_type", qfloor(F.col("distance"), 10).alias("distance"))
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.desc("distance"), "event_type"))
            .cast("int"),
        )
        .filter(F.col("rnk") <= 3)
    )


_MODEL_EVAL_CAL_SQL = _model_eval_sql(
    f"""pts0 AS (
  SELECT event_type, {SQL_BUCKET} AS bucket_ts,
         {sql_det_avg('value')} AS avg_value
  FROM events GROUP BY 1, 2
), thr AS (
  SELECT event_type, avg_value AS thr FROM (
    SELECT event_type, avg_value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY avg_value, bucket_ts) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM pts0) t
  WHERE rn = CAST(ceil(0.95 * n) AS BIGINT)
), pts AS (
  SELECT p.event_type, p.bucket_ts,
         CASE WHEN p.avg_value > t.thr THEN 1 ELSE 0 END AS f
  FROM pts0 p JOIN thr t USING (event_type)
)"""
)


@register("model_evaluation_calibrated", _MODEL_EVAL_CAL_SQL)
def model_evaluation_calibrated_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The evaluation chain driven by a CALIBRATED per-signal threshold
    instead of a fixed constant — the loop the reference's training step
    closes (ml/pipeline.py calibrates against candidate quantiles,
    reference model.py trains server-side): each signal's threshold is
    the exact 95th-percentile order statistic of its 5-min bucket
    averages (k = ceil(0.95 n), deterministic (avg, bucket_ts)
    tie-break — replayable where approxQuantile is not), buckets above
    it flag, and the flags feed the identical ranges -> stamping ->
    histograms -> Wasserstein -> top-3 chain as ``model_evaluation``.

    Scale shape: the calibration window runs over the AGGREGATE-sized
    bucket frame (|signals| x |buckets| rows), partitioned by signal —
    nothing corpus-sized sorts."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    pts0 = events.groupBy(
        "event_type", ts_ops.bucket(F.col("ts"), RATE).alias("bucket_ts")
    ).agg(det_avg(F.col("value")).alias("avg_value"))
    w = Window.partitionBy("event_type").orderBy("avg_value", "bucket_ts")
    wn = Window.partitionBy("event_type")
    thr = (
        pts0.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.ceil(F.lit(0.95) * F.col("n")).cast("long"))
        .select("event_type", F.col("avg_value").alias("thr"))
    )
    pts = pts0.join(thr, "event_type").select(
        "event_type",
        "bucket_ts",
        (F.col("avg_value") > F.col("thr")).cast("int").alias("f"),
    )
    return _evaluation_chain(events, pts)


# ---------------------------------------------------------------------------
# Time-RANGE window frame: trailing 1h by EVENT time (not row count)
# ---------------------------------------------------------------------------

_RANGE_FRAME_SQL = """
SELECT event_id, event_type,
       CAST(n_1h AS BIGINT) AS n_1h,
       CAST(sum_cents AS DOUBLE) / 100.0 AS sum_1h
FROM (
  SELECT event_id, event_type,
         count(*) OVER w AS n_1h,
         sum(CAST(round(value*100) AS BIGINT)) OVER w AS sum_cents
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
) t
"""


@register("rolling_1h_range_frame", _RANGE_FRAME_SQL)
def range_frame_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-TIME range frame (§2.5): each event's trailing-1-hour count
    and exact-cents sum over its signal, framed by actual timestamps
    (``RANGE BETWEEN 3600 PRECEDING``), not row counts — irregular
    series make row frames and time frames genuinely different, and the
    range frame is the one the reference's rolling diagnostics semantics
    imply for unresampled data.

    Scale shape: ONE per-signal window (hash partition + sort) — no
    self-join.  NB the r11 measurement (BASELINE addendum 7): Spark
    evaluates the RANGE frame by RESCANNING it per row, so cost is
    rows x frame_rows — density-dependent, which is why this query has
    a chunked twin routed on a compute product
    (``rolling_1h_range_frame_chunked`` below).  The frame orders on MICROSECOND
    epochs (unix_timestamp would truncate to seconds and admit extra
    rows at the boundary vs the oracle); same-instant ties share a frame
    by definition on BOTH engines (RANGE semantics), so the exact
    integer sums need no tie-break."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return events.select(
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        (F.sum(cents).over(w).cast("double") / F.lit(100.0)).alias("sum_1h"),
    )


@register("rolling_1h_range_frame_chunked", _RANGE_FRAME_SQL)
def range_frame_chunked_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe variant of ``rolling_1h_range_frame`` (identical
    rows, same oracle): a trailing time frame reaches back at most
    ``range_s``, so with bucket span >= range every frame crosses at
    most one bucket boundary — rows in each bucket's last hour
    replicate once into the next bucket as non-emitting context and
    the frame runs entirely within (key, bucket), parallel across the
    hot signal's history (operators/timeseries.py
    ``rolling_range_chunked``; no carry table, no join — the eighth
    routed family, operators/routing.py ``route("rolling_range")``,
    measured crossover in BASELINE.md r11 addendum 7).  Property
    equality incl. same-instant ties, null keys and null timestamps
    pinned in tests/test_operators.py."""
    events = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    out = ts_ops.rolling_range_chunked(
        events.select("event_id", "event_type", "ts", "value"),
        3_600,
        lambda w: {
            "n_1h": F.count(F.lit(1)).over(w),
            "sum_1h": F.sum(cents).over(w).cast("double") / F.lit(100.0),
        },
        bucket_span_s=6 * 3_600,
        ts_col="ts",
        key_col="event_type",
    )
    return out.select("event_id", "event_type", "n_1h", "sum_1h")
