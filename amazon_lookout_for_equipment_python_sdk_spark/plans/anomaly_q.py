"""Condition-monitoring / statistical-anomaly query layer.

The reference's managed service trains a model to flag abnormal equipment
behavior (reference: src/lookoutequipment/model.py + evaluation.py); these
queries provide the classical statistical counterparts as oracle-checked
engine operators: rolling z-score outliers (plain + skew-safe sharded),
CUSUM mean-drift, MAD robust outliers, seasonal hour-of-day baselines and
STL-lite decomposition, cross-signal Spearman + rolling correlation,
per-signal autocorrelation, persistence-forecast SMAPE, behavioral
funnels, sensor-outage gaps, and the data-quality gate.

All follow the exact-integer determinism contract (registry module
doc): aggregates run on cents, floats appear only in final correctly-
rounded IEEE expressions mirrored verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import stats as st
from .._persist import note_persist as _note_persist
from .registry import (
    RATE,
    SQL_BUCKET,
    det_avg,
    load,
    qfloor,
    register,
    register_twins,
    sql_det_avg,
    sql_qfloor,
)

_ZW = 100  # trailing rows in the z-score window
_ZTHR = 3.0  # |z| anomaly threshold (on the quantized value — portable)
_CUSUM_H = 50.0  # drift alarm level, value units

_TS = "CAST(ts AS TIMESTAMP)"

_Z_SQL = f"""
WITH scored AS (
  SELECT event_id, event_type, {_TS} AS ts, value,
         {st.sql_rolling_zscore(_ZW)} AS z
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY {_TS}, event_id
               ROWS BETWEEN {_ZW - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type, ts, value, {sql_qfloor('z')} AS zscore
FROM scored WHERE abs({sql_qfloor('z')}) > {_ZTHR}
"""


@register_twins(
    "rolling_zscore",
    "rolling_zscore_anomalies",
    "rolling_zscore_anomalies_chunked",
    _Z_SQL,
    6 * 3600,
)
def rolling_zscore_q(spark: SparkSession, sf_dir: str, op) -> DataFrame:
    """Point outliers: |rolling z| > 3 against the trailing 100 readings of
    the same signal.  One per-key window shuffle; the anomaly filter keeps
    the result tiny regardless of corpus size."""
    events = load(spark, sf_dir, "events")
    scored = op(events, _ZW)
    zq = qfloor(F.col("zscore"))
    return (
        scored.withColumn("zscore", zq)
        .filter(F.abs(F.col("zscore")) > F.lit(_ZTHR))
        .select("event_id", "event_type", "ts", "value", "zscore")
    )


_CUSUM_SQL = f"""
WITH base AS (
  SELECT event_type, {_TS} AS ts, event_id,
         CAST(round(value*100) AS BIGINT) AS xc
  FROM events
), med AS (
  SELECT event_type, xc AS med FROM (
    SELECT event_type, xc,
           row_number() OVER (PARTITION BY event_type ORDER BY xc, event_id)
             AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM base) t
  WHERE rn = floor((n + 1) / 2)
), cum AS (
  SELECT b.event_type, b.ts, b.event_id,
         sum(b.xc - m.med) OVER (
           PARTITION BY b.event_type ORDER BY b.ts, b.event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM base b JOIN med m USING (event_type)
), s AS (
  SELECT event_type,
         CAST(c - least(CAST(0 AS BIGINT), min(c) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS DOUBLE)
           / 100.0 AS cusum
  FROM cum
)
SELECT event_type,
       count(CASE WHEN cusum > {_CUSUM_H} THEN 1 END) AS n_over,
       {sql_qfloor('max(cusum)')} AS max_cusum
FROM s GROUP BY 1
"""


@register_twins(
    "cusum_reflected",
    "cusum_drift_flags",
    "cusum_drift_flags_chunked",
    _CUSUM_SQL,
    6 * 3600,
)
def cusum_q(spark: SparkSession, sf_dir: str, op) -> DataFrame:
    """Mean-drift detection: one-sided CUSUM against each signal's own
    median via the reflected-walk identity (operators/stats.py
    cusum_reflected — two stacked windows, ONE shuffle), rolled up to
    per-signal alarm counts + peak statistic."""
    events = load(spark, sf_dir, "events")
    cus = op(events)
    return cus.groupBy("event_type").agg(
        F.count(F.when(F.col("cusum") > F.lit(_CUSUM_H), 1)).alias("n_over"),
        qfloor(F.max("cusum")).alias("max_cusum"),
    )


_RHO_EXPR = (
    "(CAST(_n AS DOUBLE)*CAST(_sab AS DOUBLE)"
    " - CAST(_sa AS DOUBLE)*CAST(_sb AS DOUBLE)) / "
    "(sqrt(CAST(_n AS DOUBLE)*CAST(_saa AS DOUBLE)"
    " - CAST(_sa AS DOUBLE)*CAST(_sa AS DOUBLE)) * "
    "sqrt(CAST(_n AS DOUBLE)*CAST(_sbb AS DOUBLE)"
    " - CAST(_sb AS DOUBLE)*CAST(_sb AS DOUBLE)))"
)

_SPEARMAN_SQL = f"""
WITH agg AS (
  SELECT event_type, {SQL_BUCKET} AS bucket_ts,
         {sql_det_avg('value')} AS avg_value
  FROM events GROUP BY 1, 2
), p AS (
  SELECT a.event_type AS sig_a, b.event_type AS sig_b,
         a.bucket_ts AS _b, a.avg_value AS _va, b.avg_value AS _vb
  FROM agg a JOIN agg b
    ON a.bucket_ts = b.bucket_ts AND a.event_type < b.event_type
), r AS (
  SELECT sig_a, sig_b,
         row_number() OVER (PARTITION BY sig_a, sig_b ORDER BY _va, _b)
           AS _ra,
         row_number() OVER (PARTITION BY sig_a, sig_b ORDER BY _vb, _b)
           AS _rb
  FROM p
), g AS (
  SELECT sig_a, sig_b, count(*) AS _n,
         CAST(sum(_ra*_rb) AS BIGINT) AS _sab,
         CAST(sum(_ra) AS BIGINT) AS _sa, CAST(sum(_rb) AS BIGINT) AS _sb,
         CAST(sum(_ra*_ra) AS BIGINT) AS _saa,
         CAST(sum(_rb*_rb) AS BIGINT) AS _sbb
  FROM r GROUP BY 1, 2
)
SELECT sig_a, sig_b, _n AS n_buckets, {sql_qfloor(_RHO_EXPR)} AS rho
FROM g
"""


@register("signal_spearman_corr", _SPEARMAN_SQL)
def spearman_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-signal dependence: Spearman ρ for every signal pair on common
    5-min buckets.  The pair join runs on the resampled table (time-bounded,
    never event-count-bounded); ranks make the Pearson identity exact-
    integer."""
    events = load(spark, sf_dir, "events")
    agg = events.groupBy(
        "event_type",
        (F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / RATE) * RATE
        )).alias("bucket_ts"),
    ).agg(det_avg(F.col("value")).alias("avg_value"))
    rho = st.spearman_pairs(agg)
    return rho.select(
        "sig_a", "sig_b", "n_buckets", qfloor(F.col("rho")).alias("rho")
    )


_ACF_EXPR = (
    "(CAST(_n AS DOUBLE)*CAST(_sxy AS DOUBLE)"
    " - CAST(_sx AS DOUBLE)*CAST(_sy AS DOUBLE)) / "
    "(sqrt(CAST(_n AS DOUBLE)*CAST(_sxx AS DOUBLE)"
    " - CAST(_sx AS DOUBLE)*CAST(_sx AS DOUBLE)) * "
    "sqrt(CAST(_n AS DOUBLE)*CAST(_syy AS DOUBLE)"
    " - CAST(_sy AS DOUBLE)*CAST(_sy AS DOUBLE)))"
)

_ACF_SQL = f"""
WITH sums AS (
  SELECT event_type, {SQL_BUCKET} AS bucket_ts,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
  FROM events GROUP BY 1, 2
), lagged AS (
  SELECT event_type, sum_cents AS _x,
         lead(sum_cents, 1) OVER (
           PARTITION BY event_type ORDER BY bucket_ts) AS _y
  FROM sums
), g AS (
  SELECT event_type, count(*) AS _n,
         CAST(sum(_x*_y) AS BIGINT) AS _sxy,
         CAST(sum(_x) AS BIGINT) AS _sx, CAST(sum(_y) AS BIGINT) AS _sy,
         CAST(sum(_x*_x) AS BIGINT) AS _sxx,
         CAST(sum(_y*_y) AS BIGINT) AS _syy
  FROM lagged WHERE _y IS NOT NULL GROUP BY 1
)
SELECT event_type, _n AS n_pairs, {sql_qfloor(_ACF_EXPR)} AS acf FROM g
"""


@register("signal_autocorr_lag1", _ACF_SQL)
def autocorr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-signal lag-1 autocorrelation of 5-min bucket SUMS (sums stay
    exact integers, unlike means).  One resample agg + one lag window +
    one tiny hash agg."""
    events = load(spark, sf_dir, "events")
    sums = events.groupBy(
        "event_type",
        (F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / RATE) * RATE
        )).alias("bucket_ts"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents")
    )
    acf = st.autocorr_lag(sums, 1)
    return acf.select(
        "event_type", "n_pairs", qfloor(F.col("acf")).alias("acf")
    )


# ---------------------------------------------------------------------------
# Behavioral funnel: signup -> purchase conversion within the hour
# ---------------------------------------------------------------------------

_FUNNEL_SQL = f"""
WITH s1 AS (
  SELECT user_id, min({_TS}) AS t1
  FROM events WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min({_TS}) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase'
    AND {_TS} > s1.t1
    AND epoch_us({_TS}) <= epoch_us(s1.t1) + CAST(3600 AS BIGINT) * 1000000
  GROUP BY 1
)
SELECT (SELECT count(*) FROM s1) AS n_signup,
       (SELECT count(*) FROM s2) AS n_converted,
       floor(CAST((SELECT count(*) FROM s2) AS DOUBLE)
             / CAST((SELECT count(*) FROM s1) AS DOUBLE) * 1e4) / 1e4
         AS conversion
"""


@register("funnel_conversion", _FUNNEL_SQL)
def funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step behavioral funnel: users whose FIRST purchase follows
    their first signup within one hour (exact MICROSECOND window
    arithmetic — whole-second truncation shifts boundary conversions
    across engines).  Each step is a tiny per-user
    min-aggregate of a type-filtered slice (filters push to the scan);
    the step join carries |users| rows, never raw events — the classic
    funnel plan that survives 100 TB of events."""
    events = load(spark, sf_dir, "events")
    s1 = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        events.filter(F.col("event_type") == "purchase")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (
                F.unix_micros("ts")
                <= F.unix_micros("t1") + F.lit(3600 * 1_000_000)
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    n1 = s1.agg(F.count("*").alias("n_signup"))
    n2 = s2.agg(F.count("*").alias("n_converted"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .select(
            "n_signup",
            "n_converted",
            (
                F.floor(
                    F.col("n_converted").cast("double")
                    / F.col("n_signup").cast("double")
                    * F.lit(1e4)
                )
                / F.lit(1e4)
            ).alias("conversion"),
        )
    )


# ---------------------------------------------------------------------------
# MAD-based robust outliers (median absolute deviation)
# ---------------------------------------------------------------------------

_MAD_SQL = f"""
WITH base AS (
  SELECT event_type, event_id,
         CAST(round(value*100) AS BIGINT) AS xc
  FROM events
), med AS (
  SELECT event_type, xc AS med FROM (
    SELECT event_type, xc,
           row_number() OVER (PARTITION BY event_type ORDER BY xc, event_id)
             AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM base) t
  WHERE rn = floor((n + 1) / 2)
), dev AS (
  SELECT b.event_type, b.event_id, b.xc, m.med, abs(b.xc - m.med) AS ad
  FROM base b JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, ad AS mad FROM (
    SELECT event_type, ad,
           row_number() OVER (PARTITION BY event_type ORDER BY ad, event_id)
             AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM dev) t
  WHERE rn = floor((n + 1) / 2)
), scored AS (
  SELECT d.event_type,
         CAST(d.xc - d.med AS DOUBLE)
           / (1.4826 * CAST(a.mad AS DOUBLE)) AS rz
  FROM dev d JOIN mad a USING (event_type)
  WHERE a.mad > 0
)
SELECT event_type,
       count(CASE WHEN abs({sql_qfloor('rz')}) > 3.5 THEN 1 END)
         AS n_outliers,
       {sql_qfloor('max(rz)')} AS max_rz
FROM scored GROUP BY 1
"""


@register("mad_robust_outliers", _MAD_SQL)
def mad_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier counts per signal: modified z-score against the
    median/MAD (the estimator that survives the contamination that wrecks
    mean/std z-scores).  Medians are integer order statistics on cents —
    exact — so the only float is the final scaled division.

    The medians are COUNT-BASED order statistics (r9): ``xc`` lives on a
    bounded integer grid (cents), so ``groupBy(event_type, xc).count()``
    is a map-side-combinable aggregate whose output is DOMAIN-bounded
    (~10k distinct cents per signal at any corpus size), and the lower
    median is the smallest value whose cumulative count reaches
    floor((n+1)/2) — one tiny window over the aggregate.  The pre-r9
    shape ranked every EVENT row with row_number over 5 signal
    partitions: an all-corpus per-key sort serialized onto
    |event_type| tasks, exactly the single-hot-partition anti-pattern
    the skew A/B measures, and pure waste when only the rank-r VALUE is
    needed.  (Value-identical: r-th smallest with duplicates = smallest
    v with cum(v) >= r; the oracle keeps the row_number form.)

    MAD is intrinsically two-pass (median of |x - median|); persisting
    the ``base`` sliver (3 narrow columns, DISK_ONLY — corpus-
    proportional slivers never take a promotion-prone memory level, r9
    addendum 2) holds the pipeline at ONE events scan.  The r8 ``dev``
    persist is GONE: with count-based medians its consumers cost one
    base-cache read + a broadcast join each, cheaper than writing a
    second corpus-sized cache.  Measured (local[32], count drain,
    min-of-N): sf0.1 unchanged within the sub-second noise band
    (1.4-1.6s both shapes; noop-drain bench 0.65-0.83s both), but the
    DECADE point is 5.3x faster — sf10 25.4s -> 4.8s, factor per 10x
    data 7.7x -> 1.8x — because the serialized per-signal corpus sort
    was the whole decade cost.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    xc = F.round(F.col("value") * 100).cast("long")
    base = events.select("event_type", "event_id", xc.alias("xc")).persist(
        StorageLevel.DISK_ONLY
    ).transform(_note_persist)

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        rank = F.floor((F.col("_n") + 1) / 2)
        w_cum = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_all = Window.partitionBy("event_type")
        counts = df.groupBy("event_type", col).agg(
            F.count(F.lit(1)).alias("_c")
        )
        return (
            counts.withColumn("_cum", F.sum("_c").over(w_cum))
            .withColumn("_n", F.sum("_c").over(w_all))
            .filter(
                (F.col("_cum") >= rank) & (F.col("_cum") - F.col("_c") < rank)
            )
            .select("event_type", F.col(col).alias(out))
        )

    med = lower_median(base, "xc", "med")
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("xc") - F.col("med"))
    )
    mad = lower_median(dev, "ad", "mad")
    rz = F.col("xc") - F.col("med")
    scored = (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn(
            "rz",
            rz.cast("double")
            / (F.lit(1.4826) * F.col("mad").cast("double")),
        )
    )
    return scored.groupBy("event_type").agg(
        F.count(
            F.when(F.abs(qfloor(F.col("rz"))) > F.lit(3.5), 1)
        ).alias("n_outliers"),
        qfloor(F.max("rz")).alias("max_rz"),
    )


# ---------------------------------------------------------------------------
# Data-quality expectations over events (operators/dq.py)
# ---------------------------------------------------------------------------

_DQ_SQL = """
SELECT 'not_null(event_id)' AS rule,
       CAST(count(CASE WHEN event_id IS NULL THEN 1 END) AS BIGINT)
         AS n_violations
FROM events
UNION ALL
SELECT 'in_range(value,0.0,10000.0)',
       CAST(count(CASE WHEN value IS NOT NULL
                        AND (value < 0.0 OR value > 10000.0)
                  THEN 1 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'accepted_values(event_type)',
       CAST(count(CASE WHEN event_type IS NOT NULL AND event_type NOT IN
                       ('click','view','purchase','signup','error')
                  THEN 1 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'unique(event_id)',
       CAST(coalesce(sum(c - 1), 0) AS BIGINT)
FROM (SELECT count(*) AS c FROM events
      WHERE event_id IS NOT NULL GROUP BY event_id) t
UNION ALL
SELECT 'foreign_key(user_id)',
       CAST(count(*) AS BIGINT)
FROM events e
WHERE e.user_id IS NOT NULL
  AND e.user_id NOT IN (SELECT c_custkey FROM customer)
"""


@register("dq_violations_events", _DQ_SQL)
def dq_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-level data quality over the events feed: 3 row-local rules
    fused into ONE aggregate pass + a uniqueness check + a dim
    referential check (operators/dq.py).  The audit row set includes the
    zero-violation passes — an ingest gate needs the record of what
    held."""
    from ..operators import dq

    events = load(spark, sf_dir, "events")
    customer = load(spark, sf_dir, "customer")
    rules = [
        dq.not_null("event_id"),
        dq.in_range("value", 0.0, 10000.0),
        dq.accepted_values(
            "event_type", ["click", "view", "purchase", "signup", "error"]
        ),
        dq.unique("event_id"),
        dq.foreign_key("user_id", customer, "c_custkey"),
    ]
    return dq.check(events, rules)


# ---------------------------------------------------------------------------
# Sensor-outage gap report
# ---------------------------------------------------------------------------

_GAP_SQL = f"""
SELECT event_type, gap_start, gap_end, gap_us FROM (
  SELECT event_type,
         lag({_TS}) OVER (PARTITION BY event_type
                          ORDER BY {_TS}, event_id) AS gap_start,
         {_TS} AS gap_end,
         epoch_us({_TS}) - epoch_us(lag({_TS}) OVER (
             PARTITION BY event_type ORDER BY {_TS}, event_id))
           AS gap_us
  FROM events) t
WHERE gap_us > 1800 * 1000000
"""


@register("sensor_gap_report", _GAP_SQL)
def gap_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensor outage detection: intervals where a signal was silent for
    over 30 minutes (the reference's scheduler flags missing FILES —
    ST3; this flags missing DATA).  One lag window per key; MICROSECOND
    integer arithmetic (unix_micros / epoch_us) — whole-second epoch
    truncation shifts gaps near the threshold across engines."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        events.select(
            "event_type",
            prev.alias("gap_start"),
            F.col("ts").alias("gap_end"),
            (F.unix_micros("ts") - F.unix_micros(prev)).alias("gap_us"),
        )
        .filter(F.col("gap_us") > 1800 * 1_000_000)
    )


# ---------------------------------------------------------------------------
# Seasonal (hour-of-day) baseline anomalies
# ---------------------------------------------------------------------------

_SEASONAL_SQL = f"""
WITH base AS (
  SELECT event_type, CAST(hour({_TS}) AS BIGINT) AS hod,
         CAST(round(value*100) AS BIGINT) AS xc
  FROM events
), prof AS (
  SELECT event_type, hod,
         count(*) AS n,
         CAST(sum(xc) AS BIGINT) AS s,
         CAST(sum(xc*xc) AS BIGINT) AS q
  FROM base GROUP BY 1, 2
), scored AS (
  SELECT b.event_type, b.hod, p.n, p.s,
         CAST(b.xc * p.n - p.s AS DOUBLE)
           / sqrt(CAST(p.n*p.q - p.s*p.s AS DOUBLE)
                  * CAST(p.n AS DOUBLE) / CAST(p.n - 1 AS DOUBLE)) AS z
  FROM base b JOIN prof p USING (event_type, hod)
  WHERE p.n >= 30 AND p.n*p.q - p.s*p.s > 0
)
SELECT event_type, hod, max(n) AS n_obs,
       {sql_qfloor('CAST(max(s) AS DOUBLE) / (CAST(max(n) AS DOUBLE) * 100.0)')}
         AS baseline,
       count(CASE WHEN abs({sql_qfloor('z')}) > 3.0 THEN 1 END) AS n_anomalous
FROM scored GROUP BY 1, 2
"""


@register("seasonal_hourly_anomalies", _SEASONAL_SQL)
def seasonal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly counts: every reading scores against its
    signal's OWN hour-of-day population (a pump runs hotter at noon —
    global z-scores flag the season, this flags the exception).  One
    profile hash agg (|signals|x24 rows, broadcast back) + one row-local
    scoring pass; exact integer n/S/Q with the shared z expression."""
    events = load(spark, sf_dir, "events")
    xc = F.round(F.col("value") * 100).cast("long")
    base = events.select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        xc.alias("xc"),
    )
    prof = base.groupBy("event_type", "hod").agg(
        F.count("*").alias("n"),
        F.sum("xc").alias("s"),
        F.sum(F.col("xc") * F.col("xc")).alias("q"),
    )
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    z = (F.col("xc") * F.col("n") - F.col("s")).cast("double") / F.sqrt(
        var_num.cast("double")
        * F.col("n").cast("double")
        / (F.col("n") - 1).cast("double")
    )
    scored = (
        base.join(F.broadcast(prof), ["event_type", "hod"])
        .filter((F.col("n") >= 30) & (var_num > 0))
        .withColumn("z", z)
    )
    return scored.groupBy("event_type", "hod").agg(
        F.max("n").alias("n_obs"),
        qfloor(
            F.max("s").cast("double")
            / (F.max("n").cast("double") * F.lit(100.0))
        ).alias("baseline"),
        F.count(
            F.when(F.abs(qfloor(F.col("z"))) > F.lit(3.0), 1)
        ).alias("n_anomalous"),
    )


# ---------------------------------------------------------------------------
# Three-step funnel (generalized funnel_steps operator)
# ---------------------------------------------------------------------------

_F3_US = "CAST(3600 AS BIGINT) * 1000000"

_FUNNEL3_SQL = f"""
WITH s1 AS (
  SELECT user_id, min({_TS}) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min({_TS}) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'view' AND {_TS} > s1.t1
    AND epoch_us({_TS}) <= epoch_us(s1.t1) + {_F3_US}
  GROUP BY 1
), s3 AS (
  SELECT e.user_id, min({_TS}) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND {_TS} > s2.t2
    AND epoch_us({_TS}) <= epoch_us(s2.t2) + {_F3_US}
  GROUP BY 1
)
SELECT (SELECT count(*) FROM s1) AS n_step1,
       (SELECT count(*) FROM s2) AS n_step2,
       (SELECT count(*) FROM s3) AS n_step3
"""


@register("funnel_three_step", _FUNNEL3_SQL)
def funnel3_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup -> view -> purchase, each within an hour of the previous
    step (operators/timeseries.py funnel_steps — k-step generalization;
    chained per-key min-aggregates, raw events never cross a join)."""
    from ..operators.timeseries import funnel_steps

    events = load(spark, sf_dir, "events")
    f = funnel_steps(events, ["signup", "view", "purchase"], within_s=3600)
    return f.agg(
        F.count("t_1").alias("n_step1"),
        F.count("t_2").alias("n_step2"),
        F.count("t_3").alias("n_step3"),
    )


# shared per-signal 5-min bucket cents-sum spine (used by the SMAPE,
# rolling-correlation, and decomposition queries — ONE definition so the
# bucketing/rounding convention cannot silently diverge from its oracle)
_SUMS_SQL = f"""
  SELECT event_type, {SQL_BUCKET} AS bucket_ts,
         CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sc,
         count(*) AS n
  FROM events GROUP BY 1, 2
"""


def _bucket_cent_sums(events: DataFrame) -> DataFrame:
    return events.groupBy(
        "event_type",
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / RATE) * RATE
        ).alias("bucket_ts"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sc"),
        F.count("*").alias("n"),
    )


# ---------------------------------------------------------------------------
# Persistence-forecast baseline + SMAPE
# ---------------------------------------------------------------------------

_SMAPE_SQL = f"""
WITH sums AS ({_SUMS_SQL}
), lagged AS (
  SELECT event_type, sc,
         lag(sc) OVER (PARTITION BY event_type ORDER BY bucket_ts) AS prev
  FROM sums
)
SELECT event_type, count(*) AS n_forecasts,
       {sql_qfloor(
           'sum(CAST(abs(sc - prev) AS DOUBLE) '
           '/ (CAST(abs(sc) + abs(prev) AS DOUBLE) / 2.0)) '
           '/ count(*)'
       )} AS smape
FROM lagged
WHERE prev IS NOT NULL AND abs(sc) + abs(prev) > 0
GROUP BY 1
"""


@register("forecast_smape_baseline", _SMAPE_SQL)
def smape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence (naive lag-1) forecast quality per signal: SMAPE of
    predicting each 5-min bucket sum with the previous bucket's — the
    baseline every forecasting model must beat, and the denominator of
    skill scores.  Bucket sums are exact integer cents; each SMAPE term
    is one fixed-shape double expression, the mean is a count-division
    (order-independent sum of identically-computed doubles after qfloor
    on the TOTAL — pinned by the oracle)."""
    events = load(spark, sf_dir, "events")
    sums = _bucket_cent_sums(events)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("bucket_ts")
    lagged = sums.withColumn("prev", F.lag("sc").over(w)).filter(
        F.col("prev").isNotNull()
        & ((F.abs(F.col("sc")) + F.abs(F.col("prev"))) > 0)
    )
    term = F.abs(F.col("sc") - F.col("prev")).cast("double") / (
        (F.abs(F.col("sc")) + F.abs(F.col("prev"))).cast("double") / F.lit(2.0)
    )
    return lagged.groupBy("event_type").agg(
        F.count("*").alias("n_forecasts"),
        qfloor(F.sum(term) / F.count("*")).alias("smape"),
    )


# ---------------------------------------------------------------------------
# Rolling cross-signal correlation (relationship drift)
# ---------------------------------------------------------------------------

_RCORR_W = 48  # trailing buckets (4 h of 5-min slots)

_RCORR_SQL = f"""
WITH sums AS ({_SUMS_SQL}
), paired AS (
  SELECT a.bucket_ts, a.sc AS xc, b.sc AS yc
  FROM sums a JOIN sums b ON a.bucket_ts = b.bucket_ts
  WHERE a.event_type = 'click' AND b.event_type = 'view'
), scored AS (
  SELECT bucket_ts,
         count(xc) OVER w AS n,
         sum(xc) OVER w AS sx, sum(yc) OVER w AS sy,
         sum(xc*xc) OVER w AS sxx, sum(yc*yc) OVER w AS syy,
         sum(xc*yc) OVER w AS sxy
  FROM paired
  WINDOW w AS (ORDER BY bucket_ts
               ROWS BETWEEN {_RCORR_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT bucket_ts,
       {sql_qfloor(
           'CAST(n*sxy - sx*sy AS DOUBLE) / '
           '(sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * '
           'sqrt(CAST(n*syy - sy*sy AS DOUBLE)))'
       )} AS rolling_r
FROM scored
WHERE n >= {_RCORR_W} AND n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
"""


@register("rolling_corr_click_view", _RCORR_SQL)
def rolling_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relationship drift between the click and view signals: trailing
    4-hour Pearson on common 5-min bucket sums (operators/stats.py
    rolling_corr).  Exact integer windowed sums; the pair table is
    time-range-bounded so the join and window stay tiny at any corpus
    size."""
    events = load(spark, sf_dir, "events")
    sums = _bucket_cent_sums(events)
    a = sums.filter(F.col("event_type") == "click").select(
        "bucket_ts", F.col("sc").alias("xc")
    )
    b = sums.filter(F.col("event_type") == "view").select(
        "bucket_ts", F.col("sc").alias("yc")
    )
    paired = a.join(b, "bucket_ts")
    out = st.rolling_corr(paired, _RCORR_W, order_col="bucket_ts")
    return (
        out.filter(F.col("rolling_r").isNotNull())
        .select("bucket_ts", qfloor(F.col("rolling_r")).alias("rolling_r"))
    )


# ---------------------------------------------------------------------------
# Trend-removed seasonal decomposition (STL-lite)
# ---------------------------------------------------------------------------

_DEC_K = 12  # centered MA half-width (buckets): 2h window at 5-min rate

_DECOMP_SQL = f"""
WITH sums AS ({_SUMS_SQL}
), tr AS (
  SELECT event_type, bucket_ts, sc, n,
         sum(sc) OVER w AS tn, sum(n) OVER w AS td,
         count(*) OVER w AS nw
  FROM sums
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
               ROWS BETWEEN {_DEC_K} PRECEDING AND {_DEC_K} FOLLOWING)
), det AS (
  SELECT event_type, CAST(hour(bucket_ts) AS BIGINT) AS hod,
         CAST(floor((CAST(sc AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)
               - CAST(tn AS DOUBLE) / (CAST(td AS DOUBLE) * 100.0)) * 1e4)
              AS BIGINT) AS det4
  FROM tr WHERE nw = {2 * _DEC_K + 1}
)
SELECT event_type, hod, count(*) AS n_obs,
       floor(CAST(sum(det4) AS DOUBLE) / count(*)) / 1e4 AS seasonal
FROM det GROUP BY 1, 2
"""


@register("seasonal_decompose_profile", _DECOMP_SQL)
def decompose_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition: centered 2-hour moving average removes the
    trend, then the hour-of-day mean of the DETRENDED series is the
    seasonal profile (seasonal_hourly_anomalies averages raw values — a
    trending signal contaminates that; this one doesn't).

    Determinism chain: the trend is a ratio of two WINDOW-SUMMED
    INTEGERS (cents and counts — never a float sum), detrended values
    floor onto a 1e-4 grid at source, so the final per-(signal, hour)
    means are exact-integer sums with one correctly-rounded division."""
    from pyspark.sql import Window

    events = load(spark, sf_dir, "events")
    sums = _bucket_cent_sums(events)
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(-_DEC_K, _DEC_K)
    )
    tr = sums.select(
        "event_type",
        "bucket_ts",
        "sc",
        "n",
        F.sum("sc").over(w).alias("tn"),
        F.sum("n").over(w).alias("td"),
        F.count("*").over(w).alias("nw"),
    ).filter(F.col("nw") == 2 * _DEC_K + 1)
    avg = F.col("sc").cast("double") / (F.col("n").cast("double") * F.lit(100.0))
    trend = F.col("tn").cast("double") / (
        F.col("td").cast("double") * F.lit(100.0)
    )
    det = tr.select(
        "event_type",
        F.hour("bucket_ts").cast("long").alias("hod"),
        F.floor((avg - trend) * F.lit(1e4)).cast("long").alias("det4"),
    )
    return det.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_obs"),
        (
            F.floor(F.sum("det4").cast("double") / F.count("*")) / F.lit(1e4)
        ).alias("seasonal"),
    )


# ---------------------------------------------------------------------------
# EWMA control chart
# ---------------------------------------------------------------------------

_EWMA_A = 0.3
_EWMA_W = 64

_EWMA_SQL = f"""
WITH sums AS ({_SUMS_SQL}
), series AS (
  SELECT event_type, bucket_ts,
         CAST(sc AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS avg_value
  FROM sums
), arred AS (
  SELECT event_type, bucket_ts,
         list(CAST(avg_value AS DOUBLE)) OVER w AS arr
  FROM series
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
               ROWS BETWEEN {_EWMA_W - 1} PRECEDING AND CURRENT ROW)
), scored AS (
  SELECT event_type, bucket_ts,
         list_reduce(arr, (acc, x) -> acc * {1.0 - _EWMA_A} + x)
           / ((1.0 - pow({1.0 - _EWMA_A}, CAST(len(arr) AS DOUBLE)))
              / {_EWMA_A}) AS z
  FROM arred
)
SELECT event_type, bucket_ts, floor(z * 1e4) / 1e4 AS ewma
FROM scored
WHERE CAST(epoch(bucket_ts) AS BIGINT) % (16 * {RATE}) = 0
"""


@register_twins(
    "ewma",
    "ewma_chart",
    "ewma_chart_chunked",
    _EWMA_SQL,
    6 * 3600,
)
def ewma_q(spark: SparkSession, sf_dir: str, op) -> DataFrame:
    """EWMA smoothing of each signal's 5-min bucket means
    (operators/stats.py ewma — Horner fold over the ordered window
    array, so the float op sequence is fixed and engine-portable).
    Output thinned to every 16th bucket for the driver compare."""
    events = load(spark, sf_dir, "events")
    sums = _bucket_cent_sums(events)
    series = sums.select(
        "event_type",
        "bucket_ts",
        (
            F.col("sc").cast("double")
            / (F.col("n").cast("double") * F.lit(100.0))
        ).alias("avg_value"),
    )
    out = op(series, _EWMA_A, window=_EWMA_W)
    return (
        out.filter(
            F.unix_timestamp("bucket_ts") % F.lit(16 * RATE) == 0
        )
        .select(
            "event_type",
            "bucket_ts",
            (F.floor(F.col("ewma") * F.lit(1e4)) / F.lit(1e4)).alias("ewma"),
        )
    )


# ---------------------------------------------------------------------------
# Hot-key-safe exact distinct (two-phase)
# ---------------------------------------------------------------------------

_DISTINCT2_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_distinct
FROM (SELECT DISTINCT event_type, user_id FROM events) t
GROUP BY 1
"""


@register("distinct_users_per_signal", _DISTINCT2_SQL)
def distinct_two_phase_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per signal via the two-phase shape
    (operators/stats.py exact_distinct_two_phase): the heavy phase keys
    on (signal, user) so a hot signal spreads across the cluster instead
    of serializing one reducer — the exact-answer complement to the HLL
    sketch."""
    events = load(spark, sf_dir, "events")
    return st.exact_distinct_two_phase(events, "event_type", "user_id")


# ---------------------------------------------------------------------------
# Gorilla codec end-to-end: compress -> decompress -> aggregate (r6)
# ---------------------------------------------------------------------------

# checksums sum RELATIVE micros (vs 2024-01-01): absolute epoch-micros
# sums overflow int64 past ~5k rows per group (caught by the r6 bench at
# sf0.1 under ANSI mode; the sf0.01 oracle run fit by luck)
_GORILLA_EPOCH0 = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, micros

_GORILLA_SQL = f"""
SELECT event_type,
       count(*) AS n_points,
       CAST(sum(epoch_us(CAST(ts AS TIMESTAMP)) - {_GORILLA_EPOCH0})
            AS BIGINT) AS ts_sum_us,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events WHERE value IS NOT NULL
GROUP BY 1
"""


@register("gorilla_roundtrip_stats", _GORILLA_SQL)
def gorilla_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gorilla codec as a DRIVER-VERIFIED identity: the events table
    compresses into windowed blocks (delta-of-delta timestamps +
    XOR-float values, operators/gorilla.py), decompresses back, and
    aggregates — while the oracle aggregates the RAW rows directly.
    Because the codec is lossless, the two sides must match bit-for-bit;
    any encoder/decoder defect (a flipped sign class, a mis-sized
    window) breaks the hash.  The one oracle pattern that can verify a
    binary codec in SQL.

    Scale shape: one shuffle on (key, window) for the blocks, row-local
    decode, one hash agg."""
    from ..operators.gorilla import compress_series, decompress_series

    events = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    back = decompress_series(
        compress_series(events, block_hours=24), key_col="event_type"
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.unix_micros("ts") - F.lit(_GORILLA_EPOCH0)).alias(
            "ts_sum_us"
        ),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
