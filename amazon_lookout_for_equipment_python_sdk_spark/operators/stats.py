"""Statistical monitoring operators: rolling z-score anomaly flags (plain
+ skew-safe sharded), CUSUM drift detection, EWMA control chart, Spearman
rank correlation, rolling cross-signal correlation, lag autocorrelation.

The condition-monitoring layer the reference delegates to its managed model
(reference: src/lookoutequipment/evaluation.py diagnostics + plot.py rolling
views) — here as first-class, oracle-checkable DataFrame operators.

Determinism contract (see plans/registry.py module doc): every float a query
emits is produced from EXACT integer aggregates (values scaled to cents) by
a fixed IEEE op sequence (+ - * / sqrt are all correctly rounded, hence
bit-identical across engines), then quantized with ``qfloor`` where a window
sum is order-dependent.

Scale notes (100 TB): each operator is ONE key-partitioned shuffle (window
or hash agg); no self-join carries raw rows (the Spearman pair join runs on
the resampled bucket table, which is bounded by time-range/rate × #signals,
not by event count); all integer sums are bounded by cents × rows-per-key —
documented per function.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._chunkjoin import _keyed_scan, bucket_axis, guard_internal
from ._chunkjoin import join_boundary, keyed_scan


def _cents(c: Column, scale: int) -> Column:
    # exact scaled-integer of fixed-decimal source data (registry.cents)
    return F.round(c * scale).cast("long")


def rolling_zscore(
    df: DataFrame,
    window: int,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str = "event_type",
    tiebreak_col: str = "event_id",
    scale: int = 100,
) -> DataFrame:
    """Per-key rolling z-score of each observation against the trailing
    ``window`` rows (inclusive), with sample (n-1) std.

    z = (x·n − S) / sqrt((n·Q − S²) · n / (n−1)) / 1   — computed on exact
    integer cents (x = cents, S = Σcents, Q = Σcents²), so the only floats
    are the final correctly-rounded divisions/sqrt.  Rows whose trailing
    window is short (< ``window``) or constant (zero variance) get NULL.

    One per-key window = one shuffle.  The trailing-frame aggregates are
    computed as RUNNING-cumsum differences, ``trailing(i) = cum(i) −
    cum(i−W)`` via ``lag(cum, W)`` (r16): a sliding ROWS frame cannot
    retract, so Spark re-aggregates the whole W-row buffer per output
    row — O(W) per row — while a running (UNBOUNDED PRECEDING) frame
    updates incrementally and ``lag`` is O(1).  Measured 1.4–1.5x at
    W=100 / sf0.1 (alternating min-of-7 A/B, commit c03f83a;
    OPTIMIZATION_r16.md "rolling_zscore"); the win grows with W.  On
    exact integers the difference is bit-identical to the frame
    aggregate for any null pattern (count/sum over coalesced cents).

    Integer bounds (running sums grow with PER-KEY HISTORY, not W):
    Σcents needs rows_per_key · scale·|x|max < 2⁶³ (~9e12 rows/key at
    |x| ≤ 1e4, scale=100) — long; Σcents² would overflow long at ~9e6
    rows/key, so it runs as DECIMAL(38,0) (exact to 1e38; the trailing
    DIFFERENCE, ≤ W·cents² ~ 1e15, casts back to long exactly).
    """
    wrun = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlag = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    x = _cents(F.col(value_col), scale)
    xs = F.coalesce(x, F.lit(0))
    xq = (xs * xs).cast("decimal(38,0)")
    xn = x.isNotNull().cast("long")
    zero_dec = F.lit(0).cast("decimal(38,0)")
    cols = (
        df.withColumn("_czn", F.sum(xn).over(wrun))
        .withColumn("_czs", F.sum(xs).over(wrun))
        .withColumn("_czq", F.sum(xq).over(wrun))
        .withColumn(
            "_zn",
            F.col("_czn")
            - F.coalesce(F.lag("_czn", window).over(wlag), F.lit(0)),
        )
        .withColumn(
            "_zs",
            F.col("_czs")
            - F.coalesce(F.lag("_czs", window).over(wlag), F.lit(0)),
        )
        .withColumn(
            "_zq",
            (
                F.col("_czq")
                - F.coalesce(F.lag("_czq", window).over(wlag), zero_dec)
            ).cast("long"),
        )
        .drop("_czn", "_czs", "_czq")
    )
    n, s, q = F.col("_zn"), F.col("_zs"), F.col("_zq")
    var_num = n * q - s * s  # n(n-1) · sample variance, exact integer
    z = (x * n - s).cast("double") / F.sqrt(
        var_num.cast("double") * n.cast("double") / (n - F.lit(1)).cast("double")
    )
    return cols.withColumn(
        "zscore",
        F.when((n >= F.lit(window)) & (var_num > F.lit(0)), z),
    ).drop("_zn", "_zs", "_zq")


def _chunked_rows_frame(
    df: DataFrame,
    window: int,
    bucket_span_s: int,
    ts_col: str,
    key_col: str,
    tiebreak_col: str | None = None,
):
    """Shared core of the trailing-ROWS-frame twins (rolling_zscore,
    ewma — any per-key ``ROWS BETWEEN window-1 PRECEDING`` aggregate).
    Each row's GLOBAL per-key index ``g`` is a prefix count (see
    :func:`~._chunkjoin.keyed_scan`), whose carry table gives each
    (key, bucket)'s first index.  A row replicates into every later
    bucket whose first index is <= g + window - 1 (so context chains
    across arbitrarily sparse buckets; average replication 1 +
    (window-1)/rows_per_bucket), and per (key, bucket) windows over
    ``g`` then see exactly the trailing ``window`` rows.

    Returns ``(targets, wt)``: callers compute aggregates over ``wt``
    on ``targets``, then finish with :func:`_emit_rows_frame` (drops
    the replicated context rows and the internal columns — callers
    never touch the private names).  The replication join is null-safe
    on the key, like the scan's.  Without ``tiebreak_col``, ties on
    ``ts_col`` order arbitrarily — the same nondeterminism contract as
    the corresponding plain window."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    rows = df.withColumn("_b", bucket_axis(ts_col, bucket_span_s, "s"))
    g, carries = _keyed_scan(rows, [key_col], order, {"_g": ("sum", F.lit(1))})
    offsets = carries.select(
        key_col,
        F.col("_b").alias("_tbkt"),
        F.coalesce(F.col("_g"), F.lit(0).cast("long")).alias("_bstart"),
    )
    targets = (
        g.withColumn("_g", F.col("_g") - 1)
        .alias("r")
        .join(
            F.broadcast(offsets).alias("o"),
            (F.col(f"r.{key_col}").eqNullSafe(F.col(f"o.{key_col}")))
            & (F.col("o._tbkt") >= F.col("r._b"))
            & (F.col("o._bstart") <= F.col("r._g") + F.lit(window - 1)),
        )
        .select("r.*", F.col("o._tbkt"))
    )
    wt = (
        Window.partitionBy(key_col, "_tbkt")
        .orderBy("_g")
        .rowsBetween(-(window - 1), 0)
    )
    return targets, wt


def _emit_rows_frame(df: DataFrame) -> DataFrame:
    """Finish a :func:`_chunked_rows_frame` computation: keep only the
    emitting rows (drop the replicated context) and the caller-visible
    columns."""
    return df.filter(F.col("_tbkt") == F.col("_b")).drop(
        "_b", "_tbkt", "_g"
    )


def rolling_zscore_chunked(
    df: DataFrame,
    window: int,
    bucket_span_s: int,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str = "event_type",
    tiebreak_col: str = "event_id",
    scale: int = 100,
) -> DataFrame:
    """Skew-safe :func:`rolling_zscore`: identical output (property-
    tested), but the per-key window is sharded into time buckets so the
    sort/aggregate parallelizes across (key, bucket) tasks — the scale
    path when there are FEW keys with LONG histories (5 signals x 20
    years serializes onto 5 tasks in the plain form).  Decomposition in
    :func:`_chunked_rows_frame` (shared with the ewma twin since r11).

    Cost: one extra tiny aggregation + a broadcast join, vs. per-key
    serialization.  Use the plain form when keys >> cores."""
    guard_internal(df)
    x = _cents(F.col(value_col), scale)
    targets, wt = _chunked_rows_frame(
        df, window, bucket_span_s, ts_col, key_col, tiebreak_col
    )
    # same dedup as the plain form (see rolling_zscore): compute the 3
    # distinct frame aggregates once each, then derive z in a projection
    cols = targets.withColumn("_zn", F.count(x).over(wt)).withColumn(
        "_zs", F.sum(x).over(wt)
    ).withColumn("_zq", F.sum(x * x).over(wt))
    n, s, q = F.col("_zn"), F.col("_zs"), F.col("_zq")
    var_num = n * q - s * s
    z = (x * n - s).cast("double") / F.sqrt(
        var_num.cast("double") * n.cast("double") / (n - F.lit(1)).cast("double")
    )
    out = cols.withColumn(
        "zscore",
        F.when((n >= F.lit(window)) & (var_num > F.lit(0)), z),
    ).drop("_zn", "_zs", "_zq")
    return _emit_rows_frame(out)


def sql_rolling_zscore(
    window: int,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str = "event_type",
    tiebreak_col: str = "event_id",
    scale: int = 100,
) -> str:
    """DuckDB expression list mirroring :func:`rolling_zscore` bit-for-bit.

    Returns the SELECT fragment computing ``zscore`` given window alias
    ``w`` — callers must attach ``WINDOW w AS (PARTITION BY ... ROWS
    BETWEEN window-1 PRECEDING AND CURRENT ROW)``.
    """
    x = f"CAST(round(({value_col})*{scale}) AS BIGINT)"
    n, s, q = f"count({x}) OVER w", f"sum({x}) OVER w", f"sum({x}*{x}) OVER w"
    var_num = f"({n}*{q} - {s}*{s})"
    z = (
        f"CAST(({x}*{n} - {s}) AS DOUBLE) / "
        f"sqrt(CAST({var_num} AS DOUBLE) * CAST({n} AS DOUBLE) / "
        f"CAST(({n} - 1) AS DOUBLE))"
    )
    return f"CASE WHEN {n} >= {window} AND {var_num} > 0 THEN {z} END"


def cusum_reflected(
    df: DataFrame,
    slack_cents: int = 0,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str = "event_type",
    tiebreak_col: str = "event_id",
    scale: int = 100,
) -> DataFrame:
    """One-sided upper CUSUM per key against the key's own lower-median
    target, via the reflected-random-walk identity.

    The textbook recursion S_i = max(0, S_{i−1} + (x_i − target − k)) is a
    clamped fold no SQL window expresses directly, but it has a closed
    form: with C_i = Σ_{j≤i} d_j (plain cumsum, C_0 = 0),

        S_i = C_i − min(0, min_{j≤i} C_j)

    so TWO stacked windows over the SAME key partitioning (one shuffle
    total) compute it exactly.  The target is the key's lower median in
    cents — an integer, so every d_i, C_i, S_i is exact (bound: rows ×
    cents ≤ 1e8·1e6 = 1e14 ≪ 2⁶³ per key at 100 TB).

    Returns the input plus ``cusum`` (in original value units).
    """
    x = _cents(F.col(value_col), scale)
    w_ord = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    # lower median of cents per key: rank floor((n+1)/2) by (cents, tiebreak)
    w_rank = Window.partitionBy(key_col).orderBy(x.asc(), F.col(tiebreak_col))
    w_all = Window.partitionBy(key_col)
    with_med = (
        df.withColumn("_xc", x)
        .withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_n", F.count("*").over(w_all))
        .withColumn(
            "_med",
            F.max(
                F.when(
                    F.col("_rn") == F.floor((F.col("_n") + 1) / 2),
                    F.col("_xc"),
                )
            ).over(w_all),
        )
    )
    d = F.col("_xc") - F.col("_med") - F.lit(int(slack_cents))
    cum = F.sum(d).over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
    with_cum = with_med.withColumn("_cum", cum)
    run_min = F.min(F.col("_cum")).over(
        w_ord.rowsBetween(Window.unboundedPreceding, 0)
    )
    out = with_cum.withColumn(
        "cusum",
        (F.col("_cum") - F.least(F.lit(0).cast("long"), run_min)).cast("double")
        / F.lit(float(scale)),
    )
    return out.drop("_xc", "_rn", "_n", "_med", "_cum")


def cusum_reflected_chunked(
    df: DataFrame,
    bucket_span_s: int,
    slack_cents: int = 0,
    value_col: str = "value",
    ts_col: str = "ts",
    key_col: str = "event_type",
    tiebreak_col: str = "event_id",
    scale: int = 100,
) -> DataFrame:
    """Skew-safe :func:`cusum_reflected`: identical output (property-
    tested), with every corpus-sized pass parallel across (key,
    time-bucket) tasks — the scale path when FEW keys carry LONG
    histories (the plain form's time-order window serializes a 20-year
    signal onto one task).

    The reflected walk S_i = C_i − min(0, min_{j≤i} C_j) is a ``sum``
    and a ``min_sum`` prefix scan of d = cents − median − k: see
    :func:`~._chunkjoin.keyed_scan`.

    The per-key lower median comes from the domain-bounded value-count
    aggregate (cents grid: groupBy(key, cents) is map-side combinable;
    the median is the smallest value whose cumulative count reaches
    floor((n+1)/2)) — the count shape LOSES in the plain form, where
    the value-rank window shares the fold's one exchange (negative A/B
    in BASELINE.md r9 addendum 3), and WINS here, where no per-key
    window exists to piggyback on.

    Cost: two corpus scans (median counts + the scan) and two broadcast
    joins, all parallel.  Use the plain form when keys >> cores."""
    guard_internal(df)
    x = _cents(F.col(value_col), scale)
    # per-key lower median, count-based (no per-key corpus window)
    rank = F.floor((F.col("_n") + 1) / 2)
    w_vcum = (
        Window.partitionBy(key_col)
        .orderBy("_xc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_key = Window.partitionBy(key_col)
    vcounts = (
        df.select(F.col(key_col), x.alias("_xc"))
        .groupBy(key_col, "_xc")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    med = (
        vcounts.withColumn("_cum", F.sum("_c").over(w_vcum))
        .withColumn("_n", F.sum("_c").over(w_key))
        .filter((F.col("_cum") >= rank) & (F.col("_cum") - F.col("_c") < rank))
        .select(key_col, F.col("_xc").alias("_med"))
    )
    # null-safe on the key (r11, _chunkjoin): NULL-key rows keep their
    # median — the plain form's per-key windows include that group
    rows = (
        join_boundary(df.withColumn("_xc", x), med, [key_col], [])
        .withColumn("_b", bucket_axis(ts_col, bucket_span_s, "s"))
        .withColumn(
            "_d", F.col("_xc") - F.col("_med") - F.lit(int(slack_cents))
        )
    )
    out = keyed_scan(
        rows,
        [key_col],
        [ts_col, tiebreak_col],
        {"_cum": ("sum", "_d"), "_pmin": ("min_sum", "_d")},
    ).withColumn(
        "cusum",
        (F.col("_cum") - F.least(F.lit(0).cast("long"), F.col("_pmin")))
        .cast("double")
        / F.lit(float(scale)),
    )
    return out.drop("_xc", "_med", "_b", "_d", "_cum", "_pmin")


def spearman_pairs(
    resampled: DataFrame,
    key_col: str = "event_type",
    bucket_col: str = "bucket_ts",
    value_col: str = "avg_value",
) -> DataFrame:
    """Spearman rank correlation for every pair of signals over their
    common resample buckets.

    Input is a resampled (key, bucket, value) table — bounded by
    time-range/rate × #signals, NOT by raw event count, so the pair
    self-join is over a small table no matter the corpus size.  Ranks are
    row_number within each joined pair (ties broken by bucket), making
    every aggregate an exact integer; ρ follows from the Pearson identity
    on ranks:

        ρ = (nΣab − ΣaΣb) / (sqrt(nΣa² − (Σa)²) · sqrt(nΣb² − (Σb)²))

    Integer bound: Σab ≤ n·n² with n = #common buckets (~1e5 for a year
    at 5 min) → 1e15; times n → 1e20 exceeds int64, so the final identity
    is evaluated in double AFTER the exact integer aggregation (correctly
    rounded IEEE ops — deterministic, and relative error ≤ 2⁻⁵² of values
    ~1e20 is far below the 1e-4 emission grid).
    """
    a = resampled.select(
        F.col(key_col).alias("sig_a"),
        F.col(bucket_col).alias("_b"),
        F.col(value_col).alias("_va"),
    )
    b = resampled.select(
        F.col(key_col).alias("sig_b"),
        F.col(bucket_col).alias("_b"),
        F.col(value_col).alias("_vb"),
    )
    pairs = a.join(b, "_b").filter(F.col("sig_a") < F.col("sig_b"))
    wp = Window.partitionBy("sig_a", "sig_b")
    ra = F.row_number().over(wp.orderBy(F.col("_va"), F.col("_b"))).alias("_ra")
    rb = F.row_number().over(wp.orderBy(F.col("_vb"), F.col("_b"))).alias("_rb")
    ranked = pairs.select("sig_a", "sig_b", ra, rb)
    agg = ranked.groupBy("sig_a", "sig_b").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_ra") * F.col("_rb")).alias("_sab"),
        F.sum("_ra").alias("_sa"),
        F.sum("_rb").alias("_sb"),
        F.sum(F.col("_ra") * F.col("_ra")).alias("_saa"),
        F.sum(F.col("_rb") * F.col("_rb")).alias("_sbb"),
    )
    n, sab = F.col("_n").cast("double"), F.col("_sab").cast("double")
    sa, sb = F.col("_sa").cast("double"), F.col("_sb").cast("double")
    saa, sbb = F.col("_saa").cast("double"), F.col("_sbb").cast("double")
    rho = (n * sab - sa * sb) / (
        F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
    )
    return agg.select(
        "sig_a", "sig_b", F.col("_n").alias("n_buckets"), rho.alias("rho")
    )


def autocorr_lag(
    sums: DataFrame,
    lag: int = 1,
    key_col: str = "event_type",
    bucket_col: str = "bucket_ts",
    sum_cents_col: str = "sum_cents",
) -> DataFrame:
    """Lag-``lag`` autocorrelation of each signal's per-bucket cents SUM
    (sums, unlike means, are exact integers — the whole Pearson numerator
    and both variance terms aggregate exactly, floats enter only in the
    final correctly-rounded identity).

    One lag window + one hash agg over the already-resampled table (its
    row count is time-range/rate-bounded).  n·Σxy can exceed 2⁵³ at
    century-scale ranges, so the identity is evaluated in double after the
    exact aggregation — deterministic (IEEE), error ≪ the 1e-4 grid.
    """
    w = Window.partitionBy(key_col).orderBy(bucket_col)
    x = F.col(sum_cents_col)
    y = F.lead(x, lag).over(w)
    paired = sums.select(
        key_col, x.alias("_x"), y.alias("_y")
    ).filter(F.col("_y").isNotNull())
    agg = paired.groupBy(key_col).agg(
        F.count("*").alias("_n"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("_n").cast("double")
    sxy, sx, sy = (F.col(c).cast("double") for c in ("_sxy", "_sx", "_sy"))
    sxx, syy = F.col("_sxx").cast("double"), F.col("_syy").cast("double")
    r = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return agg.select(key_col, F.col("_n").alias("n_pairs"), r.alias("acf"))


def rolling_corr(
    paired: DataFrame,
    window: int,
    x_col: str = "xc",
    y_col: str = "yc",
    order_col: str = "bucket_ts",
    key_col: str | None = None,
    min_periods: int | None = None,
) -> DataFrame:
    """Rolling Pearson correlation between two integer-valued series
    (cents) over the trailing ``window`` rows — the relationship-drift
    monitor (two sensors that normally co-move decoupling is a fault
    signature single-signal monitors can't see).

    Input is one row per time point carrying BOTH values (join/pivot the
    two signals first — that table is time-bounded).  All five windowed
    sums are exact integers; the Pearson identity is evaluated in double
    after (correctly-rounded, deterministic).  One window partition =
    one shuffle; NULL until ``min_periods`` (default ``window``) rows
    and when either series is constant in the window."""
    if min_periods is None:
        min_periods = window
    part = Window.partitionBy(key_col) if key_col else Window.partitionBy()
    w = part.orderBy(order_col).rowsBetween(-(window - 1), 0)
    x, y = F.col(x_col), F.col(y_col)
    n = F.count(x).over(w)
    sx, sy = F.sum(x).over(w), F.sum(y).over(w)
    sxx, syy = F.sum(x * x).over(w), F.sum(y * y).over(w)
    sxy = F.sum(x * y).over(w)
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    r = (n * sxy - sx * sy).cast("double") / (
        F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))
    )
    return paired.withColumn(
        "rolling_r",
        F.when(
            (n >= F.lit(min_periods)) & (varx > 0) & (vary > 0), r
        ),
    )


def ewma(
    df: DataFrame,
    alpha: float,
    window: int = 64,
    value_col: str = "avg_value",
    order_col: str = "bucket_ts",
    key_col: str = "event_type",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """EWMA control chart (Roberts 1959), declaratively: the geometric
    recursion z_i = αx_i + (1-α)z_{i-1} truncates to the trailing
    ``window`` rows and evaluates as a HORNER FOLD over the ordered
    window array — a fixed left-to-right op sequence both engines
    reproduce bit-for-bit (a plain weighted window SUM would leave the
    summation order to the engine).

    adjust=True normalization (pandas' default): with truncation depth n
    (= rows available, <= window), num = fold(x₁..x_n; acc·(1-α)+x) and
    den = (1-(1-α)^n)/α in closed form, so ewma = num·α/(1-(1-α)^n).
    Truncation error is (1-α)^window — pick window so it's below the
    emission grid (64 rows at α=0.3 is ~1e-10).

    NULL values are SKIPPED (collect_list drops them) — pandas
    ``ignore_na=True`` semantics: the recursion runs over the compacted
    non-null series, and a row whose whole trailing window is null gets
    NULL.  One per-key window; the collected array is ``window``-bounded."""
    # tiebreak optional (r11): the registered series are unique per
    # (key, order); pass one when order values can tie so the collect
    # order — hence the fold — is deterministic, same contract as the
    # chunked twin (and route("ewma") forwards it to BOTH branches)
    order = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-(window - 1), 0)
    )
    arr = F.collect_list(F.col(value_col).cast("double")).over(w)
    return df.withColumn("ewma", _ewma_from_arr(arr, alpha))


def _ewma_from_arr(arr: Column, alpha: float) -> Column:
    """The Horner-fold EWMA expression over a collected window array —
    shared verbatim by :func:`ewma` and :func:`ewma_chunked` so the
    float op sequence (the operator's engine-portability contract) is
    identical by construction in both forms."""
    decay = F.lit(1.0 - alpha)
    num = F.aggregate(
        F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0))),
        F.element_at(arr, 1),
        lambda acc, x: acc * decay + x,
    )
    n = F.size(arr).cast("double")
    den = (F.lit(1.0) - F.pow(decay, n)) / F.lit(float(alpha))
    return F.when(F.size(arr) > 0, num / den)


def ewma_chunked(
    df: DataFrame,
    alpha: float,
    bucket_span_s: int,
    window: int = 64,
    value_col: str = "avg_value",
    order_col: str = "bucket_ts",
    key_col: str = "event_type",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Skew-safe :func:`ewma`: identical output (property-tested — the
    fold expression is shared verbatim, so the float op sequence is
    bit-identical; null values, null keys, null order timestamps and
    sparse buckets thinner than the window all pinned), with the
    per-key trailing-rows window parallel across (key, time-bucket)
    tasks via :func:`_chunked_rows_frame` — the same decomposition as
    the zscore twin, with ``collect_list`` + the Horner fold as the
    frame aggregate.

    The scale shape is the flagship fill's: ewma runs over RESAMPLED
    series, so rows-per-key is span-bounded (a decade of 5-min slots
    is ~1M rows per key regardless of event volume).  ``tiebreak_col``
    is optional like the plain form's ordering — pass one when order
    timestamps can tie (the resampled grid is unique per key).  Route
    with ``operators.routing.route("ewma")``."""
    guard_internal(df)
    targets, wt = _chunked_rows_frame(
        df, window, bucket_span_s, order_col, key_col, tiebreak_col
    )
    arr = F.collect_list(F.col(value_col).cast("double")).over(wt)
    out = targets.withColumn("ewma", _ewma_from_arr(arr, alpha))
    return _emit_rows_frame(out)


def exact_distinct_two_phase(
    df: DataFrame,
    key_col: str,
    item_col: str,
) -> DataFrame:
    """Exact per-key distinct count, hot-key-safe: phase 1 reduces to
    DISTINCT (key, item) pairs — partial map-side, every duplicate dies
    before the shuffle — phase 2 counts rows per key.

    The naive ``countDistinct`` builds each key's full distinct SET in
    one reducer; a hot key (half the corpus sharing one key) serializes
    onto one task and can OOM it.  Here the heavy phase is keyed on
    (key, item) — cardinality spreads over the cluster no matter how hot
    ``key`` is — and phase 2 rides the same hash partitioning prefix.
    Returns (key, n_distinct)."""
    pairs = df.select(key_col, item_col).distinct()
    return pairs.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_distinct")
    )
