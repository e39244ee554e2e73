"""Time-series core: resample, grid, forward-fill, rolling, restamp.

Covers SURVEY §2 operators A1-A3 (resample mean/first/ffill), W2/J4
(forward fill), A10/W1 (rolling average), W4 (slot flooring), J5
(consecutive-pair chunking), J6 (restamping).  Reference semantics:
``pandas.DataFrame.resample(rule).mean()/.first()/.ffill()`` over a
DatetimeIndex (reference plot.py:249-251, dataset.py:524) and
``series.rolling(n).mean()`` (reference plot.py:533-535).

Scale design: every window is partitioned by the series key (``tag``) so the
work is embarrassingly parallel across signals; no global windows appear in
the hot path.  The resample itself is a hash aggregation (map-side partial
combine) on (tag, bucket) — the same shape Spark uses for any groupBy, so it
scales linearly.  The time grid is produced with ``sequence()+explode`` from
each tag's own min/max — a few rows per tag exploding JVM-side, no driver
loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._chunkjoin import (
    _keyed_scan,
    bucket_axis,
    guard_internal,
    join_boundary,
    keyed_scan,
)
from .._persist import note_persist as _note_persist

# --- A1/A2: tumbling-window resample ---------------------------------------


def bucket(ts: Column, seconds: int) -> Column:
    """Floor a timestamp to a tumbling bucket of `seconds` (epoch-aligned).

    Equivalent to ``F.window(ts, ...)["start"]`` but cheaper to express and
    identical to DuckDB's ``time_bucket`` alignment for sub-day widths.
    """
    return F.timestamp_seconds(F.floor(F.unix_timestamp(ts) / seconds) * seconds)


def resample_mean(
    df: DataFrame,
    rate_seconds: int,
    ts_col: str = "ts",
    key_col: str = "tag",
    value_col: str = "value",
) -> DataFrame:
    """``resample(rule).mean()`` per series (reference plot.py:249-250).

    Returns ``(key_col, bucket_ts, avg_value)`` — one row per series per
    non-empty bucket.
    """
    return (
        df.groupBy(key_col, bucket(F.col(ts_col), rate_seconds).alias("bucket_ts"))
        .agg(F.avg(value_col).alias("avg_value"))
    )


def resample_first(
    df: DataFrame,
    rate_seconds: int,
    ts_col: str = "ts",
    key_col: str = "tag",
    value_col: str = "value",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """``resample(rule).first()`` per series (reference plot.py:673).

    pandas ``.first()`` returns the first NON-NULL value in the bucket, so
    the ordering key is nulled out for null-valued rows — ``min_by``
    ignores rows whose ordering expression is null, giving "value at the
    earliest non-null row" (null only when the whole bucket is null).
    Ties broken by ``tiebreak_col`` for determinism.  Stays a single hash
    aggregation (no window + filter pass).
    """
    order = (
        F.struct(F.col(ts_col), F.col(tiebreak_col))
        if tiebreak_col
        else F.struct(F.col(ts_col))
    )
    order = F.when(F.col(value_col).isNotNull(), order)
    return (
        df.groupBy(key_col, bucket(F.col(ts_col), rate_seconds).alias("bucket_ts"))
        .agg(F.min_by(F.col(value_col), order).alias("first_value"))
    )


# --- grid + W2/J4: forward fill --------------------------------------------


def time_grid(
    df: DataFrame,
    rate_seconds: int,
    ts_col: str = "ts",
    key_col: str = "tag",
) -> DataFrame:
    """Complete per-series bucket grid from each series' own min..max ts.

    One `sequence()+explode` per series — the pandas ``resample`` contract
    (which emits empty slots between first and last observation).
    """
    secs = F.lit(rate_seconds)
    return (
        df.groupBy(key_col)
        .agg(
            F.min(bucket(F.col(ts_col), rate_seconds)).alias("_t0"),
            F.max(bucket(F.col(ts_col), rate_seconds)).alias("_t1"),
        )
        .select(
            key_col,
            F.explode(
                F.sequence("_t0", "_t1", F.make_interval(secs=secs))
            ).alias("bucket_ts"),
        )
    )


def ffill(
    df: DataFrame,
    value_col: str,
    ts_col: str = "bucket_ts",
    key_col: str = "tag",
    out_col: str | None = None,
) -> DataFrame:
    """Forward-fill nulls per series (reference ``.ffill()`` dataset.py:524).

    ``last(ignorenulls)`` over an unbounded-preceding window, partitioned by
    the series key so no single-partition global window exists (SURVEY §4.2.3).
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col or value_col, F.last(value_col, ignorenulls=True).over(w)
    )


def ffill_chunked(
    df: DataFrame,
    value_col: str,
    bucket_span_s: int,
    ts_col: str = "bucket_ts",
    key_col: str = "tag",
    out_col: str | None = None,
) -> DataFrame:
    """Skew-safe :func:`ffill`: identical output (property-tested, null
    keys and null timestamps included), with the per-key fill parallel
    across (key, time-bucket) tasks — the scale path when one series'
    grid is decades long (a year of 1-minute slots is ~0.5M rows per
    key; the plain form sorts each key's whole grid on one task).

    The fill is a prefix ``last non-null``: see
    :func:`~._chunkjoin.keyed_scan`.  Worth its extra exchange once a
    key's grid exceeds the per-task sort budget
    (``operators.routing.route("ffill")`` routes on a probe).  Ties on
    (key, ts): same nondeterminism contract as the plain form (the grid
    shapes this serves are unique per (key, slot))."""
    guard_internal(df)
    out_name = out_col or value_col
    rows = df.withColumn("_b", bucket_axis(ts_col, bucket_span_s, "s"))
    return keyed_scan(
        rows, [key_col], [ts_col], {out_name: ("last", value_col)}
    ).drop("_b")


def resample_ffill(
    df: DataFrame,
    rate_seconds: int,
    ts_col: str = "ts",
    key_col: str = "tag",
    value_col: str = "value",
) -> DataFrame:
    """``resample(rule).mean()`` onto a complete grid, then forward-fill —
    the reference's slot-alignment idiom (dataset.py:524, plot.py:250-251).

    Returns ``(key_col, bucket_ts, value)`` with no interior nulls (leading
    buckets before a series' first observation keep null, as pandas does).
    When few tags carry decade-long grids, fill the joined grid with
    :func:`ffill_chunked` (or ``operators.routing.route("ffill")``)
    instead, as the ``flagship_ffill_chunked`` query does."""
    agg = resample_mean(df, rate_seconds, ts_col, key_col, value_col)
    grid = time_grid(df, rate_seconds, ts_col, key_col)
    joined = grid.join(agg, [key_col, "bucket_ts"], "left")
    return ffill(joined, "avg_value", "bucket_ts", key_col, out_col="value").drop(
        "avg_value"
    )


# --- A10/W1: rolling average ------------------------------------------------


def rolling_mean(
    df: DataFrame,
    n_rows: int,
    value_col: str,
    ts_col: str = "bucket_ts",
    key_col: str = "tag",
    out_col: str = "rolling_avg",
    min_periods_1: bool = False,
) -> DataFrame:
    """``series.rolling(window=n).mean()`` (reference plot.py:533-535).

    pandas emits null until the frame holds n rows; pass min_periods_1 to
    emit partial means instead.  Row-frame window partitioned per series.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(-(n_rows - 1), Window.currentRow)
    )
    rolled = F.avg(value_col).over(w)
    if not min_periods_1:
        cnt = F.count(value_col).over(w)
        rolled = F.when(cnt >= n_rows, rolled)
    return df.withColumn(out_col, rolled)


def rolling_range(
    df: DataFrame,
    range_s: int,
    agg_fn,
    ts_col: str = "ts",
    key_col: str = "tag",
) -> DataFrame:
    """Event-TIME trailing range frame per key (W1/§2.5): every row
    aggregated over the same key's rows within the trailing ``range_s``
    seconds OF EVENT TIME (``RANGE BETWEEN``), framed on MICROSECOND
    epochs — irregular series make row frames and time frames genuinely
    different.  ``agg_fn(window) -> {out_col: Column}`` supplies the
    aggregates (apply ``.over(window)`` inside), so one frame serves
    count/sum/avg/min/max at once.

    Same-instant ties share a frame by definition (RANGE semantics) —
    no tie-break needed; null timestamps follow Spark's null-frame
    rule (all of a key's null-ts rows share one frame, excluded from
    every non-null frame).  One per-key shuffle; a hot key serializes
    onto one task — :func:`rolling_range_chunked` is the skew path."""
    ord_ = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (
        Window.partitionBy(key_col)
        .orderBy(ord_)
        .rangeBetween(-int(range_s) * 1_000_000, 0)
    )
    return df.select(
        "*", *[c.alias(n) for n, c in agg_fn(w).items()]
    )


def rolling_range_chunked(
    df: DataFrame,
    range_s: int,
    agg_fn,
    bucket_span_s: int,
    ts_col: str = "ts",
    key_col: str = "tag",
) -> DataFrame:
    """Skew-safe :func:`rolling_range`: identical output
    (property-tested — ties, null keys, null timestamps), with the
    per-key range frame parallel across (key, time-bucket) tasks.

    A trailing time frame reaches back at most ``range_s``, so with
    ``bucket_span_s >= range_s`` every frame spans at most ONE bucket
    boundary: each row in the last ``range_s`` of its bucket is
    replicated once into the NEXT bucket as non-emitting CONTEXT, and
    the frame window then runs entirely within (key, bucket) — no
    carry table, no join; replication overhead is bounded by
    ``range_s / bucket_span_s`` of the corpus.  Null-ts rows ride the
    sentinel front bucket, are never replicated (a null ordinal fails
    the replication predicate), and never enter a non-null frame —
    Spark's null-frame rule reproduced exactly.

    Unlike the offset twins this one has no boundary JOIN at all —
    one extra (key, bucket) exchange for the union, nothing broadcast.
    Route with ``operators.routing.route("rolling_range")``."""
    guard_internal(df)
    bkt = bucket_axis(ts_col, bucket_span_s, "s")
    if bucket_span_s < range_s:
        raise ValueError(
            f"bucket_span_s ({bucket_span_s}) must be >= range_s "
            f"({range_s}): a frame may span at most one boundary"
        )
    r_us = int(range_s) * 1_000_000
    span_us = int(bucket_span_s) * 1_000_000
    ord_ = F.unix_micros(F.col(ts_col).cast("timestamp"))
    rows = (
        df.withColumn("_ord", ord_)
        .withColumn("_b", bkt)
        .withColumn("_loc", F.lit(1))
    )
    ctx = rows.filter(
        F.col("_ord") >= (F.col("_b") + 1) * F.lit(span_us) - F.lit(r_us)
    ).withColumn("_b", F.col("_b") + 1).withColumn("_loc", F.lit(0))
    u = rows.unionByName(ctx)
    w = (
        Window.partitionBy(key_col, "_b")
        .orderBy("_ord")
        .rangeBetween(-r_us, 0)
    )
    out = u.select(
        "*", *[c.alias(n) for n, c in agg_fn(w).items()]
    ).filter(F.col("_loc") == 1)
    return out.drop("_ord", "_b", "_loc")


# --- W4: slot flooring / next-wakeup ----------------------------------------


def floor_to_slot(ts: Column, frequency_minutes: int) -> Column:
    """Round a timestamp down to a multiple of the frequency (reference
    dataset.py:295-303, scheduler.py:153-164: ``tm - minute % freq``)."""
    return bucket(ts, frequency_minutes * 60)


def slot_bounds(ts: Column, frequency_minutes: int) -> tuple[Column, Column]:
    """(slot_start, slot_end) with end = start + freq - 1s (scheduler.py:163-164)."""
    start = floor_to_slot(ts, frequency_minutes)
    end = start + F.make_interval(secs=F.lit(frequency_minutes * 60 - 1))
    return start, end


# --- J5: consecutive-pair chunk boundaries ----------------------------------


def lead_pairs(
    df: DataFrame, ts_col: str = "ts", key_col: str | None = None
) -> DataFrame:
    """``zip(splits[:-1], splits[1:])`` → `[start, end)` rows via ``lead()``
    (reference dataset.py:527-531)."""
    w = (
        Window.partitionBy(key_col).orderBy(ts_col)
        if key_col
        else Window.orderBy(ts_col)
    )
    out = df.withColumn("end_ts", F.lead(ts_col).over(w)).filter(
        F.col("end_ts").isNotNull()
    )
    return out.withColumnRenamed(ts_col, "start_ts")


def lead_pairs_chunked(
    df: DataFrame,
    bucket_span_s: int,
    ts_col: str = "ts",
    key_col: str | None = None,
) -> DataFrame:
    """Skew-safe :func:`lead_pairs`: identical output (property-tested,
    null timestamps included), with the per-key sort parallel across
    (key, time-bucket) tasks — the scale path when one hot key's split
    history would otherwise serialize onto a single task's window sort.
    With ``key_col=None`` it also replaces the plain form's
    single-partition GLOBAL sort with a bucket-parallel one.

    ``lead`` only looks ONE row ahead, so the decomposition needs no
    running carry like the zscore/cusum twins: rows pair bucket-locally,
    and only each bucket's LAST row reaches across the boundary — to the
    first timestamp of the key's next non-empty bucket, read from a tiny
    per-(key, bucket) min-aggregate (keys x buckets rows; its own lead
    window is bucket-count-sized) joined back BROADCAST.  "Is this the
    bucket's last row" is decided by ``lead(1)`` existence, NOT by
    ``lead(ts)`` nullness — a null next timestamp (possible in the
    nulls-first block) must stay a dropped pair, not fall through to the
    next bucket's first.

    Cost: one (key, bucket) corpus exchange + the tiny aggregate and its
    broadcast — one extra exchange vs the plain form's single per-key
    window.  Worth it once the hot key's rows exceed the per-task sort
    budget (``operators.routing.route("lead_pairs")`` routes on a probe);
    use the plain form when keys >> cores."""
    guard_internal(df)
    keys = [key_col] if key_col else []
    rows = df.withColumn("_b", bucket_axis(ts_col, bucket_span_s, "s"))
    wb = Window.partitionBy(*keys, "_b").orderBy(ts_col)
    local = rows.withColumn("_lead", F.lead(ts_col).over(wb)).withColumn(
        "_has_next", F.lead(F.lit(1)).over(wb)
    )
    firsts = rows.groupBy(*keys, "_b").agg(F.min(ts_col).alias("_first"))
    wk = Window.partitionBy(*keys).orderBy("_b")
    nxt = firsts.select(
        *keys, "_b", F.lead("_first").over(wk).alias("_next_first")
    )
    # null-safe on the key: the plain window pairs a NULL-key group like
    # any other partition, so the boundary join must too (_chunkjoin)
    out = (
        join_boundary(local, nxt, keys, ["_b"], how="left")
        .withColumn(
            "end_ts",
            F.when(
                F.col("_has_next").isNotNull(), F.col("_lead")
            ).otherwise(F.col("_next_first")),
        )
        .filter(F.col("end_ts").isNotNull())
    )
    return out.select(
        *[
            F.col(c).alias("start_ts") if c == ts_col else F.col(c)
            for c in df.columns
        ],
        "end_ts",
    )


# --- J6: restamping ----------------------------------------------------------


def restamp_positional(
    df: DataFrame,
    new_start: str,
    step_seconds: int,
    ts_col: str = "ts",
    key_col: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Replace timestamps with a synthetic equal-length ``date_range``
    (reference dataset.py:316-323): i-th row by old ts order gets
    ``new_start + i*step``.  row_number is per-series when key_col given.

    ALWAYS pass ``key_col`` on large inputs: the keyless fallback is an
    unpartitioned window, i.e. a single-partition global sort (the
    reference restamps one component at a time, dataset.py:303-323, so a
    key exists in every real call).  Pass ``tiebreak_col`` when duplicate
    timestamps are possible — without it, tied rows can swap positions
    between runs and receive different synthetic stamps.
    """
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = (
        Window.partitionBy(key_col).orderBy(*order)
        if key_col
        else Window.orderBy(*order)
    )
    return df.withColumn("_rn", F.row_number().over(w) - 1).withColumn(
        ts_col,
        F.to_timestamp(F.lit(new_start))
        + F.make_interval(secs=F.col("_rn") * step_seconds),
    ).drop("_rn")


def restamp_positional_chunked(
    df: DataFrame,
    new_start: str,
    step_seconds: int,
    bucket_span_s: int,
    ts_col: str = "ts",
    key_col: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Skew-safe :func:`restamp_positional`: identical output
    (property-tested, null timestamps and tied timestamps included),
    with the per-key ``row_number`` sort parallel across (key,
    time-bucket) tasks.  Also the fix for the plain form's keyless
    single-partition global sort — pass ``key_col=None`` here and the
    rank still distributes.

    ``row_number`` is a prefix count: see
    :func:`~._chunkjoin.keyed_scan`.  Ties: same contract as the plain
    form — pass ``tiebreak_col`` for deterministic stamps; tied rows
    always share a bucket (equal timestamps bucket together), so the
    tiebreak never has to reach across tasks.  Worth its extra exchange
    once the hot key's rows exceed the per-task sort budget
    (``operators.routing.route("restamp_positional")`` routes on a
    probe)."""
    guard_internal(df)
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    rows = df.withColumn("_b", bucket_axis(ts_col, bucket_span_s, "s"))
    out = keyed_scan(
        rows, [key_col] if key_col else [], order, {"_rn": ("sum", F.lit(1))}
    ).withColumn(
        ts_col,
        F.to_timestamp(F.lit(new_start))
        + F.make_interval(secs=(F.col("_rn") - 1) * step_seconds),
    )
    return out.select(*df.columns)


# --- sessionization ---------------------------------------------------------


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: within each key, a new session starts
    whenever the gap to the previous event exceeds ``gap_minutes``.  Adds
    ``session_seq`` (1-based per key, in time order) — the classic
    lag-then-running-sum idiom (J5's lead pairing turned into run ids).

    Timestamps compare at microsecond precision (``unix_micros``), exact
    integer arithmetic.  Pass ``tiebreak_col`` (e.g. the event id) so rows
    with identical timestamps order deterministically; ties never split a
    session either way (gap 0), but lag order affects nothing else only
    when the tie-break makes it reproducible.

    Scale: one shuffle — everything rides a single per-key window (lag
    and the running sum share the same sort), parallel across keys.  A
    skewed key (one user with billions of events) lands on ONE task
    there; :func:`sessionize_chunked` is the skew-safe twin
    (``operators.routing.route("sessionize")`` routes on a probe)."""
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    us = F.unix_micros(F.col(ts_col))
    return df.withColumn(
        "session_seq",
        F.sum(_new_session(us, F.lag(us).over(w), gap_minutes)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def sessionize_chunked(
    df: DataFrame,
    bucket_span_s: int,
    ts_col: str = "ts",
    key_col: str = "user_id",
    gap_minutes: int = 30,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Skew-safe :func:`sessionize`: identical output (property-tested,
    ties at bucket boundaries, null keys and null timestamps included),
    with the per-key walk parallel across (key, time-bucket) tasks — the
    scale path when one hot key's history would otherwise serialize onto
    a single task's window sort.

    Two prefix scans (:func:`~._chunkjoin.keyed_scan`): a row's previous
    timestamp is its bucket-local ``lag``, except on a bucket's first
    row (found by ``lag(1)`` existence, as in :func:`lead_pairs_chunked`),
    which takes the key's previous non-empty bucket's last timestamp
    from a ``last`` scan's carry table; ``session_seq`` is the ``sum``
    scan of the new-session flags.  Equal timestamps share a bucket, so
    a tie never straddles a boundary; null-ts rows sit in the front
    bucket, the plain window's nulls-first walk.  Building the plan
    launches no Spark job."""
    guard_internal(df)
    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    us = F.unix_micros(F.col(ts_col))
    rows = df.withColumn("_b", bucket_axis(ts_col, bucket_span_s, "s"))
    # the carry needs each bucket's latest timestamp only: a hash
    # aggregate to one row per (key, bucket) first, so the scan's
    # struct-ordered bucket total sorts that table, not the rows
    latest = rows.groupBy(key_col, "_b").agg(F.max(us).alias("_prev"))
    last_before = _keyed_scan(
        latest, [key_col], ["_prev"], {"_prev": ("last", "_prev")}
    )[1]
    wb = Window.partitionBy(key_col, "_b").orderBy(*order)
    local = rows.withColumn("_lag", F.lag(us).over(wb)).withColumn(
        "_has_prev", F.lag(F.lit(1)).over(wb)
    )
    prev = F.when(F.col("_has_prev").isNotNull(), F.col("_lag")).otherwise(
        F.col("_prev")
    )
    out = keyed_scan(
        join_boundary(local, last_before, [key_col], ["_b"], how="left"),
        [key_col],
        order,
        {"session_seq": ("sum", _new_session(us, prev, gap_minutes))},
    )
    return out.drop("_b", "_lag", "_has_prev", "_prev")


def _new_session(us: Column, prev: Column, gap_minutes: int) -> Column:
    """1 where a row opens a session: no previous timestamp, or a gap
    beyond ``gap_minutes`` (exact integer microseconds)."""
    gap_us = gap_minutes * 60 * 1_000_000
    return (prev.isNull() | ((us - prev) > gap_us)).cast("long")


# --- as-of join (pandas merge_asof / trades-and-quotes) ---------------------


def _asof_prepare(left, right, ts_col, key_col, payload_cols, direction):
    """Shared front half of the two as-of forms: validation, the match
    STRUCT, and the tagged side frames.  Factored out so semantics
    changes (the r11 null-payload fix, null-timestamp handling) land in
    BOTH forms by construction — the twins are property-pinned equal.

    NULL-timestamp contract (DuckDB ASOF semantics; pandas merge_asof
    simply raises): a right row with NULL ts can never satisfy the ASOF
    inequality and is DROPPED from the match side; a left row with NULL
    ts emits with null payloads (_asof_finish gates on left ts).  This
    also removes the one place the two forms could diverge — plain's
    window null placement flips with direction (asc nulls-first vs desc
    nulls-last) while the twin's bucket axis does not."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"bad direction {direction!r}")
    for frame in (left, right):
        # both forms stage _side/_m via select aliases — a same-named
        # input column would duplicate, not replace (r12 guard).
        clash = sorted(set(frame.columns) & {"_side", "_m"})
        if clash:
            raise ValueError(
                f"as-of input carries reserved internal column(s) "
                f"{clash}; rename before joining"
            )
    payload_cols = list(
        payload_cols
        if payload_cols is not None
        else [c for c in right.columns if c not in (ts_col, key_col)]
    )
    clash = [c for c in payload_cols if c in left.columns]
    if clash:
        raise ValueError(f"payload columns already in left: {clash}")
    left_cols = list(left.columns)
    match_struct = F.struct(
        F.col(ts_col).alias("_rts"),
        *[F.col(c) for c in payload_cols],
    )
    r = right.filter(F.col(ts_col).isNotNull()).select(
        F.col(key_col),
        F.col(ts_col),
        F.lit(0).alias("_side"),
        match_struct.alias("_m"),
        *[F.lit(None).alias(c) for c in left_cols if c not in (key_col, ts_col)],
    )
    l = left.select(  # noqa: E741
        F.col(key_col),
        F.col(ts_col),
        F.lit(1).alias("_side"),
        F.lit(None).cast(r.schema["_m"].dataType).alias("_m"),
        *[F.col(c) for c in left_cols if c not in (key_col, ts_col)],
    )
    return r, l, left_cols, payload_cols


def _asof_finish(df, ts_col, left_cols, payload_cols, tolerance_seconds):
    """Shared back half: the match gate (struct present, left ts
    non-null, within tolerance) and the payload unpack.  ``df`` is the
    left-side rows with the filled ``_m`` struct."""
    matched = F.col("_m").isNotNull() & F.col(ts_col).isNotNull()
    if tolerance_seconds is not None:
        # cast: unix_micros rejects TIMESTAMP_NTZ (decade fixtures ship
        # it); the session runs UTC so the cast is value-preserving
        gap = F.abs(
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            - F.unix_micros(F.col("_m").getField("_rts").cast("timestamp"))
        )
        matched = matched & (gap <= int(tolerance_seconds * 1_000_000))
    return df.select(
        *left_cols,
        *[
            F.when(matched, F.col("_m").getField(c)).alias(c)
            for c in payload_cols
        ],
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts_col: str = "ts",
    key_col: str = "tag",
    payload_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Two-table as-of join: for every left row, attach the payload of the
    LATEST right row with ``right.ts <= left.ts`` in the same key
    (``direction='backward'``, inclusive — pandas ``merge_asof``
    semantics), or the EARLIEST right row with ``right.ts >= left.ts``
    (``'forward'``).  Unmatched left rows keep null payloads (left join).

    ``tolerance_seconds`` nulls the payload when the matched right row is
    further than that from the left timestamp (pandas ``tolerance``).

    Spark has no ASOF JOIN operator (DuckDB/Pandas do); the classic
    distributed formulation is UNION + one per-key window, not a range
    join: tag right rows side=0 and left rows side=1, sort each key by
    (ts, side) and forward-fill the payload with ``last(ignorenulls)`` —
    every left row then carries the nearest preceding right payload, ties
    at equal ``ts`` resolved right-row-first so the match is inclusive.

    The fill runs over ONE STRUCT of (match ts, payload...), never the
    payload columns independently: a struct built from a right row is
    non-null AS A STRUCT even when payload values inside it are NULL, so
    the matched row's own nulls survive — per-column ``ignorenulls``
    fills would skip past them to an OLDER right row's value, silently
    diverging from merge_asof/ASOF JOIN (r11 fix; DuckDB-pinned).

    NULL timestamps follow DuckDB ASOF semantics (see
    :func:`_asof_prepare`): null-ts right rows never match, null-ts left
    rows emit with null payloads.  NULL KEYS follow Spark window
    semantics — one ordinary partition, so null-key left rows fill from
    null-key right rows (both forms, r11 null-key pin).  This is a
    deliberate divergence from pandas ``merge_asof``/SQL equality,
    where NaN/NULL by-keys never match: the engine's other per-key
    operators (sessionize, zscore, restamp) all treat NULL as a group,
    and the as-of forms keep that one consistent rule; filter null-key
    rows upstream for strict merge_asof behavior.

    Scale: ONE shuffle (the union windows over ``key_col``) regardless of
    table sizes — no join, no per-row range probing; a range join here
    would be O(left x right) per key without interval bucketing.  Right
    rows must be unique per (key, ts) for deterministic payloads
    (pre-aggregate duplicates upstream — same contract as merge_asof's
    stable sort).
    """
    r, l, left_cols, payload_cols = _asof_prepare(
        left, right, ts_col, key_col, payload_cols, direction
    )
    ts_order = F.col(ts_col).asc() if direction == "backward" else F.col(ts_col).desc()
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = r.unionByName(l).select(
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            if c == "_m"
            else F.col(c)
            for c in r.columns
        ]
    )
    out = filled.filter(F.col("_side") == 1)
    return _asof_finish(out, ts_col, left_cols, payload_cols, tolerance_seconds)


def asof_join_chunked(
    left: DataFrame,
    right: DataFrame,
    bucket_span_s: int,
    ts_col: str = "ts",
    key_col: str = "tag",
    payload_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """Skew-safe :func:`asof_join`: identical output (property-tested),
    with the per-key fill parallel across (key, time-bucket) tasks — the
    scale path when one hot key (the heavily-traded symbol, the dominant
    sensor) would otherwise serialize BOTH tables' history onto one
    task's sort.  Measured: 7.2x plain skew penalty at sf10_skew's 5M-row
    hot key vs 0.99x for this form (BASELINE.md r11 addendum 4).

    The forward-fill of the match struct is a prefix ``last non-null``
    over the union of both sides: see :func:`~._chunkjoin.keyed_scan`.
    A struct built from a right row is non-null even when its payload
    values are, so matched NULL payloads survive the carry.
    ``direction='forward'`` negates the time axis, and the bucket axis
    with it, so the same ascending scan serves both directions.
    Null-timestamp rows follow the shared contract
    (:func:`_asof_prepare`): with null-ts right rows dropped there, the
    sentinel bucket holds only left rows and never feeds a carry.
    Worth it when ``max_key_rows`` exceeds the per-task sort budget
    (see operators/routing.py ``route("asof_join")``); use the plain
    form when keys >> cores."""
    guard_internal(left)
    guard_internal(right)
    r, l, left_cols, payload_cols = _asof_prepare(
        left, right, ts_col, key_col, payload_cols, direction
    )
    sign = F.lit(1 if direction == "backward" else -1)
    # cast: unix_micros rejects TIMESTAMP_NTZ (decade fixtures ship it);
    # the session runs UTC so the cast is value-preserving
    ord_us = F.unix_micros(F.col(ts_col).cast("timestamp")) * sign
    u = r.unionByName(l).withColumn(
        "_b", bucket_axis(ts_col, bucket_span_s, "s") * sign
    )
    # right rows first at equal times: the match is inclusive
    filled = keyed_scan(
        u, [key_col], [ord_us, "_side"], {"_m": ("last", "_m")}
    ).filter(F.col("_side") == 1)
    return _asof_finish(
        filled, ts_col, left_cols, payload_cols, tolerance_seconds
    )


def funnel_steps(
    events: DataFrame,
    steps: list[str],
    within_s: int = 3600,
    key_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Generalized k-step behavioral funnel: per key, the FIRST time of
    step i that follows the matched step i-1 within ``within_s`` seconds
    (each window measured from the PREVIOUS step — the standard product-
    analytics definition).  Returns one row per key that completed step 1
    with columns ``t_1 .. t_k`` (null once the funnel breaks) and
    ``steps_completed``.

    Plan: each step is a per-key min-aggregate over a type-filtered
    slice (the filter pushes into the scan), chained by k-1 joins that
    carry ONE row per key — raw events never cross a join.  Window
    comparisons use exact microsecond integers (engine-portable).

    Each intermediate ``cur`` persists (DISK_ONLY since r9 — one row
    per funnel-entered key scales with the user population, the
    corpus-proportional class of BASELINE.md r9 addendum 2): it feeds
    BOTH the next step's match join and the carry join, and without the
    cache lineage duplication re-scans the corpus ~2^k times for a
    k-step funnel (r7 scan audit: 7 event scans for k=3 where k
    suffice)."""
    from pyspark import StorageLevel

    if not steps:
        raise ValueError("funnel needs at least one step")
    cur = (
        events.filter(F.col(type_col) == steps[0])
        .groupBy(key_col)
        .agg(F.min(ts_col).alias("t_1"))
    )
    for i, step in enumerate(steps[1:], start=2):
        # DISK_ONLY: one row per step-1 user = corpus-proportional, the
        # r9 promotion-OOM class (BASELINE.md r9 addendum 2)
        cur = cur.persist(StorageLevel.DISK_ONLY).transform(_note_persist)
        nxt = events.filter(F.col(type_col) == step).select(
            key_col, F.col(ts_col).alias("_ts")
        )
        prev = f"t_{i - 1}"
        matched = (
            nxt.join(cur.select(key_col, prev), key_col)
            .filter(
                (F.col("_ts") > F.col(prev))
                & (
                    F.unix_micros("_ts")
                    <= F.unix_micros(prev)
                    + F.lit(within_s).cast("long") * F.lit(1_000_000)
                )
            )
            .groupBy(key_col)
            .agg(F.min("_ts").alias(f"t_{i}"))
        )
        cur = cur.join(matched, key_col, "left")
    reached = sum(
        (F.col(f"t_{i}").isNotNull()).cast("int")
        for i in range(1, len(steps) + 1)
    )
    return cur.withColumn("steps_completed", reached)
