"""The shared machinery of the skew-safe chunked twins.

Every chunked twin splits a per-key window into (key, bucket) local
work plus a tiny per-(key, bucket) table joined back on the key and
bucket: :func:`bucket_axis` spells the bucket id, :func:`keyed_scan` is
the two-level prefix scan most twins run on, :func:`join_boundary` the
join.  A window's ``partitionBy`` treats a NULL key as a regular
partition value, but a standard equi-join drops NULL keys, so a twin
joining its boundary table with plain equality would silently lose
those rows or orphan them from their cross-bucket carry (r11 review
finding).  :func:`join_boundary` therefore joins with null-safe
equality (``eqNullSafe``, hash-joinable, so the broadcast plan shape is
unchanged) on the KEY columns and plain equality on the bucket ids,
which are never null (see :data:`NULL_TS_BUCKET`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: bucket id for rows whose bucket axis is null — far below any real
#: ``floor(axis / span)`` and smaller than all of them, which
#: reproduces an ascending window's nulls-FIRST order on the bucket
#: axis, and lets the boundary joins (plain equality on the bucket id)
#: match those rows: a NULL bucket id would drop them (r11 review).
NULL_TS_BUCKET = -(1 << 62)

#: the associative scans :func:`keyed_scan` runs
SCAN_OPS = ("sum", "last", "min_sum")

#: Union of the internal staging column names the chunked twins and
#: :func:`keyed_scan` create with ``withColumn`` — which silently
#: REPLACES a same-named input column, corrupting output where the
#: plain forms have no such hazard (r11 ADVICE).  Twins reject input
#: frames carrying any of these via :func:`guard_internal`; the routed
#: wrappers inherit the check, so a clashing frame fails loudly on the
#: twin path instead of silently mid-plan.
RESERVED_INTERNAL = frozenset(
    {
        "_b", "_bstart", "_c", "_carry", "_cum", "_d", "_g", "_has_next",
        "_has_prev", "_lag", "_lead", "_loc", "_m", "_med", "_n", "_ord",
        "_pmin", "_prev", "_rn", "_side", "_tbkt", "_xc", "_zn", "_zq",
        "_zs",
    }
)


def guard_internal(df: DataFrame, extra: "tuple[str, ...]" = ()) -> None:
    """Raise if ``df`` already carries a chunked twin's internal staging
    column name (or the ``_nsj_`` boundary-join prefix).  ``withColumn``
    would silently replace it and corrupt the output; the plain window
    forms have no such hazard, so the twin refuses loudly instead."""
    reserved = RESERVED_INTERNAL.union(extra)
    clash = sorted(
        c for c in df.columns if c in reserved or c.startswith("_nsj_")
    )
    if clash:
        raise ValueError(
            f"input frame carries reserved internal column(s) {clash}; "
            "rename them before calling a chunked twin (these names are "
            "staging columns the twin would silently overwrite)"
        )


def join_boundary(
    left: DataFrame,
    right: DataFrame,
    ns_cols: "list[str]",
    eq_cols: "list[str]",
    how: str = "inner",
    broadcast: bool = True,
) -> DataFrame:
    """Join ``left`` to the (tiny) ``right`` boundary table: null-safe
    on ``ns_cols`` (the window keys), plain equality on ``eq_cols``
    (bucket ids).  Right-side join columns are dropped after the join,
    so the result carries exactly left's columns plus right's payload —
    the same shape as ``left.join(right, on=[...])``."""
    if not ns_cols and not eq_cols:
        raise ValueError("join_boundary needs at least one join column")
    join_cols = set(ns_cols) | set(eq_cols)
    payload = [c for c in right.columns if c not in join_cols]
    clashes = sorted(
        c for c in payload if c in left.columns or c.startswith("_nsj_")
    )
    if clashes:
        raise ValueError(
            "join_boundary: right payload columns collide with left "
            f"columns or the _nsj_ staging prefix: {clashes} — rename "
            "the boundary payload before joining"
        )
    renamed = right
    conds = []
    for c in ns_cols:
        renamed = renamed.withColumnRenamed(c, f"_nsj_{c}")
        conds.append(F.col(c).eqNullSafe(F.col(f"_nsj_{c}")))
    for c in eq_cols:
        renamed = renamed.withColumnRenamed(c, f"_nsj_{c}")
        conds.append(F.col(c) == F.col(f"_nsj_{c}"))
    if broadcast:
        renamed = F.broadcast(renamed)
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    out = left.join(renamed, on=cond, how=how)
    return out.drop(*[f"_nsj_{c}" for c in ns_cols + eq_cols])


def bucket_axis(axis: "str | Column", span: int, unit: str) -> Column:
    """The bucket id of a twin's (key, bucket) split: ``floor(axis /
    span)``, null axis values parked in :data:`NULL_TS_BUCKET`.

    ``unit="s"``: ``axis`` is a timestamp and ``span`` is in seconds;
    the floor runs on epoch microseconds.  The cast keeps TIMESTAMP_NTZ
    inputs working (``unix_micros`` rejects NTZ; the engine session
    runs UTC, so the cast is value-preserving, and the bucket id only
    partitions).  ``unit="id"``: ``axis`` is numeric and ``span`` is in
    its own units.

    Any monotone bucketing keeps a twin exact, but a span that is not
    positive is not one: a negative span reverses the bucket order
    against the scan order, and zero divides by zero inside a job.  It
    is rejected here, while the plan is built."""
    if span <= 0:
        raise ValueError(f"bucket span must be positive: {span}")
    col = F.col(axis) if isinstance(axis, str) else axis
    if unit == "s":
        col = F.unix_micros(col.cast("timestamp"))
        span = int(span) * 1_000_000
    elif unit != "id":
        raise ValueError(f"bucket_axis unit must be 's' or 'id': {unit!r}")
    return F.coalesce(F.floor(col / F.lit(int(span))), F.lit(NULL_TS_BUCKET))


def keyed_scan(
    df: DataFrame,
    keys: "list[str]",
    order: "list[str | Column]",
    scans: "dict[str, tuple[str, str | Column]]",
) -> DataFrame:
    """Per-key prefix scans in (``_b``, ``order``) order, without a
    per-key window over the rows: ``df`` with one column ``out`` added
    (or replaced) for each ``scans`` entry ``out -> (op, column)``.

    ``df`` carries its bucket id in ``_b`` (:func:`bucket_axis`), which
    must not decrease along ``order`` within a key; ``order`` is
    ascending (negate a column to scan it descending).  The ops
    (:data:`SCAN_OPS`), each inclusive of the current row:

    - ``sum``: the running sum, null before the first non-null value (a
      count is the sum of ``F.lit(1)``);
    - ``last``: the last non-null value;
    - ``min_sum``: the running min of the running sum, CUSUM's
      ``min_{j<=i} C_j`` in ``S_i = C_i - min(0, min_{j<=i} C_j)``.

    Each op is an associative monoid, so the scan runs in two levels
    (Blelloch, *Prefix Sums and Their Applications*, 1990):

    1. a bucket-LOCAL scan: windows over (key, bucket), parallel;
    2. per (key, bucket), the bucket's total (sum: its sum; last: its
       last non-null value by ``struct(order)``; min_sum: its sum and
       the min of its local running sums), aggregated on the local
       scan's partitioning, then the EXCLUSIVE prefix of those totals
       over each key's buckets (windows over keys x buckets rows);
    3. a BROADCAST join of that carry table and a row-local combine:
       the carried prefix, then the local scan (min_sum: the lesser of
       the carried min and the carried sum plus the local min).

    NULL keys are one ordinary group, as in a window's ``partitionBy``
    (:func:`join_boundary` is null-safe on the keys).  Null ``order``
    values sort first, as in an ascending window, and rows with a null
    bucket axis sit in the sentinel front bucket.  Ties on ``order``
    resolve as arbitrarily as in the plain window.  Cost against one
    per-key window: the (key, bucket) exchange of the rows is the same
    size, plus the tiny table's windows and its broadcast."""
    return _keyed_scan(df, keys, order, scans)[0]


def _keyed_scan(df, keys, order, scans) -> "tuple[DataFrame, DataFrame]":
    """:func:`keyed_scan` and its carry table: per non-empty (key,
    ``_b``), each scan's exclusive prefix before the bucket, named
    ``out`` (min_sum: a struct of the prefix ``sum`` and ``min``)."""
    unknown = sorted({op for op, _ in scans.values()} - set(SCAN_OPS))
    if unknown:
        raise ValueError(f"keyed_scan ops must be in {SCAN_OPS}: {unknown}")
    # (out, op, column, the scan's field in the staging structs)
    specs = [
        (out, op, F.col(c) if isinstance(c, str) else c, f"s{i}")
        for i, (out, (op, c)) in enumerate(scans.items())
    ]
    wl = Window.partitionBy(*keys, "_b").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wc = Window.partitionBy(*keys).orderBy("_b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    loc, carry = F.col("_loc"), F.col("_carry")

    def run(op, c):
        return F.last(c, ignorenulls=True) if op == "last" else F.sum(c)

    # 1. local scans (min_sum: the running sum, then its running min)
    local = df.withColumn(
        "_loc", F.struct(*[run(op, c).over(wl).alias(f) for _, op, c, f in specs])
    )
    mins = [f for _, op, _, f in specs if op == "min_sum"]
    for f in mins:
        pair = F.struct(loc[f].alias("sum"), F.min(loc[f]).over(wl).alias("min"))
        local = local.withColumn("_loc", loc.withField(f, pair))

    # 2. bucket totals, then their exclusive prefix per key ("min" holds
    #    each bucket's own min of the global running sum until the last
    #    pass turns it into the exclusive prefix min)
    def total(op, c, f):
        if op == "last":
            return F.max_by(c, F.when(c.isNotNull(), F.struct(*order)))
        if op == "sum":
            return F.sum(c)
        return F.struct(F.sum(c).alias("sum"), F.min(loc[f]["sum"]).alias("min"))

    def prefix(op, f):
        if op != "min_sum":
            return run(op, carry[f]).over(wc)
        off = F.sum(carry[f]["sum"]).over(wc)
        low = F.coalesce(off, F.lit(0)) + carry[f]["min"]
        return F.struct(off.alias("sum"), low.alias("min"))

    totals = F.struct(*[total(op, c, f).alias(f) for _, op, c, f in specs])
    prefixes = F.struct(*[prefix(op, f).alias(f) for _, op, _, f in specs])
    carries = (
        local.groupBy(*keys, "_b")
        .agg(totals.alias("_carry"))
        .select(*keys, "_b", prefixes.alias("_carry"))
    )
    for f in mins:
        low = F.min(carry[f]["min"]).over(wc)
        carries = carries.withColumn("_carry", carry.withField(f"{f}.min", low))

    # 3. row-local combine: the carried prefix, then the local scan
    out = join_boundary(local, carries, list(keys), ["_b"], how="left")
    for name, op, _, f in specs:
        lv, cv = loc[f], carry[f]
        if op == "last":
            val = F.coalesce(lv, cv)
        elif op == "sum":
            val = F.coalesce(F.coalesce(cv, F.lit(0)) + lv, cv)
        else:
            val = F.least(cv["min"], F.coalesce(cv["sum"], F.lit(0)) + lv["min"])
        out = out.withColumn(name, val)
    named = [carry[f].alias(name) for name, _, _, f in specs]
    return out.drop("_loc", "_carry"), carries.select(*keys, "_b", *named)
