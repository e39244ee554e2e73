"""Histogram operators: shared-bin, density-normalized (SURVEY A4/A5).

Reference semantics (evaluation.py:282-299; plot.py:763-793): bin edges are
``num_bins`` equal-width bins spanning the signal's global min..max; each
sample set is histogrammed against those shared edges with
``np.histogram(density=True)`` — density = count / (n_total * bin_width);
the last bin includes its right edge (numpy convention).

Scale design: two passes over the data — (1) per-signal min/max (hash agg,
tiny result, broadcast back), (2) per-row bin assignment + hash agg on
(signal, bin).  Both are map-side-combining aggregations with no wide rows;
at 100 TB this is the canonical 2-scan histogram (or 1 scan if min/max are
known from table stats).  All arithmetic is IEEE-deterministic: bin index =
floor((v - min) / width) with identical expression shape in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def signal_bounds(
    df: DataFrame, key_col: str = "tag", value_col: str = "value"
) -> DataFrame:
    """A4 — global min/max per signal (reference evaluation.py:282-287)."""
    return df.groupBy(key_col).agg(
        F.min(value_col).alias("min_value"),
        F.max(value_col).alias("max_value"),
    )


def compute_bin_edges(
    df: DataFrame,
    num_bins: int = 10,
    key_col: str = "tag",
    value_col: str = "value",
) -> DataFrame:
    """Per-signal shared bin edges: ``num_bins + 1`` equal-width edges over
    the signal's global min..max (reference plot.py:747-793
    ``compute_bin_edges`` — there over a list of pandas series, here one
    row per signal with an edges array).  Degenerate ranges follow the
    numpy widen rule."""
    b = widen_degenerate_bounds(signal_bounds(df, key_col, value_col))
    width = (F.col("max_value") - F.col("min_value")) / F.lit(float(num_bins))
    return b.select(
        key_col,
        F.transform(
            F.sequence(F.lit(0), F.lit(num_bins)),
            lambda i: F.col("min_value") + i.cast("double") * width,
        ).alias("edges"),
    )


def widen_degenerate_bounds(bounds: DataFrame) -> DataFrame:
    """numpy degenerate-range rule (np.histogram on a constant sample uses
    range (v-0.5, v+0.5)): widen min==max bounds by 0.5 each side so bin
    width is never 0 (which would make every bin index null)."""
    eq = F.col("max_value") == F.col("min_value")
    others = [c for c in bounds.columns if c not in ("min_value", "max_value")]
    return bounds.select(
        *others,
        F.when(eq, F.col("min_value") - 0.5).otherwise(F.col("min_value")).alias("min_value"),
        F.when(eq, F.col("max_value") + 0.5).otherwise(F.col("max_value")).alias("max_value"),
    )


def histogram(
    df: DataFrame,
    num_bins: int = 20,
    key_col: str = "tag",
    value_col: str = "value",
) -> DataFrame:
    """A5 — fixed-width bucketed count, density-normalized.

    Returns one row per (signal, bin) for ALL bins 0..num_bins-1 (numpy
    emits empty bins as zero counts): ``(key, bin, bin_start, count,
    density)``.  Edges span each signal's own min..max; histograms over
    edges shared across subsets are :func:`.wasserstein.density_histograms`.
    """
    # null values carry no sample mass — unguarded they'd land in the LAST
    # bin, because F.least skips null arguments: least(floor(null), 19)=19
    df = df.filter(F.col(value_col).isNotNull())
    bounds = signal_bounds(df, key_col, value_col)
    b = F.broadcast(widen_degenerate_bounds(bounds))
    width = (F.col("max_value") - F.col("min_value")) / F.lit(float(num_bins))
    # every value lies within its own signal's min..max, so only the top
    # edge (numpy's closed last bin) needs a clamp
    binned = (
        df.join(b, key_col)
        .withColumn(
            "bin",
            F.least(
                F.floor((F.col(value_col) - F.col("min_value")) / width),
                F.lit(num_bins - 1),
            ).cast("int"),
        )
        .groupBy(key_col, "bin")
        .agg(F.count("*").alias("count"))
    )
    # complete bin grid so empty bins appear with count 0
    grid = b.select(
        key_col,
        "min_value",
        "max_value",
        F.explode(F.sequence(F.lit(0), F.lit(num_bins - 1))).alias("bin"),
    )
    # grid inherits b's broadcast hint, but a LEFT outer join can only build
    # (broadcast) its RIGHT side — without a hint on `binned` Spark warns and
    # falls back to a shuffle join on post-agg rows.  `binned` is bounded at
    # keys x num_bins rows (same order as the grid itself), so broadcast it.
    out = (
        grid.join(F.broadcast(binned), [key_col, "bin"], "left")
        .withColumn("count", F.coalesce(F.col("count"), F.lit(0)))
    )
    w = (F.col("max_value") - F.col("min_value")) / F.lit(float(num_bins))
    out = out.withColumn("bin_start", F.col("min_value") + F.col("bin") * w)
    total = F.sum("count").over(Window.partitionBy(key_col))
    out = out.withColumn("density", F.col("count") / (total * w))
    return out.select(key_col, "bin", "bin_start", "count", "density")
