"""Wasserstein (1-D EMD) signal ranking — the reference's flagship analytic.

Reference semantics (evaluation.py:228-313): for each signal, build two
density histograms over SHARED bin edges (global min/max of the signal,
``num_bins`` fixed-width bins) — one from "training normal" values, one from
"evaluation anomalous" values — then compute
``scipy.stats.wasserstein_distance(u, v)`` **between the two density
vectors themselves** (the reference's quirk: the 20 density values are
treated as two equal-length 1-D samples, evaluation.py:290-305; errors
collapse to 0.0, evaluation.py:308-309).  Signals are ranked by distance
descending (evaluation.py:312-313).

For equal-length samples u, v the distance reduces to
``mean(|sorted(u) - sorted(v)|)`` — expressible as pure DataFrame algebra:
rank each side's densities, join on (signal, rank), average absolute
difference.  We implement exactly that (no UDF in the hot path); a scipy
cross-check lives in tests.

``raw_sample_emd`` additionally offers the textbook EMD between the raw
sample sets (CDF-difference integral over the shared bins) as an extension.

Scale: everything is hash-agg + a join on (signal, rank) where each side has
``num_bins`` rows per signal — thousands of rows total even with 1e6
signals; the heavy lifting is the two histogram scans, which partition by
signal and combine map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .histogram import histogram, signal_bounds, widen_degenerate_bounds


def density_histograms(
    df: DataFrame,
    split_col: str,
    num_bins: int = 20,
    key_col: str = "tag",
    value_col: str = "value",
    with_edges: bool = False,
    bounds: "DataFrame | None" = None,
) -> DataFrame:
    """Per-signal, per-subset density histograms over shared edges.

    ``split_col`` labels each row's subset (e.g. 'train'/'eval').  Edges come
    from the signal's global min/max across ALL subsets (reference
    evaluation.py:282-287 computes edges from the union before splitting).
    Returns (key, subset, bin, density).

    Exactly two scans regardless of subset count: (1) per-signal bounds,
    (2) per-(signal, subset, bin) counts; the bin grid is rebuilt from the
    tiny aggregates (no driver collect, no per-subset rescans).

    ``bounds`` (key, min_value, max_value) lets a caller supply edges
    computed over an equivalent but CHEAPER lineage: when ``df`` carries
    an expensive derivation (the evaluation chain's range-join stamping)
    whose value set equals a plain upstream frame's, computing min/max
    upstream halves the expensive passes — Spark recomputes branch
    lineage per consumer (r7 scan audit).
    """
    # null values carry no sample mass: np.histogram(density=True) operates
    # on the non-null sample, and letting nulls reach the binning would
    # count them into per-subset totals (null bin) while the grid drops
    # them — deflating every density for sparse signals
    df = df.filter(F.col(value_col).isNotNull())
    if bounds is None:
        bounds = signal_bounds(df, key_col, value_col)
    bounds = widen_degenerate_bounds(bounds)
    width = (F.col("max_value") - F.col("min_value")) / F.lit(float(num_bins))
    # one pass to per-(signal, subset) bin counts (at most num_bins map
    # entries each); the totals and the bin grid come from the same
    # aggregate, so nothing is consumed twice and nothing is persisted
    counts = (
        df.join(F.broadcast(bounds), key_col)
        .select(
            key_col,
            F.col(split_col).alias("subset"),
            "min_value",
            "max_value",
            # clamp BOTH ends: caller-supplied ``bounds`` is public API, and
            # a value outside [min, max] would otherwise land in bin -1 / n
            # — counted into the subset total but outside the grid,
            # silently deflating every density (the same failure mode the
            # null filter above guards)
            F.greatest(
                F.lit(0),
                F.least(
                    F.floor((F.col(value_col) - F.col("min_value")) / width),
                    F.lit(num_bins - 1),
                ),
            )
            .cast("int")
            .alias("bin"),
        )
        .groupBy(key_col, "subset", "min_value", "max_value", "bin")
        .agg(F.count("*").alias("cnt"))
        .groupBy(key_col, "subset", "min_value", "max_value")
        .agg(
            F.sum("cnt").alias("n"),
            F.map_from_entries(F.collect_list(F.struct("bin", "cnt"))).alias("cnts"),
        )
    )
    edge_cols = (
        [
            (F.col("min_value") + F.col("bin") * width).alias("bin_start"),
            width.alias("bin_width"),
        ]
        if with_edges
        else []
    )
    return counts.withColumn(
        "bin", F.explode(F.sequence(F.lit(0), F.lit(num_bins - 1)))
    ).select(
        key_col,
        "subset",
        "bin",
        (F.coalesce(F.col("cnts")[F.col("bin")], F.lit(0)) / (F.col("n") * width)).alias(
            "density"
        ),
        *edge_cols,
    )


def wasserstein_between_density_vectors(
    hists: DataFrame,
    subset_a: str,
    subset_b: str,
    key_col: str = "tag",
) -> DataFrame:
    """W1 distance between two equal-length density vectors per signal
    (the reference's semantic, evaluation.py:290-305):
    mean(|sorted(a) - sorted(b)|).

    Shape: rank within (signal, subset) then pair the two subsets by rank
    with a CONDITIONAL aggregation — not a filter-and-self-join, which
    would re-instantiate (and at scale re-SCAN) the whole upstream
    histogram pipeline once per subset.  One pass over ``hists``; a rank
    present in only one subset leaves the other side null, the |diff|
    null, and avg skips it — exactly the inner-join pairing."""
    wr = Window.partitionBy(key_col, "subset").orderBy("density", "bin")
    ranked = hists.filter(
        F.col("subset").isin(subset_a, subset_b)
    ).withColumn("r", F.row_number().over(wr))
    paired = ranked.groupBy(key_col, "r").agg(
        F.max(F.when(F.col("subset") == subset_a, F.col("density"))).alias("da"),
        F.max(F.when(F.col("subset") == subset_b, F.col("density"))).alias("db"),
    )
    # a signal missing one subset entirely (e.g. zero predicted anomalies)
    # must collapse to distance 0.0, not vanish from the ranking — the
    # reference's except-branch semantics (evaluation.py:308-309).  Such a
    # signal still has paired rows (one side null -> avg null), so the
    # coalesce does it WITHOUT a keys-rejoin — the old
    # `hists.select(key).distinct()` left-join re-instantiated (and at
    # scale re-scanned) the whole histogram subtree a second time.  (A
    # signal with rows in NEITHER compared subset would drop out, which
    # cannot happen for a 2-valued split column.)
    return paired.groupBy(key_col).agg(
        F.coalesce(
            F.avg(F.abs(F.col("da") - F.col("db"))), F.lit(0.0)
        ).alias("distance")
    )


def rank_signals_by_shift(
    df: DataFrame,
    split_col: str,
    subset_a: str,
    subset_b: str,
    num_bins: int = 20,
    key_col: str = "tag",
    value_col: str = "value",
    top_n: int | None = None,
) -> DataFrame:
    """A6+A7+T2 — full reference chain: shared-bin density histograms ->
    Wasserstein(density-vectors) -> rank desc -> optional top-k
    (evaluation.py:228-313 + 557-571)."""
    hists = density_histograms(df, split_col, num_bins, key_col, value_col)
    return rank_histograms(hists, subset_a, subset_b, key_col, top_n)


def rank_histograms(
    hists: DataFrame,
    subset_a: str,
    subset_b: str,
    key_col: str = "tag",
    top_n: int | None = None,
) -> DataFrame:
    """The ranking half of :func:`rank_signals_by_shift`, over histograms
    a caller already holds: distance desc, then key; optional top-k."""
    d = wasserstein_between_density_vectors(hists, subset_a, subset_b, key_col)
    d = d.orderBy(F.desc("distance"), key_col)
    return d.limit(top_n) if top_n else d


def raw_sample_emd(
    df: DataFrame,
    split_col: str,
    subset_a: str,
    subset_b: str,
    num_bins: int = 20,
    key_col: str = "tag",
    value_col: str = "value",
) -> DataFrame:
    """Extension (SURVEY §7 hard-part 1): textbook binned EMD between the two
    RAW sample distributions: sum(|cdf_a - cdf_b|) * bin_width.

    bin_width comes from the histogram output itself (with_edges) — a
    separate signal_bounds pass would rescan the full raw DataFrame just
    to recompute min/max.  Subsets pair by a conditional aggregation on
    (signal, bin), not a filter-and-self-join — one pass over the
    histogram pipeline (see wasserstein_between_density_vectors)."""
    hists = density_histograms(
        df, split_col, num_bins, key_col, value_col, with_edges=True
    )
    w = Window.partitionBy(key_col, "subset").orderBy("bin")
    cdf = hists.withColumn("cdf", F.sum("density").over(w))
    paired = (
        cdf.filter(F.col("subset").isin(subset_a, subset_b))
        .groupBy(key_col, "bin")
        .agg(
            F.max(F.when(F.col("subset") == subset_a, F.col("cdf"))).alias("ca"),
            F.max(F.when(F.col("subset") == subset_b, F.col("cdf"))).alias("cb"),
            F.max("bin_width").alias("bin_width"),
        )
        # inner-join pairing: a bin present in only one subset drops
        .filter(F.col("ca").isNotNull() & F.col("cb").isNotNull())
    )
    return (
        paired.groupBy(key_col, "bin_width")
        .agg(F.sum(F.abs(F.col("ca") - F.col("cb"))).alias("_absdiff"))
        .select(
            key_col,
            (F.col("_absdiff") * F.col("bin_width") * F.col("bin_width")).alias(
                "emd"
            ),
        )
    )
