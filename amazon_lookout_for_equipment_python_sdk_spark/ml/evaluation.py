"""Model evaluation: ranges, stamped points, histogram ranking
(SURVEY M2/M3 + evaluation-entry-point chain, reference evaluation.py).

``ModelEvaluation`` is the Spark-native ``LookoutEquipmentAnalysis``: it
takes scored points + optional label ranges, produces
- ``predicted_ranges()`` / ``labeled_ranges()`` — (start, end) tables
  (reference ModelMetrics JSON, evaluation.py:96-117);
- ``stamped_points()`` — 0/1/2 point series (evaluation.py:206-224);
- ``rank_signals()`` — per-signal Wasserstein ranking of training-normal vs
  evaluation-anomalous value distributions (evaluation.py:228-313) with
  top-k (get_ranked_list, evaluation.py:557-571).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.intervals import compact_runs, stamp_points
from ..operators.wasserstein import rank_signals_by_shift

#: reference ModelMetrics JSON shape (evaluation.py:96-117): a dict with
#: 'labeled_ranges' and 'predicted_ranges', each a list of {start, end}
MODEL_METRICS_SCHEMA = (
    "labeled_ranges array<struct<start:string,end:string>>, "
    "predicted_ranges array<struct<start:string,end:string>>"
)


def ranges_from_model_metrics(
    spark: SparkSession, metrics_json: str, which: str = "predicted_ranges"
) -> DataFrame:
    """N2 interop — decode a reference model's ModelMetrics JSON into a
    (start, end) timestamp ranges DataFrame via ``from_json`` (typed, never
    ``eval`` — SURVEY N4), matching _load_model_response
    (evaluation.py:96-117, pd.to_datetime on both columns).  An empty list
    yields an empty two-column frame, like the reference's empty-DataFrame
    branch (evaluation.py:105-106, 116-117)."""
    if which not in ("predicted_ranges", "labeled_ranges"):
        raise ValueError(f"which must be *_ranges, got {which!r}")
    doc = spark.createDataFrame([(metrics_json,)], "j string")
    return (
        doc.select(F.from_json("j", MODEL_METRICS_SCHEMA).alias("m"))
        .select(F.explode_outer(F.col(f"m.{which}")).alias("r"))
        .select(
            F.col("r.start").cast("timestamp").alias("start"),
            F.col("r.end").cast("timestamp").alias("end"),
        )
        .filter(F.col("start").isNotNull())
    )


def model_metrics_json(
    predicted: DataFrame, labeled: DataFrame | None = None
) -> str:
    """Encode (start, end) range frames as reference-format ModelMetrics
    JSON (the payload DescribeModel returns), so our native evaluation
    output round-trips through the reference's wire shape."""
    import json

    def fmt(df):
        if df is None:
            return []
        return [
            {
                "start": r["start"].strftime("%Y-%m-%dT%H:%M:%S.%f"),
                "end": r["end"].strftime("%Y-%m-%dT%H:%M:%S.%f"),
            }
            for r in df.select("start", "end").orderBy("start").collect()
        ]

    return json.dumps(
        {"labeled_ranges": fmt(labeled), "predicted_ranges": fmt(predicted)}
    )


class ModelEvaluation:
    def __init__(
        self,
        scored: DataFrame,
        labels: DataFrame | None = None,
        sampling_rate_s: int = 300,
    ):
        """``scored``: (timestamp, prediction, ...) from
        AnomalyDetector.transform; ``labels``: (start, end)."""
        self.scored = scored
        self.labels = labels
        self.rate = sampling_rate_s
        self._timeline_df: DataFrame | None = None

    def _timeline(self) -> DataFrame:
        """``scored``'s (timestamp, prediction) columns, materialized on
        first use.  Every range, stamp and ranking call reads them (a
        ranking twice per histogram pass), and left lazy each read re-runs
        the whole scoring plan (resample, ffill, pivot, projection) from
        the raw readings.  localCheckpoint, not persist: the
        lineage is cut so later plans stay small, no CacheManager entry
        is registered, and the blocks go to the ContextCleaner with this
        object.  Built lazily so constructing the evaluation stays
        job-free."""
        if self._timeline_df is None:
            self._timeline_df = self.scored.select(
                "timestamp", "prediction"
            ).localCheckpoint(eager=True)
        return self._timeline_df

    def predicted_ranges(self) -> DataFrame:
        # keyless compact_runs = one-partition window; acceptable here
        # because the input is ONE model's resampled timeline (rows =
        # slots, e.g. ~105k/year at PT5M), not raw data.  Multi-asset
        # callers should compact per key via compact_runs(key_col=...).
        return compact_runs(
            self._timeline(),
            F.col("prediction") == 1,
            ts_col="timestamp",
            step_seconds=self.rate,
        ).select("start", "end", "n_points")

    def labeled_ranges(self) -> DataFrame | None:
        return self.labels

    def stamped_points(self) -> DataFrame:
        """0 = normal, 1 = inside predicted range, 2 = inside label range."""
        return stamp_points(
            self._timeline().select("timestamp"),
            self.predicted_ranges().select("start", "end"),
            self.labels,
            ts_col="timestamp",
        )

    def _tagged_subsets(self, df_long: DataFrame) -> DataFrame:
        """Join signal values to the 0/1/2 stamped points and label each row
        normal/anomalous (reference evaluation.py:222-226 index split).

        Raw rows join on their ENCLOSING sampling bucket, not exact ts
        equality — predictions live on the resampled grid, so an
        equality join would silently drop every off-grid raw value (e.g.
        4/5 of 1-min data under a PT5M model) and bias the ranking
        sample.  The reference ranks all values inside each range."""
        from ..operators.timeseries import bucket

        stamped = self.stamped_points().withColumnRenamed(
            "timestamp", "_slot_ts"
        )
        return (
            df_long.withColumn("_slot_ts", bucket(F.col("ts"), self.rate))
            .join(stamped, "_slot_ts", "inner")
            .drop("_slot_ts")
            .withColumn(
                "subset",
                F.when(F.col("prediction") == 0, "normal").otherwise(
                    "anomalous"
                ),
            )
        )

    def rank_signals(
        self,
        df_long: DataFrame,
        num_bins: int = 20,
        top_n: int | None = None,
    ) -> DataFrame:
        """Per-signal distribution-shift ranking: values at normal points
        vs values at anomalous points, shared-bin density histograms,
        Wasserstein(density vectors), desc (reference evaluation.py:228-313)."""
        return rank_signals_by_shift(
            self._tagged_subsets(df_long),
            "subset",
            "normal",
            "anomalous",
            num_bins=num_bins,
            key_col="tag",
            value_col="value",
            top_n=top_n,
        )

    def plot_histograms(
        self,
        df_long: DataFrame,
        path: str,
        nb_cols: int = 3,
        max_plots: int = 12,
        num_bins: int = 20,
    ) -> dict:
        """§2.13 — histogram grid of the top-ranked signals, normal vs
        anomalous distributions overlaid (reference plot_histograms,
        evaluation.py:394-478: ranked order, nb_cols columns, alpha-blended
        pairs)."""
        from ..operators.wasserstein import density_histograms, rank_histograms
        from ..plot.viz import plot_histogram_grid

        # one histogram pass feeds both the ranking and the plot: persisted
        # for this call only (grid-sized), released before returning
        hists = density_histograms(
            self._tagged_subsets(df_long),
            "subset",
            num_bins,
            key_col="tag",
            value_col="value",
            with_edges=True,
        ).persist()
        try:
            ranked = [
                r["tag"]
                for r in rank_histograms(
                    hists, "normal", "anomalous", "tag", top_n=max_plots
                ).collect()
            ]
            return plot_histogram_grid(
                hists,
                path,
                key_col="tag",
                ncols=nb_cols,
                max_plots=max_plots,
                ranking=ranked,
            )
        finally:
            hists.unpersist()

    def plot_signals(
        self,
        df_long: DataFrame,
        path: str,
        max_plots: int = 12,
        resample: str | None = None,
        ranking: list[str] | None = None,
    ) -> dict:
        """§2.13 — ranked signal time-series panels with predicted ranges as
        ribbons (reference plot_signals, evaluation.py:480-555).  Pass
        ``ranking`` (e.g. from a prior rank_signals/plot_histograms call)
        to skip recomputing the stamped-points ranking pipeline."""
        from ..plot.viz import TimeSeriesVisualization

        ranked = ranking or [
            r["tag"]
            for r in self.rank_signals(df_long, top_n=max_plots).collect()
        ]
        ranked = ranked[:max_plots]
        viz = TimeSeriesVisualization(
            df_long, "timeseries", resample=resample
        )
        viz.add_signal(ranked)
        viz.add_predictions(self.predicted_ranges())
        if self.labels is not None:
            viz.add_labels(self.labels)
        return viz.plot(path)
