"""PCA-reconstruction-error anomaly detector (SURVEY M1/M3/M4/M5).

The reference's model is remote and opaque (model.py builds a request; the
service trains it).  Its *contract* is explicit though: train on a time
range at a target sampling rate, optionally excluding off-condition rows
and restricting to a signal subset; optionally calibrate with label ranges;
at inference emit per-timestamp ``prediction`` 0/1, ``anomaly_score``, and
per-sensor ``diagnostics`` that sum to 1 (scheduler.py:644-650,
plot.py:858-907).  SURVEY §7 Phase 4 picks the canonical unsupervised
choice: standardize -> PCA -> reconstruction error -> threshold.

Our semantics (explicit + deterministic, SURVEY hard-part 4):
- preprocessing: tumbling-window mean resample to ``sampling_rate_s`` +
  forward-fill per signal (the reference's resample+ffill spine);
- model: StandardScaler(mean, std) -> PCA(k) on the training window;
- score(x) = squared reconstruction error of the standardized vector;
- anomaly_score in [0, 1): err / (err + err_p50_train) (monotone, scale-free);
- prediction = score > threshold, threshold = ``threshold_quantile`` of
  training scores (no labels) or the quantile that maximizes range-level F1
  over the label ranges (with labels);
- diagnostics_j = residual_j^2 / sum residual^2  (sums to 1 per event; the
  reference plots a 1/num_features reference line, plot.py:902-903).

Everything runs as column expressions (scores t_k and reconstructions are
sums over d features x k components — JVM codegen, no Python in the scoring
path; fine for the reference's <=300-sensor regime).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.ml.feature import PCA, StandardScaler, VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.conditions import on_filter
from ..functions.datetime_utils import iso8601_duration_to_seconds
from ..operators.timeseries import resample_ffill


#: training-score quantiles tried as thresholds by label calibration
CALIBRATION_QUANTILES = (0.5, 0.75, 0.9, 0.95, 0.99, 0.995)


@dataclass
class ModelConfig:
    """Mirror of the reference's create_model request surface
    (model.py:103-223)."""

    model_name: str
    sampling_rate: str = "PT5M"  # ISO-8601, model.py:157-158
    training_start: str | None = None
    training_end: str | None = None
    evaluation_start: str | None = None
    evaluation_end: str | None = None
    off_condition: str | None = None  # OFF-time DSL 'component\\tag < 0.0', model.py:109-123
    signal_subset: list[str] | None = None  # subset schema, model.py:210-223
    n_components: int | None = None  # PCA k; default d // 2, capped at d-1
    threshold_quantile: float = 0.99
    #: recorded for request parity (model.py:166-192); the training window
    #: is applied by fit() via training_start/end, the evaluation window by
    #: the caller when selecting transform() input
    seed: int = 42  # reserved; the pipeline is deterministic without RNG

    status: str = field(default="NOT_TRAINED", init=False)  # M5 lifecycle


class AnomalyDetector:
    """Unsupervised multivariate anomaly model over a LONG time-series table
    (ts, tag, value).  Wide ("tabular": Timestamp + one column per sensor)
    input — the reference's training layout — converts via
    :meth:`wide_input`."""

    @staticmethod
    def wide_input(df_wide: DataFrame, ts_col: str = "Timestamp") -> DataFrame:
        """Wide table -> the (ts, tag, value) layout fit/transform expect
        (single stack projection, no shuffle)."""
        from ..datamodel import wide_to_long

        return wide_to_long(df_wide, ts_col=ts_col, tag_col="tag").select(
            F.col("timestamp").alias("ts"), "tag", "value"
        )

    def __init__(self, config: ModelConfig):
        self.config = config
        self.tags: list[str] = []
        self.scaler_model = None
        self.pca_model = None
        self.threshold: float | None = None
        self._err_p50: float | None = None
        # fitted parameters as plain arrays (the scoring path reads these,
        # not the MLlib model objects, so a model restored from a payload
        # scores identically without refitting)
        self._mean = None
        self._std = None
        self._W = None

    # --- preprocessing -----------------------------------------------------

    def _prepare_wide(self, df_long: DataFrame, tags: list[str] | None = None) -> DataFrame:
        """resample+ffill per tag, then pivot wide (one row per slot).

        ``tags=None`` (fit path) discovers the tag set from the data (one
        distinct scan — fit runs once).  Passing the frozen fit-time list
        (transform path) pins the pivot to the trained feature order and
        stays FULLY LAZY: no tag-discovery job per transform (the
        scheduler's score_fn calls this per slot per micro-batch, where an
        extra full pass + driver round-trip just to pre-build an error
        message serializes the hot path).  A missing trained tag instead
        raises from a guard INSIDE the plan — an ``assert_true`` over
        per-tag counts windowed across the pivoted slot table — so the
        descriptive error still surfaces on the caller's action and a
        renamed/reordered tag set can never silently mis-scale features.
        """
        cfg = self.config
        rate = iso8601_duration_to_seconds(cfg.sampling_rate)
        if cfg.signal_subset:
            df_long = df_long.filter(F.col("tag").isin(*cfg.signal_subset))
        filled = resample_ffill(df_long, rate, ts_col="ts", key_col="tag")
        validate = tags is not None
        if tags is None:
            tags = sorted(
                r[0] for r in df_long.select("tag").distinct().collect()
            )
        wide = (
            filled.groupBy("bucket_ts")
            .pivot("tag", tags)
            .agg(F.first("value", ignorenulls=True))
        )
        if validate:
            # the guard window is keyless, i.e. single-partition — but it
            # runs over the PIVOTED table (one row per resample slot, not
            # per raw reading), post-aggregation; months of PT5M slots are
            # ~10^4 rows.  concat_ws skips nulls, so the message lists
            # exactly the all-null (= absent) tags; 0-row input raises
            # nothing (empty in, empty out).
            from pyspark.sql import Window

            w = Window.partitionBy()
            absent = F.concat_ws(
                ", ",
                *[F.when(F.count(t).over(w) == 0, F.lit(t)) for t in tags],
            )
            chk = F.assert_true(
                absent == F.lit(""),
                F.concat(
                    F.lit(
                        f"model {cfg.model_name!r} was trained on tags "
                        f"{tags}; input data is missing: "
                    ),
                    absent,
                ),
            )
            wide = wide.select(
                F.when(chk.isNull(), F.col("bucket_ts")).alias("bucket_ts"),
                *tags,
            )
        wide = wide.na.drop()
        if cfg.off_condition:
            # machine-off slots are excluded wholesale (M4: the condition on
            # one tag gates every signal at that timestamp, model.py:109-123);
            # the condition string describes OFF-time, so keep NOT(off)
            wide = wide.filter(on_filter(cfg.off_condition, layout="wide"))
        self.tags = tags
        return wide

    # --- training ----------------------------------------------------------

    def fit(self, df_long: DataFrame, labels: DataFrame | None = None) -> "AnomalyDetector":
        cfg = self.config
        cfg.status = "IN_PROGRESS"
        try:
            wide = self._prepare_wide(df_long)
            if cfg.training_start:
                wide = wide.filter(
                    F.col("bucket_ts") >= F.lit(cfg.training_start).cast("timestamp")
                )
            if cfg.training_end:
                wide = wide.filter(
                    F.col("bucket_ts") < F.lit(cfg.training_end).cast("timestamp")
                )
            # the slot table feeds four actions (scaler fit, PCA fit, the
            # quantile pass, the calibration F1 agg); left lazy, each
            # re-runs resample + ffill + pivot from the raw readings.
            # localCheckpoint (not persist) cuts the lineage so the later
            # plans are small, registers no CacheManager entry, and its
            # blocks go to the ContextCleaner with the frame
            wide = wide.localCheckpoint(eager=True)
            assembler = VectorAssembler(inputCols=self.tags, outputCol="_feat")
            feats = assembler.transform(wide)
            scaler = StandardScaler(
                inputCol="_feat", outputCol="_scaled", withMean=True, withStd=True
            )
            self.scaler_model = scaler.fit(feats)
            scaled = self.scaler_model.transform(feats)
            k = cfg.n_components or max(1, len(self.tags) // 2)
            k = min(k, len(self.tags) - 1) if len(self.tags) > 1 else 1
            pca = PCA(k=k, inputCol="_scaled", outputCol="_pc")
            self.pca_model = pca.fit(scaled)
            import numpy as np

            self._mean = np.array(self.scaler_model.mean)
            std = np.array(self.scaler_model.std)
            std[std == 0] = 1.0
            self._std = std
            self._W = self.pca_model.pc.toArray()
            train_scored = self._score_columns(wide)
            # one exact (relativeError=0) quantile pass serves p50, the
            # threshold and the calibration candidates alike
            qs = train_scored.approxQuantile(
                "anomaly_raw",
                [0.5, cfg.threshold_quantile, *CALIBRATION_QUANTILES],
                0.0,
            )
            self._err_p50 = max(qs[0], 1e-12)
            self.threshold = qs[1]
            if labels is not None:
                self._calibrate_threshold(train_scored, labels, qs[2:])
            cfg.status = "SUCCESS"
        except Exception:
            cfg.status = "FAILED"
            raise
        return self

    def _calibrate_threshold(
        self, scored: DataFrame, labels: DataFrame, cands: list[float]
    ) -> None:
        """With label ranges, pick the candidate threshold (``cands``: the
        training scores at :data:`CALIBRATION_QUANTILES`) that maximizes
        point-level F1 against label membership."""
        from ..operators.intervals import stamp_points

        # label membership by row-local broadcast stamping (no point
        # shuffle, no dedup): bucket_ts is unique per pivoted slot row, so
        # one stamped row per slot is exactly one membership flag per slot
        # (the labels stamp as code 1 in the ``prediction`` column)
        flagged = stamp_points(
            scored.select("bucket_ts", "anomaly_raw"),
            labels,
            ts_col="bucket_ts",
        )
        # F1 for every candidate in ONE distributed conditional aggregation
        # (a driver-side pandas sweep would cap out at slot counts that fit
        # in memory; this stays a single map-side-combining agg at any scale)
        aggs = []
        for i, t in enumerate(cands):
            pred = F.col("anomaly_raw") > F.lit(float(t))
            is_anom = F.col("prediction") == 1
            aggs.append(
                F.sum(F.when(pred & is_anom, 1).otherwise(0)).alias(f"_tp{i}")
            )
            aggs.append(
                F.sum(F.when(pred & ~is_anom, 1).otherwise(0)).alias(f"_fp{i}")
            )
            aggs.append(
                F.sum(F.when(~pred & is_anom, 1).otherwise(0)).alias(f"_fn{i}")
            )
        counts = flagged.agg(*aggs).collect()[0]
        # only override the quantile threshold when some candidate actually
        # separates the labels (f1 > 0): labels disjoint from the training
        # window give f1=0 everywhere, and picking the p50 candidate then
        # would flag half of all timestamps
        best, best_f1 = self.threshold, 0.0
        for i, t in enumerate(cands):
            tp, fp, fn = counts[f"_tp{i}"], counts[f"_fp{i}"], counts[f"_fn{i}"]
            f1 = 2 * tp / max(2 * tp + fp + fn, 1)
            if f1 > best_f1:
                best, best_f1 = float(t), f1
        self.threshold = best

    # --- scoring -----------------------------------------------------------

    def _score_columns(self, wide: DataFrame) -> DataFrame:
        """Standardize, project, reconstruct, residual^2 — all as column
        expressions (JVM codegen; no UDF)."""
        mean, std, W = self._mean, self._std, self._W  # d; d; d x k
        d, k = W.shape
        xs = [
            ((F.col(t) - float(mean[i])) / float(std[i])).alias(f"_x{i}")
            for i, t in enumerate(self.tags)
        ]
        out = wide.select("bucket_ts", *[F.col(t) for t in self.tags], *xs)
        # component scores t_c = sum_i W[i,c] * x_i
        tcols = []
        for c in range(k):
            expr = None
            for i in range(d):
                term = F.col(f"_x{i}") * float(W[i, c])
                expr = term if expr is None else expr + term
            tcols.append(expr.alias(f"_t{c}"))
        out = out.select("*", *tcols)
        # residual_i = x_i - sum_c W[i,c] t_c ; contribution = r_i^2
        rcols = []
        for i in range(d):
            recon = None
            for c in range(k):
                term = F.col(f"_t{c}") * float(W[i, c])
                recon = term if recon is None else recon + term
            rcols.append(F.pow(F.col(f"_x{i}") - recon, 2).alias(f"_r{i}"))
        out = out.select("*", *rcols)
        total = None
        for i in range(d):
            total = F.col(f"_r{i}") if total is None else total + F.col(f"_r{i}")
        out = out.withColumn("anomaly_raw", total)
        return out.select(
            "bucket_ts", *self.tags, *[f"_r{i}" for i in range(d)], "anomaly_raw"
        )

    # --- persistence (Catalog.register_model payload) -----------------------

    def to_payload(self) -> dict:
        """JSON-serializable fitted state: exact scoring parity on restore
        (the reference persists models server-side; ours round-trip through
        the Catalog's model registry as plain JSON)."""
        if self.config.status != "SUCCESS":
            raise RuntimeError("fit() the model before persisting it")
        cfg = self.config
        return {
            "model_name": cfg.model_name,
            "sampling_rate": cfg.sampling_rate,
            "off_condition": cfg.off_condition,
            "signal_subset": cfg.signal_subset,
            "threshold_quantile": cfg.threshold_quantile,
            "tags": self.tags,
            "mean": [float(x) for x in self._mean],
            "std": [float(x) for x in self._std],
            "components": [[float(x) for x in row] for row in self._W],
            "threshold": float(self.threshold),
            "err_p50": float(self._err_p50),
        }

    @classmethod
    def from_payload(cls, payload: dict) -> "AnomalyDetector":
        """Rebuild a scoring-ready detector from :meth:`to_payload` output —
        no refit, bit-identical transform()."""
        import numpy as np

        cfg = ModelConfig(
            model_name=payload["model_name"],
            sampling_rate=payload["sampling_rate"],
            off_condition=payload.get("off_condition"),
            signal_subset=payload.get("signal_subset"),
            threshold_quantile=payload.get("threshold_quantile", 0.99),
        )
        det = cls(cfg)
        det.tags = list(payload["tags"])
        det._mean = np.array(payload["mean"])
        det._std = np.array(payload["std"])
        det._W = np.array(payload["components"])
        det.threshold = payload["threshold"]
        det._err_p50 = payload["err_p50"]
        cfg.status = "SUCCESS"
        return det

    def transform(self, df_long: DataFrame, component: str = "machine") -> DataFrame:
        """Score a long table -> (timestamp, prediction, anomaly_score,
        diagnostics array<struct<name,value>>) — the F-INFER-OUT record
        (scheduler.py:619-650)."""
        if self.config.status != "SUCCESS":
            raise RuntimeError(
                f"model {self.config.model_name!r} not trained "
                f"(status={self.config.status})"
            )
        wide = self._prepare_wide(df_long, tags=self.tags)
        scored = self._score_columns(wide)
        diag = F.array(
            *[
                F.struct(
                    F.lit(f"{component}\\{t}").alias("name"),
                    (F.col(f"_r{i}") / F.col("anomaly_raw")).alias("value"),
                )
                for i, t in enumerate(self.tags)
            ]
        )
        pred = (F.col("anomaly_raw") > F.lit(self.threshold)).cast("int")
        return scored.select(
            F.col("bucket_ts").alias("timestamp"),
            pred.alias("prediction"),
            (
                F.col("anomaly_raw") / (F.col("anomaly_raw") + F.lit(self._err_p50))
            ).alias("anomaly_score"),
            F.when(pred == 1, diag).alias("diagnostics"),
        )
