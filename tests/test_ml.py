"""ML pipeline tests: deterministic synthetic anomaly, end-to-end
train -> score -> ranges -> ranking (the tutorial flow, SURVEY §5.3)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.ml import (
    AnomalyDetector,
    ModelConfig,
    ModelEvaluation,
    model_metrics_json,
    ranges_from_model_metrics,
)


@pytest.fixture(scope="module")
def synthetic_long(spark):
    """3 correlated signals on a 1-min grid for 2 days; minutes 1500-1559
    break the correlation (the anomaly), plus an off period at 2000-2099."""
    rows = []
    for i in range(2880):
        base = math.sin(i / 60.0) * 10 + 50
        anom = 1500 <= i < 1560
        off = 2000 <= i < 2100
        ts = f"2024-03-{1 + i // 1440:02d} {(i % 1440) // 60:02d}:{i % 60:02d}:00"
        rows.append((ts, "s1", 0.0 if off else base + (i % 7) * 0.1))
        rows.append((ts, "s2", base * 2 + (25 if anom else 0) + (i % 5) * 0.1))
        rows.append((ts, "s3", base - (30 if anom else 0) + (i % 3) * 0.1))
    return spark.createDataFrame(rows, "ts string, tag string, value double").select(
        F.to_timestamp("ts").alias("ts"), "tag", "value"
    )


def _window_labels(spark):
    """The planted anomaly's label range (minutes 1500-1559)."""
    return spark.createDataFrame(
        [("2024-03-02 01:00:00", "2024-03-02 02:00:00")], "start string, end string"
    ).select(
        F.to_timestamp("start").alias("start"), F.to_timestamp("end").alias("end")
    )


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "job census")
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"{group}-after", "")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_train_score_detects_anomaly(spark, synthetic_long):
    cfg = ModelConfig(
        model_name="m1",
        sampling_rate="PT5M",
        training_start="2024-03-01 00:00:00",
        training_end="2024-03-02 00:00:00",
        threshold_quantile=0.995,
    )
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    assert cfg.status == "SUCCESS"
    scored = det.transform(synthetic_long)
    rows = scored.collect()
    assert all(r["anomaly_score"] is not None for r in rows)
    assert all(0.0 <= r["anomaly_score"] < 1.0 for r in rows)
    # anomalous window (minute 1500..1559 = 2024-03-02 01:00..02:00)
    anom = [
        r
        for r in rows
        if r["timestamp"].day == 2 and 1 <= r["timestamp"].hour < 2
    ]
    frac = sum(r["prediction"] for r in anom) / len(anom)
    assert frac > 0.8, f"only {frac:.0%} of anomaly window flagged"
    # normal training day should be mostly clean
    normal = [r for r in rows if r["timestamp"].day == 1]
    frac_n = sum(r["prediction"] for r in normal) / len(normal)
    assert frac_n < 0.05, f"{frac_n:.0%} false positives on training day"


def test_diagnostics_sum_to_one(spark, synthetic_long):
    cfg = ModelConfig(model_name="m2", sampling_rate="PT5M")
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored = det.transform(synthetic_long, component="machine")
    diag_rows = scored.filter(F.col("prediction") == 1).collect()
    assert diag_rows, "no predicted anomalies to check"
    for r in diag_rows:
        total = sum(d["value"] for d in r["diagnostics"])
        assert abs(total - 1.0) < 1e-9  # plot.py:902-903 contract
        names = {d["name"] for d in r["diagnostics"]}
        assert names == {"machine\\s1", "machine\\s2", "machine\\s3"}
    # prediction==0 rows carry no diagnostics (scheduler.py:647-650)
    assert (
        scored.filter(
            (F.col("prediction") == 0) & F.col("diagnostics").isNotNull()
        ).count()
        == 0
    )


def test_frozen_tags_missing_raises(spark, synthetic_long):
    """transform() must pivot against the fit-time tag list: inference data
    missing a trained tag raises (from the in-plan guard, at action time)
    instead of silently mis-scaling."""
    cfg = ModelConfig(model_name="m3b", sampling_rate="PT5M")
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    assert det.tags == ["s1", "s2", "s3"]
    bad = det.transform(synthetic_long.filter(F.col("tag") != "s3"))
    with pytest.raises(Exception, match="missing: s3"):
        bad.count()
    # extra tags in the input are ignored; trained tag set stays frozen
    extra = synthetic_long.union(
        synthetic_long.filter(F.col("tag") == "s1").withColumn(
            "tag", F.lit("s9")
        )
    )
    out = det.transform(extra)
    assert det.tags == ["s1", "s2", "s3"]
    assert out.count() > 0


def test_transform_is_fully_lazy(spark, synthetic_long):
    """The r2-flagged per-transform tag-discovery job is gone: building
    transform()'s plan triggers ZERO Spark jobs (the scheduler calls it
    per slot per micro-batch), and the frozen-tag pivot still scores."""
    cfg = ModelConfig(model_name="m3lazy", sampling_rate="PT5M")
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored, jobs = _jobs_in_group(
        spark, "transform-lazy-check", lambda: det.transform(synthetic_long)
    )
    assert jobs == [], jobs
    assert scored.count() > 0


def test_wide_input_equivalent(spark, synthetic_long):
    """Training on a wide ('tabular') frame via wide_input matches the
    long-layout fit bit-for-bit."""
    wide = (
        synthetic_long.groupBy(F.col("ts").alias("Timestamp"))
        .pivot("tag", ["s1", "s2", "s3"])
        .agg(F.first("value"))
    )
    back = AnomalyDetector.wide_input(wide)
    assert back.columns == ["ts", "tag", "value"]
    assert back.count() == synthetic_long.count()
    joined = back.join(
        synthetic_long.withColumnRenamed("value", "_v"), ["ts", "tag"]
    )
    assert joined.filter(F.col("value") != F.col("_v")).count() == 0


def test_model_metrics_roundtrip(spark):
    """N2 interop: reference-format ModelMetrics JSON <-> (start, end)
    ranges frames, bit-identical both ways (evaluation.py:96-117)."""
    pred = spark.createDataFrame(
        [
            ("2024-03-02 01:00:00", "2024-03-02 02:00:00"),
            ("2024-03-02 05:00:00", "2024-03-02 05:30:00"),
        ],
        "start string, end string",
    ).select(
        F.to_timestamp("start").alias("start"), F.to_timestamp("end").alias("end")
    )
    doc = model_metrics_json(pred, labeled=None)
    back = ranges_from_model_metrics(spark, doc, "predicted_ranges")
    assert back.schema.simpleString() == "struct<start:timestamp,end:timestamp>"
    assert [
        (r["start"].isoformat(), r["end"].isoformat())
        for r in back.orderBy("start").collect()
    ] == [
        ("2024-03-02T01:00:00", "2024-03-02T02:00:00"),
        ("2024-03-02T05:00:00", "2024-03-02T05:30:00"),
    ]
    # empty side decodes to an empty (start, end) frame, not a crash
    empty = ranges_from_model_metrics(spark, doc, "labeled_ranges")
    assert empty.count() == 0
    assert empty.columns == ["start", "end"]
    # reference-literal payloads: T-separated stamps WITH fractional
    # seconds (the SDK's own %Y-%m-%dT%H:%M:%S.%f, dataset.py:163) and
    # WITHOUT — both must decode to the same instants and round-trip
    # through model_metrics_json to the identical canonical document
    with_frac = (
        '{"labeled_ranges": [{"start": "2021-01-05T12:00:00.000000", '
        '"end": "2021-01-06T00:00:00.000000"}], "predicted_ranges": []}'
    )
    no_frac = (
        '{"labeled_ranges": [{"start": "2021-01-05T12:00:00", '
        '"end": "2021-01-06T00:00:00"}], "predicted_ranges": []}'
    )
    decoded = []
    for payload in (with_frac, no_frac):
        lab = ranges_from_model_metrics(spark, payload, "labeled_ranges")
        rows = lab.orderBy("start").collect()
        assert [(r["start"].isoformat(), r["end"].isoformat()) for r in rows] == [
            ("2021-01-05T12:00:00", "2021-01-06T00:00:00")
        ]
        decoded.append(model_metrics_json(None, labeled=lab))
    # both formats re-encode to the same reference wire document
    assert decoded[0] == decoded[1]
    assert '"2021-01-05T12:00:00.000000"' in decoded[0]


def test_untrained_raises(spark, synthetic_long):
    det = AnomalyDetector(ModelConfig(model_name="m3"))
    with pytest.raises(RuntimeError, match="not trained"):
        det.transform(synthetic_long)


def test_off_condition_excludes_slots(spark, synthetic_long):
    # s1 sits near 50 when running and 0.0 when off -> 's1 < 1.0' marks
    # OFF-time (reference model.py:194-208 semantics); those slots drop
    cfg = ModelConfig(
        model_name="m4", sampling_rate="PT5M", off_condition="machine\\s1 < 1.0"
    )
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored = det.transform(synthetic_long)
    # off window 2024-03-02 09:20..11:00 (minutes 2000-2099): s1==0 -> excluded
    n_off = scored.filter(
        (F.col("timestamp") >= F.lit("2024-03-02 09:30:00"))
        & (F.col("timestamp") < F.lit("2024-03-02 11:00:00"))
    ).count()
    assert n_off == 0


def test_evaluation_chain(spark, synthetic_long):
    cfg = ModelConfig(model_name="m5", sampling_rate="PT5M",
                      threshold_quantile=0.995)
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored = det.transform(synthetic_long)
    labels = _window_labels(spark)
    ev = ModelEvaluation(scored, labels, sampling_rate_s=300)
    pr = ev.predicted_ranges().collect()
    assert pr, "no predicted ranges"
    # at least one predicted range overlaps the label window
    assert any(
        r["start"].day == 2 and 0 <= r["start"].hour <= 2 for r in pr
    ), pr
    stamped = ev.stamped_points()
    counts = {r["prediction"]: r["count"] for r in
              stamped.groupBy("prediction").count().collect()}
    assert counts.get(2, 0) > 0  # labeled points present
    # exclude the s1 off-window (minutes 2000+) — it would dominate the
    # shift ranking and isn't part of the labeled anomaly under test
    rank_input = synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    ranked = ev.rank_signals(rank_input).collect()
    assert len(ranked) == 3
    assert all(r["distance"] >= 0 for r in ranked)
    ds = [r["distance"] for r in ranked]
    assert ds == sorted(ds, reverse=True)
    # the reference's density-vector semantic rewards concentration, not
    # shift — the textbook raw-sample EMD extension must rank the shifted
    # signals (s2 +25, s3 -30) above the unshifted s1
    from amazon_lookout_for_equipment_python_sdk_spark.operators.wasserstein import (
        raw_sample_emd,
    )

    stamped = ev.stamped_points()
    tagged = rank_input.join(
        stamped.withColumnRenamed("timestamp", "ts"), "ts", "inner"
    ).withColumn(
        "subset", F.when(F.col("prediction") == 0, "normal").otherwise("anomalous")
    )
    emd = {
        r["tag"]: r["emd"]
        for r in raw_sample_emd(tagged, "subset", "normal", "anomalous").collect()
    }
    assert emd["s2"] > emd["s1"] and emd["s3"] > emd["s1"], emd


def test_evaluation_plots_end_to_end(spark, synthetic_long, tmp_path):
    """Tutorial flow §2.13: train -> score -> ranked histogram grid +
    ranked signal panels, each rendered to a file (reference
    evaluation.py:394-555)."""
    cfg = ModelConfig(model_name="m6", sampling_rate="PT5M",
                      threshold_quantile=0.995)
    det = AnomalyDetector(cfg).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00"))
    )
    scored = det.transform(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    )
    ev = ModelEvaluation(scored, sampling_rate_s=300)
    rank_input = synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    hpath = str(tmp_path / "hists.svg")
    hinfo = ev.plot_histograms(rank_input, hpath, nb_cols=2)
    assert hinfo["n_cells"] == 3  # all three signals plotted, ranked order
    assert set(hinfo["subsets"]) == {"anomalous", "normal"}
    assert open(hpath).read().startswith("<svg")
    spath = str(tmp_path / "signals.svg")
    sinfo = ev.plot_signals(rank_input, spath, resample="PT5M")
    assert set(sinfo["series"]) == {"s1", "s2", "s3"}
    assert "Detected events" in sinfo["ranges"]
    assert open(spath).read().startswith("<svg")


def test_quality_classifier_learns_and_scores_in_codegen(spark):
    """Model-based quality filter (ml/quality.py): trains on a labeled
    sample, separates repetitive junk from varied text on held-out docs,
    round-trips through its payload, and the scoring plan contains no
    UDF/MLlib stage (pure codegen dot product)."""
    import random

    from amazon_lookout_for_equipment_python_sdk_spark.ml.quality import (
        QualityClassifier,
    )

    rng = random.Random(5)
    vocab = ["the", "data", "spark", "cluster", "model", "query", "join",
             "table", "stream", "batch", "filter", "sort", "key", "value"]

    def good() -> str:
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(30, 80)))

    def bad() -> str:
        w = rng.choice(["spam", "buy", "x"])
        return " ".join([w] * rng.randint(30, 80))

    rows = [(i, good(), 1.0) for i in range(60)] + [
        (i + 100, bad(), 0.0) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    train = df.filter("doc_id % 3 != 0")
    test = df.filter("doc_id % 3 = 0")
    clf = QualityClassifier().fit(train)
    scored = clf.score(test)
    acc = scored.selectExpr(
        "avg(CAST((quality_prob >= 0.5) = (label = 1.0) AS DOUBLE)) acc"
    ).first().acc
    assert acc >= 0.95, acc
    # payload round-trip gives identical scores
    clf2 = QualityClassifier.from_payload(clf.to_payload())
    a = scored.select("doc_id", "quality_prob").collect()
    b = clf2.score(test).select("doc_id", "quality_prob").collect()
    assert {(r.doc_id, r.quality_prob) for r in a} == {
        (r.doc_id, r.quality_prob) for r in b
    }
    # the 100 TB path: scoring is plain expressions, no python/MLlib eval
    plan = clf.score(test)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert clf.filter_quality(test, 0.5).count() > 0


# --- derived-once intermediates: fit's slot table, the evaluation timeline --


def test_label_calibration_matches_numpy_oracle(spark, synthetic_long):
    """fit(labels=) picks the threshold an independent NumPy sweep picks:
    exact training-score quantiles (smallest score whose rank reaches q*n),
    inclusive label membership per slot, first candidate with the best
    point-level F1, and the plain quantile when no candidate scores F1 > 0."""
    import numpy as np

    from amazon_lookout_for_equipment_python_sdk_spark.ml.pipeline import (
        CALIBRATION_QUANTILES,
    )

    # the training window holds the anomaly and stops before the off period
    train = synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    labels = _window_labels(spark)
    det = AnomalyDetector(ModelConfig(model_name="cal", sampling_rate="PT5M")).fit(
        train, labels=labels
    )
    rows = det._score_columns(det._prepare_wide(train)).select(
        "bucket_ts", "anomaly_raw"
    ).collect()
    ts = np.array([r[0] for r in rows], dtype="datetime64[us]")
    x = np.array([r[1] for r in rows])
    assert len(np.unique(ts)) == len(ts)  # one row per slot
    s = np.sort(x)

    def quantile(q):
        return s[max(math.ceil(q * len(s)) - 1, 0)]

    member = np.zeros(len(ts), bool)
    for r in labels.collect():
        lo, hi = np.datetime64(r["start"], "us"), np.datetime64(r["end"], "us")
        member |= (ts >= lo) & (ts <= hi)
    best, best_f1 = quantile(0.99), 0.0
    for t in (quantile(q) for q in CALIBRATION_QUANTILES):
        pred = x > t
        tp = int(np.sum(pred & member))
        fp = int(np.sum(pred & ~member))
        fn = int(np.sum(~pred & member))
        f1 = 2 * tp / max(2 * tp + fp + fn, 1)
        if f1 > best_f1:
            best, best_f1 = t, f1
    assert member.sum() == 13  # 01:00..02:00 inclusive, PT5M slots
    assert best != quantile(0.99), "labels should move the threshold"
    assert det.threshold == best
    assert det._err_p50 == max(quantile(0.5), 1e-12)


def test_fit_job_census(spark, synthetic_long):
    """fit(labels=) derives its slot table once: before it was
    materialized every consumer (scaler, PCA, two quantile passes, the
    calibration join) re-ran resample + ffill + pivot, 41-47 jobs here;
    now 20 at one core and 22 at eight."""
    train = synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    labels = _window_labels(spark)
    det, jobs = _jobs_in_group(
        spark,
        "fit-job-census",
        lambda: AnomalyDetector(
            ModelConfig(model_name="census", sampling_rate="PT5M")
        ).fit(train, labels=labels),
    )
    assert det.config.status == "SUCCESS"
    assert len(jobs) <= 22, len(jobs)


def test_fit_and_evaluation_add_no_cache_entry(spark, synthetic_long, tmp_path):
    """The materialized intermediates are local checkpoints, not persisted
    frames: fit and the evaluation's range, stamp, ranking and histogram
    calls leave Spark's CacheManager empty, and constructing the
    evaluation runs no job."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    det = AnomalyDetector(ModelConfig(model_name="nocache", sampling_rate="PT5M")).fit(
        synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00")),
        labels=_window_labels(spark),
    )
    assert cache.isEmpty()
    scored = det.transform(synthetic_long)
    ev, jobs = _jobs_in_group(
        spark,
        "evaluation-construct",
        lambda: ModelEvaluation(scored, _window_labels(spark), sampling_rate_s=300),
    )
    assert jobs == [], jobs
    assert ev.predicted_ranges().count() > 0
    assert ev.stamped_points().count() == scored.count()
    assert cache.isEmpty()
    assert len(ev.rank_signals(synthetic_long).collect()) == 3
    assert cache.isEmpty()
    ev.plot_histograms(synthetic_long, str(tmp_path / "h.svg"))
    assert cache.isEmpty()


def test_evaluation_matches_direct_composition(spark, synthetic_long):
    """The evaluation's materialized timeline changes no result: ranges,
    stamps and the signal ranking equal the operators composed directly
    on the lazy scored frame (ranges and stamps exactly; distances to
    1e-12 relative, in the same order)."""
    from amazon_lookout_for_equipment_python_sdk_spark.operators.intervals import (
        compact_runs,
        stamp_points,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        bucket,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.operators.wasserstein import (
        rank_signals_by_shift,
    )

    det = AnomalyDetector(
        ModelConfig(model_name="diff", sampling_rate="PT5M", threshold_quantile=0.995)
    ).fit(synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 00:00:00")))
    scored = det.transform(synthetic_long)
    labels = _window_labels(spark)
    rank_input = synthetic_long.filter(F.col("ts") < F.lit("2024-03-02 09:00:00"))
    ev = ModelEvaluation(scored, labels, sampling_rate_s=300)

    ranges = compact_runs(
        scored, F.col("prediction") == 1, ts_col="timestamp", step_seconds=300
    ).select("start", "end", "n_points")
    stamped = stamp_points(
        scored.select("timestamp"),
        ranges.select("start", "end"),
        labels,
        ts_col="timestamp",
    )
    tagged = (
        rank_input.withColumn("_slot_ts", bucket(F.col("ts"), 300))
        .join(stamped.withColumnRenamed("timestamp", "_slot_ts"), "_slot_ts")
        .drop("_slot_ts")
        .withColumn(
            "subset",
            F.when(F.col("prediction") == 0, "normal").otherwise("anomalous"),
        )
    )
    ranked = rank_signals_by_shift(
        tagged, "subset", "normal", "anomalous", key_col="tag", value_col="value"
    ).collect()

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(ev.predicted_ranges()) == rows(ranges)
    assert rows(ev.stamped_points()) == rows(stamped)
    got = ev.rank_signals(rank_input).collect()
    assert [r["tag"] for r in got] == [r["tag"] for r in ranked]
    for g, want in zip(got, ranked):
        assert abs(g["distance"] - want["distance"]) <= 1e-12 * abs(want["distance"])
