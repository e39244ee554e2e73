"""Self-tests for the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from inputs import EPOCH, Plant, plant_matrix, sensor_names, write_events, write_plant  # noqa: E402
from query_mix import MIX, QueryMix  # noqa: E402
from train_evaluate import reference_distances  # noqa: E402


def _read_tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_same_seed_writes_identical_inputs(tmp_path):
    a = write_plant(str(tmp_path / "a"), 7, 4, 3)
    b = write_plant(str(tmp_path / "b"), 7, 4, 3)
    c = write_plant(str(tmp_path / "c"), 8, 4, 3)
    assert _read_tree(a.csv_root) == _read_tree(b.csv_root)
    assert (a.windows, a.perturbed) == (b.windows, b.perturbed)
    assert _read_tree(a.csv_root) != _read_tree(c.csv_root)


def test_same_seed_writes_identical_events(tmp_path):
    import pyarrow.parquet as pq

    a = write_events(str(tmp_path / "a"), 7, 500)
    b = write_events(str(tmp_path / "b"), 7, 500)
    c = write_events(str(tmp_path / "c"), 8, 500)
    assert _read_tree(a) == _read_tree(b)
    assert _read_tree(a) != _read_tree(c)
    t = pq.read_table(os.path.join(a, "events.parquet"))
    assert t.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    assert t.num_rows == 500 and str(t.schema.field("ts").type) == "timestamp[us]"
    ts = t.column("ts").to_pylist()
    assert ts == sorted(ts)


def test_plant_shape_and_ground_truth(tmp_path):
    p = write_plant(str(tmp_path / "p"), 3, 8, 3)
    with open(os.path.join(p.csv_root, "plant", "plant.csv")) as f:
        lines = f.read().splitlines()
    assert lines[0] == "Timestamp," + ",".join(p.tags)
    assert len(lines) - 1 == 3 * 1440 and p.n_values == 3 * 1440 * 8
    assert len(p.windows) == 3 and len(set(p.perturbed)) == 2
    # one window per day, inside the day
    for day, (w0, w1) in enumerate(p.windows):
        assert w0.day == w1.day == 1 + day


def test_plant_factors_fill_the_default_pca_rank():
    """The d // 2 latent factors must be the top principal components of
    the training buckets, or the fitted model absorbs a planted window."""
    import numpy as np

    for seed in range(1, 21):
        values, _, _ = plant_matrix(seed, 8, 3 * 1440)
        buckets = values.reshape(-1, 5, 8).mean(axis=1)[: 2 * 288]
        x = (buckets - buckets.mean(0)) / buckets.std(0)
        eig = np.sort(np.linalg.eigvalsh(np.cov(x.T)))[::-1]
        assert eig[3] > 3 * eig[4], (seed, eig)


def test_written_values_match_the_csv(tmp_path):
    p = write_plant(str(tmp_path / "p"), 5, 4, 1)
    with open(os.path.join(p.csv_root, "plant", "plant.csv")) as f:
        rows = [line.split(",")[1:] for line in f.read().splitlines()[1:]]
    assert p.values.tolist() == [[float(v) for v in r] for r in rows]


def test_reference_distances_count_ranges_and_labels_as_anomalous():
    """The anomalous minutes of the evaluated day are the label window and
    the predicted bucket; the distances match ``np.histogram`` densities.
    Sensor ``a`` sits at 0.5 there and alternates between 0 and 1
    elsewhere, so its anomalous subset is one bin: distance about 1."""
    import numpy as np
    from datetime import timedelta

    n = 2 * 1440
    window = (1440 + 600, 1440 + 619)
    anomalous = np.zeros(n, bool)
    anomalous[window[0] : window[1] + 1] = True
    anomalous[1440 + 100 : 1440 + 105] = True
    values = np.zeros((n, 2))
    values[:, 0] = np.where(anomalous, 0.5, np.arange(n) % 2)
    values[:, 1] = (np.arange(n) // 3) % 7
    at = [EPOCH + timedelta(minutes=m) for m in window]
    plant = Plant("", ["a", "b"], n, windows=[(at[0], at[1])], values=values)
    bucket = EPOCH + timedelta(minutes=1440 + 100)  # a predicted PT5M bucket
    d = reference_distances(plant, EPOCH + timedelta(days=1), [(bucket, bucket)])
    ev, mask = values[1440:], anomalous[1440:]
    for j, tag in enumerate(["a", "b"]):
        x = ev[:, j]
        span = (x.min(), x.max())
        da = np.histogram(x[~mask], 20, span, density=True)[0]
        db = np.histogram(x[mask], 20, span, density=True)[0]
        assert d[tag] == pytest.approx(np.mean(np.abs(np.sort(da) - np.sort(db))), rel=1e-12)
    assert d["a"] == pytest.approx(1.0, abs=1e-3) and d["b"] < 0.5


def test_sensor_names_sort_in_config_order():
    names = sensor_names(120)
    assert names == sorted(names)


@pytest.mark.parametrize(
    "n, expected",
    [
        (0, []),
        (1, [50.0]),
        (99, [50.0]),
        (100, [50.0, 90.0]),
        (999, [50.0, 90.0]),
        (1000, [50.0, 90.0, 99.0]),
        (10000, [50.0, 90.0, 99.0, 99.9]),
    ],
)
def test_percentiles_need_ten_samples_beyond_them(n, expected):
    assert harness.reportable_percentiles(n) == expected


def test_nearest_rank_percentile():
    xs = list(range(1, 101))
    assert harness.percentile(xs, 50) == 50
    assert harness.percentile(xs, 90) == 90
    assert harness.percentile([3.0], 99) == 3.0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # overlapping children cover [1, 5]; the third is clipped to [8, 10]
        {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},
        {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},
        {"id": 5, "parent": 3, "start": 2.5, "end": 3.5},
    ]
    selfs = harness.self_times(spans)
    assert selfs[1] == pytest.approx(10.0 - 4.0 - 2.0)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[3] == pytest.approx(3.0 - 1.0)
    assert selfs[4] == pytest.approx(4.0)
    assert selfs[5] == pytest.approx(1.0)


def test_covered_length_ignores_empty_and_outside_intervals():
    assert harness.covered_length([], 0, 1) == 0.0
    assert harness.covered_length([(5, 6), (2, 2)], 0, 4) == 0.0
    assert harness.covered_length([(0, 2), (1, 3), (3, 4)], 0, 10) == pytest.approx(4.0)


def test_heap_fits_the_host():
    assert harness.heap_mb_for_host(16 * 1024) == harness.HEAP_MB
    assert harness.heap_mb_for_host(3 * 1024) == 768
    assert harness.heap_mb_for_host(1024) == 512


def test_metric_names_are_unique_and_well_formed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for m in metrics:
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"]), m


def test_query_mix_layer_metrics_per_pass():
    """Each pass yields one value per query and one build/run sum per plans
    module; a module with no query in the pass sums to 0."""
    module, (q1, q2) = "anomaly_q", MIX["anomaly_q"][:2]
    spans = [
        {"id": 1, "parent": None, "name": "op", "start": 0.0, "end": 9.0},
        {"id": 2, "parent": 1, "name": f"query.{q1}", "start": 0.0, "end": 3.0},
        {"id": 3, "parent": 2, "name": f"plans.{module}.build", "start": 0.0, "end": 1.0},
        {"id": 4, "parent": 2, "name": f"plans.{module}.run", "start": 1.0, "end": 3.0},
        {"id": 5, "parent": 1, "name": f"query.{q2}", "start": 3.0, "end": 7.0},
        {"id": 6, "parent": 5, "name": f"plans.{module}.build", "start": 3.0, "end": 3.5},
        {"id": 7, "parent": 5, "name": f"plans.{module}.run", "start": 3.5, "end": 7.0},
        # a span of another operation is not counted, nor another
        # workload's child of the operation
        {"id": 8, "parent": 99, "name": f"query.{q1}", "start": 0.0, "end": 50.0},
        {"id": 9, "parent": 1, "name": "streaming.slot", "start": 7.0, "end": 9.0},
    ]
    out = QueryMix.layer_metrics(spans, [1])
    assert out[f"query.{q1}_s"] == [3.0] and out[f"query.{q2}_s"] == [4.0]
    assert out[f"plans.{module}.build_s"] == [1.5]
    assert out[f"plans.{module}.run_s"] == [5.5]
    assert out["plans.timeseries_q.run_s"] == [0.0]
