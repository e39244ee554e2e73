"""Seeded input generation for the benchmark workloads.

Everything here is pure Python + NumPy (+ PyArrow for parquet): the same
seed writes byte-identical files, and nothing touches Spark.  The program
under test only ever sees the files these functions write.

The plant model: ``n_sensors`` sensors on a 1-minute grid, driven in pairs
by ``n_sensors // 2`` periodic latent factors plus noise, so the default PCA
rank of ``AnomalyDetector`` (d // 2 components) spans the normal behaviour
exactly.  Each day carries one planted window in which two seed-chosen
sensors stick at constant values one standard deviation from their means,
one high, one low.  That breaks the learned correlation, so the
window shows up as reconstruction error; and it collapses those two
sensors' value distributions into one histogram bin, the shape change that
``rank_signals`` (Wasserstein distance between density vectors) ranks top.

The window length and the shift decide whether that ranking holds on every
seed.  ``fit(labels=...)`` picks the training-score quantile (0.5 ... 0.995)
with the best F1 against the labels.  When the windows cover more than about
2 % of the training buckets (a 40-minute window covers 3 %), the 0.95
quantile wins: the threshold sits in the noise and flags about 5 % of the
evaluated buckets.  Those false positives dilute the anomalous subset
``rank_signals`` compares, and an unperturbed sensor can then rank above a
perturbed one (about 1 seed in 75).  A 20-minute window covers 1.4 %: the
0.99 quantile wins, it sits among the window buckets' scores, and the
evaluated day has at most one false-positive bucket.  A shift of one standard
deviation stays inside the sensor's normal range (amplitude 10, std about
7), so the perturbed sensor's histogram range, and with it its bin width,
is not widened; a wider bin would scale its densities down.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: first timestamp of every generated plant history
EPOCH = datetime(2024, 3, 1)
#: CSV timestamp layout read by ``Catalog.ingest_data`` (TRAINING_TS_FORMAT)
TS_FORMAT = "%Y-%m-%dT%H:%M:%S.000000"
#: planted-window length, and how far (in sensor std units) from its mean a
#: perturbed sensor sticks inside a window
WINDOW_MIN = 20
SHIFT_SIGMA = 1.0


def sensor_names(n: int) -> list[str]:
    """Zero-padded names.  ``generate_replay_data`` writes tag columns in
    sorted order while the scheduler validates CSV headers in config order,
    so the config order must equal the sorted order: ``s002`` < ``s010``,
    where ``s2`` > ``s10`` would make every slot fail header validation."""
    return [f"s{i:03d}" for i in range(n)]


@dataclass
class Plant:
    """One generated plant: its CSV tree plus the ground truth."""

    csv_root: str
    tags: list[str]
    n_minutes: int
    #: planted windows as (start, end) timestamps, end inclusive
    windows: list[tuple[datetime, datetime]] = field(default_factory=list)
    #: the two sensors perturbed inside every window
    perturbed: list[str] = field(default_factory=list)
    #: values[minute, sensor] as written to the CSV (parsed back from text)
    values: np.ndarray | None = None

    @property
    def n_values(self) -> int:
        return self.n_minutes * len(self.tags)


def plant_matrix(seed: int, n_sensors: int, n_minutes: int):
    """(values[minute, sensor], windows as minute ranges, perturbed idx)."""
    rng = np.random.default_rng(seed)
    n_factors = max(1, n_sensors // 2)
    t = np.arange(n_minutes, dtype=np.float64)
    # periods of 10-20 min: long enough to survive PT5M averaging, short
    # enough that a window spans whole cycles, so an unperturbed sensor's
    # values inside a window are distributed like its values outside.  One
    # period per equal sub-interval keeps them apart: two factors with
    # near-equal periods span one sin/cos plane and PCA cannot separate them
    slots = (np.arange(n_factors) + rng.uniform(0.2, 0.8, n_factors)) / n_factors
    periods = 10.0 + 10.0 * slots
    phases = rng.uniform(0.0, 2 * np.pi, n_factors)
    factors = np.sin(2 * np.pi * t[:, None] / periods[None, :] + phases[None, :])
    # each factor drives two sensors (seeded pairing and sign) at the same
    # amplitude, so every factor carries the same share of the standardized
    # variance and outweighs the planted windows (the fitted components are
    # the factors), and every sensor spans the same value range (the
    # density-vector distance scales with 1 / histogram bin width)
    owner = rng.permutation(n_sensors) % n_factors
    loadings = np.zeros((n_factors, n_sensors))
    loadings[owner, np.arange(n_sensors)] = rng.choice([-1.0, 1.0], n_sensors)
    offsets = rng.uniform(20.0, 80.0, n_sensors)
    values = 10.0 * factors @ loadings + offsets
    values += rng.normal(scale=0.05, size=values.shape)
    std = values.std(axis=0)
    # two sensors driven by different factors
    a = int(rng.integers(n_sensors))
    b = int(rng.choice(np.flatnonzero(owner != owner[a])))
    perturbed = sorted([a, b])
    windows = []
    for day_start in range(0, n_minutes - 1440 + 1, 1440):
        start = day_start + int(rng.integers(60, 1440 - WINDOW_MIN - 60))
        windows.append((start, start + WINDOW_MIN))
        values[start : start + WINDOW_MIN, a] = offsets[a] + SHIFT_SIGMA * std[a]
        values[start : start + WINDOW_MIN, b] = offsets[b] - SHIFT_SIGMA * std[b]
    return values, windows, perturbed


def write_plant(root: str, seed: int, n_sensors: int, days: int) -> Plant:
    """Write ``<root>/plant/plant.csv`` (component ``plant``) and return the
    plant with its ground truth.  Raises if ``root`` already exists."""
    n_minutes = days * 1440
    values, windows, perturbed = plant_matrix(seed, n_sensors, n_minutes)
    tags = sensor_names(n_sensors)
    comp_dir = os.path.join(root, "plant")
    os.makedirs(comp_dir)
    written = np.empty_like(values)
    with open(os.path.join(comp_dir, "plant.csv"), "w", newline="\n") as f:
        f.write("Timestamp," + ",".join(tags) + "\n")
        for i in range(n_minutes):
            ts = (EPOCH + timedelta(minutes=i)).strftime(TS_FORMAT)
            row = [f"{v:.4f}" for v in values[i]]
            written[i] = [float(v) for v in row]
            f.write(ts + "," + ",".join(row) + "\n")
    return Plant(
        csv_root=root,
        tags=tags,
        n_minutes=n_minutes,
        windows=[
            (EPOCH + timedelta(minutes=a), EPOCH + timedelta(minutes=b - 1))
            for a, b in windows
        ],
        perturbed=[tags[i] for i in perturbed],
        values=written,
    )


#: ``events`` table layout of the registered queries' test data: event ids
#: in time order, timestamps (microseconds) uniform over 30 days of January
#: 2024, 15 users per 1000 events, five event types, exponential values
#: (mean 50, cents) and a small JSON ``props`` payload
EVENTS_START = datetime(2024, 1, 1)
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def write_events(root: str, seed: int, n: int) -> str:
    """Write ``<root>/events.parquet`` with ``n`` seeded rows in one row
    group and return ``root``.  Raises if the file already exists."""
    rng = np.random.default_rng(seed)
    t0 = int((EVENTS_START - datetime(1970, 1, 1)).total_seconds()) * 10**6
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(1, n * 15 // 1000), n, dtype=np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    os.makedirs(root)
    pq.write_table(table, os.path.join(root, "events.parquet"))
    return root
