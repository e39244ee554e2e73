"""Auto-routing between plain operators and their skew-safe twins
(operators/routing.py, r9 verdict #5): the probe + routing rule, pinned
on the real fixtures — plain chosen on uniform sf0.1, twin chosen on
sf1_skew's hot keys — plus routed-output equality through BOTH branches.
The registered driver queries keep calling the explicit forms; these
tests certify the opt-in ``auto`` mode routes as documented."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from amazon_lookout_for_equipment_python_sdk_spark.operators import (
    routing as rt,
)
from amazon_lookout_for_equipment_python_sdk_spark.session import (
    default_driver_memory,
)

UNIFORM = "/root/testdata/sf0.1"
SKEWED = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".localdata",
    "sf1_skew",
)

needs_skew = pytest.mark.skipif(
    not os.path.exists(os.path.join(SKEWED, "events.parquet")),
    reason="sf1_skew fixture not generated (tools/gen_skew.py)",
)


def _events(spark, sf_dir):
    from amazon_lookout_for_equipment_python_sdk_spark.plans.registry import (
        load,
    )

    return load(spark, sf_dir, "events")


def test_probe_one_scan_and_scalars(spark):
    """The probe is ONE corpus scan (count + optional per-key time span
    in the same groupBy) reduced to scalars; sanity its numbers on the
    fixture the router reads."""
    ev = _events(spark, UNIFORM)
    p = rt.probe_keys(ev, "event_type", ts_col="ts")
    assert p.n_keys == 5
    assert p.total_rows == 100_000
    assert 0 < p.max_key_rows < 30_000
    assert p.lo_us is not None and p.hi_us is not None and p.hi_us > p.lo_us
    # probe without ts: span fields stay None
    p2 = rt.probe_keys(ev, "user_id")
    assert p2.lo_us is None and p2.n_keys == 1500
    # empty frame: all-zero probe, no crash
    p3 = rt.probe_keys(ev.filter(F.lit(False)), "event_type", ts_col="ts")
    assert p3 == rt.KeyProbe(0, 0, 0)
    # all-null ts: rows counted but no span; zscore/cusum auto fall
    # back to plain rather than crash on bucket geometry
    nullts = ev.limit(200).withColumn("ts", F.lit(None).cast("timestamp"))
    p4 = rt.probe_keys(nullts, "event_type", ts_col="ts")
    assert p4.total_rows == 200 and p4.lo_us is None
    out = rt.rolling_zscore_auto(nullts, 5, budget_rows=10)
    assert out.count() == 200  # plain branch executed


def test_routing_decision_uniform_sf01_plain(spark):
    """Uniform sf0.1: max rows/key ~2e4 (event_type) and ~1e2 (user_id)
    — both sides of the window family route PLAIN, and cusum routes
    plain by its own budget."""
    ev = _events(spark, UNIFORM)
    assert not rt.decide_twin(
        rt.probe_keys(ev, "event_type"), rt.WINDOW_BUDGET_ROWS
    )
    assert not rt.decide_twin(
        rt.probe_keys(ev, "user_id"), rt.WINDOW_BUDGET_ROWS
    )
    assert not rt.decide_twin(
        rt.probe_keys(ev, "event_type"), rt.CUSUM_BUDGET_ROWS
    )


@needs_skew
def test_routing_decision_sf1_skew_twin(spark):
    """sf1_skew: the hot user (~5e5 rows) and hot event_type (~6e5)
    exceed the 1e5 window budget — the twins are chosen; cusum ALSO
    routes to its twin here (r11: the true crossover is 300k-600k
    rows/key at 0.9 GiB/task — the r9 'plain wins to 2M' claim was the
    elided-drain artifact, BASELINE.md r11 addendum — and the twin was
    measured 1.25x faster at exactly this 6e5 hot-key size)."""
    ev = _events(spark, SKEWED)
    assert rt.decide_twin(
        rt.probe_keys(ev, "user_id"), rt.WINDOW_BUDGET_ROWS
    )
    assert rt.decide_twin(
        rt.probe_keys(ev, "event_type"), rt.WINDOW_BUDGET_ROWS
    )
    assert rt.decide_twin(
        rt.probe_keys(ev, "event_type"), rt.CUSUM_BUDGET_ROWS
    )


DECADE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".localdata",
    "sf10",
)


@pytest.mark.skipif(
    not os.path.exists(os.path.join(DECADE, "events.parquet")),
    reason="sf10 decade fixture not generated (tools/gen_sf1.py)",
)
def test_routing_decision_sf10_uniform_few_keys_long_history(spark):
    """The OTHER regime the twins exist for — no hot key, but few keys
    with decade-long histories (sf10 uniform: 5 event_types x ~2M rows
    each).  The zscore side must route the TWIN (the chunked path wins
    4.3x there, BASELINE r7 addendum) while sessionize by user_id (15k
    keys, ~1e2 rows each) stays PLAIN on the same fixture."""
    ev = _events(spark, DECADE)
    assert rt.decide_twin(
        rt.probe_keys(ev, "event_type"), rt.WINDOW_BUDGET_ROWS
    )
    assert not rt.decide_twin(
        rt.probe_keys(ev, "user_id"), rt.WINDOW_BUDGET_ROWS
    )
    # cusum twin too at 2M rows/key: r11 measured it 1.8x faster on
    # this very fixture with the un-prunable drain (the r9 negative A/B
    # that said otherwise was timing an elided plan)
    assert rt.decide_twin(
        rt.probe_keys(ev, "event_type"), rt.CUSUM_BUDGET_ROWS
    )
    # as-of budget (1.5e6): a full-corpus as-of keyed by event_type
    # (2M rows/key — past the crossover) routes TWIN; keyed by user_id
    # (~1e2 rows/key) it routes PLAIN
    assert rt.decide_twin(
        rt.probe_keys(ev, "event_type"), rt.ASOF_BUDGET_ROWS
    )
    assert not rt.decide_twin(
        rt.probe_keys(ev, "user_id"), rt.ASOF_BUDGET_ROWS
    )
    # the light-rank pair SPLITS on this fixture (r11 addendum 5):
    # 2M rows/key sits past restamp's 6e5 crossover (twin) but short
    # of lead's 4e6 (plain) — the reason they carry separate budgets
    p_et = rt.probe_keys(ev, "event_type")
    assert rt.decide_twin(p_et, rt.RESTAMP_BUDGET_ROWS)
    assert not rt.decide_twin(p_et, rt.LEAD_BUDGET_ROWS)


SKEW_DECADE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".localdata",
    "sf10_skew",
)


@pytest.mark.skipif(
    not os.path.exists(os.path.join(SKEW_DECADE, "events.parquet")),
    reason="sf10_skew fixture not generated (tools/gen_skew.py over sf10)",
)
def test_routing_decision_sf10_skew_asof_twin(spark):
    """The measured flip point (BASELINE r11 addendum 4 decade rows):
    sf10_skew's hot user holds ~5M rows — 3.3x past the as-of
    crossover, where the plain form pays 7.2x under skew and the twin
    is flat.  The router must pick the twin here at the anchor budget
    (and the hot-key probe span must be present to build its
    geometry)."""
    ev = _events(spark, SKEW_DECADE)
    p = rt.probe_keys(ev, "user_id", ts_col="ts")
    assert rt.decide_twin(p, rt.ASOF_BUDGET_ROWS)
    assert p.hot_lo_us is not None and p.hot_hi_us > p.hot_lo_us
    # ~5M-row hot key clears BOTH light-rank crossovers (lead's 4e6
    # only just — the regime its 5M A/B point measured the twin 1.84x
    # ahead in)
    assert rt.decide_twin(p, rt.LEAD_BUDGET_ROWS)
    assert rt.decide_twin(p, rt.RESTAMP_BUDGET_ROWS)


def test_auto_bucket_geometry():
    p = rt.KeyProbe(5, 1_000_000, 5_000_000)
    assert rt._auto_buckets(p, 100_000) == 10
    # floor of 2, cap at MAX_AUTO_BUCKETS
    assert rt._auto_buckets(rt.KeyProbe(5, 100_001, 200_002), 100_000) == 2
    assert (
        rt._auto_buckets(rt.KeyProbe(1, 10**9, 10**9), 100)
        == rt.MAX_AUTO_BUCKETS
    )


def test_parse_mem():
    assert rt._parse_mem("16g") == 16 << 30
    assert rt._parse_mem("512m") == 512 << 20
    assert rt._parse_mem("1024") == 1024 << 20  # bare = MiB (JVM conv.)
    assert rt._parse_mem("2t") == 2 << 40
    assert rt._parse_mem("64K") == 64 << 10
    with pytest.raises(ValueError):
        rt._parse_mem("lots")


def test_budget_scales_with_per_task_memory():
    """r10 verdict #2, the pinned scenario: the SAME corpus routes
    differently under a 4 GB/core cluster vs a 16 GB/core one.  A
    1.5M-rows hot key overflows a 4 GB/core task's sort budget (twin)
    but fits a 16 GB/core task (plain).  Pure — no second JVM."""
    per_task_4gb = int(4 * (1 << 30) * 0.6)   # 1 core/executor-core
    per_task_16gb = int(16 * (1 << 30) * 0.6)
    b4 = rt.derive_budget_rows(rt.WINDOW_BUDGET_ROWS, per_task_4gb)
    b16 = rt.derive_budget_rows(rt.WINDOW_BUDGET_ROWS, per_task_16gb)
    assert b4 == 800_000 and b16 == 3_200_000  # linear from the anchor
    hot = rt.KeyProbe(5, 1_500_000, 3_000_000)
    assert rt.decide_twin(hot, b4) and not rt.decide_twin(hot, b16)
    # identity at the calibration point; floor under starved sessions
    assert (
        rt.derive_budget_rows(rt.WINDOW_BUDGET_ROWS, rt.CALIB_PER_TASK_BYTES)
        == rt.WINDOW_BUDGET_ROWS
    )
    assert rt.derive_budget_rows(rt.WINDOW_BUDGET_ROWS, 1) == rt.MIN_BUDGET_ROWS


def test_per_task_exec_bytes_master_forms():
    """Master-string coverage beyond the live session: local[N,F]
    (maxFailures variant) must read N, bare ``local`` is one task, and
    local-cluster[...] sizes from the EXECUTOR conf (its executors do
    not share the driver heap)."""

    class _FakeSpark:
        def __init__(self, d):
            self.conf = type(
                "C", (), {"get": staticmethod(lambda k, default=None: d.get(k, default))}
            )()

    gib = 1 << 30
    frac = lambda h, c: int(h * 0.6) // c  # noqa: E731
    assert rt.per_task_exec_bytes(
        _FakeSpark({"spark.master": "local[4,2]", "spark.driver.memory": "8g"})
    ) == frac(8 * gib, 4)
    assert rt.per_task_exec_bytes(
        _FakeSpark({"spark.master": "local", "spark.driver.memory": "2g"})
    ) == frac(2 * gib, 1)
    assert rt.per_task_exec_bytes(
        _FakeSpark({
            "spark.master": "local-cluster[2,3,4096]",
            "spark.driver.memory": "64g",  # must NOT be read
            "spark.executor.memory": "4g",
            "spark.executor.cores": "3",
        })
    ) == frac(4 * gib, 3)
    assert rt.per_task_exec_bytes(
        _FakeSpark({
            "spark.master": "spark://host:7077",
            "spark.executor.memory": "12g",
            "spark.executor.cores": "4",
            "spark.memory.fraction": "0.5",
        })
    ) == int(12 * gib * 0.5) // 4
    # explicit override wins over any derivation (the deployment seam
    # for off-heap/container-limit setups); JVM string, bare = MiB
    assert rt.per_task_exec_bytes(
        _FakeSpark({
            "spark.master": "spark://host:7077",
            "spark.executor.memory": "12g",
            "spark.executor.cores": "4",
            "spark.sparkgraft.routing.perTaskExecBytes": "2g",
        })
    ) == 2 * gib
    assert rt.per_task_exec_bytes(
        _FakeSpark({
            "spark.master": "local[4]",
            "spark.sparkgraft.routing.perTaskExecBytes": "512",
        })
    ) == 512 << 20


def test_session_budget_reads_live_conf(spark):
    """The derivation reads the REAL session conf: the live
    ``spark.driver.memory`` (the heap ``get_spark`` chose: the
    ``SPARK_DRIVER_MEMORY`` override, else its host-sized default) x 0.6
    over the ``local[N]`` cores, and the default window budget scales
    from that (explicit budget_rows= still overrides, as every decision
    pin in this file relies on).  The heap is cross-checked against the
    JVM's own max heap, so a conf string the JVM never received fails."""
    heap = spark.conf.get("spark.driver.memory")
    assert heap == (
        os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    )
    heap_bytes = rt._parse_mem(heap)
    # the JVM rounds the heap up to its alignment (a G1 region: <= 32 MiB)
    jvm_heap = spark._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 <= jvm_heap - heap_bytes < 32 << 20
    cores = int(spark.conf.get("spark.master").split("[")[1].rstrip("]"))
    expect = int(heap_bytes * 0.6) // cores
    assert rt.per_task_exec_bytes(spark) == expect
    assert rt.session_budget_rows(spark) == rt.derive_budget_rows(
        rt.WINDOW_BUDGET_ROWS, expect
    )


def test_default_driver_memory_fits_the_host():
    """min(16g, 0.6 x host memory): a heap the host can pre-touch."""
    gib = 1 << 30
    assert default_driver_memory(15 * gib) == "9216m"
    assert default_driver_memory(8 * gib) == "4915m"
    assert default_driver_memory(64 * gib) == "16384m"


def test_shared_probe_skips_the_scan(spark, monkeypatch):
    """r10 verdict #4: a caller routing several operators over one frame
    pays the probe once.  (a) With ``probe=`` handed in, probe_keys is
    never called — pinned by poisoning it; routing decisions from the
    shared probe match the per-operator ones.  (b) statusTracker job
    count: the routed call with a shared probe launches exactly as many
    jobs as the explicit operator — zero extra scans."""
    ev = _events(spark, "/root/testdata/sf0.001").select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    shared = rt.probe_keys(ev, "event_type", ts_col="ts")
    fresh = rt.probe_keys(ev, "event_type", ts_col="ts")
    assert shared == fresh  # probe is deterministic -> decisions match

    def _poison(*a, **k):
        raise AssertionError("probe_keys called despite probe=")

    monkeypatch.setattr(rt, "probe_keys", _poison)
    routed = rt.rolling_zscore_auto(ev, 25, probe=shared)
    routed2 = rt.cusum_reflected_auto(ev, probe=shared)
    routed3 = rt.sessionize_auto(
        ev, key_col="event_type", tiebreak_col="event_id", probe=shared
    )
    monkeypatch.undo()

    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        stats as st,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("rt_explicit", "explicit plain zscore")
    explicit_rows = st.rolling_zscore(ev, 25).collect()
    sc.setJobGroup("rt_routed", "routed with shared probe")
    routed_rows = routed.collect()
    sc.setJobGroup("rt_done", "")
    n_explicit = len(tracker.getJobIdsForGroup("rt_explicit"))
    n_routed = len(tracker.getJobIdsForGroup("rt_routed"))
    assert n_explicit >= 1 and n_routed == n_explicit
    assert _zkey(explicit_rows) == _zkey(routed_rows)
    assert routed2.count() == ev.count() and routed3.count() == ev.count()


def test_asof_budget_calibration():
    """The as-of family's measured crossover (BASELINE r11 addendum 4,
    AT the anchor): tie at 1.05M rows/key, twin clearly ahead at 5.25M.
    The 1.5e6 constant must route 1.05M plain and 5.25M twin at the
    anchor, and scale with memory like the other budgets."""
    b = rt.derive_budget_rows(rt.ASOF_BUDGET_ROWS, rt.CALIB_PER_TASK_BYTES)
    assert b == rt.ASOF_BUDGET_ROWS == 1_500_000
    assert not rt.decide_twin(rt.KeyProbe(3, 1_050_000, 1_500_000), b)
    assert rt.decide_twin(rt.KeyProbe(3, 5_250_000, 7_000_000), b)
    # 4x the anchor memory -> 4x the crossover (linear model)
    assert rt.derive_budget_rows(
        rt.ASOF_BUDGET_ROWS, 4 * rt.CALIB_PER_TASK_BYTES
    ) == 6_000_000


def test_asof_join_auto_routes_and_matches(spark):
    """The fourth routed family (r11): auto routes PLAIN below the
    budget and CHUNKED above it, with identical rows either way; a
    shared probe (over the union) skips the probe scan."""
    import numpy as np
    import pandas as pd

    from amazon_lookout_for_equipment_python_sdk_spark.operators.timeseries import (
        asof_join,
    )

    rng = np.random.default_rng(3)
    base = pd.Timestamp("2024-01-01")
    left_pd = pd.DataFrame(
        {
            "tag": rng.integers(0, 3, 200).astype(str),
            "ts": base + pd.to_timedelta(rng.integers(0, 20_000, 200), "s"),
            "lid": np.arange(200),
        }
    )
    right_pd = (
        pd.DataFrame(
            {
                "tag": rng.integers(0, 3, 50).astype(str),
                "ts": base
                + pd.to_timedelta(rng.integers(0, 20_000, 50), "s"),
                "pay": rng.normal(size=50).round(3),
            }
        )
        .drop_duplicates(["tag", "ts"])
        .reset_index(drop=True)
    )
    left = spark.createDataFrame(left_pd)
    right = spark.createDataFrame(right_pd)
    plain = sorted(
        (r["lid"], r["pay"]) for r in asof_join(left, right).collect()
    )
    # budget far above max key rows -> plain; far below -> chunked;
    # both must equal the explicit plain answer
    for budget in (10**9, 10):
        got = sorted(
            (r["lid"], r["pay"])
            for r in rt.asof_join_auto(
                left, right, budget_rows=budget
            ).collect()
        )
        assert got == plain, budget
    # shared probe over the union skips the scan (poisoned probe_keys)
    u = left.select("tag", "ts").unionByName(right.select("tag", "ts"))
    shared = rt.probe_keys(u, "tag", ts_col="ts")
    orig = rt.probe_keys
    rt.probe_keys = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("probe_keys called despite probe=")
    )
    try:
        routed = rt.asof_join_auto(left, right, probe=shared, budget_rows=10)
    finally:
        rt.probe_keys = orig
    assert sorted((r["lid"], r["pay"]) for r in routed.collect()) == plain


def test_bucket_span_uses_hot_key_span():
    """r10 ADVICE: a hot key concentrated in a narrow slice of a wide
    corpus span must get its fan-out from ITS OWN span — a year-wide
    corpus with a one-hour hot key otherwise collapses every hot row
    into one bucket."""
    year_us = 365 * 86_400 * 1_000_000
    hour_us = 3_600 * 1_000_000
    p = rt.KeyProbe(
        5, 1_000_000, 1_200_000,
        lo_us=0, hi_us=year_us, hot_lo_us=0, hot_hi_us=hour_us,
    )
    # 10 buckets over ONE HOUR -> 360 s slices, not 360 s-per-year/10
    assert rt._auto_buckets(p, 100_000) == 10
    assert rt._bucket_span_s(p, 100_000) == 360


def test_bucket_span_floor_bounds_carry_broadcast():
    """r11 review finding: the narrow-hot-slice geometry must not hand
    every COLD key corpus_span/span buckets — the carry tables are
    broadcast.  The floor binds exactly when n_keys makes the worst
    case exceed CARRY_BUDGET_ROWS, and never in the few-keys regime."""
    year_us = 365 * 86_400 * 1_000_000
    hour_us = 3_600 * 1_000_000
    # few keys (the twins' home regime): floor far below the hot span
    few = rt.KeyProbe(
        5, 1_000_000, 1_200_000,
        lo_us=0, hi_us=year_us, hot_lo_us=0, hot_hi_us=hour_us,
    )
    assert rt._bucket_span_s(few, 100_000) == 360  # unchanged
    # 200k keys: worst-case carry at 360s spans would be
    # 200k x 87.6k buckets — the floor coarsens the span so
    # n_keys x (corpus_span/span) <= CARRY_BUDGET_ROWS
    many = rt.KeyProbe(
        200_000, 1_000_000, 50_000_000,
        lo_us=0, hi_us=year_us, hot_lo_us=0, hot_hi_us=hour_us,
    )
    span = rt._bucket_span_s(many, 100_000)
    corpus_span_s = year_us // 1_000_000
    worst_carry = many.n_keys * -(-corpus_span_s // span)
    assert worst_carry <= rt.CARRY_BUDGET_ROWS + many.n_keys  # bucket-0 edge
    assert span > 360  # the hot slice's fan-out was traded away
    # review counter-example: floor division under-sized the span 2x
    # (corpus 19,999s, 100 keys -> allowed 10,000/key; span must be 2)
    awkward = rt.KeyProbe(
        100, 1_000_000, 2_000_000,
        lo_us=0, hi_us=19_999 * 1_000_000, hot_lo_us=0,
        hot_hi_us=60 * 1_000_000,
    )
    s2 = rt._bucket_span_s(awkward, 1_000)  # want=1s from the hot slice
    assert awkward.n_keys * -(-19_999 // s2) <= rt.CARRY_BUDGET_ROWS
    # key-count guard: past CARRY_BUDGET_ROWS keys no span can bound the
    # carry broadcast — the router must stay PLAIN even with a hot key
    huge = rt.KeyProbe(rt.CARRY_BUDGET_ROWS + 1, 5_000_000, 10**9)
    assert not rt.decide_twin(huge, 100_000)
    assert rt.decide_twin(
        rt.KeyProbe(rt.CARRY_BUDGET_ROWS, 5_000_000, 10**9), 100_000
    )
    # pre-r11 probes (no hot fields) fall back to the corpus span
    old = rt.KeyProbe(5, 1_000_000, 1_200_000, lo_us=0, hi_us=year_us)
    assert rt._bucket_span_s(old, 100_000) == (year_us // 1_000_000) // 10


def test_probe_carries_hot_key_span(spark):
    """The live probe's hot span is the max-count key's own min/max —
    verified on a crafted frame where the hot key covers one narrow
    hour of a month-wide corpus."""
    from datetime import datetime, timezone

    def _ts(day, hour, minute=0):
        return datetime(2024, 1, day, hour, minute, tzinfo=timezone.utc)

    rows = [("hot", _ts(15, 12, m)) for m in range(50)]  # one hour slice
    rows += [("cold", _ts(1, 0)), ("cold", _ts(30, 0))]  # month-wide
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    p = rt.probe_keys(df, "k", ts_col="ts")
    assert p.max_key_rows == 50
    span_us = p.hot_hi_us - p.hot_lo_us
    assert span_us == 49 * 60 * 1_000_000  # the hot hour, not the month
    assert p.hi_us - p.lo_us > 20 * 86_400 * 1_000_000


def test_lead_restamp_budget_calibration():
    """The two light-rank crossovers (BASELINE r11 addendum 5, measured
    AT the anchor): lead plain still ahead at 3M rows/key and its twin
    ahead from 5M — the 4e6 constant must route 3M plain and 5M twin;
    restamp's twin is already ahead at 1M while plain wins at 300k —
    the 6e5 constant must route 300k plain and 1M twin.  Both scale
    with memory like the other budgets."""
    bl = rt.derive_budget_rows(rt.LEAD_BUDGET_ROWS, rt.CALIB_PER_TASK_BYTES)
    assert bl == rt.LEAD_BUDGET_ROWS == 4_000_000
    assert not rt.decide_twin(rt.KeyProbe(3, 3_000_000, 4_200_000), bl)
    assert rt.decide_twin(rt.KeyProbe(3, 5_000_000, 7_000_000), bl)
    br = rt.derive_budget_rows(
        rt.RESTAMP_BUDGET_ROWS, rt.CALIB_PER_TASK_BYTES
    )
    assert br == rt.RESTAMP_BUDGET_ROWS == 600_000
    assert not rt.decide_twin(rt.KeyProbe(3, 300_000, 420_000), br)
    assert rt.decide_twin(rt.KeyProbe(3, 1_000_000, 1_400_000), br)
    assert rt.derive_budget_rows(
        rt.LEAD_BUDGET_ROWS, 4 * rt.CALIB_PER_TASK_BYTES
    ) == 16_000_000


def test_lead_restamp_auto_routes_and_matches(spark):
    """The fifth/sixth routed families (r11): both autos route PLAIN
    below the budget and CHUNKED above it with identical rows either
    way — keyed AND keyless (keyless probes the frame as one key: the
    plain form's single-partition global sort is the hazard there); a
    shared probe skips the probe scan (poisoned probe_keys)."""
    ev = (
        _events(spark, "/root/testdata/sf0.001")
        .select("event_type", "event_id", "ts")
        .limit(500)
    )

    def pkey(df):
        return sorted(
            (str(r["start_ts"]), str(r["end_ts"])) for r in df.collect()
        )

    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        timeseries as tsops,
    )

    for key in ("event_type", None):
        plain = pkey(tsops.lead_pairs(ev, ts_col="ts", key_col=key))
        for budget in (10**9, 10):
            got = pkey(
                rt.lead_pairs_auto(
                    ev, ts_col="ts", key_col=key, budget_rows=budget
                )
            )
            assert got == plain, (key, budget)

    def stamps(df):
        return {r["event_id"]: str(r["ts"]) for r in df.collect()}

    for key in ("event_type", None):
        plain = stamps(
            tsops.restamp_positional(
                ev, "2025-06-01 00:00:00", 30, ts_col="ts", key_col=key,
                tiebreak_col="event_id",
            )
        )
        for budget in (10**9, 10):
            got = stamps(
                rt.restamp_positional_auto(
                    ev, "2025-06-01 00:00:00", 30, ts_col="ts",
                    key_col=key, tiebreak_col="event_id",
                    budget_rows=budget,
                )
            )
            assert got == plain, (key, budget)

    # shared probe skips the scan for both autos
    shared = rt.probe_keys(ev, "event_type", ts_col="ts")
    orig = rt.probe_keys
    rt.probe_keys = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("probe_keys called despite probe=")
    )
    try:
        a = rt.lead_pairs_auto(
            ev, ts_col="ts", key_col="event_type", probe=shared,
            budget_rows=10,
        )
        b = rt.restamp_positional_auto(
            ev, "2025-06-01 00:00:00", 30, ts_col="ts",
            key_col="event_type", tiebreak_col="event_id", probe=shared,
            budget_rows=10,
        )
    finally:
        rt.probe_keys = orig
    assert a.count() > 0 and b.count() == ev.count()


def test_ffill_budget_calibration():
    """The fill family's measured crossover (BASELINE r11 addendum 6,
    AT the anchor): plain still ahead at 1M rows/key, the twin ahead
    from 3M.  The 2e6 constant must route 1M plain and 3M twin, and
    scale with memory like the other budgets."""
    b = rt.derive_budget_rows(rt.FFILL_BUDGET_ROWS, rt.CALIB_PER_TASK_BYTES)
    assert b == rt.FFILL_BUDGET_ROWS == 2_000_000
    assert not rt.decide_twin(rt.KeyProbe(3, 1_000_000, 1_400_000), b)
    assert rt.decide_twin(rt.KeyProbe(3, 3_000_000, 4_200_000), b)
    assert rt.derive_budget_rows(
        rt.FFILL_BUDGET_ROWS, 4 * rt.CALIB_PER_TASK_BYTES
    ) == 8_000_000


def test_ffill_auto_routes_and_matches(spark):
    """The seventh routed family: both branches equal the explicit
    plain fill; a shared probe skips the probe scan."""
    ev = (
        _events(spark, "/root/testdata/sf0.001")
        .select(
            "event_type",
            "event_id",
            "ts",
            F.when(F.col("event_id") % 9 == 0, F.col("value")).alias("v"),
        )
        .limit(400)
    )

    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        timeseries as tsops,
    )

    def vals(df):
        return {r["event_id"]: r["filled"] for r in df.collect()}

    plain = vals(
        tsops.ffill(ev, "v", ts_col="ts", key_col="event_type",
                    out_col="filled")
    )
    for budget in (10**9, 10):
        got = vals(
            rt.ffill_auto(
                ev, "v", ts_col="ts", key_col="event_type",
                out_col="filled", budget_rows=budget,
            )
        )
        assert got == plain, budget
    shared = rt.probe_keys(ev, "event_type", ts_col="ts")
    orig = rt.probe_keys
    rt.probe_keys = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("probe_keys called despite probe=")
    )
    try:
        routed = rt.ffill_auto(
            ev, "v", ts_col="ts", key_col="event_type", out_col="filled",
            probe=shared, budget_rows=10,
        )
    finally:
        rt.probe_keys = orig
    assert vals(routed) == plain


def test_ewma_budget_calibration_and_auto(spark):
    """The ninth family (BASELINE r11 addendum 8): plain 1.7x ahead at
    30k rows/key, an exact tie at 100k, the twin from 300k — the 1e5
    constant routes 30k plain and 300k twin at the anchor.  Both auto
    branches equal the explicit plain (bit-equal — shared fold
    expression); a shared probe skips the scan."""
    b = rt.derive_budget_rows(rt.EWMA_BUDGET_ROWS, rt.CALIB_PER_TASK_BYTES)
    assert b == rt.EWMA_BUDGET_ROWS == 100_000
    assert not rt.decide_twin(rt.KeyProbe(3, 30_000, 42_000), b)
    assert rt.decide_twin(rt.KeyProbe(3, 300_000, 420_000), b)

    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        stats as st,
    )

    ev = (
        _events(spark, "/root/testdata/sf0.001")
        .select("event_type", F.col("ts").alias("bucket_ts"),
                F.col("value").alias("avg_value"))
        # unique (key, order) — plain ewma's collect order (hence the
        # fold) is nondeterministic under ties
        .dropDuplicates(["event_type", "bucket_ts"])
        .limit(400)
    )
    # MATERIALIZE: dropDuplicates keeps an arbitrary representative and
    # limit an arbitrary subset — re-executing that plan per collect()
    # could hand the compared branches different rows (review fix)
    ev = spark.createDataFrame(ev.collect(), ev.schema)

    def key(df):
        return {
            (r["event_type"], str(r["bucket_ts"])): r["ewma"]
            for r in df.collect()
        }

    plain = key(st.ewma(ev, 0.3, window=16))
    for budget in (10**9, 10):
        got = key(rt.ewma_auto(ev, 0.3, window=16, budget_rows=budget))
        assert got == plain, budget
    shared = rt.probe_keys(ev, "event_type", ts_col="bucket_ts")
    orig = rt.probe_keys
    rt.probe_keys = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("probe_keys called despite probe=")
    )
    try:
        routed = rt.ewma_auto(
            ev, 0.3, window=16, probe=shared, budget_rows=10
        )
    finally:
        rt.probe_keys = orig
    assert key(routed) == plain


def test_range_product_budget_calibration():
    """The range family routes on rows x frame-rows (BASELINE r11
    addendum 7): the measured grid is inseparable by rows alone — 100k
    DENSE rows (1 ev/s, 3600-row frames, product 3.6e8) route twin
    while 300k SPARSE rows (1 ev/100s, 36-row frames, product 1.1e7)
    route plain — and separates cleanly on the product at the 3e7
    budget.  A sparse decade-long key still routes twin through the
    rows_budget spill term."""
    us = 1_000_000

    def probe(rows, span_s):
        return rt.KeyProbe(
            3, rows, rows + rows // 5,
            lo_us=0, hi_us=span_s * us, hot_lo_us=0, hot_hi_us=span_s * us,
        )

    dense_100k = probe(100_000, 100_000)      # 1 ev/s
    sparse_300k = probe(300_000, 30_000_000)  # 1 ev/100s
    sparse_3m = probe(3_000_000, 300_000_000)
    assert rt.est_frame_rows(dense_100k, 3_600) == pytest.approx(3_600, rel=0.01)
    assert rt.est_frame_rows(sparse_300k, 3_600) == pytest.approx(36, rel=0.01)
    assert rt.decide_range_twin(dense_100k, 3_600)
    assert not rt.decide_range_twin(sparse_300k, 3_600)
    assert rt.decide_range_twin(sparse_3m, 3_600)
    # spill term: a very sparse key below the product budget but past
    # the window sort budget takes the twin
    sparse_huge = probe(5_000_000, 5_000_000_000)  # 1 ev/1000s, frames ~3.6
    assert not rt.decide_range_twin(sparse_huge, 3_600)  # product ~1.8e7
    assert rt.decide_range_twin(
        sparse_huge, 3_600, rows_budget=rt.WINDOW_BUDGET_ROWS
    )
    # no event-time span -> plain (a time-bucketed twin is meaningless)
    assert not rt.decide_range_twin(rt.KeyProbe(3, 10**9, 10**9), 3_600)
    # frame estimate is CAPPED at the key's rows (review fix): a 1,000
    # row burst inside one second under a 1h range is product 1e6, not
    # the density extrapolation's 3.6e9 — routes plain
    burst = probe(1_000, 1)
    assert rt.est_frame_rows(burst, 3_600) == 1_000.0
    assert not rt.decide_range_twin(burst, 3_600)


def test_rolling_range_auto_routes_and_matches(spark):
    """The eighth routed family: both branches equal the explicit plain
    range frame; a shared probe skips the probe scan."""
    ev = (
        _events(spark, "/root/testdata/sf0.001")
        .select("event_type", "event_id", "ts", "value")
        .limit(400)
    )
    cents = F.round(F.col("value") * 100).cast("long")

    def aggs(w):
        return {"n_r": F.count(F.lit(1)).over(w), "s_r": F.sum(cents).over(w)}

    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        timeseries as tsops,
    )

    def key(df):
        return {r["event_id"]: (r["n_r"], r["s_r"]) for r in df.collect()}

    plain = key(
        tsops.rolling_range(ev, 3_600, aggs, ts_col="ts", key_col="event_type")
    )
    for budget in (10**18, 1):
        got = key(
            rt.rolling_range_auto(
                ev, 3_600, aggs, ts_col="ts", key_col="event_type",
                product_budget=budget,
            )
        )
        assert got == plain, budget
    shared = rt.probe_keys(ev, "event_type", ts_col="ts")
    orig = rt.probe_keys
    rt.probe_keys = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("probe_keys called despite probe=")
    )
    try:
        routed = rt.rolling_range_auto(
            ev, 3_600, aggs, ts_col="ts", key_col="event_type",
            probe=shared, product_budget=1,
        )
    finally:
        rt.probe_keys = orig
    assert key(routed) == plain


def _zkey(rows):
    return {(r["event_type"], r["event_id"]): r["zscore"] for r in rows}


def test_auto_routes_match_explicit_forms_both_branches(spark):
    """Routed output == explicit plain output on the tiny fixture for
    BOTH branches: the natural budget routes plain; a budget of 10 rows
    forces every key over it, exercising the probe->geometry->twin path
    end-to-end (the twins' exactness is separately property-pinned)."""
    ev = _events(spark, "/root/testdata/sf0.001").select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        stats as st,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        timeseries as tsops,
    )

    plain_z = _zkey(st.rolling_zscore(ev, 25).collect())
    assert plain_z == _zkey(rt.rolling_zscore_auto(ev, 25).collect())
    assert plain_z == _zkey(
        rt.rolling_zscore_auto(ev, 25, budget_rows=10).collect()
    )

    def skey(rows):
        return {r["event_id"]: r["session_seq"] for r in rows}

    plain_s = skey(
        tsops.sessionize(ev, tiebreak_col="event_id").collect()
    )
    assert plain_s == skey(
        rt.sessionize_auto(ev, tiebreak_col="event_id").collect()
    )
    assert plain_s == skey(
        rt.sessionize_auto(
            ev, tiebreak_col="event_id", budget_rows=10
        ).collect()
    )

    def ckey(rows):
        return {r["event_id"]: r["cusum"] for r in rows}

    plain_c = ckey(st.cusum_reflected(ev).collect())
    assert plain_c == ckey(rt.cusum_reflected_auto(ev).collect())
    assert plain_c == ckey(
        rt.cusum_reflected_auto(ev, budget_rows=10).collect()
    )


def test_pack_budget_calibration():
    """PACK_BUDGET_ROWS sits at the measured 2M near-tie (plain ahead
    to 1M, twin from 3M — BASELINE r12 addendum 2) and scales with
    per-task memory like every family."""
    assert rt.PACK_BUDGET_ROWS == 2_000_000
    anchor = rt.derive_budget_rows(rt.PACK_BUDGET_ROWS, rt.CALIB_PER_TASK_BYTES)
    assert anchor == rt.PACK_BUDGET_ROWS
    assert (
        rt.derive_budget_rows(rt.PACK_BUDGET_ROWS, 2 * rt.CALIB_PER_TASK_BYTES)
        == 2 * rt.PACK_BUDGET_ROWS
    )


def test_bucket_span_ids_geometry():
    """Numeric-axis geometry: divides the hot group's id span; the
    carry floor binds exactly like the time-axis helper."""
    p = rt.KeyProbe(
        n_keys=3, max_key_rows=1_000_000, total_rows=1_200_000,
        lo_us=0, hi_us=10_000_000, hot_lo_us=0, hot_hi_us=1_000_000,
    )
    span = rt._bucket_span_ids(p, 100_000)
    # hot span 1e6 ids over ceil(1e6/1e5)=10 buckets -> 1e5 ids/bucket
    assert span == 100_000
    # many keys force the carry floor: allowed 1e6/1e6=1 id per key
    # -> floor = corpus span
    pm = rt.KeyProbe(
        n_keys=1_000_000, max_key_rows=1_000_000, total_rows=2_000_000,
        lo_us=0, hi_us=10_000_000, hot_lo_us=0, hot_hi_us=1_000_000,
    )
    assert rt._bucket_span_ids(pm, 100_000) == 10_000_000


def test_pack_documents_auto_routes_and_matches(spark):
    """The tenth routed family (r12 — the serialized-sort-cliff close):
    both branches equal the explicit plain packing; string ids route
    plain; a shared numeric-axis probe skips the probe scan."""
    import pandas as pd

    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        corpus as cp,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(300),
            "source": ["s" + str(i % 3) for i in range(300)],
            "text": [" ".join(["w"] * (4 + i % 13)) for i in range(300)],
        }
    )
    docs = spark.createDataFrame(pdf)

    def vals(df):
        return {
            r["doc_id"]: (r["pack_offset"], r["pack_id"])
            for r in df.collect()
        }

    plain = vals(cp.pack_documents(docs, budget_tokens=64))
    for budget in (10**9, 10):
        assert vals(
            rt.pack_documents_auto(docs, budget_tokens=64, budget_rows=budget)
        ) == plain, budget

    # string ids: always the plain branch, never the twin's ValueError
    sdocs = docs.withColumn("doc_id", F.concat(F.lit("d"), "doc_id"))
    splain = {
        r["doc_id"]: (r["pack_offset"], r["pack_id"])
        for r in cp.pack_documents(sdocs, budget_tokens=64).collect()
    }
    sgot = {
        r["doc_id"]: (r["pack_offset"], r["pack_id"])
        for r in rt.pack_documents_auto(
            sdocs, budget_tokens=64, budget_rows=10
        ).collect()
    }
    assert sgot == splain

    shared = rt.probe_keys(docs, "source", ts_col="doc_id", numeric_axis=True)
    orig = rt.probe_keys
    rt.probe_keys = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("probe_keys called despite probe=")
    )
    try:
        routed = rt.pack_documents_auto(
            docs, budget_tokens=64, probe=shared, budget_rows=10
        )
    finally:
        rt.probe_keys = orig
    assert vals(routed) == plain


def test_assemble_packs_auto_routes_and_matches(spark):
    """assemble_packs shares the pack family's routing; both branches
    equal the explicit plain assembly."""
    import pandas as pd

    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        corpus as cp,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": range(200),
            "source": ["g" + str(i % 2) for i in range(200)],
            "text": [" ".join(["w"] * (4 + i % 11)) for i in range(200)],
        }
    )
    docs = spark.createDataFrame(pdf)

    def vals(df):
        return {
            (r["source"], r["pack_id"]): (
                r["n_docs"], r["pack_tokens"], r["packed_text"]
            )
            for r in df.collect()
        }

    plain = vals(cp.assemble_packs(docs, budget_tokens=64))
    for budget in (10**9, 10):
        assert vals(
            rt.assemble_packs_auto(docs, budget_tokens=64, budget_rows=budget)
        ) == plain, budget


_PACK_XL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".localdata",
    "pack_xl",
)


@pytest.mark.skipif(
    not os.path.exists(os.path.join(_PACK_XL, "documents.parquet")),
    reason="pack_xl fixture not generated (tools/gen_pack_xl.py)",
)
def test_routing_decision_pack_xl_monolithic_group(spark):
    """pack_xl (5M-row hot source, measured twin 1.22x there): the
    numeric-axis probe routes the pack family to the twin at the
    measured PACK_BUDGET_ROWS, while the sf-style many-small-groups
    shape stays plain."""
    docs = spark.read.parquet(os.path.join(_PACK_XL, "documents.parquet"))
    probe = rt.probe_keys(docs, "source", ts_col="doc_id", numeric_axis=True)
    assert probe.max_key_rows == 5_000_000
    assert rt.decide_twin(probe, rt.PACK_BUDGET_ROWS)
    # the id axis carried values, not microseconds
    assert probe.lo_us == 0 and probe.hi_us == 4_999_999
    span = rt._bucket_span_ids(probe, rt.session_budget_rows(spark))
    assert 1 <= span <= 5_000_000
    # driver-SF documents: largest source group is far below budget
    small = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sp = rt.probe_keys(small, "source", ts_col="doc_id", numeric_axis=True)
    assert not rt.decide_twin(sp, rt.PACK_BUDGET_ROWS)
