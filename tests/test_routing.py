"""Routing between plain operators and their skew-safe twins
(operators/routing.py, r9 verdict #5): the probe + routing rule, pinned
on the real fixtures — plain chosen on uniform sf0.1, twin chosen on
sf1_skew's hot keys — the pure ``plan`` pinned on a probe grid, plus
routed-output equality through BOTH branches of every family row.
The registered driver queries keep calling the explicit forms; these
tests certify ``route`` decides as documented."""

from __future__ import annotations

import dataclasses
import functools
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
TINY = "/root/testdata/sf0.001"
US = 1_000_000  # probe microseconds per second
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
    # all-null ts: rows counted but no span; the zscore/cusum rows fall
    # back to plain rather than crash on bucket geometry
    nullts = ev.limit(200).withColumn("ts", F.lit(None).cast("timestamp"))
    p4 = rt.probe_keys(nullts, "event_type", ts_col="ts")
    assert p4.total_rows == 200 and p4.lo_us is None
    out = rt.route("rolling_zscore", nullts, 5, budget_rows=10)
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
    routed = rt.route("rolling_zscore", ev, 25, probe=shared)
    routed2 = rt.route("cusum_reflected", ev, probe=shared)
    routed3 = rt.route(
        "sessionize", ev, key_col="event_type", tiebreak_col="event_id",
        probe=shared,
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
    assert rt._bucket_span(p, 100_000, US) == 360


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
    assert rt._bucket_span(few, 100_000, US) == 360  # unchanged
    # 200k keys: worst-case carry at 360s spans would be
    # 200k x 87.6k buckets — the floor coarsens the span so
    # n_keys x (corpus_span/span) <= CARRY_BUDGET_ROWS
    many = rt.KeyProbe(
        200_000, 1_000_000, 50_000_000,
        lo_us=0, hi_us=year_us, hot_lo_us=0, hot_hi_us=hour_us,
    )
    span = rt._bucket_span(many, 100_000, US)
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
    s2 = rt._bucket_span(awkward, 1_000, US)  # want=1s from the hot slice
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
    assert rt._bucket_span(old, 100_000, US) == (year_us // US) // 10


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
    """The fifth/sixth routed families (r11) KEYLESS: ``key_col=None``
    probes the frame as one key (the plain form's single-partition
    global sort is the hazard there) and both branches give the
    explicit plain form's rows.  The keyed shape is a case of
    :func:`test_route_matches_plain_both_branches`."""
    ev = _tiny_events(spark, "event_type", "event_id", "ts", limit=500)
    for family, args, kw, rows in (
        ("lead_pairs", (ev,), {}, _pair_rows),
        ("restamp_positional", (ev, "2025-06-01 00:00:00", 30),
         {"tiebreak_col": "event_id"}, _stamp_rows),
    ):
        kw = {"ts_col": "ts", "key_col": None, **kw}
        plain = rows(rt.FAMILIES[family].plain(*args, **kw))
        for budget in (10**9, 10):
            got = rows(rt.route(family, *args, budget_rows=budget, **kw))
            assert got == plain, (family, budget)


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


def test_ewma_budget_calibration_and_auto(spark):
    """The ninth family (BASELINE r11 addendum 8): plain 1.7x ahead at
    30k rows/key, an exact tie at 100k, the twin from 300k — the 1e5
    constant routes 30k plain and 300k twin at the anchor.  Routed at
    the session's own budget, the rows equal the explicit plain form
    (both forced branches: :func:`test_route_matches_plain_both_branches`)."""
    b = rt.derive_budget_rows(rt.EWMA_BUDGET_ROWS, rt.CALIB_PER_TASK_BYTES)
    assert b == rt.EWMA_BUDGET_ROWS == 100_000
    assert not rt.decide_twin(rt.KeyProbe(3, 30_000, 42_000), b)
    assert rt.decide_twin(rt.KeyProbe(3, 300_000, 420_000), b)

    ev = _ewma_frame(spark)
    plain = _ewma_rows(rt.FAMILIES["ewma"].plain(ev, 0.3, window=16))
    assert _ewma_rows(rt.route("ewma", ev, 0.3, window=16)) == plain


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


def _zkey(rows):
    return {(r["event_type"], r["event_id"]): r["zscore"] for r in rows}


def test_auto_routes_match_explicit_forms_both_branches(spark):
    """Routed output == explicit plain output on the tiny fixture for
    BOTH branches: the session-derived budget routes plain; a budget of
    10 rows forces every key over it, exercising the
    probe->geometry->twin path end-to-end (the twins' exactness is
    separately property-pinned)."""
    ev = _events(spark, TINY).select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        stats as st,
    )
    from amazon_lookout_for_equipment_python_sdk_spark.operators import (
        timeseries as tsops,
    )

    plain_z = _zkey(st.rolling_zscore(ev, 25).collect())
    assert plain_z == _zkey(rt.route("rolling_zscore", ev, 25).collect())
    assert plain_z == _zkey(
        rt.route("rolling_zscore", ev, 25, budget_rows=10).collect()
    )

    def skey(rows):
        return {r["event_id"]: r["session_seq"] for r in rows}

    plain_s = skey(
        tsops.sessionize(ev, tiebreak_col="event_id").collect()
    )
    assert plain_s == skey(
        rt.route("sessionize", ev, tiebreak_col="event_id").collect()
    )
    assert plain_s == skey(
        rt.route(
            "sessionize", ev, tiebreak_col="event_id", budget_rows=10
        ).collect()
    )

    def ckey(rows):
        return {r["event_id"]: r["cusum"] for r in rows}

    plain_c = ckey(st.cusum_reflected(ev).collect())
    assert plain_c == ckey(rt.route("cusum_reflected", ev).collect())
    assert plain_c == ckey(
        rt.route("cusum_reflected", ev, budget_rows=10).collect()
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
    """Numeric-axis geometry (``unit=1``): divides the hot group's id
    span; the carry floor binds exactly like on the time axis."""
    p = rt.KeyProbe(
        n_keys=3, max_key_rows=1_000_000, total_rows=1_200_000,
        lo_us=0, hi_us=10_000_000, hot_lo_us=0, hot_hi_us=1_000_000,
    )
    span = rt._bucket_span(p, 100_000, 1)
    # hot span 1e6 ids over ceil(1e6/1e5)=10 buckets -> 1e5 ids/bucket
    assert span == 100_000
    # many keys force the carry floor: allowed 1e6/1e6=1 id per key
    # -> floor = corpus span
    pm = rt.KeyProbe(
        n_keys=1_000_000, max_key_rows=1_000_000, total_rows=2_000_000,
        lo_us=0, hi_us=10_000_000, hot_lo_us=0, hot_hi_us=1_000_000,
    )
    assert rt._bucket_span(pm, 100_000, 1) == 10_000_000


def test_pack_documents_auto_routes_and_matches(spark):
    """String doc ids route the pack rows PLAIN — the twin's value split
    needs a numeric axis — even with a forcing budget and a shared
    probe in hand (the numeric-id shape is a case of
    :func:`test_route_matches_plain_both_branches`)."""
    docs = _docs(spark, 300, 3, 13)
    shared = rt.probe_keys(
        docs, "source", ts_col="doc_id", numeric_axis=True
    )
    sdocs = docs.withColumn("doc_id", F.concat(F.lit("d"), "doc_id"))
    for family in ("pack_documents", "assemble_packs"):
        plain = rt.FAMILIES[family].plain(sdocs, budget_tokens=64)
        for probe in (None, shared):
            got = rt.route(
                family, sdocs, budget_tokens=64, budget_rows=10,
                probe=probe,
            )
            assert sorted(got.collect()) == sorted(plain.collect())


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
    span = rt._bucket_span(probe, rt.session_budget_rows(spark), 1)
    assert 1 <= span <= 5_000_000
    # driver-SF documents: largest source group is far below budget
    small = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    sp = rt.probe_keys(small, "source", ts_col="doc_id", numeric_axis=True)
    assert not rt.decide_twin(sp, rt.PACK_BUDGET_ROWS)


# --------------------------------------------------------------------------
# one table, one planner: every FAMILIES row through both branches, the pure
# plan on a probe grid, and the table's completeness


def _poison(*a, **k):
    raise AssertionError("probe_keys called despite probe=")


def _by(key, *vals):
    def rows(df):
        return {r[key]: tuple(r[v] for v in vals) for r in df.collect()}

    return rows


def _pair_rows(df):
    return sorted((str(r["start_ts"]), str(r["end_ts"])) for r in df.collect())


def _stamp_rows(df):
    return {r["event_id"]: str(r["ts"]) for r in df.collect()}


def _ewma_rows(df):
    return {
        (r["event_type"], str(r["bucket_ts"])): r["ewma"] for r in df.collect()
    }


def _tiny_events(spark, *cols, limit):
    """A MATERIALIZED slice of the sf0.001 events: limit keeps an
    arbitrary subset, and every compared branch must see the same rows."""
    ev = _events(spark, TINY).select(*cols).limit(limit)
    return spark.createDataFrame(ev.collect(), ev.schema)


def _ewma_frame(spark):
    ev = (
        _events(spark, TINY)
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
    return spark.createDataFrame(ev.collect(), ev.schema)


def _docs(spark, n, groups, spread):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(n),
                "source": ["s" + str(i % groups) for i in range(n)],
                "text": [" ".join(["w"] * (4 + i % spread)) for i in range(n)],
            }
        )
    )


def _asof_pair(spark):
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(3)
    base = pd.Timestamp("2024-01-01")
    left = pd.DataFrame(
        {
            "tag": rng.integers(0, 3, 200).astype(str),
            "ts": base + pd.to_timedelta(rng.integers(0, 20_000, 200), "s"),
            "lid": np.arange(200),
        }
    )
    right = (
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
    return spark.createDataFrame(left), spark.createDataFrame(right)


def _route_case(spark, family):
    """The plain form's (args, kwargs), a row key for comparing outputs,
    and a shared probe of the row's shape."""
    ev = _events(spark, TINY).select(
        "event_type", "user_id", "event_id", "ts", "value"
    )
    small = _tiny_events(spark, "event_type", "event_id", "ts", "value",
                         limit=500)

    def per_type(df, ts="ts"):
        return rt.probe_keys(df, "event_type", ts_col=ts)

    keyed = {"ts_col": "ts", "key_col": "event_type"}
    if family == "sessionize":
        return ((ev,), {"tiebreak_col": "event_id"},
                _by("event_id", "session_seq"),
                rt.probe_keys(ev, "user_id", ts_col="ts"))
    if family == "rolling_zscore":
        return (ev, 25), {}, _by("event_id", "zscore"), per_type(ev)
    if family == "cusum_reflected":
        return (ev,), {}, _by("event_id", "cusum"), per_type(ev)
    if family == "asof_join":
        left, right = _asof_pair(spark)
        u = left.select("tag", "ts").unionByName(right.select("tag", "ts"))
        return ((left, right), {}, _by("lid", "pay"),
                rt.probe_keys(u, "tag", ts_col="ts"))
    if family == "lead_pairs":
        return (small,), keyed, _pair_rows, per_type(small)
    if family == "restamp_positional":
        return ((small, "2025-06-01 00:00:00", 30),
                {**keyed, "tiebreak_col": "event_id"}, _stamp_rows,
                per_type(small))
    if family == "ffill":
        sparse = small.withColumn(
            "v", F.when(F.col("event_id") % 9 == 0, F.col("value"))
        )
        return ((sparse, "v"), {**keyed, "out_col": "filled"},
                _by("event_id", "filled"), per_type(sparse))
    if family == "rolling_range":
        cents = F.round(F.col("value") * 100).cast("long")

        def aggs(w):
            return {"n_r": F.count(F.lit(1)).over(w),
                    "s_r": F.sum(cents).over(w)}

        return ((small, 3_600, aggs), keyed, _by("event_id", "n_r", "s_r"),
                per_type(small))
    if family == "ewma":
        ew = _ewma_frame(spark)
        return ((ew, 0.3), {"window": 16}, _ewma_rows,
                per_type(ew, "bucket_ts"))
    docs = _docs(spark, 300, 3, 13)
    probe = rt.probe_keys(docs, "source", ts_col="doc_id", numeric_axis=True)
    if family == "pack_documents":
        return ((docs,), {"budget_tokens": 64},
                _by("doc_id", "pack_offset", "pack_id"), probe)
    assert family == "assemble_packs", family

    def packs(df):
        return {
            (r["source"], r["pack_id"]):
            (r["n_docs"], r["pack_tokens"], r["packed_text"])
            for r in df.collect()
        }

    return (docs,), {"budget_tokens": 64}, packs, probe


@pytest.mark.parametrize("family", sorted(rt.FAMILIES))
def test_route_matches_plain_both_branches(spark, monkeypatch, family):
    """Every table row: a forced-plain route, a forced-twin route and
    the explicit plain form give equal rows, each route taking the path
    it was forced to; with a shared ``probe=`` (and a forcing budget)
    the router never calls probe_keys."""
    args, kw, rows, shared = _route_case(spark, family)
    fam = rt.FAMILIES[family]
    plain = rows(fam.plain(*args, **kw))
    taken = []

    def spy(path, fn):
        @functools.wraps(fn)  # route binds against the plain signature
        def call(*a, **k):
            taken.append(path)
            return fn(*a, **k)

        return call

    monkeypatch.setitem(
        rt.FAMILIES,
        family,
        dataclasses.replace(
            fam, plain=spy("plain", fam.plain), twin=spy("twin", fam.twin)
        ),
    )
    for budget, path in ((10**18, "plain"), (10, "twin")):
        got = rows(rt.route(family, *args, budget_rows=budget, **kw))
        assert taken.pop() == path
        assert got == plain, path
    monkeypatch.setattr(rt, "probe_keys", _poison)
    routed = rt.route(family, *args, budget_rows=10, probe=shared, **kw)
    monkeypatch.undo()
    assert taken.pop() == "twin"
    assert rows(routed) == plain


DAY_US = 86_400 * US
W = rt.WINDOW_BUDGET_ROWS


def _p(n_keys, rows, hot_us=DAY_US, corpus_us=10 * DAY_US):
    return rt.KeyProbe(n_keys, rows, 2 * rows, 0, corpus_us, 0, hot_us)


#: case -> (probe from the row's anchor budget B, budget_rows, window_rows)
ROW_CASES = {
    "below": lambda B: (_p(3, B - 1), B, W),
    "at": lambda B: (_p(3, B), B, W),
    "above": lambda B: (_p(3, B + 1), B, W),
    "hot_hour": lambda B: (_p(3, 20 * B, hot_us=3_600 * US), B, W),
    "capped": lambda B: (_p(3, 1_000 * B), B, W),
    "caller_budget": lambda B: (_p(3, 5 * B), B // 4, W),
    "big_window": lambda B: (_p(3, 5 * B), B, 4 * W),
    "no_span": lambda B: (rt.KeyProbe(3, 20 * B, 40 * B), B, W),
    "carry_floor": lambda B: (_p(200_000, 20 * B), B, W),
    "over_carry_keys": lambda B: (_p(rt.CARRY_BUDGET_ROWS + 1, 20 * B), B, W),
    "keyless": lambda B: (_p(1, 20 * B, hot_us=10 * DAY_US), B, W),
    "empty": lambda B: (rt.KeyProbe(0, 0, 0), B, W),
}


def _r(rows, span_s):
    return rt.KeyProbe(3, rows, 2 * rows, 0, span_s * US, 0, span_s * US)


_P = rt.RANGE_PRODUCT_BUDGET
#: the range row at range_s = 3600: (probe, budget_rows, window_rows)
RANGE_CASES = {
    "dense": (_r(100_000, 100_000), _P, W),
    "sparse": (_r(300_000, 30_000_000), _P, W),
    "sparse_big_window": (_r(300_000, 30_000_000), _P, 4 * W),
    "sparse_3m": (_r(3_000_000, 300_000_000), _P, W),
    "burst": (_r(1_000, 1), _P, W),
    "spill": (_r(5_000_000, 5_000_000_000), _P, W),
    "spill_big_window": (_r(5_000_000, 5_000_000_000), _P, 100 * W),
    "caller_budget": (_r(300_000, 30_000_000), 1, W),
    "over_carry_keys": (
        rt.KeyProbe(rt.CARRY_BUDGET_ROWS + 1, 100_000, 10**9, 0,
                    100_000 * US, 0, 100_000 * US),
        _P, W,
    ),
    "no_span": (rt.KeyProbe(3, 10**9, 10**9), _P, W),
    "empty": (rt.KeyProbe(0, 0, 0), _P, W),
}

#: (family, case) -> (path, bucket argument) from the per-family routers
#: this table replaced, called with the same probe and budgets (the
#: bucket argument of a plain decision is the one those routers passed
#: their twin when its decision was forced).  "string_ids" is a
#: non-numeric id axis, which the router never probes.  The sessionize
#: rows carry a bucket span since its twin became ``sessionize_chunked``;
#: their paths are the old router's except ``no_span``, which now routes
#: plain like every span-bucketed row.
PLAN_PINS = {
    ('sessionize', 'below'): ('plain', 43200),
    ('sessionize', 'at'): ('plain', 43200),
    ('sessionize', 'above'): ('twin', 43200),
    ('sessionize', 'hot_hour'): ('twin', 180),
    ('sessionize', 'capped'): ('twin', 337),
    ('sessionize', 'caller_budget'): ('twin', 4320),
    ('sessionize', 'big_window'): ('twin', 17280),
    ('sessionize', 'no_span'): ('plain', None),
    ('sessionize', 'carry_floor'): ('twin', 172800),
    ('sessionize', 'over_carry_keys'): ('plain', 864000),
    ('sessionize', 'keyless'): ('twin', 43200),
    ('sessionize', 'empty'): ('plain', None),
    ('rolling_zscore', 'below'): ('plain', 43200),
    ('rolling_zscore', 'at'): ('plain', 43200),
    ('rolling_zscore', 'above'): ('twin', 43200),
    ('rolling_zscore', 'hot_hour'): ('twin', 180),
    ('rolling_zscore', 'capped'): ('twin', 337),
    ('rolling_zscore', 'caller_budget'): ('twin', 4320),
    ('rolling_zscore', 'big_window'): ('twin', 17280),
    ('rolling_zscore', 'no_span'): ('plain', None),
    ('rolling_zscore', 'carry_floor'): ('twin', 172800),
    ('rolling_zscore', 'over_carry_keys'): ('plain', 864000),
    ('rolling_zscore', 'keyless'): ('twin', 43200),
    ('rolling_zscore', 'empty'): ('plain', None),
    ('cusum_reflected', 'below'): ('plain', 43200),
    ('cusum_reflected', 'at'): ('plain', 43200),
    ('cusum_reflected', 'above'): ('twin', 43200),
    ('cusum_reflected', 'hot_hour'): ('twin', 180),
    ('cusum_reflected', 'capped'): ('twin', 337),
    ('cusum_reflected', 'caller_budget'): ('twin', 4320),
    ('cusum_reflected', 'big_window'): ('twin', 17280),
    ('cusum_reflected', 'no_span'): ('plain', None),
    ('cusum_reflected', 'carry_floor'): ('twin', 172800),
    ('cusum_reflected', 'over_carry_keys'): ('plain', 864000),
    ('cusum_reflected', 'keyless'): ('twin', 43200),
    ('cusum_reflected', 'empty'): ('plain', None),
    ('asof_join', 'below'): ('plain', 5760),
    ('asof_join', 'at'): ('plain', 5760),
    ('asof_join', 'above'): ('twin', 5400),
    ('asof_join', 'hot_hour'): ('twin', 14),
    ('asof_join', 'capped'): ('twin', 337),
    ('asof_join', 'caller_budget'): ('twin', 1152),
    ('asof_join', 'big_window'): ('twin', 4547),
    ('asof_join', 'no_span'): ('plain', None),
    ('asof_join', 'carry_floor'): ('twin', 172800),
    ('asof_join', 'over_carry_keys'): ('plain', 864000),
    ('asof_join', 'keyless'): ('twin', 3375),
    ('asof_join', 'empty'): ('plain', None),
    ('lead_pairs', 'below'): ('plain', 2160),
    ('lead_pairs', 'at'): ('plain', 2160),
    ('lead_pairs', 'above'): ('twin', 2107),
    ('lead_pairs', 'hot_hour'): ('twin', 14),
    ('lead_pairs', 'capped'): ('twin', 337),
    ('lead_pairs', 'caller_budget'): ('twin', 432),
    ('lead_pairs', 'big_window'): ('twin', 1728),
    ('lead_pairs', 'no_span'): ('plain', None),
    ('lead_pairs', 'carry_floor'): ('twin', 172800),
    ('lead_pairs', 'over_carry_keys'): ('plain', 864000),
    ('lead_pairs', 'keyless'): ('twin', 3375),
    ('lead_pairs', 'empty'): ('plain', None),
    ('restamp_positional', 'below'): ('plain', 14400),
    ('restamp_positional', 'at'): ('plain', 14400),
    ('restamp_positional', 'above'): ('twin', 12342),
    ('restamp_positional', 'hot_hour'): ('twin', 30),
    ('restamp_positional', 'capped'): ('twin', 337),
    ('restamp_positional', 'caller_budget'): ('twin', 2880),
    ('restamp_positional', 'big_window'): ('twin', 10800),
    ('restamp_positional', 'no_span'): ('plain', None),
    ('restamp_positional', 'carry_floor'): ('twin', 172800),
    ('restamp_positional', 'over_carry_keys'): ('plain', 864000),
    ('restamp_positional', 'keyless'): ('twin', 7200),
    ('restamp_positional', 'empty'): ('plain', None),
    ('ffill', 'below'): ('plain', 4320),
    ('ffill', 'at'): ('plain', 4320),
    ('ffill', 'above'): ('twin', 4114),
    ('ffill', 'hot_hour'): ('twin', 14),
    ('ffill', 'capped'): ('twin', 337),
    ('ffill', 'caller_budget'): ('twin', 864),
    ('ffill', 'big_window'): ('twin', 3456),
    ('ffill', 'no_span'): ('plain', None),
    ('ffill', 'carry_floor'): ('twin', 172800),
    ('ffill', 'over_carry_keys'): ('plain', 864000),
    ('ffill', 'keyless'): ('twin', 3375),
    ('ffill', 'empty'): ('plain', None),
    ('ewma', 'below'): ('plain', 43200),
    ('ewma', 'at'): ('plain', 43200),
    ('ewma', 'above'): ('twin', 43200),
    ('ewma', 'hot_hour'): ('twin', 180),
    ('ewma', 'capped'): ('twin', 337),
    ('ewma', 'caller_budget'): ('twin', 17280),
    ('ewma', 'big_window'): ('twin', 43200),
    ('ewma', 'no_span'): ('plain', None),
    ('ewma', 'carry_floor'): ('twin', 172800),
    ('ewma', 'over_carry_keys'): ('plain', 864000),
    ('ewma', 'keyless'): ('twin', 43200),
    ('ewma', 'empty'): ('plain', None),
    ('pack_documents', 'below'): ('plain', 4320000000),
    ('pack_documents', 'at'): ('plain', 4320000000),
    ('pack_documents', 'above'): ('twin', 4114285714),
    ('pack_documents', 'hot_hour'): ('twin', 14062500),
    ('pack_documents', 'capped'): ('twin', 337500000),
    ('pack_documents', 'caller_budget'): ('twin', 864000000),
    ('pack_documents', 'big_window'): ('twin', 3456000000),
    ('pack_documents', 'no_span'): ('plain', None),
    ('pack_documents', 'carry_floor'): ('twin', 172800000000),
    ('pack_documents', 'over_carry_keys'): ('plain', 864000000000),
    ('pack_documents', 'keyless'): ('twin', 3375000000),
    ('pack_documents', 'empty'): ('plain', None),
    ('assemble_packs', 'below'): ('plain', 4320000000),
    ('assemble_packs', 'at'): ('plain', 4320000000),
    ('assemble_packs', 'above'): ('twin', 4114285714),
    ('assemble_packs', 'hot_hour'): ('twin', 14062500),
    ('assemble_packs', 'capped'): ('twin', 337500000),
    ('assemble_packs', 'caller_budget'): ('twin', 864000000),
    ('assemble_packs', 'big_window'): ('twin', 3456000000),
    ('assemble_packs', 'no_span'): ('plain', None),
    ('assemble_packs', 'carry_floor'): ('twin', 172800000000),
    ('assemble_packs', 'over_carry_keys'): ('plain', 864000000000),
    ('assemble_packs', 'keyless'): ('twin', 3375000000),
    ('assemble_packs', 'empty'): ('plain', None),
    ('pack_documents', 'string_ids'): ('plain', None),
    ('assemble_packs', 'string_ids'): ('plain', None),
    ('rolling_range', 'dense'): ('twin', 50000),
    ('rolling_range', 'sparse'): ('twin', 10000000),
    ('rolling_range', 'sparse_big_window'): ('plain', 15000000),
    ('rolling_range', 'sparse_3m'): ('twin', 10000000),
    ('rolling_range', 'burst'): ('plain', 3600),
    ('rolling_range', 'spill'): ('twin', 100000000),
    ('rolling_range', 'spill_big_window'): ('plain', 2500000000),
    ('rolling_range', 'caller_budget'): ('twin', 10000000),
    ('rolling_range', 'over_carry_keys'): ('twin', 100000),
    ('rolling_range', 'no_span'): ('plain', None),
    ('rolling_range', 'empty'): ('plain', None),
}


def test_plan_pins_the_replaced_routers():
    for (family, case), want in PLAN_PINS.items():
        if case == "string_ids":
            got = rt.plan(family, None, rt.PACK_BUDGET_ROWS)
        elif family == "rolling_range":
            probe, budget, window = RANGE_CASES[case]
            got = rt.plan(family, probe, budget, window, range_s=3_600)
        else:
            probe, budget, window = ROW_CASES[case](rt.FAMILIES[family].budget)
            got = rt.plan(family, probe, budget, window)
        assert got == want, (family, case)
    assert len(PLAN_PINS) == (
        len(ROW_CASES) * (len(rt.FAMILIES) - 1) + len(RANGE_CASES) + 2
    )


def test_every_twin_has_one_row():
    """Each public ``*_chunked`` operator is exactly one row's twin, and
    every twin takes its plain form's parameters plus the row's bucket
    parameter, which is what lets ``route`` bind a call once against the
    plain signature."""
    import importlib
    import inspect
    import pkgutil

    from amazon_lookout_for_equipment_python_sdk_spark import operators

    twins = {}
    for m in pkgutil.iter_modules(operators.__path__):
        mod = importlib.import_module(f"{operators.__name__}.{m.name}")
        for name, fn in vars(mod).items():
            if (
                name.endswith("_chunked")
                and not name.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == mod.__name__
            ):
                twins[f"{m.name}.{name}"] = fn
    rows = [fam.twin for fam in rt.FAMILIES.values()]
    assert len(rows) == len(twins)
    for name, fn in twins.items():
        assert rows.count(fn) == 1, name
    for family, fam in rt.FAMILIES.items():
        plain = set(inspect.signature(fam.plain).parameters)
        twin = set(inspect.signature(fam.twin).parameters)
        assert twin == plain | {fam.bucket}, family
        assert {fam.key, fam.order} <= plain, family
