"""Routing between plain operators and their skew-safe twins
(r9 verdict #5).

Ten operator families ship both a PLAIN form (one per-key window —
minimal overhead, but a key's whole history serializes onto one task)
and a SKEW-SAFE twin (a (key, time-bucket) pre-split with exact
boundary/carry merge — parallel under hot keys and long histories, at
the cost of an extra tiny aggregate + broadcast join).  :data:`FAMILIES`
holds one row per plain/twin pair (the pack family has two: packing
and assembly):

=============================  ====================================  ==========
plain                          twin                                  crossover
=============================  ====================================  ==========
timeseries.sessionize          timeseries.sessionize_chunked         ~1e5 rows/key
stats.rolling_zscore           stats.rolling_zscore_chunked          ~1e5 rows/key
stats.cusum_reflected          stats.cusum_reflected_chunked         ~1.5e5 rows/key
timeseries.asof_join           timeseries.asof_join_chunked          ~1.5e6 rows/key (union of both tables — r11)
timeseries.lead_pairs          timeseries.lead_pairs_chunked         ~4e6 rows/key (r11)
timeseries.restamp_positional  timeseries.restamp_positional_chunked ~6e5 rows/key (r11)
timeseries.ffill               timeseries.ffill_chunked              ~2e6 rows/key (r11; flagship fill)
timeseries.rolling_range       timeseries.rolling_range_chunked      rows x frame-rows product ~3e7 (r11; compute-bound, not sort-bound)
stats.ewma                     stats.ewma_chunked                    ~1e5 rows/key (r11; fixed 64-row fold/row)
corpus.pack_documents          corpus.pack_documents_chunked         ~2e6 rows/group (r12; prefix sum on the numeric doc-id axis)
corpus.assemble_packs          corpus.assemble_packs_chunked         the pack_documents budget
=============================  ====================================  ==========

``route("<family>", *args, budget_rows=None, probe=None, **kwargs)``
takes the plain form's own arguments and calls the plain form or the
twin: one cheap probe (a single corpus scan whose map-side-combined
output is one row per key, reduced to a few scalars), then the pure
:func:`plan`.  Output is identical either way (every twin is
property-pinned equal to its plain form); only the physical plan
differs.  The registered driver queries keep calling the explicit
forms — those are the oracle shapes; ``route`` is the deployment
convenience.  ``tools/ab_twin.py <family>`` times the two forms at the
bucket argument :func:`plan` returns, which is how the budgets below
were calibrated.

Routing rule: take the twin iff the probe's ``max_key_rows`` exceeds
``budget_rows`` — the per-task serialized-sort budget (the range row
routes on a compute product instead, :func:`decide_range_twin`).
Defaults are DERIVED FROM THE SESSION (r10 verdict #2): a per-key
window's cost cliff is where one key's history outgrows a task's
execution memory and the sort spills, so the budget scales linearly
with per-task execution memory (``heap x spark.memory.fraction /
cores``).  The measured calibration points anchor the line:

- sessionize / rolling_zscore: ``100_000`` rows/key at this box's
  0.3 GiB/task (local[32], 16 GiB heap, fraction 0.6).  BASELINE.md
  brackets the crossing: plain comfortably wins at ~2e4 rows/key
  (sf0.1 uniform), the twin wins from ~2e5 up (zscore chunked 1.9x at
  sf1 uniform's 203k-row hot signal; sessionize twin 1.55x faster than
  plain on sf10_skew's 5M-row hot user, plain paying 6.16x there).
  1e5 is the bracket midpoint.  A 4 GB/core cluster therefore routes
  at a higher crossover than a 1 GB/core one — pinned in
  tests/test_routing.py.
- cusum: ``150_000`` rows/key at the same calibration point.  The r9
  "plain wins every measured point to 2M" claim (and the 2e7
  extrapolated default it anchored) was a MEASUREMENT ARTIFACT: the
  old ``.count()`` bench drain let Catalyst prune the rollup's
  aggregate expressions and elide the entire window pipeline — the
  plain side was timing a bare ``distinct`` (BASELINE.md r11
  addendum; tools/drain_audit.py now makes the hazard visible).  The
  r11 re-measurement with an un-prunable drain (max over the cusum
  column) on hot-key-dominant fixtures (tools/gen_cusum_xl.py, 100k
  to 50M rows/key at 0.9 GiB/task) brackets the true crossover at
  300k-600k rows/key there — plain 1.6x faster at 100k-300k, the
  twin 1.25x at 600k growing to 12.7x at 50M — i.e. the same
  serialized-sort cliff as the window family, just shifted ~3x
  higher by cusum's lighter per-row frame work.  450k at 0.9
  GiB/task maps to 150k at the 0.3 GiB/task anchor.

Pass ``budget_rows`` explicitly to pin a decision (tests do); pass a
precomputed :class:`KeyProbe` via ``probe=`` to amortize the probe
scan across several routed operators over the same frame (r10 verdict
#4) — every row accepts the same probe shape (as-of wants one built
over the two tables' union; a keyless call is the whole frame as one
key).  Build a SHARED probe with ``ts_col=`` set: every row falls
back to the plain form when the probe carries no event-time span (a
time-bucketed twin is meaningless without one).

Probe overhead, measured: 0.94 s on the sf10 events fixture (10M rows,
local[32], warm cache) — under 4% of the cheaper branch of the
operator it routes (chunked zscore 24.7 s there) and amortized by
either outcome; the probe's shuffle ships one row per key.

Reference: the reference SDK has no skew machinery at all (its compute
was remote pandas; src/lookoutequipment/evaluation.py) — this module
is part of the beyond-reference scale layer.
"""

from __future__ import annotations

import inspect
import os
import re
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from . import corpus as _cp
from . import stats as _st
from . import timeseries as _ts

#: per-task serialized-sort budget (rows of ONE key on one task) for the
#: window-frame family AT THE CALIBRATION POINT below — see module doc
#: for the measured bracket.
WINDOW_BUDGET_ROWS = 100_000

#: cusum's crossover, r11-measured on hot-key-dominant fixtures with an
#: un-prunable drain (see module doc: the r9 2e7 figure came from an
#: elided-plan measurement): bracket 300k-600k rows/key at 0.9
#: GiB/task -> 150k at the calibration anchor.
CUSUM_BUDGET_ROWS = 150_000

#: as-of join's crossover, r11-measured AT the calibration anchor on
#: the gen_cusum_xl fixture family (tools/ab_twin.py asof_join, noop
#: drain, BASELINE.md r11 addendum 4): plain 1.3x faster at 100k-315k
#: rows/key, a TIE at 1.05M (ratio 1.06), twin 1.7x at 5.25M and 3.2x
#: at 21M.  The constant sits just above the tie so borderline keys
#: take the twin's flat path (<=6% mis-route cost near the tie, vs the
#: plain sort's super-linear blowup above).  ~15x the window family's
#: budget — the as-of fill does far less per-row frame work than a
#: rolling aggregate, so the serialized sort dominates much later.
ASOF_BUDGET_ROWS = 1_500_000

#: lead_pairs' crossover (one ``lead`` over the per-key sort — no
#: frame aggregate, no second table), r11-measured AT the calibration
#: anchor on the gen_cusum_xl fixtures (tools/ab_twin.py lead_pairs, noop
#: drain, BASELINE.md r11 addendum 5): plain ahead through 3M rows/key
#: (twin 1.26x slower there), the twin ahead from 5M (1.84x faster)
#: widening to 3.4x at both 10M and 30M.  4e6 is the 3M-5M bracket
#: midpoint.  ~2.7x the as-of budget: this sorts ONE narrow table
#: where as-of sorts both sides' union with a struct payload, so far
#: more rows fit the same task memory before the sort spills.
LEAD_BUDGET_ROWS = 4_000_000

#: restamp_positional's crossover (one ``row_number`` over the same
#: sort), from the same r11 series: plain ahead at 300k (twin 1.68x
#: slower), the twin already ahead at 1M (0.88x) and 3M (0.85x),
#: decisively from 5M (2.3x) to 30M (5.5x).  600k is the 300k-1M
#: bracket's geometric midpoint.  Lower than lead's because the twin
#: side is CHEAPER here, not the plain side dearer: the offset table
#: is a count aggregate (map-side combined) where lead's boundary
#: table aggregates min timestamps, and the restamp twin's output
#: column is pure arithmetic off the local rank.
RESTAMP_BUDGET_ROWS = 600_000

#: forward-fill's crossover (one ``last ignorenulls`` over the per-key
#: sort — the fill inside the flagship resample_ffill idiom), from the
#: same r11 fixture series (tools/ab_twin.py ffill, sparse 1-in-20
#: non-null values, BASELINE.md r11 addendum 6): plain ahead at 300k
#: (2.0x) and 1M (1.26x), the twin ahead from 3M (1.35x) through 30M
#: (3.6x).  2e6 is the 1M-3M bracket midpoint — between restamp's and
#: lead's, consistent with a twin whose carry is a max_by aggregate
#: (cheaper than lead's min-timestamp boundary + left join, dearer
#: than restamp's bare count).
FFILL_BUDGET_ROWS = 2_000_000

#: the event-time range-frame family routes on a COMPUTE PRODUCT, not
#: a row budget: Spark evaluates a trailing RANGE frame by rescanning
#: the frame per row (measured — NOT incremental), so the per-key cost
#: is max_key_rows x frame_rows, where frame_rows ~ the key's event
#: density x range_s.  The r11 series (tools/ab_twin.py rolling_range, dense
#: 1 ev/s and sparse 1 ev/100s cadences, BASELINE.md r11 addendum 7)
#: is inseparable by rows alone — 100k dense rows route twin (1.8x)
#: while 300k sparse rows route plain (1.07) — but separates cleanly
#: on the product: plain at 1.1e7, twin from 1.1e8 (3.3x) up through
#: 3.6e9 (4.2x).  3e7 is the bracket's geometric midpoint.  NOT
#: memory-scaled: this crossover is where fan-out across cores beats
#: one task's serial frame evaluation, calibrated on local[32] — the
#: sort-spill regime is covered separately by the window row budget.
RANGE_PRODUCT_BUDGET = 30_000_000

#: EWMA's crossover (collect_list of the trailing 64 rows + Horner
#: fold per row — heavy FIXED per-row frame work), r11-measured at the
#: anchor (tools/ab_twin.py ewma, BASELINE.md r11 addendum 8): plain
#: 1.7x ahead at 30k rows/key, an exact TIE at 100k (0.996), the twin
#: from 300k (1.23x) through 3M (5.4x) and 10M (5.2x).  The constant
#: sits ON the measured tie — numerically equal to the window family's
#: anchor but measured independently; the fixed 64-row fold makes this
#: family compute-heavy per row, so fan-out pays far earlier than the
#: light-rank families.
EWMA_BUDGET_ROWS = 100_000

#: pack family (corpus.pack_documents / assemble_packs, r12 — the last
#: serialized-sort-cliff member, r11 verdict #4), measured AT the
#: calibration anchor on monolithic-group fixtures (tools/gen_pack_xl.py
#: + tools/ab_twin.py pack_documents, un-prunable drain, BASELINE.md
#: r12 addendum 2): plain ahead at 300k-1M rows/group (twin 1.26-1.36x
#: slower), near-tie at 2M (twin 1.08x), the twin ahead from 3M (1.37x
#: faster) through 5M (1.22x) to 20M (1.62x).  The constant sits at the
#: 2M near-tie so borderline groups take the twin's flat path (<=8%
#: mis-route cost there vs plain's super-linear climb above).  ~3x the
#: restamp budget despite the same prefix-sum work class: pack's cumsum
#: input is one int per row (token counts computed row-local before the
#: exchange) where restamp sorts full event rows, so far more rows fit
#: a task's sort memory.
PACK_BUDGET_ROWS = 2_000_000

#: per-task execution memory where the constants above were
#: bracketed: local[32], 16 GiB heap, spark.memory.fraction 0.6
#: -> 16 GiB * 0.6 / 32 tasks.  Session-derived budgets scale the
#: constants linearly from this anchor (r10 verdict #2).
CALIB_PER_TASK_BYTES = int(16 * (1 << 30) * 0.6) // 32

#: floor for derived budgets: below ~10k rows/key the twin's extra
#: aggregate + broadcast join always costs more than the plain window.
MIN_BUDGET_ROWS = 10_000

#: twin geometry: aim for ~budget rows of the hot key per (key, bucket)
#: task, capped so tiny carries stay tiny.
MAX_AUTO_BUCKETS = 256

#: worst-case rows in the twins' carry/offset tables (one per non-empty
#: (key, bucket)) — those tables are BROADCAST, so the bucket span may
#: never be so fine that n_keys x corpus-span-buckets exceeds this.
#: Guards the r10 hot-key-span geometry: a hot key concentrated in one
#: hour of a year-wide corpus wants 360s buckets, but at 360s every
#: COLD key spanning the year could contribute ~87k carry rows; the
#: span floor below trades the narrow hot slice's fan-out away exactly
#: when the key count makes the carry broadcast dangerous (correctness
#: never depends on the span).
CARRY_BUDGET_ROWS = 1_000_000

_MEM_SUFFIX = {
    "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40,
}


def _parse_mem(s: str) -> int:
    """JVM-style memory string -> bytes.  Bare numbers are MiB (Spark's
    convention for ``spark.{driver,executor}.memory``)."""
    m = re.fullmatch(r"\s*(\d+)\s*([bkmgt]?)b?\s*", str(s).lower())
    if not m:
        raise ValueError(f"unparseable memory string: {s!r}")
    return int(m.group(1)) * _MEM_SUFFIX.get(m.group(2) or "m", 1 << 20)


def per_task_exec_bytes(spark: SparkSession) -> int:
    """Execution memory one task can use for its sort, from the session
    conf: ``heap x spark.memory.fraction / concurrent tasks``.  Local
    masters read the driver heap and the ``local[N]`` core count;
    cluster masters read ``spark.executor.memory`` / ``.cores``.  Uses
    the conf as declared — in local mode a ``spark.driver.memory`` set
    after JVM launch is what the conf reports, same as Spark's own UI.

    ``spark.sparkgraft.routing.perTaskExecBytes`` overrides the whole
    derivation (JVM memory string; bare numbers are MiB) — the seam for
    deployments where heap/cores conf does not reflect reality (off-heap
    execution memory, container memory limits, dynamic allocation)."""
    conf = spark.conf
    override = conf.get("spark.sparkgraft.routing.perTaskExecBytes", None)
    if override:
        return max(_parse_mem(override), 1)
    master = conf.get("spark.master", "") or ""
    # NB: local-cluster[...] deliberately takes the cluster branch — its
    # executors size from spark.executor.memory, not the driver heap
    if master == "local" or master.startswith("local["):
        heap = _parse_mem(conf.get("spark.driver.memory", "1g"))
        # local[N], local[N,maxFailures], local[*], local[*,F], bare local
        m = re.match(r"local\[(\*|\d+)(?:,\d+)?\]", master)
        if m and m.group(1) != "*":
            cores = int(m.group(1))
        elif master == "local":
            cores = 1
        else:
            cores = os.cpu_count() or 1
    else:
        heap = _parse_mem(conf.get("spark.executor.memory", "1g"))
        cores = int(conf.get("spark.executor.cores", "1"))
    frac = float(conf.get("spark.memory.fraction", "0.6"))
    return max(int(heap * frac) // max(cores, 1), 1)


def derive_budget_rows(
    base_rows: int, per_task_bytes: int
) -> int:
    """Scale a calibration-point budget to this cluster's per-task
    memory.  Pure so tests pin 4 GB/core vs 16 GB/core routing without
    building two JVMs."""
    scaled = base_rows * per_task_bytes // CALIB_PER_TASK_BYTES
    return max(MIN_BUDGET_ROWS, scaled)


def session_budget_rows(
    spark: SparkSession, base_rows: int = WINDOW_BUDGET_ROWS
) -> int:
    """The budget ``route`` uses when the caller passes none."""
    return derive_budget_rows(base_rows, per_task_exec_bytes(spark))


@dataclass(frozen=True)
class KeyProbe:
    """Scalars the router decides from.  ``lo_us``/``hi_us`` are the
    corpus event-time span (microseconds) when a ``ts_col`` was probed,
    else None; ``hot_lo_us``/``hot_hi_us`` are the HOT KEY'S OWN span —
    bucket geometry divides that one, not the corpus span, so a hot key
    concentrated in a narrow slice of a wide corpus still gets the full
    intended fan-out (r10 ADVICE)."""

    n_keys: int
    max_key_rows: int
    total_rows: int
    lo_us: int | None = None
    hi_us: int | None = None
    hot_lo_us: int | None = None
    hot_hi_us: int | None = None


def probe_keys(
    df: DataFrame,
    key_col: str,
    ts_col: str | None = None,
    numeric_axis: bool = False,
) -> KeyProbe:
    """ONE corpus scan: groupBy(key).count() partial-aggregates map-side
    (the shuffle ships one row per key, not per event), then a bounded
    second-stage agg reduces to scalars.  With ``ts_col`` the same scan
    also carries per-key min/max event time — both the corpus span and
    the hot key's own span (``max_by`` on the per-key counts) — so the
    twin's bucket geometry needs no second pass over the corpus.

    ``numeric_axis=True`` probes ``ts_col`` as a plain NUMERIC order
    axis (the pack family's doc-id axis, r12): lo/hi then carry the
    axis values themselves rather than epoch microseconds, and the
    geometry helper divides them with ``unit=1``."""
    per_key = [F.count(F.lit(1)).alias("_c")]
    if ts_col is not None:
        if numeric_axis:
            us = F.col(ts_col).cast("long")
        else:
            # cast: unix_micros rejects TIMESTAMP_NTZ (the decade
            # fixtures ship NTZ); the engine session runs UTC so the
            # cast is value-preserving, and the span only feeds bucket
            # geometry
            us = F.unix_micros(F.col(ts_col).cast("timestamp"))
        per_key += [F.min(us).alias("_lo"), F.max(us).alias("_hi")]
    agg = df.groupBy(key_col).agg(*per_key)
    final = [
        F.count(F.lit(1)).alias("n_keys"),
        F.max("_c").alias("max_key_rows"),
        F.sum("_c").alias("total_rows"),
    ]
    if ts_col is not None:
        final += [
            F.min("_lo").alias("lo"),
            F.max("_hi").alias("hi"),
            F.max_by(F.struct("_lo", "_hi"), "_c").alias("hot"),
        ]
    row = agg.agg(*final).first()
    if row["n_keys"] == 0 or row["total_rows"] is None:
        return KeyProbe(0, 0, 0)
    # all-null ts leaves the span aggregates null — report no span (the
    # routers then fall back to the plain form: a time-bucketed twin is
    # meaningless without event time)
    has_span = ts_col is not None and row["lo"] is not None
    hot = row["hot"] if has_span else None
    hot_ok = hot is not None and hot["_lo"] is not None
    return KeyProbe(
        int(row["n_keys"]),
        int(row["max_key_rows"]),
        int(row["total_rows"]),
        int(row["lo"]) if has_span else None,
        int(row["hi"]) if has_span else None,
        int(hot["_lo"]) if hot_ok else None,
        int(hot["_hi"]) if hot_ok else None,
    )


def decide_twin(probe: KeyProbe, budget_rows: int) -> bool:
    """The routing rule, isolated so tests pin it on the fixtures.

    The key-count guard (r11 review): with more keys than
    ``CARRY_BUDGET_ROWS`` even ONE bucket per key makes the twins'
    broadcast carry/offset tables exceed the budget — no span can save
    it — so a hot key among millions of keys routes PLAIN (the hot
    key's one-task sort is slow but bounded; an OOM'd carry broadcast
    is neither).  That regime is the module doc's "keys >> cores"
    plain case taken to its limit."""
    return (
        probe.max_key_rows > budget_rows
        and probe.n_keys <= CARRY_BUDGET_ROWS
    )


def _auto_buckets(probe: KeyProbe, budget_rows: int) -> int:
    """Bucket count putting ~budget_rows of the HOT key in each (key,
    bucket) task (the serialized cost the twin removes), bounded."""
    want = -(-probe.max_key_rows // budget_rows)  # ceil
    return max(2, min(MAX_AUTO_BUCKETS, want))


def _bucket_span(probe: KeyProbe, budget_rows: int, unit: int) -> int:
    """Order-axis units per (key, bucket) slice: seconds for an
    event-time probe (``unit`` = 1_000_000 µs), ids for a numeric-axis
    probe (``unit`` = 1).  Divides the HOT KEY'S span when the probe
    carried one (a hot key concentrated in a narrow slice of a wide
    corpus still fans out as intended — r10 ADVICE); falls back to the
    corpus span for probes built before that field existed or when the
    hot key's order values were all null.

    FLOORED so the carry/offset tables stay broadcastable (r11): the
    worst-case carry size is n_keys x (corpus_span / span), bounded to
    ``CARRY_BUDGET_ROWS``.  With few keys (the twins' home regime) the
    floor is far below the hot-span geometry and never binds; with very
    many keys it coarsens the buckets — the hot key loses fan-out
    before the carry broadcast can OOM."""
    lo = probe.hot_lo_us if probe.hot_lo_us is not None else probe.lo_us
    hi = probe.hot_hi_us if probe.hot_hi_us is not None else probe.hi_us
    span = max((hi - lo) // unit, 1)
    want = max(span // _auto_buckets(probe, budget_rows), 1)
    corpus_span = max((probe.hi_us - probe.lo_us) // unit, 1)
    allowed_per_key = max(CARRY_BUDGET_ROWS // max(probe.n_keys, 1), 1)
    # CEILING division (review fix): floor division under-sized the
    # span by up to 2x, letting the worst-case carry overshoot the
    # budget by the same factor
    floor = -(-corpus_span // allowed_per_key)
    return max(want, floor, 1)


def est_frame_rows(probe: KeyProbe, range_s: int) -> float:
    """Hot key's expected trailing-frame size: its event density (rows
    over its OWN probed span) times the frame reach — CAPPED at the
    key's row count (a frame can never hold more rows than the key
    has; without the cap a 1-second dense burst under an hour-long
    range inflates the product by range/span and misroutes a tiny key
    to the twin — r11 review).

    ASSUMES UNIFORM DENSITY over the hot key's span (r11 ADVICE): a
    bursty key — a dense burst inside a long sparse tail — averages
    out to a LOW density here, so the estimate can undercount the
    burst's true frame size and route the range family PLAIN, paying
    the per-row frame rescan on one task.  Output stays correct either
    way; this is a perf-only bias, and it is one-sided (the
    max_key_rows cap already kills the opposite, dense-burst-short-span
    inflation).  A burst-aware measure (max per-range-bucket count)
    would need a range_s-dependent probe aggregation, breaking the ONE
    shared family-agnostic ``KeyProbe`` scan every routed family
    reuse — not worth it for a perf bias.  Callers with known-bursty
    keys can lower ``budget_rows`` on ``route("rolling_range", ...)`` or
    call :func:`timeseries.rolling_range_chunked` directly."""
    lo = probe.hot_lo_us if probe.hot_lo_us is not None else probe.lo_us
    hi = probe.hot_hi_us if probe.hot_hi_us is not None else probe.hi_us
    span_us = max((hi - lo), 1)
    est = probe.max_key_rows * (int(range_s) * 1_000_000) / span_us
    return min(float(probe.max_key_rows), est)


def decide_range_twin(
    probe: KeyProbe,
    range_s: int,
    product_budget: int = RANGE_PRODUCT_BUDGET,
    rows_budget: "int | None" = None,
) -> bool:
    """The range family's routing rule (see ``RANGE_PRODUCT_BUDGET``):
    twin when the hot key's frame-evaluation product exceeds the
    compute budget, OR when its rows alone exceed the window sort
    budget (the spill regime — a sparse decade-long key can spill its
    sort long before the frames get expensive)."""
    if probe.max_key_rows == 0 or probe.lo_us is None:
        return False
    product = probe.max_key_rows * max(est_frame_rows(probe, range_s), 1.0)
    rows_over = (
        rows_budget is not None and probe.max_key_rows > rows_budget
    )
    return product > product_budget or rows_over


@dataclass(frozen=True)
class Family:
    """One plain/twin pair.  The twin takes the plain form's parameters
    plus ``bucket``, so a row names only where the probe and the bucket
    argument come from."""

    plain: Callable[..., DataFrame]
    twin: Callable[..., DataFrame]
    #: decision budget at the calibration anchor
    budget: int
    #: plain parameter naming the key column
    key: str = "key_col"
    #: plain parameter naming the order axis
    order: str = "ts_col"
    #: the twin's bucket parameter
    bucket: str = "bucket_span_s"
    #: "key" (a keyless call probes the frame as one key), "union" (the
    #: as-of pair's (key, ts) union) or "ids" (numeric id axis)
    probe: str = "key"
    #: decide_twin, or decide_range_twin for the range row
    decide: Callable[..., bool] = decide_twin
    #: size slices from the decision budget rather than the session's
    #: window budget (the zscore/cusum/sessionize geometry)
    own_geometry: bool = False


FAMILIES: dict[str, Family] = {
    "sessionize": Family(
        _ts.sessionize, _ts.sessionize_chunked, WINDOW_BUDGET_ROWS,
        own_geometry=True,
    ),
    "rolling_zscore": Family(
        _st.rolling_zscore, _st.rolling_zscore_chunked, WINDOW_BUDGET_ROWS,
        own_geometry=True,
    ),
    "cusum_reflected": Family(
        _st.cusum_reflected, _st.cusum_reflected_chunked, CUSUM_BUDGET_ROWS,
        own_geometry=True,
    ),
    "asof_join": Family(
        _ts.asof_join, _ts.asof_join_chunked, ASOF_BUDGET_ROWS,
        probe="union",
    ),
    "lead_pairs": Family(
        _ts.lead_pairs, _ts.lead_pairs_chunked, LEAD_BUDGET_ROWS
    ),
    "restamp_positional": Family(
        _ts.restamp_positional, _ts.restamp_positional_chunked,
        RESTAMP_BUDGET_ROWS,
    ),
    "ffill": Family(_ts.ffill, _ts.ffill_chunked, FFILL_BUDGET_ROWS),
    "rolling_range": Family(
        _ts.rolling_range, _ts.rolling_range_chunked, RANGE_PRODUCT_BUDGET,
        decide=decide_range_twin,
    ),
    "ewma": Family(
        _st.ewma, _st.ewma_chunked, EWMA_BUDGET_ROWS, order="order_col"
    ),
    "pack_documents": Family(
        _cp.pack_documents, _cp.pack_documents_chunked, PACK_BUDGET_ROWS,
        bucket="bucket_span_ids", key="group_col", order="id_col",
        probe="ids",
    ),
    "assemble_packs": Family(
        _cp.assemble_packs, _cp.assemble_packs_chunked, PACK_BUDGET_ROWS,
        bucket="bucket_span_ids", key="group_col", order="id_col",
        probe="ids",
    ),
}


def plan(
    family: str,
    probe: KeyProbe | None,
    budget_rows: int,
    window_rows: int = WINDOW_BUDGET_ROWS,
    range_s: int | None = None,
) -> tuple[str, int | None]:
    """The routing decision, pure: ``("plain" | "twin", bucket_arg)``.

    ``bucket_arg`` is the twin's bucket argument, returned on BOTH paths
    so a calibration A/B can time the twin the router would build; it
    is None when no twin can be built (no probe — a non-numeric id
    axis — or no span on the order axis).  ``window_rows`` is the
    session's window budget (default: its value at the calibration
    anchor): the range row's spill term, and the slice size of every
    row whose twin geometry is not its own decision budget — the
    decision sits at the family crossover, but the slices stay
    task-sized (dividing a 21M-row as-of key by the 1.5e6 crossover
    would under-fan it to 14 tasks).  ``range_s`` is the range row's
    frame reach."""
    fam = FAMILIES[family]
    if probe is None or probe.lo_us is None:
        return "plain", None
    geom = budget_rows if fam.own_geometry else window_rows
    unit = 1 if fam.probe == "ids" else 1_000_000
    arg = _bucket_span(probe, geom, unit)
    if fam.decide is decide_range_twin:
        # a frame may span at most one bucket boundary
        arg = max(arg, int(range_s))
        twin = decide_range_twin(probe, range_s, budget_rows, window_rows)
    else:
        twin = decide_twin(probe, budget_rows)
    return ("twin" if twin else "plain"), arg


def _probe(fam: Family, args: dict) -> KeyProbe:
    """The row's probe shape over the bound plain arguments."""
    key = args[fam.key]
    ts = args[fam.order]
    if fam.probe == "ids":
        return probe_keys(args["df"], key, ts_col=ts, numeric_axis=True)
    if fam.probe == "union":
        cols = [F.col(key), F.col(ts)]
        df = args["left"].select(*cols).unionByName(
            args["right"].select(*cols)
        )
    else:
        df = args["df"]
    if key is None:
        # keyless plain form (a single-partition GLOBAL sort): probe the
        # frame as one key — exactly the serialized cost the twin removes
        df, key = df.withColumn("_k", F.lit(1)), "_k"
    return probe_keys(df, key, ts_col=ts)


def _decide(
    family: str,
    args: tuple,
    kwargs: dict,
    budget_rows: int | None,
    probe: KeyProbe | None,
) -> tuple[dict, KeyProbe | None, str, int | None]:
    """:func:`route` short of the call: bind the plain signature, resolve
    the budget, probe unless given, plan.  Returns the bound plain
    arguments, the probe, and :func:`plan`'s ``(path, bucket_arg)``."""
    fam = FAMILIES[family]
    bound = inspect.signature(fam.plain).bind(*args, **kwargs)
    bound.apply_defaults()
    a = bound.arguments
    df = next(iter(a.values()))
    spark = df.sparkSession
    if budget_rows is None:
        budget_rows = (
            fam.budget
            if fam.decide is decide_range_twin
            else session_budget_rows(spark, fam.budget)
        )
    if fam.probe == "ids" and not isinstance(
        df.schema[a[fam.order]].dataType, IntegralType
    ):
        probe = None  # the twin's value split needs a numeric id axis
    elif probe is None:
        probe = _probe(fam, a)
    path, arg = plan(
        family, probe, budget_rows, session_budget_rows(spark),
        a.get("range_s"),
    )
    return a, probe, path, arg


def route(
    family: str,
    *args,
    budget_rows: int | None = None,
    probe: KeyProbe | None = None,
    **kwargs,
) -> DataFrame:
    """Call ``FAMILIES[family]``'s plain form or its twin with the plain
    form's arguments.  ``budget_rows=None`` derives the row's budget
    from the session's per-task memory (the range row's compute-product
    budget is not memory-scaled); ``probe=`` skips the probe scan
    (share one probe across routed operators).  A non-numeric id axis
    routes the pack rows PLAIN: the value-based split needs a numeric
    axis (string-id corpora use :func:`corpus.pack_documents_greedy`
    with ``scan_rows`` for the hard-cap shape)."""
    fam = FAMILIES[family]
    a, _, path, arg = _decide(family, args, kwargs, budget_rows, probe)
    if path == "plain":
        return fam.plain(**a)
    return fam.twin(**{**a, fam.bucket: arg})
