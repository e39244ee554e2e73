"""Bench-drain contract (r11).

The `.count()` drain lets Catalyst prune aggregate expressions and
elide upstream operators — the r9 cusum A/B's plain side compiled to a
bare distinct and published a wrong crossover (BASELINE.md r11
addendum; tools/drain_audit.py).  bench.py was fixed in r6; the other
harnesses in r11.  These pins keep the class from coming back:

1. every bench harness's TIMED path drains through the noop sink;
2. the audit tool itself keeps flagging a known-elidable query, so a
   future "the audit says everything is fine" is trustworthy.
"""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARNESSES = [
    "bench.py",
    "tools/ab.py",
    "tools/ab_twin.py",
    "tools/bench_stream_skew.py",
    "tools/bench_warc_shards.py",
    "tools/bench_crawl_ops.py",
    "tools/bench_linkgraph.py",
]


def test_no_count_drain_in_timed_loops():
    """No bench harness may time a `.count()` — the timed body must go
    through the noop sink (or an explicit un-prunable drain: the
    streaming harness writes parquet).
    Flags any QUERIES[...]...count() or df.count() inside a harness."""
    offenders = []
    for rel in HARNESSES:
        src = (ROOT / rel).read_text()
        for i, ln in enumerate(src.splitlines(), 1):
            code = ln.split("#")[0]
            if re.search(r"\.count\(\)", code):
                offenders.append(f"{rel}:{i}: {ln.strip()}")
    assert not offenders, (
        "count() drain in a bench harness — Catalyst prunes aggregate "
        "expressions under a row-count and elides upstream operators "
        "(the r9 cusum artifact, BASELINE.md r11 addendum).  Drain "
        "through df.write.format('noop') instead:\n" + "\n".join(offenders)
    )


def test_one_rep_loop_across_harnesses():
    """``bench.measure`` is the only timed-rep loop: every copy of the
    protocol drifted on its own (the per-rep cache clear was fixed in
    bench.py alone), so no other harness may run its own GC between
    reps."""
    with_gc = [
        rel for rel in HARNESSES if "System.gc" in (ROOT / rel).read_text()
    ]
    assert with_gc == ["bench.py"], (
        "a harness with its own rep loop — time through bench.measure"
    )


def test_measure_labels_each_rep_jobs(spark, sf_dir):
    """Every job a measured rep launches carries the rep's label as its
    job description, and the caller's description comes back after."""
    from bench import measure, run_one

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()

    def jobs():
        # the status store fills from the listener bus, asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        js = store.jobsList(None)
        return {js.apply(i).jobId(): js.apply(i) for i in range(js.size())}

    before = jobs()
    sc.setJobDescription("outer")
    try:
        reps = measure(
            spark, "label-probe", lambda: run_one(spark, sf_dir, "resample_mean"), 2
        )
        assert sc.getLocalProperty("spark.job.description") == "outer"
    finally:
        sc.setJobDescription(None)
    assert len(reps) == 2
    descs = [
        j.description().get() if j.description().isDefined() else None
        for i, j in jobs().items()
        if i not in before
    ]
    assert descs and set(descs) == {"label-probe"}, descs


def test_drain_audit_flags_known_elidable_query(spark):
    """cusum_drift_flags is the canonical fully-elidable query (its
    rollup's aggregate expressions prune to a distinct).  The audit
    logic must keep flagging it — if Spark's optimizer ever stops
    pruning here this test tells us the hazard class closed upstream."""
    import re as _re

    from amazon_lookout_for_equipment_python_sdk_spark.plans import (
        queries as q,
    )

    def counts(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return len(_re.findall(r"\bWindow", plan))

    df = q.QUERIES["cusum_drift_flags"](spark, "/root/testdata/sf0.001")
    assert counts(df) == 5  # the full five-window pipeline
    assert counts(df.groupBy().count()) == 0  # all elided under count


def test_bench_artifact_carries_min_of_n_and_raw_runs():
    """BENCH_r{N} must be noise-interpretable ON ITS OWN (r12 verdict
    #2): the r12 single-number artifact read 1.35x with phantom 2x
    reds that vanished at the measured noise floor, and needed a side
    variance addendum to read at all.  bench.py therefore emits, per
    query, the min over reps (the plan-cost signal `queries`) AND the
    raw rep times (`runs`), plus the rep count — pinned statically,
    like the drain contract above."""
    src = (ROOT / "bench.py").read_text()
    assert '"runs": runs' in src, "bench.py no longer emits raw rep times"
    assert '"reps": reps' in src, "bench.py no longer emits the rep count"
    assert re.search(r"timings\[name\]\s*=\s*min\(rep_times\)", src), (
        "queries{} must stay the min over reps"
    )
    assert re.search(r'SPARK_GRAFT_BENCH_REPS",\s*"3"', src), (
        "default rep count must stay 3 (the measured noise floor "
        "protocol, BASELINE.md r12 addendum)"
    )


def test_bench_artifact_carries_load_averages():
    """Box-state context in the artifact itself: r12's numbers could
    only be read after forensically reconstructing a co-tenant
    saturation event (BASELINE r12/r13 addenda)."""
    src = (ROOT / "bench.py").read_text()
    assert '"load_avg_prelaunch"' in src, (
        "the pre-launch sample is the only one free of bench's own CPU"
    )
    assert '"load_avg_start"' in src and '"load_avg_end"' in src
