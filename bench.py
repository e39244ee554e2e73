"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: min_over_reps_sec}, "sf": ..., "reps": N,
"runs": {name: [each_rep_sec]}}.

Each query executes end-to-end (results drained through the noop sink —
every output column materializes; nothing ships to the driver).  One
warm-up pass on the smallest SF warms the JIT and the parquet footer
caches.  Generated code is cached per plan, and the session's codegen
cache holds the engine's whole working set
(``session.CODEGEN_CACHE_ENTRIES``), so the warm-up also compiles each
query whose code is the same at both scales.  Under Spark's 100-entry
default the queries evicted each other and the warm-up primed no
codegen: first-rep ``runs`` values drop from that change on, while the
min-of-3 ``queries`` stay comparable across it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amazon_lookout_for_equipment_python_sdk_spark.session import get_spark
from amazon_lookout_for_equipment_python_sdk_spark.plans import queries as q

# headline set: the reference's analytical spine + relational + LLM ops
BENCH_QUERIES = [
    "flagship_resample_ffill_rolling",
    "resample_mean",
    "histogram_20bin",
    "wasserstein_rank",
    "range_join_stamp",
    "run_compaction",
    "q1_pricing_summary",
    "star_join_rollup",
    "top_customers_by_spend",
    "dedup_exact",
    "ngram_jaccard_lsh",
    "minhash_lsh_candidates",
    "simhash_near_pairs",
    "embedding_near_dup",
    "cosine_topk",
    "lsh_cosine_topk",
    "text_stats",
    "token_count_bpe",
    "quality_filter",
    "contamination_check",
    "sessionize_events",
    "wasserstein_raw_rank",
    "tfidf_top_terms",
    "quantized_cosine_topk",
    "ivf_cosine_topk",
    "pack_documents",
    "corpus_pipeline",
    "winnow_shared_fingerprints",
    "lang_centroid_components",
    "pq_adc_topk",
    "ivfpq_adc_topk",
    "asof_join_purchases",
    "temperature_sample_lang",
    "hll_distinct_shingles",
    "cms_token_counts",
    "bloom_prune_semi_join",
    "line_dedup_survivors",
    "bigram_lm_perplexity",
    "zorder_key_events",
    "kmv_corpus_overlap",
    "incremental_dedup_batch",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "duplicate_spans_k20",
    "rolling_zscore_anomalies",
    "cusum_drift_flags",
    "signal_spearman_corr",
    "q10_returned_items",
    "funnel_conversion",
    "mad_robust_outliers",
    "ewma_chart",
    "scd2_orders_history",
    "hashed_embedding_components",
    "model_evaluation",
    "model_evaluation_calibrated",
    "semantic_dedup_cells",
    "dsir_select_top",
    "rolling_1h_range_frame",
    "q18_large_volume_orders",
    "q16_supplier_diversity",
    "gorilla_roundtrip_stats",
    "decontam_spans_k20",
    "streaming_scd2_replay",
    "q21_waiting_suppliers",
    "q4_order_priority",
    "q15_top_supplier",
    "rag_chunk_retrieval",
    "streaming_topk_replay",
    "perplexity_prune_counts",
]


def drain(df) -> None:
    """Materialize every output column of ``df`` through the noop sink;
    no rows ship to python.  count() — the r1-r5 drain — lets Catalyst
    prune any subtree no row-count depends on, silently under-measuring
    queries whose expensive work feeds only values (discovered in r6:
    semantic_dedup_cells' whole pair kernel vanished under count();
    map-only queries lost their projections).  docs/BENCH_AB_r6.md §3
    records the count-vs-noop A/B for cross-round comparability.
    BASELINE: BENCH_r06 is the first noop-lineage artifact and the
    reference point for the 2x regression gate from r7 on — never
    compare noop numbers against the r1-r5 count-mode series
    (BASELINE.md "r7: bench gate re-baselined")."""
    df.write.format("noop").mode("overwrite").save()


def run_one(spark, sf_dir: str, name: str) -> None:
    """Build registered query ``name`` on ``sf_dir`` and drain it."""
    drain(q.QUERIES[name](spark, sf_dir))


def warm_up(spark, names) -> None:
    """One pass over ``names`` at the smallest SF: JIT, parquet footer
    caches, and the generated code of every plan that is the same at
    both scales.  A query that fails here fails again when timed, where
    its error is recorded."""
    for name in names:
        try:
            run_one(spark, "/root/testdata/sf0.001", name)
        except Exception:
            pass


def measure(
    spark, label: str, action, reps: int, *, keep_cache: bool = False
) -> list[float]:
    """The one timed-rep loop of every harness: run ``action()`` ``reps``
    times and return each rep's wall seconds.

    Every rep starts from an empty cache, so an action that persists
    without releasing is never timed on its own earlier rep's cache
    (``keep_cache=True`` is for callers that persist their fixtures
    before timing, where a clearCache would pull fixture synthesis into
    the timed region), and with GC debt drained: measured cuts of 2x+
    on the worst min-of-3 outliers (a full GC landing mid-rep taxes
    whichever action is running).  Two gc passes: the first drops
    exchange/broadcast references, which queues their shuffle files on
    the ContextCleaner; the second (after a beat) collects what the
    cleanup itself freed.  Each rep's Spark jobs carry ``label`` as
    their job description; the caller's description is restored after.
    """
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    times = []
    try:
        for _ in range(reps):
            if not keep_cache:
                spark.catalog.clearCache()
            sc._jvm.System.gc()
            time.sleep(0.2)
            sc._jvm.System.gc()
            t0 = time.time()
            action()
            times.append(round(time.time() - t0, 3))
    finally:
        sc.setJobDescription(prev)
    return times


def _mem_total_mb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) >> 10
    except OSError:
        pass
    return None


def host_fingerprint(spark, load_before: list[float]) -> dict:
    """The machine a run was measured on: usable cores, the session's
    cores, MemTotal, the driver heap, and the load averages before the
    JVM launched and after the last query.  Runs on different hosts are
    not comparable."""
    return {
        "cores": len(os.sched_getaffinity(0)),
        "spark_cores": spark.sparkContext.defaultParallelism,
        "mem_total_mb": _mem_total_mb(),
        "heap": spark.conf.get("spark.driver.memory"),
        "load_before": load_before,
        "load_after": [round(x, 2) for x in os.getloadavg()],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # BEFORE any Spark work: the only sample that reflects co-tenant
    # load alone (start/end below include bench's own CPU — the r13
    # third run read start=5.6 purely from its own warmup)
    load_prelaunch = [round(x, 2) for x in os.getloadavg()]
    spark = get_spark("bench")
    warm_up(spark, BENCH_QUERIES)
    # best-of-N: single runs are JIT/GC-noisy (observed 3-4x outliers that
    # can hit BOTH of 2 consecutive reps when a full GC lands mid-query);
    # min over 3 reps measures the plan, not the pauses
    # A failing query must not zero out the whole artifact: record the error
    # under "errors" and keep timing the rest (r3's bench died entirely when
    # one query hit an AnalysisException).
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    load_start = [round(x, 2) for x in os.getloadavg()]
    for name in BENCH_QUERIES:
        try:
            rep_times = measure(
                spark, name, lambda: run_one(spark, sf_dir, name), reps
            )
            # the artifact carries BOTH the min (the plan's cost — the
            # 2x-gate signal) and the raw reps: r12's single-number rows
            # were uninterpretable without a side variance addendum when
            # a co-tenant saturation event landed mid-run (r12 verdict
            # #2 — min-of-N in the artifact itself, not the protocol doc)
            timings[name] = min(rep_times)
            runs[name] = rep_times
        except Exception as e:  # noqa: BLE001
            errors[name] = f"{type(e).__name__}: {e}"[:500]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # box-state context: the r12 artifact could only be interpreted
    # after forensically reconstructing a co-tenant saturation event —
    # record the 1/5/15-min load averages in the artifact itself so a
    # hot box is visible at reading time (local[32] expects ~32 under
    # its own load; anything high BEFORE the run started is co-tenancy)
    # Key ORDER is artifact self-defense (r15 verdict item: the driver
    # stores only the last ~2000 chars of stdout, and with "runs" last
    # a truncated tail lost the per-query minima and total — the r14
    # round-over-round comparison came back empty).  JSON object keys
    # are unordered semantically, so any parser sees the same dict; but
    # placing the big "runs" dict EARLY and "queries" + "value" LAST
    # means a tail truncation always retains the minima and the total.
    # Still exactly ONE JSON line — the driver contract is unchanged.
    out = {
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": reps,
        "host": host_fingerprint(spark, load_prelaunch),
        "load_avg_prelaunch": load_prelaunch,
        "load_avg_start": load_start,
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        "runs": runs,
        "queries": timings,
        "value": round(sum(timings.values()), 3),
    }
    if errors:
        out["errors"] = errors
        # keep "queries"/"value" the LAST keys even when errors exist
        out["queries"] = out.pop("queries")
        out["value"] = out.pop("value")
    print(json.dumps(out))
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
